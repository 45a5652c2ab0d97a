"""Spatial-interpolation golden tests (mirrors
imputation/spatial/daily_spatial_interpolator__test.py: a 4×4 lattice with
a known NaN pattern; interior cells resolve by linear interpolation,
hull-exterior cells by nearest-neighbour; valid cells unchanged)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pm25ml_spark.operators.interpolation import (
    daily_spatial_interpolate,
    interpolate_frame,
)


def lattice_4x4() -> pd.DataFrame:
    """4×4 lattice, 10 km step. Values = x/10000 + y/10000 (a plane),
    so any linear interpolation must reproduce the plane exactly."""
    rows = []
    gid = 0
    for yi in range(4):
        for xi in range(4):
            rows.append(
                {
                    "grid_id": gid,
                    "date": "2023-01-01",
                    "original_x": 10000.0 * xi,
                    "original_y": 10000.0 * yi,
                    "value": float(xi + yi),
                }
            )
            gid += 1
    return pd.DataFrame(rows)


def test_interior_linear_exact_on_plane():
    pdf = lattice_4x4()
    # knock out interior cells (1,1), (2,2) and edge-interior (1,0)
    for gid in (5, 10, 1):
        pdf.loc[pdf.grid_id == gid, "value"] = np.nan
    out = interpolate_frame(pdf.copy(), ["value"])
    # plane is linear → axis-linear interpolation reproduces it exactly
    expect = lattice_4x4()["value"]
    assert np.allclose(out.sort_values("grid_id")["value"].to_numpy(), expect)


def test_valid_values_preserved_exactly():
    pdf = lattice_4x4()
    pdf.loc[pdf.grid_id == 5, "value"] = np.nan
    out = interpolate_frame(pdf.copy(), ["value"])
    valid = pdf["value"].notna()
    assert (out.loc[valid, "value"] == pdf.loc[valid, "value"]).all()


def test_corner_outside_hull_nearest():
    pdf = lattice_4x4()
    # knock out a corner (0,0) AND its axis neighbours → no interior
    # linear estimate → nearest valid fill
    for gid in (0, 1, 4):
        pdf.loc[pdf.grid_id == gid, "value"] = np.nan
    out = interpolate_frame(pdf.copy(), ["value"])
    got = out.set_index("grid_id")["value"]
    # grid 1 at (10000,0): row has valid at x=20000,30000 → interior? no
    # (1 is left of both) → nearest = (20000,0) value 2.0
    assert got[1] == pytest.approx(2.0)
    # corner 0 at (0,0): nearest valid is (10000,10000) dist √2·10⁴ vs
    # (20000, 0) dist 2·10⁴ → picks (10000,10000) = 2.0
    assert got[0] == pytest.approx(2.0)


def test_all_null_column_left_untouched():
    pdf = lattice_4x4()
    pdf["value"] = np.nan
    out = interpolate_frame(pdf.copy(), ["value"])
    assert out["value"].isna().all()


def test_distributed_by_date(spark):
    pdf1 = lattice_4x4()
    pdf1.loc[pdf1.grid_id == 5, "value"] = np.nan
    pdf2 = lattice_4x4()
    pdf2["date"] = "2023-01-02"
    pdf2.loc[pdf2.grid_id == 10, "value"] = np.nan
    df = spark.createDataFrame(pd.concat([pdf1, pdf2]))
    out = daily_spatial_interpolate(df, ["value"]).toPandas()
    assert out["value"].notna().all()
    d1 = out[(out.date == "2023-01-01") & (out.grid_id == 5)]["value"].iloc[0]
    d2 = out[(out.date == "2023-01-02") & (out.grid_id == 10)]["value"].iloc[0]
    assert d1 == pytest.approx(2.0)  # plane value at (1,1)
    assert d2 == pytest.approx(4.0)  # plane value at (2,2)


# --------------------------------------------------------------------------
# Reference-fixture parity: the exact 4×4 case from
# daily_spatial_interpolator__test.py:8-104 (values 1..16 = 1 + x + 4y, a
# linear field, so griddata-linear values are triangulation-independent).
def test_reference_4x4_fixture_parity():
    xs = [0.0, 1.0, 2.0, 3.0] * 4
    ys = [y for y in (0.0, 1.0, 2.0, 3.0) for _ in range(4)]
    vals = [
        1.0, 2.0, np.nan, 4.0,
        np.nan, 6.0, 7.0, np.nan,
        9.0, np.nan, 11.0, 12.0,
        np.nan, 14.0, 15.0, np.nan,
    ]
    expect = [
        1.0, 2.0, 3.0, 4.0,
        5.0, 6.0, 7.0, 8.0,
        9.0, 10.0, 11.0, 12.0,
        9.0, 14.0, 15.0, 12.0,  # (0,3) & (3,3): outside hull → nearest
    ]
    pdf = pd.DataFrame(
        {
            "grid_id": range(16),
            "original_x": xs,
            "original_y": ys,
            "value": vals,
        }
    )
    out = interpolate_frame(pdf.copy(), ["value"])
    assert np.allclose(out["value"].to_numpy(), expect)


def test_irregular_hole_linear_field():
    """An irregular multi-cell hole (the case axis-separable interpolation
    gets wrong): on a linear field every in-hull point must recover the
    plane exactly via barycentric interpolation."""
    n = 7
    rows = []
    for yi in range(n):
        for xi in range(n):
            rows.append(
                {
                    "grid_id": yi * n + xi,
                    "original_x": float(xi) * 1000.0,
                    "original_y": float(yi) * 1000.0,
                    "value": 2.5 * xi - 1.25 * yi + 3.0,
                }
            )
    pdf = pd.DataFrame(rows)
    plane = pdf["value"].copy()
    # L-shaped hole + a detached diagonal gap — irregular on purpose
    hole = [8, 9, 10, 15, 16, 22, 23, 24, 30, 38, 32, 40]
    pdf.loc[pdf.grid_id.isin(hole), "value"] = np.nan
    out = interpolate_frame(pdf.copy(), ["value"])
    assert np.allclose(out.sort_values("grid_id")["value"].to_numpy(), plane)


def test_delaunay_empty_circumcircle_property():
    """Every triangle's circumcircle must contain no other input point
    strictly inside (the defining Delaunay property)."""
    from pm25ml_spark.operators.interpolation import _circumcircles, _delaunay

    rng = np.random.RandomState(7)
    pts = rng.rand(60, 2)
    tris = _delaunay(pts)
    assert len(tris) > 0
    cc, r2 = _circumcircles(pts, tris)
    for t in range(len(tris)):
        d2 = ((pts - cc[t]) ** 2).sum(1)
        inside = d2 < r2[t] * (1 - 1e-9)
        inside[tris[t]] = False
        assert not inside.any(), f"triangle {tris[t]} violates Delaunay"


def test_delaunay_covers_convex_hull_area():
    """Triangle areas must tile the convex hull exactly (no gaps or
    overlaps): sum of areas == hull area."""
    from pm25ml_spark.operators.interpolation import _delaunay

    rng = np.random.RandomState(11)
    pts = rng.rand(80, 2)
    tris = _delaunay(pts)
    a, b, c = pts[tris[:, 0]], pts[tris[:, 1]], pts[tris[:, 2]]
    tri_area = 0.5 * np.abs(
        (b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1])
        - (c[:, 0] - a[:, 0]) * (b[:, 1] - a[:, 1])
    ).sum()

    # Andrew monotone chain hull area (test-local, numpy only)
    P = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

    def half(points):
        h = []
        for p in points:
            while len(h) >= 2 and np.cross(h[-1] - h[-2], p - h[-2]) <= 0:
                h.pop()
            h.append(p)
        return h

    hull = np.array(half(P)[:-1] + half(P[::-1])[:-1])
    x, y = hull[:, 0], hull[:, 1]
    hull_area = 0.5 * np.abs(
        np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))
    )
    assert tri_area == pytest.approx(hull_area, rel=1e-9)


def test_nearest_fill_matches_bruteforce():
    from pm25ml_spark.operators.interpolation import _nearest_fill

    rng = np.random.RandomState(3)
    n = 400
    x = np.round(rng.rand(n) * 50)
    y = np.round(rng.rand(n) * 50)
    v = rng.rand(n) * 10
    v[rng.rand(n) < 0.4] = np.nan
    got = _nearest_fill(x, y, v)
    exp = v.copy()
    vidx = np.flatnonzero(~np.isnan(v))
    for i in np.flatnonzero(np.isnan(v)):
        d2 = (x[vidx] - x[i]) ** 2 + (y[vidx] - y[i]) ** 2
        k = np.lexsort((x[vidx], y[vidx], d2))[0]
        exp[i] = v[vidx[k]]
    assert np.array_equal(got, exp, equal_nan=True)


def test_numpy_path_directly_pins_ground_truth():
    """_delaunay_linear_numpy is exact on a linear field inside the
    hull."""
    from pm25ml_spark.operators.interpolation import _delaunay_linear_numpy

    rng = np.random.RandomState(7)
    x = rng.uniform(0, 10, 120)
    y = rng.uniform(0, 10, 120)
    v = 2.0 * x - 3.0 * y + 1.0
    miss = rng.choice(120, 30, replace=False)
    # keep hull corners valid so every missing point is interior-ish
    truth = v.copy()
    v = v.copy()
    v[miss] = np.nan
    out = _delaunay_linear_numpy(x, y, v)
    inside = ~np.isnan(out[miss])
    assert inside.sum() > 0
    np.testing.assert_allclose(out[miss][inside], truth[miss][inside], atol=1e-9)


def test_output_independent_of_row_order():
    """On a regular lattice every square is cocircular, so a non-linear
    field's value inside a hole depends on which diagonal the
    triangulation picks. That choice must follow the coordinates, not
    the input's row order: every permutation gives bit-identical cells."""
    n = 20
    yi, xi = np.divmod(np.arange(n * n), n)
    x, y = 1000.0 * xi, 1000.0 * yi
    base = pd.DataFrame(
        {
            "grid_id": np.arange(n * n),
            "original_x": x,
            "original_y": y,
            "value": np.where(
                np.arange(n * n) % 11 == 5, np.nan, (xi * xi + 3 * yi * yi) / 7.0
            ),
        }
    )
    ref = interpolate_frame(base.copy(), ["value"])["value"].to_numpy()
    assert not np.isnan(ref).any()
    rng = np.random.RandomState(3)
    for _ in range(12):
        perm = base.iloc[rng.permutation(n * n)].reset_index(drop=True)
        got = interpolate_frame(perm, ["value"]).sort_values("grid_id")
        assert np.array_equal(got["value"].to_numpy(), ref)
