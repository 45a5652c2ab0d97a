"""Property-based (hypothesis) tests — randomized adversarial inputs for
the operators whose correctness depends on algebraic invariants rather
than fixtures. The reference has no randomized testing (SURVEY §5); these
go beyond it on the operators where a filter/prune step could silently
drop results.

Settings: small bounded examples (Spark round-trip per example is ~100 ms,
so examples are capped and deadlines disabled).
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
import pytest

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)


# ---------------------------------------------------------------------------
# as-of backward join ≡ per-row brute force max(ts' <= ts)


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=1,
        max_size=12,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=0,
        max_size=12,
    ),
)
@SETTINGS
@pytest.mark.slow
def test_asof_backward_matches_bruteforce(spark, left, right):
    from pm25ml_spark.operators.asof import asof_join_backward

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)],
        "k long, ts long, lid long",
    )
    # unique (key, ts) on the right so the expected match is unambiguous
    right = list({(k, t) for (k, t) in right})
    rdf = spark.createDataFrame(
        [(k, t, k * 1000 + t) for (k, t) in right] or [(99, 0, 0)],
        "k long, ts long, mark long",
    )
    out = {
        r.lid: r.asof_mark
        for r in asof_join_backward(
            ldf, rdf, key="k", left_ts="ts", right_ts="ts", payload=["mark"]
        ).collect()
    }
    rset = right or [(99, 0)]
    for i, (k, t) in enumerate(left):
        earlier = [rt for (rk, rt) in rset if rk == k and rt <= t]
        want = (k * 1000 + max(earlier)) if earlier else None
        assert out[i] == want, (i, k, t, out[i], want)


# ---------------------------------------------------------------------------
# exact stratified split: per-stratum training count is exactly
# ceil(fraction * n_stratum), regardless of data shape


@given(
    sizes=st.lists(st.integers(1, 9), min_size=1, max_size=4),
    frac=st.sampled_from([0.1, 0.3, 0.5, 0.9]),
)
@SETTINGS
def test_stratified_split_exact_counts(spark, sizes, frac):
    from pm25ml_spark.ml.pipeline import stratified_split

    rows = [(f"s{g}", g * 100 + i) for g, n in enumerate(sizes) for i in range(n)]
    df = spark.createDataFrame(rows, "stratum string, id long")
    out = stratified_split(df, "stratum", frac, seed=42, key=["id"])
    counts = {
        r.stratum: r.n
        for r in out.filter(out.split == "training")
        .groupBy("stratum")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for g, n in enumerate(sizes):
        assert counts.get(f"s{g}", 0) == math.ceil(n * frac), (g, n, frac)


# ---------------------------------------------------------------------------
# codec round-trips: NetCDF-3 / LCC projection — pure numpy, so
# examples are cheap and can run in volume


@given(
    dims=st.lists(st.integers(1, 6), min_size=1, max_size=3),
    dtype=st.sampled_from(["f4", "f8", "i2", "i4", "i1"]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None, derandomize=True)
def test_netcdf3_roundtrip_property(tmp_path_factory, dims, dtype, seed):
    import numpy as np
    from pm25ml_spark.sources.netcdf3 import read_netcdf3, write_netcdf3

    rng = np.random.RandomState(seed)
    shape = tuple(dims)
    if dtype.startswith("f"):
        arr = rng.randn(*shape).astype(dtype)
    else:
        info = np.iinfo(dtype)
        arr = rng.randint(info.min, info.max, size=shape).astype(dtype)
    p = str(tmp_path_factory.mktemp("nc") / "t.nc")
    names = [f"d{i}" for i in range(len(shape))]
    write_netcdf3(
        p,
        dims=dict(zip(names, shape)),
        variables={"v": (tuple(names), arr, {"s": seed % 100})},
    )
    _, variables, _ = read_netcdf3(p)
    got = variables["v"][1]
    assert got.shape == arr.shape
    assert np.array_equal(got.astype(arr.dtype), arr)
    assert variables["v"][2]["s"] == seed % 100


@given(
    lon=st.floats(60.0, 100.0),
    lat=st.floats(5.0, 38.0),
)
@settings(max_examples=60, deadline=None, derandomize=True)
def test_lcc_roundtrip_property(lon, lat):
    from pm25ml_spark.sources.shapefile_io import LambertConformalConic2SP

    proj = LambertConformalConic2SP(
        a=6378137.0,
        inv_f=298.257223563,
        lat_origin=24.0,
        lon_origin=80.0,
        lat_1=12.472955,
        lat_2=35.172806,
        false_easting=4e6,
        false_northing=4e6,
    )
    x, y = proj.forward(lon, lat)
    lon2, lat2 = proj.inverse(x, y)
    assert abs(lon2 - lon) < 1e-9 and abs(lat2 - lat) < 1e-9


@given(
    n=st.integers(4, 40),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=25, deadline=None, derandomize=True)
def test_delaunay_property_random(n, seed):
    """Empty-circumcircle invariant on arbitrary point sets (degenerate
    collinear subsets included by construction of small n)."""
    import numpy as np
    from pm25ml_spark.operators.interpolation import _circumcircles, _delaunay

    pts = np.random.RandomState(seed).rand(n, 2)
    tris = _delaunay(pts)
    if len(tris) == 0:
        return  # fully collinear draw — nothing to check
    cc, r2 = _circumcircles(pts, tris)
    for t in range(len(tris)):
        d2 = ((pts - cc[t]) ** 2).sum(1)
        inside = d2 < r2[t] * (1 - 1e-9)
        inside[tris[t]] = False
        assert not inside.any()


# ---------------------------------------------------------------------------
# partitioned decimation ≡ global decimation (exactness across layouts)


@given(
    n=st.integers(1, 120),
    every=st.integers(1, 11),
    nparts=st.integers(1, 6),
    shuffle_seed=st.integers(0, 3),
)
@SETTINGS
@pytest.mark.slow
def test_decimate_partitioned_property(spark, n, every, nparts, shuffle_seed):
    import random

    from pm25ml_spark.operators.sampling import decimate, decimate_partitioned

    keys = list(range(n))
    random.Random(shuffle_seed).shuffle(keys)
    df = spark.createDataFrame([(k,) for k in keys], "id long").repartition(3)
    a = sorted(r.id for r in decimate(df, every, ["id"]).collect())
    b = sorted(
        r.id
        for r in decimate_partitioned(
            df, every, ["id"], num_partitions=nparts
        ).collect()
    )
    assert a == b == list(range(0, n, every))


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 20),
    rows_per_strip=st.integers(1, 48),
    compress=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_geotiff_roundtrip_property(
    tmp_path_factory, h, w, rows_per_strip, compress, seed
):
    """Any grid size × any strip height × both codecs round-trips the
    values and reconstructs the coordinate axes exactly."""
    import numpy as np

    from pm25ml_spark.sources.geotiff import read_geotiff, write_geotiff

    rng = np.random.default_rng(seed)
    g = rng.normal(size=(h, w)).astype(np.float32)
    ys = 50.0 + 10.0 * np.arange(h)
    xs = -30.0 + 5.0 * np.arange(w)
    p = write_geotiff(
        str(tmp_path_factory.mktemp("g") / "t"),
        g,
        ys,
        xs,
        compress=compress,
        rows_per_strip=rows_per_strip,
    )
    out = read_geotiff(p)
    np.testing.assert_array_equal(out["values"], g)
    np.testing.assert_allclose(out["ys"], ys)
    np.testing.assert_allclose(out["xs"], xs)
