"""Zarr v2 codec + parallel sink tests (sources/zarr_io.py).

Round-trip through our own reader, structural spec checks (the layout an
xarray/zarr consumer expects), and the central claim of the distributed
sink: executor-written chunk files are BIT-IDENTICAL to the driver
writer's, file for file.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from pm25ml_spark.sources.zarr_io import (
    chunk_grid,
    read_zarr_array,
    read_zarr_cube,
    write_zarr_array,
    write_zarr_cube,
    write_zarr_distributed,
)


def test_chunk_grid_covers_shape_exactly():
    covered = np.zeros((5, 7), dtype=int)
    for idx, slc in chunk_grid((5, 7), (2, 3)):
        covered[slc] += 1
    assert (covered == 1).all()
    assert len(list(chunk_grid((5, 7), (2, 3)))) == 3 * 3


def test_array_roundtrip_with_edge_chunks_and_nan_fill(tmp_path):
    rng = np.random.default_rng(7)
    arr = rng.normal(size=(5, 9, 11)).astype(np.float32)
    arr[0, 0, 0] = np.nan
    p = str(tmp_path / "a")
    write_zarr_array(p, arr, (2, 4, 4), ["t", "y", "x"], attrs={"units": "u"})
    back, attrs = read_zarr_array(p)
    assert back.dtype == np.float32
    np.testing.assert_array_equal(back, arr)
    assert attrs["_ARRAY_DIMENSIONS"] == ["t", "y", "x"]
    assert attrs["units"] == "u"
    # spec structure: .zarray metadata + dot-named full-size chunks
    meta = json.load(open(os.path.join(p, ".zarray")))
    assert meta["zarr_format"] == 2
    assert meta["fill_value"] == "NaN"
    assert meta["compressor"] == {"id": "zlib", "level": 5}
    assert os.path.exists(os.path.join(p, "0.0.0"))
    assert os.path.exists(os.path.join(p, "2.2.2"))


def test_absent_chunk_reads_as_fill(tmp_path):
    arr = np.ones((4, 4), dtype=np.float32)
    p = str(tmp_path / "b")
    write_zarr_array(p, arr, (2, 2), ["y", "x"])
    os.remove(os.path.join(p, "1.1"))
    back, _ = read_zarr_array(p)
    assert np.isnan(back[2:, 2:]).all()
    assert (back[:2, :2] == 1).all()


def test_uncompressed_int_array_roundtrip(tmp_path):
    vals = np.arange(10, dtype=np.int32)
    p = str(tmp_path / "c")
    write_zarr_array(p, vals, (4,), ["time"], level=None, fill_value=0)
    meta = json.load(open(os.path.join(p, ".zarray")))
    assert meta["compressor"] is None
    back, _ = read_zarr_array(p)
    np.testing.assert_array_equal(back, vals)


def _cube_fixture():
    rng = np.random.default_rng(3)
    dates = np.array(["2024-01-01", "2024-01-02", "2024-01-03"], dtype="datetime64[D]")
    ys = np.array([100.0, 200.0, 300.0, 400.0, 500.0])
    xs = np.array([10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0])
    cube = rng.normal(size=(3, 5, 7)).astype(np.float32)
    cube[1, 2, 3] = np.nan
    return cube, dates, ys, xs


def test_cube_group_layout_and_roundtrip(tmp_path):
    cube, dates, ys, xs = _cube_fixture()
    p = str(tmp_path / "store")
    write_zarr_cube(p, cube, dates, ys, xs, attrs={"long_name": "pm25"})
    assert json.load(open(os.path.join(p, ".zgroup"))) == {"zarr_format": 2}
    out = read_zarr_cube(p)
    np.testing.assert_array_equal(out["values"], cube)
    np.testing.assert_array_equal(out["time"], np.array([8766, 8767, 8768]))
    np.testing.assert_array_equal(out["y"], ys)
    assert out["attrs"]["long_name"] == "pm25"


def test_distributed_sink_bit_identical_to_driver_writer(spark, tmp_path):
    cube, dates, ys, xs = _cube_fixture()
    chunks = (2, 3, 4)
    # driver reference store
    ref = str(tmp_path / "ref")
    write_zarr_cube(ref, cube, dates, ys, xs, chunks=chunks)
    # long-form frame with every non-nan cell
    rows = []
    for ti, d in enumerate(dates):
        for yi, y in enumerate(ys):
            for xi, x in enumerate(xs):
                v = float(cube[ti, yi, xi])
                if not np.isnan(v):
                    rows.append((str(d), float(y), float(x), v))
    df = spark.createDataFrame(
        rows, "date string, original_y double, original_x double, pred double"
    ).select(
        __import__("pyspark.sql.functions", fromlist=["F"]).to_date("date").alias("date"),
        "original_y",
        "original_x",
        "pred",
    ).repartition(8)
    dist = str(tmp_path / "dist")
    n = write_zarr_distributed(
        df, dist, dates, ys, xs, value_col="pred", chunks=chunks
    )
    assert n == len(list(chunk_grid(cube.shape, chunks)))
    # bit-identical chunk files (same encode path, same bytes)
    for idx, _ in chunk_grid(cube.shape, chunks):
        name = ".".join(map(str, idx))
        a = open(os.path.join(ref, "pm25", name), "rb").read()
        b = open(os.path.join(dist, "pm25", name), "rb").read()
        assert a == b, f"chunk {name} differs"
    # and the store reads back to the same cube + coords
    out = read_zarr_cube(dist)
    np.testing.assert_array_equal(out["values"], cube)
    np.testing.assert_array_equal(out["y"], ys)


def test_distributed_sink_skips_missing_chunks_as_fill(spark, tmp_path):
    cube, dates, ys, xs = _cube_fixture()
    cube[2, :, :] = np.nan  # an all-missing day -> its chunks never written
    rows = [
        (str(dates[ti]), float(ys[yi]), float(xs[xi]), float(cube[ti, yi, xi]))
        for ti in range(2)
        for yi in range(len(ys))
        for xi in range(len(xs))
        if not np.isnan(cube[ti, yi, xi])
    ]
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "date string, original_y double, original_x double, pred double"
    ).withColumn("date", F.to_date("date"))
    dist = str(tmp_path / "sparse")
    write_zarr_distributed(
        df, dist, dates, ys, xs, value_col="pred", chunks=(1, 5, 7)
    )
    assert not os.path.exists(os.path.join(dist, "pm25", "2.0.0"))
    out = read_zarr_cube(dist)
    np.testing.assert_array_equal(out["values"], cube)


def test_distributed_sink_refuses_silently_dropped_rows(spark, tmp_path):
    """Rows whose coordinates match no axis value must FAIL the write,
    not produce an all-fill store."""
    from pyspark.sql import functions as F

    cube, dates, ys, xs = _cube_fixture()
    rows = [(str(dates[0]), 999.0, float(xs[0]), 1.0)]  # y not on axis
    df = spark.createDataFrame(
        rows, "date string, original_y double, original_x double, pred double"
    ).withColumn("date", F.to_date("date"))
    with pytest.raises(ValueError, match="matched no coordinate axis"):
        write_zarr_distributed(
            df, str(tmp_path / "bad"), dates, ys, xs, value_col="pred"
        )


def test_rerun_clears_stale_chunks(spark, tmp_path):
    """A second write into the same store must not leave chunks from the
    first run behind — present chunks read as data, so staleness would
    silently mix two runs."""
    from pyspark.sql import functions as F

    cube, dates, ys, xs = _cube_fixture()
    store = str(tmp_path / "store")

    def frame(n_days):
        rows = [
            (str(dates[ti]), float(ys[yi]), float(xs[xi]),
             float(cube[ti, yi, xi]))
            for ti in range(n_days)
            for yi in range(len(ys))
            for xi in range(len(xs))
            if not np.isnan(cube[ti, yi, xi])
        ]
        return spark.createDataFrame(
            rows,
            "date string, original_y double, original_x double, pred double",
        ).withColumn("date", F.to_date("date"))

    write_zarr_distributed(
        frame(3), store, dates, ys, xs, value_col="pred", chunks=(1, 5, 7)
    )
    # re-run with only day 0's data and a 1-day axis: day-1/2 chunks of
    # run 1 must be GONE, not readable as current data
    write_zarr_distributed(
        frame(1), store, dates[:1], ys, xs, value_col="pred", chunks=(1, 5, 7)
    )
    assert not os.path.exists(os.path.join(store, "pm25", "1.0.0"))
    out = read_zarr_cube(store)
    assert out["values"].shape == (1, 5, 7)


def test_distributed_sink_refuses_duplicate_cells(spark, tmp_path):
    """Duplicate (date, y, x) rows are last-row-wins under applyInPandas
    — shuffle-order-dependent chunk bytes — so the sink must raise and
    leave any existing store untouched."""
    from pyspark.sql import functions as F

    cube, dates, ys, xs = _cube_fixture()
    store = str(tmp_path / "dupstore")
    good = [
        (str(dates[0]), float(ys[0]), float(xs[0]), 1.0),
        (str(dates[0]), float(ys[0]), float(xs[1]), 2.0),
    ]
    write_zarr_distributed(
        spark.createDataFrame(
            good,
            "date string, original_y double, original_x double, pred double",
        ).withColumn("date", F.to_date("date")),
        store, dates, ys, xs, value_col="pred", chunks=(1, 5, 7),
    )
    before = open(os.path.join(store, "pm25", "0.0.0"), "rb").read()

    dup = good + [(str(dates[0]), float(ys[0]), float(xs[1]), 99.0)]
    with pytest.raises(ValueError, match="duplicate"):
        write_zarr_distributed(
            spark.createDataFrame(
                dup,
                "date string, original_y double, original_x double, pred double",
            ).withColumn("date", F.to_date("date")),
            store, dates, ys, xs, value_col="pred", chunks=(1, 5, 7),
        )
    # failed write touched nothing: same bytes, no stage/old leftovers
    assert open(os.path.join(store, "pm25", "0.0.0"), "rb").read() == before
    leftovers = [n for n in os.listdir(store) if n.startswith((".stage-", ".old-"))]
    assert leftovers == []


def test_consolidated_metadata_matches_store(spark, tmp_path):
    """.zmetadata must inline every metadata doc in the store verbatim
    (zarr_consolidated_format 1 — one GET opens the store on s3)."""
    cube, dates, ys, xs = _cube_fixture()
    store = str(tmp_path / "cons")
    write_zarr_cube(store, cube, dates, ys, xs, chunks=(2, 3, 4))
    doc = json.load(open(os.path.join(store, ".zmetadata")))
    assert doc["zarr_consolidated_format"] == 1
    md = doc["metadata"]
    assert md[".zgroup"] == {"zarr_format": 2}
    for key in ("pm25/.zarray", "pm25/.zattrs", "time/.zarray",
                "y/.zarray", "x/.zarray"):
        assert key in md, key
        on_disk = json.load(open(os.path.join(store, *key.split("/"))))
        assert md[key] == on_disk
    assert md["pm25/.zattrs"]["_ARRAY_DIMENSIONS"] == ["time", "y", "x"]
    # the distributed sink consolidates too, and re-runs refresh it
    from pyspark.sql import functions as F

    rows = [(str(dates[0]), float(ys[0]), float(xs[0]), 1.0)]
    dist = str(tmp_path / "cons2")
    write_zarr_distributed(
        spark.createDataFrame(
            rows,
            "date string, original_y double, original_x double, pred double",
        ).withColumn("date", F.to_date("date")),
        dist, dates, ys, xs, value_col="pred", chunks=(1, 5, 7),
    )
    doc2 = json.load(open(os.path.join(dist, ".zmetadata")))
    assert json.load(
        open(os.path.join(dist, "pm25", ".zarray"))
    ) == doc2["metadata"]["pm25/.zarray"]


def test_consolidate_skips_swap_debris(tmp_path):
    """Leftover .old-<hex>/.stage-* dirs (crash between the sink's two
    go-live renames) must NOT surface as phantom arrays in .zmetadata."""
    from pm25ml_spark.sources.zarr_io import consolidate_metadata

    cube, dates, ys, xs = _cube_fixture()
    store = str(tmp_path / "debris")
    write_zarr_cube(store, cube, dates, ys, xs, chunks=(2, 3, 4))
    for junk in (".old-deadbeef", ".stage-cafe"):
        jdir = os.path.join(store, junk)
        os.makedirs(jdir)
        with open(os.path.join(jdir, ".zarray"), "w") as f:
            json.dump({"zarr_format": 2}, f)
    doc = consolidate_metadata(store)
    assert not any(".old-" in k or ".stage-" in k for k in doc["metadata"])
    assert "pm25/.zarray" in doc["metadata"]


def test_distributed_read_matches_driver_read(spark, tmp_path):
    """read_zarr_cube_distributed (chunk-parallel executor decode) must
    return exactly the non-fill cells of the store — edge-chunk padding
    trimmed, NaN holes dropped, coordinates mapped through the axes."""
    from pm25ml_spark.sources.zarr_io import read_zarr_cube_distributed

    cube, dates, ys, xs = _cube_fixture()
    path = str(tmp_path / "store")
    write_zarr_cube(path, cube, dates, ys, xs, chunks=(2, 3, 4))
    got = {
        (r.t_idx, r.y, r.x, round(r.value, 6))
        for r in read_zarr_cube_distributed(spark, path).collect()
    }
    want = set()
    for ti in range(cube.shape[0]):
        for yi in range(cube.shape[1]):
            for xi in range(cube.shape[2]):
                v = float(cube[ti, yi, xi])
                if not np.isnan(v):
                    want.add((ti, float(ys[yi]), float(xs[xi]), round(v, 6)))
    assert got == want
    # consolidated-metadata fast path: same result without per-array keys
    assert os.path.exists(os.path.join(path, ".zmetadata"))


def test_distributed_read_skips_absent_chunks(spark, tmp_path):
    from pm25ml_spark.sources.zarr_io import read_zarr_cube_distributed

    cube, dates, ys, xs = _cube_fixture()
    path = str(tmp_path / "store")
    write_zarr_cube(path, cube, dates, ys, xs, chunks=(1, 5, 7))
    os.remove(os.path.join(path, "pm25", "1.0.0"))  # whole slab absent
    out = read_zarr_cube_distributed(spark, path)
    assert out.filter("t_idx = 1").count() == 0
    assert out.filter("t_idx = 0").count() == 5 * 7


def test_distributed_read_int_store_with_int_fill(spark, tmp_path):
    """A foreign int-dtype store has no NaN: the drop-mask must come from
    the declared fill_value, not np.isnan (which crashes on ints)."""
    from pm25ml_spark.sources.zarr_io import read_zarr_cube_distributed

    data = np.arange(2 * 3 * 4, dtype=np.int32).reshape(2, 3, 4)
    data[0, 0, 0] = -1  # fill holes the reader must drop
    data[1, 2, 3] = -1
    path = str(tmp_path / "istore")
    write_zarr_array(
        os.path.join(path, "pm25"), data, (1, 3, 4), ["time", "y", "x"],
        fill_value=-1,
    )
    write_zarr_array(
        os.path.join(path, "y"), np.array([10.0, 20.0, 30.0]), (3,), ["y"]
    )
    write_zarr_array(
        os.path.join(path, "x"), np.array([1.0, 2.0, 3.0, 4.0]), (4,), ["x"]
    )
    got = {
        (r.t_idx, r.y, r.x, r.value)
        for r in read_zarr_cube_distributed(spark, path).collect()
    }
    assert len(got) == 24 - 2
    assert (0, 10.0, 1.0, 0.0) not in got  # [0,0,0] overwritten with fill
    assert (1, 30.0, 4.0, 23.0) not in got  # [1,2,3] overwritten with fill
    assert (0, 10.0, 2.0, 1.0) in got


def test_distributed_read_non_nan_float_fill(spark, tmp_path):
    """A float store whose declared fill is NOT NaN must drop fill cells
    by value equality, not assume NaN holes."""
    from pm25ml_spark.sources.zarr_io import read_zarr_cube_distributed

    data = np.array(
        [[[1.5, 9999.0], [2.5, 3.5]]], dtype=np.float32
    )  # (1, 2, 2)
    path = str(tmp_path / "fstore")
    write_zarr_array(
        os.path.join(path, "pm25"), data, (1, 2, 2), ["time", "y", "x"],
        fill_value=9999.0,
    )
    write_zarr_array(
        os.path.join(path, "y"), np.array([0.0, 1.0]), (2,), ["y"]
    )
    write_zarr_array(
        os.path.join(path, "x"), np.array([0.0, 1.0]), (2,), ["x"]
    )
    vals = sorted(
        r.value
        for r in read_zarr_cube_distributed(spark, path).collect()
    )
    assert vals == [1.5, 2.5, 3.5]


@pytest.mark.parametrize(
    "patch",
    [
        {"order": "F"},
        {"filters": [{"id": "delta"}]},
        {"zarr_format": 3},
    ],
)
def test_distributed_read_rejects_foreign_store_variants(
    spark, tmp_path, patch
):
    """F-order, filtered, or v3 stores must fail loudly (same validation
    as read_zarr_array), never decode garbage."""
    from pm25ml_spark.sources.zarr_io import read_zarr_cube_distributed

    data = np.ones((1, 2, 2), dtype=np.float32)
    path = str(tmp_path / "foreign")
    write_zarr_array(
        os.path.join(path, "pm25"), data, (1, 2, 2), ["time", "y", "x"]
    )
    write_zarr_array(
        os.path.join(path, "y"), np.array([0.0, 1.0]), (2,), ["y"]
    )
    write_zarr_array(
        os.path.join(path, "x"), np.array([0.0, 1.0]), (2,), ["x"]
    )
    zarray = os.path.join(path, "pm25", ".zarray")
    meta = json.load(open(zarray))
    meta.update(patch)
    with open(zarray, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError):
        read_zarr_cube_distributed(spark, path)
