"""NetCDF-3 codec + real granule decode (S12) + CF sink (S17) tests.

Mirrors the reference's reader semantics tests
(`data_reader_merra.py:26-98`): dimension validation, lev handling, bbox
subset, CF unpacking, time mean — but against real bytes written by the
numpy-only classic codec instead of xarray fixtures.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pm25ml_spark.sources.netcdf3 import read_netcdf3, write_netcdf3
from pm25ml_spark.sources.raster import (
    RasterGranule,
    decode_granule,
    decode_granule_netcdf3,
    read_granules_wide,
)
from pm25ml_spark.sources.results import read_raster, write_raster


def _write_granule(path, *, with_lev=False, scale=None, fill=None):
    """MERRA-shaped granule: t2m(time[, lev], lat, lon) over a small box."""
    lons = np.arange(70.0, 80.0, 2.0)  # 5
    lats = np.arange(10.0, 22.0, 3.0)  # 4
    times = np.arange(3, dtype=np.int32)  # 3 hourly slices
    shape = (3, 2, 4, 5) if with_lev else (3, 4, 5)
    rng = np.random.RandomState(42)
    data = (
        lons[None, None, :] * 0.5
        + lats[None, :, None] * 0.25
        + times[:, None, None].astype(np.float64)
    )
    if with_lev:
        data = np.broadcast_to(
            data[:, None, :, :], shape
        ) + np.arange(2)[None, :, None, None]
    attrs = {"units": "K"}
    arr = data.astype(np.float64)
    if scale is not None:
        # store packed shorts; reader must unpack scale*v + offset
        packed = np.round((arr - scale[1]) / scale[0]).astype(np.int16)
        attrs.update(
            {"scale_factor": scale[0], "add_offset": scale[1]}
        )
        store = packed
    else:
        store = arr
    if fill is not None:
        store = store.copy()
        store[0, ..., 0, 0] = fill
        attrs["_FillValue"] = store.dtype.type(fill)
    dims = {"time": 3, "lat": 4, "lon": 5}
    vdims = ("time", "lat", "lon")
    if with_lev:
        dims = {"time": 3, "lev": 2, "lat": 4, "lon": 5}
        vdims = ("time", "lev", "lat", "lon")
    write_netcdf3(
        str(path),
        dims=dims,
        variables={
            "t2m": (vdims, store, attrs),
            "lon": (("lon",), lons, {"units": "degrees_east"}),
            "lat": (("lat",), lats, {"units": "degrees_north"}),
            "time": (("time",), times, {"units": "hours"}),
        },
        global_attrs={"RangeBeginningDate": "2023-06-01"},
    )
    return lons, lats, data, rng


def test_codec_roundtrip_types_and_attrs(tmp_path):
    p = str(tmp_path / "round.nc")
    cube = np.arange(12, dtype=np.float32).reshape(3, 4)
    write_netcdf3(
        p,
        dims={"a": 3, "b": 4},
        variables={
            "f32": (("a", "b"), cube, {"x": np.float64(1.5), "s": "hi"}),
            "i16": (("b",), np.arange(4, dtype=np.int16), {}),
            "f64": (("a",), np.linspace(0, 1, 3), {}),
            "scalar": ((), np.int32(7), {}),
        },
        global_attrs={"Conventions": "CF-1.8", "n": np.int32(3)},
    )
    dims, variables, gatts = read_netcdf3(p)
    assert dims == {"a": 3, "b": 4}
    assert gatts["Conventions"] == "CF-1.8" and gatts["n"] == 3
    assert np.array_equal(variables["f32"][1], cube)
    assert variables["f32"][2]["s"] == "hi"
    assert variables["f32"][2]["x"] == 1.5
    assert variables["i16"][1].dtype == np.dtype(">i2")
    assert variables["scalar"][1] == 7


def test_decode_granule_time_mean(tmp_path):
    p = tmp_path / "merra.nc"
    lons, lats, data, _ = _write_granule(p)
    glons, glats, grid = decode_granule(str(p), "t2m")
    assert np.array_equal(glons, lons) and np.array_equal(glats, lats)
    # mean over the 3 time slices
    assert np.allclose(grid, data.mean(axis=0))


def test_decode_granule_cf_unpack_and_fill(tmp_path):
    p = tmp_path / "packed.nc"
    lons, lats, data, _ = _write_granule(p, scale=(0.01, 200.0), fill=-32767)
    _, _, grid = decode_granule(str(p), "t2m")
    # cell (0,0) had its t=0 slice masked → mean over remaining 2 slices
    expect = data.mean(axis=0)
    expect[0, 0] = data[1:, 0, 0].mean()
    assert np.allclose(grid, expect, atol=0.02)  # short-packing quantization


def test_decode_granule_bbox_subset(tmp_path):
    p = tmp_path / "bbox.nc"
    lons, lats, data, _ = _write_granule(p)
    # bbox is (west, south, east, north) — DatasetDescriptor convention
    glons, glats, grid = decode_granule_netcdf3(
        str(p), "t2m", bbox=(72.0, 12.0, 77.0, 20.0)
    )
    assert glons.tolist() == [72.0, 74.0, 76.0]
    assert glats.tolist() == [13.0, 16.0, 19.0]
    assert np.allclose(grid, data.mean(axis=0)[1:4, 1:4])


def test_decode_granule_lev_semantics(tmp_path):
    p = tmp_path / "lev.nc"
    lons, lats, data, _ = _write_granule(p, with_lev=True)
    # lev present but unspecified → reject, as the reference does
    with pytest.raises(ValueError, match="lev"):
        decode_granule_netcdf3(str(p), "t2m")
    _, _, grid = decode_granule_netcdf3(str(p), "t2m", level=1)
    assert np.allclose(grid, data[:, 1].mean(axis=0))
    # lev specified but absent → reject
    p2 = tmp_path / "nolev.nc"
    _write_granule(p2)
    with pytest.raises(ValueError, match="lev"):
        decode_granule_netcdf3(str(p2), "t2m", level=0)


def test_decode_granule_missing_dim_rejected(tmp_path):
    p = str(tmp_path / "bad.nc")
    write_netcdf3(
        p,
        dims={"lon": 2, "lat": 2},  # no time dim
        variables={"v": (("lat", "lon"), np.zeros((2, 2)), {})},
    )
    with pytest.raises(ValueError, match="missing expected dimensions"):
        decode_granule_netcdf3(p, "v")


def test_read_granules_wide_real_files(spark, tmp_path):
    """Distributed decode end-to-end over real NetCDF bytes: the plane
    field regrids exactly (bilinear of a plane is the plane)."""
    paths = []
    for d in ("2023-06-01", "2023-06-02"):
        p = tmp_path / f"g_{d}.nc"
        _write_granule(p)
        paths.append(RasterGranule(str(p), d, "t2m"))
    grid_pdf = pd.DataFrame(
        {
            "grid_id": [0, 1, 2],
            "lon": [71.0, 73.5, 78.0],
            "lat": [11.0, 14.5, 18.5],  # inside the granule's lat range
        }
    )
    out = read_granules_wide(spark, paths, grid_pdf).toPandas()
    assert len(out) == 6
    # plane value: 0.5*lon + 0.25*lat + mean(t)=1.0
    expect = 0.5 * grid_pdf["lon"] + 0.25 * grid_pdf["lat"] + 1.0
    for d in ("2023-06-01", "2023-06-02"):
        got = out[out.date == d].sort_values("grid_id")["t2m"].to_numpy()
        assert np.allclose(got, expect)


def test_write_raster_cf_netcdf(tmp_path):
    cube = np.random.RandomState(0).rand(2, 3, 4).astype(np.float32)
    dates = np.array(["2023-06-01", "2023-06-02"], dtype="datetime64[D]")
    ys = np.array([100.0, 200.0, 300.0])
    xs = np.array([10.0, 20.0, 30.0, 40.0])
    out = write_raster(str(tmp_path / "final"), cube, dates, ys, xs)
    assert out.endswith(".nc")
    dims, variables, gatts = read_netcdf3(out)
    assert gatts["Conventions"] == "CF-1.8"
    assert dims == {"time": 2, "y": 3, "x": 4}
    tdims, tvals, tattrs = variables["time"]
    assert tattrs["units"] == "days since 2000-01-01 00:00:00"
    assert tattrs["calendar"] == "gregorian"
    # days since 2000-01-01 for 2023-06-01
    assert tvals[0] == (dates[0] - np.datetime64("2000-01-01")).astype(int)
    assert variables["x"][2]["standard_name"] == "projection_x_coordinate"
    assert variables["y"][2]["standard_name"] == "projection_y_coordinate"
    assert variables["value"][2]["grid_mapping"] == "spatial_ref"
    # GeoTransform: origin at x0-dx/2, pixel 10 m
    assert gatts["GeoTransform"].split()[1] == "10.0"
    # round-trip through the high-level reader
    raster = read_raster(out)
    assert np.allclose(raster["value"], cube)
    assert raster["time"][0] == dates[0]


def test_attr_int64_overflow_rejected(tmp_path):
    """int64 attribute values outside NC_INT range must fail loudly, not
    wrap silently (classic format has no 64-bit integer type)."""
    with pytest.raises(ValueError, match="NC_INT range"):
        write_netcdf3(
            str(tmp_path / "bad.nc"),
            dims={"x": 1},
            variables={"v": (("x",), np.zeros(1), {})},
            global_attrs={"total_rows": 5_000_000_000},
        )
    # in-range int64 narrows fine
    write_netcdf3(
        str(tmp_path / "ok.nc"),
        dims={"x": 1},
        variables={"v": (("x",), np.zeros(1), {})},
        global_attrs={"total_rows": 12345},
    )
    _, _, g = read_netcdf3(str(tmp_path / "ok.nc"))
    assert g["total_rows"] == 12345


def test_geotransform_consistent_with_row_order(tmp_path):
    """GeoTransform must map row r to the y coordinate the cube actually
    stores at row r (ascending ys → +dy step, bottom-edge origin)."""
    cube = np.zeros((1, 3, 2), dtype=np.float32)
    dates = np.array(["2023-06-01"], dtype="datetime64[D]")
    ys = np.array([100.0, 200.0, 300.0])
    xs = np.array([10.0, 20.0])
    out = write_raster(str(tmp_path / "gt"), cube, dates, ys, xs)
    _, _, gatts = read_netcdf3(out)
    g = [float(v) for v in gatts["GeoTransform"].split()]
    # pixel-center of row r: gt3 + (r + 0.5) * gt5 == ys[r]
    for r in range(3):
        assert g[3] + (r + 0.5) * g[5] == pytest.approx(ys[r])
