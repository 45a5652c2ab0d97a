"""HDF5 codec + HDF-EOS/OMI granule decode (S13) tests.

Mirrors the reference's OMI reader semantics
(`data_reader_omno2d.py:33-159`): coord rebuild from GridSpan/GridSpacing
with the half-cell centre adjustment, NumberOf*InGrid validation, date
from FILE_ATTRIBUTES — but against REAL HDF5 bytes produced by the
numpy-only writer (old-style superblock v0 / v1 object headers /
symbol-table groups, the layout actual HDF-EOS granules use), not mocks.
A hand-built superblock-v3 / v2-object-header file pins the new-style
read path too.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
import pytest

from pm25ml_spark.sources.hdf5_min import _SIG, _UNDEF, read_hdf5, write_hdf5
from pm25ml_spark.sources.hdfeos import (
    decode_granule_hdf5,
    decode_granule_hdf5_netcdf4,
    decode_granule_hdfeos,
    extract_omi_date,
)
from pm25ml_spark.sources.raster import (
    RasterGranule,
    decode_granule,
    read_granules_wide,
)

LONS = np.arange(60.0, 100.0, 2.0) + 1.0  # 20 centres
LATS = np.arange(5.0, 40.0, 2.5) + 1.25  # 14 centres
FILL = np.float32(-1.0e30)


def _plane() -> np.ndarray:
    return (
        0.5 * LONS[None, :] + 0.25 * LATS[:, None] + 3.0
    ).astype(np.float32)


def _write_omi(path, *, data=None, compress=False, lat_len=14, lon_len=20):
    data = _plane() if data is None else data
    tree = {
        "HDFEOS": {
            "ADDITIONAL": {
                "FILE_ATTRIBUTES": {
                    "@attrs": {
                        "GranuleYear": np.int32(2019),
                        "GranuleMonth": np.int32(3),
                        "GranuleDay": np.int32(7),
                    }
                }
            },
            "GRIDS": {
                "ColumnAmountNO2": {
                    "@attrs": {
                        "GridSpan": "(60.0, 100.0, 5.0, 40.0)",
                        "GridSpacing": "(2.0, 2.5)",
                        "NumberOfLongitudesInGrid": np.int32(lon_len),
                        "NumberOfLatitudesInGrid": np.int32(lat_len),
                    },
                    "Data Fields": {
                        "ColumnAmountNO2": (data, {"_FillValue": FILL}, compress),
                    },
                }
            },
        }
    }
    return write_hdf5(str(path), tree)


class TestCodecRoundTrip:
    def test_contiguous_and_chunked_deflate(self, tmp_path):
        a = np.arange(24, dtype=np.float64).reshape(4, 6)
        b = (a * 3 + 1).astype(np.float32)
        write_hdf5(
            str(tmp_path / "t.h5"),
            {"plain": (a, {}), "gz": (b, {"scale_factor": np.float64(2.0)}, True)},
        )
        f = read_hdf5(str(tmp_path / "t.h5"))
        assert np.array_equal(f.dataset("plain").read(), a)
        assert f.dataset("plain").dtype == np.dtype("<f8")
        assert np.array_equal(f.dataset("gz").read(), b)
        assert f.dataset("gz").attrs["scale_factor"] == 2.0

    def test_attr_types_and_nested_groups(self, tmp_path):
        tree = {
            "@attrs": {"title": "root", "version": np.int32(3)},
            "a b": {  # HDF-EOS names contain spaces
                "@attrs": {"pi": np.float64(3.5), "vec": np.arange(3, dtype=np.int32)},
                "c": {"d": (np.ones(2, dtype=np.int32), {"note": "hi"})},
            },
        }
        f = read_hdf5(write_hdf5(str(tmp_path / "g.h5"), tree))
        assert f.root.attrs == {"title": "root", "version": 3}
        g = f.group("a b")
        assert g.attrs["pi"] == 3.5
        assert list(g.attrs["vec"]) == [0, 1, 2]
        assert f.dataset("a b/c/d").attrs["note"] == "hi"

    def test_fixed_string_array_attr_roundtrip(self, tmp_path):
        """Array-valued fixed-string attributes must return EVERY element
        (round-5 advice: the reader used to return only raw[:itemsize],
        silently dropping the rest of the array)."""
        names = np.array([b"alpha", b"be", b"gamma"])
        tree = {"d": (np.ones(2), {"names": names, "one": np.array([b"solo"])[0]})}
        f = read_hdf5(write_hdf5(str(tmp_path / "s.h5"), tree))
        got = f.dataset("d").attrs["names"]
        assert list(got) == ["alpha", "be", "gamma"]

    def test_int_dtypes(self, tmp_path):
        specs = {
            "i2": np.arange(6, dtype=np.int16),
            "u1": np.arange(6, dtype=np.uint8),
            "i8": np.arange(6, dtype=np.int64),
        }
        f = read_hdf5(
            write_hdf5(str(tmp_path / "i.h5"), {k: (v, {}) for k, v in specs.items()})
        )
        for k, v in specs.items():
            assert np.array_equal(f.dataset(k).read(), v), k

    def test_not_hdf5_raises(self, tmp_path):
        p = tmp_path / "no.h5"
        p.write_bytes(b"CDF\x02 not hdf5 at all")
        with pytest.raises(ValueError, match="not an HDF5 file"):
            read_hdf5(str(p))


class TestNewStyleReader:
    """Superblock v3 + v2 object headers + link messages, hand-built to
    the spec — pins the read path modern ('latest' libver) writers emit."""

    @staticmethod
    def _v2_header(msgs: list[tuple[int, bytes]]) -> bytes:
        body = b"".join(
            struct.pack("<BHB", t, len(b), 0) + b for t, b in msgs
        )
        return (
            b"OHDR"
            + bytes([2, 0x00])  # version, flags (1-byte chunk0 size)
            + struct.pack("<B", len(body))
            + body
            + struct.pack("<I", 0)  # checksum (unvalidated)
        )

    def test_superblock_v3_link_messages(self, tmp_path):
        arr = np.arange(5, dtype=np.float64)
        out = bytearray()
        # superblock v3: sig + version,sizes,flags + base/ext/eof/root + csum
        sb_size = 8 + 4 + 4 * 8 + 4
        out += b"\x00" * sb_size
        data_addr = len(out)
        out += arr.tobytes()
        ds_msgs = [
            (0x0001, bytes([1, 1, 0, 0, 0, 0, 0, 0]) + struct.pack("<Q", 5)),
            (0x0003, bytes([0x11, 0x20, 63, 0]) + struct.pack("<I", 8)
             + struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)),
            (0x0008, bytes([3, 1]) + struct.pack("<QQ", data_addr, arr.nbytes)),
            # attribute v3: version, flags, sizes, charset, name, dt, ds, data
            (0x000C, bytes([3, 0]) + struct.pack("<HHH", 2, 12, 8) + b"\x00"
             + b"x\x00"
             + bytes([0x10, 0x08, 0, 0]) + struct.pack("<IHH", 4, 0, 32)
             + bytes([1, 0, 0, 0, 0, 0, 0, 0])
             + struct.pack("<i", 42)),
        ]
        ds_addr = len(out)
        out += self._v2_header(ds_msgs)
        name = b"v"
        link_body = (
            bytes([1, 0x00])  # version, flags: 1-byte name length, hard link
            + bytes([len(name)])
            + name
            + struct.pack("<Q", ds_addr)
        )
        root_addr = len(out)
        out += self._v2_header([(0x0006, link_body)])
        sb = _SIG + bytes([3, 8, 8, 0])
        sb += struct.pack("<QQQQ", 0, _UNDEF, len(out), root_addr)
        sb += struct.pack("<I", 0)
        out[:sb_size] = sb
        p = tmp_path / "v3.h5"
        p.write_bytes(bytes(out))

        f = read_hdf5(str(p))
        ds = f.dataset("v")
        assert np.array_equal(ds.read(), arr)
        assert ds.attrs["x"] == 42


class TestOmiDecode:
    def test_coords_and_values(self, tmp_path):
        path = _write_omi(tmp_path / "omi.he5")
        lons, lats, grid = decode_granule_hdfeos(path, "ColumnAmountNO2")
        np.testing.assert_allclose(lons, LONS)  # centre-adjusted
        np.testing.assert_allclose(lats, LATS)
        np.testing.assert_allclose(grid, _plane(), rtol=1e-6)

    def test_fill_to_nan_and_compressed(self, tmp_path):
        data = _plane()
        data[3, 4] = FILL
        path = _write_omi(tmp_path / "omi.he5", data=data, compress=True)
        _, _, grid = decode_granule_hdfeos(path, "ColumnAmountNO2")
        assert np.isnan(grid[3, 4])
        assert np.isfinite(grid).sum() == grid.size - 1

    def test_bbox_subset(self, tmp_path):
        path = _write_omi(tmp_path / "omi.he5")
        lons, lats, grid = decode_granule_hdfeos(
            path, "ColumnAmountNO2", bbox=(70.0, 10.0, 90.0, 30.0)
        )
        assert lons.min() >= 70.0 and lons.max() <= 90.0
        assert lats.min() >= 10.0 and lats.max() <= 30.0
        assert grid.shape == (len(lats), len(lons))
        np.testing.assert_allclose(
            grid, 0.5 * lons[None, :] + 0.25 * lats[:, None] + 3.0, rtol=1e-6
        )

    def test_length_validation_raises(self, tmp_path):
        path = _write_omi(tmp_path / "omi.he5", lon_len=21)
        with pytest.raises(ValueError, match="lon length 21 does not match"):
            decode_granule_hdfeos(path, "ColumnAmountNO2")

    def test_date_extraction(self, tmp_path):
        path = _write_omi(tmp_path / "omi.he5")
        assert extract_omi_date(read_hdf5(path)) == "2019-03-07"

    def test_missing_variable(self, tmp_path):
        path = _write_omi(tmp_path / "omi.he5")
        with pytest.raises(ValueError, match="no HDFEOS grid contains"):
            decode_granule_hdfeos(path, "Nope")


def _write_nc4_style(path, *, with_lev=False, scale=None):
    lons = np.arange(70.0, 80.0, 2.0)
    lats = np.arange(10.0, 22.0, 3.0)
    times = np.arange(3, dtype=np.int32)
    data = (
        lons[None, None, :] * 0.5
        + lats[None, :, None] * 0.25
        + times[:, None, None].astype(np.float64)
    )
    if with_lev:
        data = np.broadcast_to(data[:, None, :, :], (3, 2, 4, 5)).copy()
        data += np.arange(2)[None, :, None, None]
    attrs = {}
    if scale is not None:
        data = data / scale
        attrs = {"scale_factor": np.float64(scale)}
    tree = {
        "lon": (lons, {}),
        "lat": (lats, {}),
        "time": (times, {}),
        "t2m": (data, attrs),
    }
    if with_lev:
        tree["lev"] = (np.arange(2, dtype=np.int32), {})
    return write_hdf5(str(path), tree), data


class TestNetcdf4StyleDecode:
    def test_time_mean_and_scale(self, tmp_path):
        path, raw = _write_nc4_style(tmp_path / "m.nc4", scale=2.0)
        lons, lats, grid = decode_granule_hdf5_netcdf4(path, "t2m")
        np.testing.assert_allclose(grid, (raw * 2.0).mean(axis=0))
        assert grid.shape == (4, 5)

    def test_lev_select(self, tmp_path):
        path, raw = _write_nc4_style(tmp_path / "m.nc4", with_lev=True)
        _, _, g0 = decode_granule_hdf5_netcdf4(path, "t2m", level=1)
        np.testing.assert_allclose(g0, raw[:, 1].mean(axis=0))
        with pytest.raises(ValueError, match="no level was specified"):
            decode_granule_hdf5_netcdf4(path, "t2m")

    def test_bbox(self, tmp_path):
        path, raw = _write_nc4_style(tmp_path / "m.nc4")
        lons, lats, grid = decode_granule_hdf5_netcdf4(
            path, "t2m", bbox=(72.0, 12.0, 77.0, 20.0)
        )
        assert list(lons) == [72.0, 74.0, 76.0]
        assert list(lats) == [13.0, 16.0, 19.0]
        assert grid.shape == (3, 3)

    def test_dispatch(self, tmp_path):
        omi = _write_omi(tmp_path / "omi.he5")
        nc4, _ = _write_nc4_style(tmp_path / "m.nc4")
        for p, var in ((omi, "ColumnAmountNO2"), (nc4, "t2m")):
            lons, lats, grid = decode_granule_hdf5(p, var)
            assert grid.shape == (len(lats), len(lons))


class TestDistributedRead:
    def test_omi_granule_through_spark_reader(self, spark, tmp_path):
        """S13 end-to-end: real HDF5 bytes -> mapInPandas decode ->
        bilinear regrid rows, all inside Spark tasks."""
        path = _write_omi(tmp_path / "omi.he5", compress=True)
        grid_pdf = pd.DataFrame(
            {
                "grid_id": [1, 2, 3],
                "lon": [65.0, 75.0, 95.0],
                "lat": [10.0, 20.0, 35.0],
            }
        )
        rows = (
            read_granules_wide(
                spark,
                [RasterGranule(path=path, date="2019-03-07", variable="ColumnAmountNO2")],
                grid_pdf,
            )
            .toPandas()
            .sort_values("grid_id")
        )
        expect = 0.5 * grid_pdf["lon"] + 0.25 * grid_pdf["lat"] + 3.0
        np.testing.assert_allclose(
            rows["ColumnAmountNO2"].to_numpy(), expect, rtol=1e-5
        )
        assert set(rows["date"]) == {"2019-03-07"}

    def test_decode_granule_dispatches_hdf5(self, tmp_path):
        path = _write_omi(tmp_path / "omi.he5")
        lons, lats, grid = decode_granule(path, "ColumnAmountNO2")
        assert grid.shape == (14, 20)


class TestNetcdf4Sink:
    """S17 netcdf4 engine: the reference's zlib-5 HDF5 container
    (`netcdf_final_result_writer.py:87-100`), written by the numpy-only
    codec, equivalent to the classic engine's data + metadata."""

    @staticmethod
    def _cube():
        # byte-repetitive field (identical time slices, tiled rows) —
        # float32 mantissa noise defeats DEFLATE, repetition doesn't
        row = np.linspace(0, 1, 40, dtype=np.float32)
        cube = np.broadcast_to(row, (4, 30, 40)).copy()
        dates = np.arange(
            np.datetime64("2023-06-01"), np.datetime64("2023-06-05")
        )
        return cube, dates, np.arange(30) * 100.0, np.arange(40) * 10.0

    def test_engines_equivalent_and_compressed(self, tmp_path):
        from pm25ml_spark.sources.results import read_raster, write_raster

        cube, dates, ys, xs = self._cube()
        classic = write_raster(str(tmp_path / "c"), cube, dates, ys, xs)
        nc4 = write_raster(
            str(tmp_path / "z"), cube, dates, ys, xs, engine="netcdf4"
        )
        a, b = read_raster(classic), read_raster(nc4)
        assert set(a) == set(b)
        for k in a:
            np.testing.assert_array_equal(a[k], b[k])
        import os

        # zlib-5 actually ran: same data + metadata, smaller container
        assert os.path.getsize(nc4) < os.path.getsize(classic)

    def test_dimension_scales_and_list(self, tmp_path):
        from pm25ml_spark.sources.results import write_raster

        cube, dates, ys, xs = self._cube()
        nc4 = write_raster(
            str(tmp_path / "z"), cube, dates, ys, xs, engine="netcdf4"
        )
        f = read_hdf5(nc4)
        assert f.root.attrs["Conventions"] == "CF-1.8"
        assert "_NCProperties" in f.root.attrs
        time_ds = f.dataset("time")
        assert time_ds.attrs["CLASS"] == "DIMENSION_SCALE"
        assert time_ds.attrs["NAME"] == "time"
        assert time_ds.attrs["_Netcdf4Dimid"] == 0
        # DIMENSION_LIST object references resolve to the scale headers
        value = f.dataset("value")
        refs = [int(r[0]) for r in value.attrs["DIMENSION_LIST"]]
        scale_objs = {}
        for name in ("time", "y", "x"):
            # re-parse each referenced header and check it IS that scale
            obj = f._parse_object(refs[("time", "y", "x").index(name)], name)
            assert obj.attrs["NAME"] == name
        assert value.attrs["grid_mapping"] == "spatial_ref"

    def test_unknown_engine_rejected(self, tmp_path):
        from pm25ml_spark.sources.results import write_raster

        cube, dates, ys, xs = self._cube()
        with pytest.raises(ValueError, match="unknown engine"):
            write_raster(str(tmp_path / "e"), cube, dates, ys, xs, engine="grib")


class TestGranuleSubsetPassThrough:
    """RasterGranule carries the reference descriptor's bbox/level into
    the distributed decode (dataset_descriptor.py parity)."""

    def test_lev_granule_with_bbox_through_spark_reader(self, spark, tmp_path):
        path, raw = _write_nc4_style(tmp_path / "lev.nc4", with_lev=True)
        grid_pdf = pd.DataFrame(
            {"grid_id": [1, 2], "lon": [73.0, 75.0], "lat": [14.0, 17.0]}
        )
        granule = RasterGranule(
            path=path,
            date="2020-01-01",
            variable="t2m",
            bbox=(72.0, 12.0, 77.0, 20.0),
            level=1,
        )
        rows = (
            read_granules_wide(spark, [granule], grid_pdf)
            .toPandas()
            .sort_values("grid_id")
        )
        from pm25ml_spark.sources.hdfeos import decode_granule_hdf5_netcdf4
        from pm25ml_spark.sources.raster import bilinear_regrid

        lons, lats, grid = decode_granule_hdf5_netcdf4(
            path, "t2m", bbox=(72.0, 12.0, 77.0, 20.0), level=1
        )
        expect = bilinear_regrid(
            lons, lats, grid,
            grid_pdf["lon"].to_numpy(), grid_pdf["lat"].to_numpy(),
        )
        np.testing.assert_allclose(rows["t2m"].to_numpy(), expect)

    def test_level_on_hdfeos_grid_rejected(self, tmp_path):
        path = _write_omi(tmp_path / "omi.he5")
        with pytest.raises(ValueError, match="2-D"):
            decode_granule(path, "ColumnAmountNO2", level=3)
