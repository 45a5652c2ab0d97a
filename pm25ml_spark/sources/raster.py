"""Gridded-raster sources (SURVEY S12/S13 + K2) as distributed readers.

Reference shape: NASA granules (NetCDF / HDF-EOS) are opened with
xarray/h5netcdf, bbox-subset, time-averaged to a day grid, then regridded
to the 33k grid centroids (`collectors/ned/*`). The Spark shape is one
reader over a per-granule decode + regrid helper:

    read_granules_wide: one manifest row per date (its granules)
      → mapInPandas                       # a task decodes whole dates
      → wide rows (grid_id, date, <variable>…) over every grid cell

A long (grid_id, date, variable, value) view is a projection of the
wide rows (plan ``k02_raster_regrid`` selects one).

Decode resolution order (S12/S13):

1. classic NetCDF-3 granules decode for real via the numpy-only codec
   (`sources/netcdf3`) with MERRA semantics (`data_reader_merra.py:26-98`):
   validate dims {lon, lat, time} (+ optional lev), CF-unpack
   (scale_factor/add_offset/_FillValue), bbox subset, mean over time;
2. HDF5 granules decode for real via the numpy-only HDF5 codec
   (`sources/hdf5_min` + `sources/hdfeos`): HDF-EOS L3 grids (OMI) with
   GridSpan/GridSpacing coord rebuild, and NetCDF-4-style files with the
   same MERRA semantics as (1);
3. missing paths (tests, dry runs) produce a clearly-marked deterministic
   plane-valued fake so the plumbing (schema, batching, regrid math)
   stays testable anywhere.

The regrid kernel (K2) is pure numpy bilinear — no scipy.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)



@dataclass(frozen=True)
class RasterGranule:
    """One day-file of one dataset (data_retriever_raw.py granule unit).

    ``bbox`` (west, south, east, north) and ``level`` mirror the
    reference's dataset-descriptor subset parameters
    (`dataset_descriptor.py`: filter bounds + lev select) and are passed
    through to the decoder inside each task."""

    path: str
    date: str  # YYYY-MM-DD
    variable: str
    bbox: tuple[float, float, float, float] | None = None
    level: int | None = None


_EXPECTED_DIMS = ("lon", "lat", "time")
_OPTIONAL_DIMS = ("lev",)


def _cf_unpack(arr: np.ndarray, attrs: dict) -> np.ndarray:
    """CF number unpacking: mask _FillValue/missing_value, apply
    scale_factor/add_offset (what xarray does implicitly for the
    reference)."""
    out = arr.astype(np.float64)
    for key in ("_FillValue", "missing_value"):
        if key in attrs:
            fv = float(np.asarray(attrs[key]).ravel()[0])
            if np.isnan(fv):
                continue
            out[arr == np.asarray(attrs[key]).ravel()[0]] = np.nan
    if "scale_factor" in attrs or "add_offset" in attrs:
        out = out * float(attrs.get("scale_factor", 1.0)) + float(
            attrs.get("add_offset", 0.0)
        )
    return out


def decode_granule_netcdf3(
    path: str,
    variable: str,
    bbox: tuple[float, float, float, float] | None = None,
    level: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Real decode of a classic NetCDF granule with MERRA reader semantics
    (`data_reader_merra.py:26-98`): validate dims, optional lev select,
    bbox subset (lon/lat slice), CF-unpack, mean over time. Returns
    (lons, lats, grid2d[lat, lon]).

    ``bbox`` is (west, south, east, north) — the same convention as
    `earthdata.DatasetDescriptor.bbox` and Harmony's rangeset subsets, so
    a descriptor's bbox can be passed through verbatim."""
    from pm25ml_spark.sources.netcdf3 import read_netcdf3

    dims, variables, _ = read_netcdf3(path)
    missing = [d for d in _EXPECTED_DIMS if d not in dims]
    if missing:
        raise ValueError(
            f"granule missing expected dimensions {missing}; has {list(dims)}"
        )
    unexpected = [
        d for d in dims if d not in _EXPECTED_DIMS + _OPTIONAL_DIMS
    ]
    if unexpected:
        raise ValueError(f"granule has unexpected dimensions {unexpected}")
    if variable not in variables:
        raise ValueError(f"variable {variable!r} not in granule {list(variables)}")
    vdims, arr, vattrs = variables[variable]
    lons = variables["lon"][1].astype(np.float64)
    lats = variables["lat"][1].astype(np.float64)
    vals = _cf_unpack(np.asarray(arr), vattrs)

    if "lev" in vdims:
        if level is None:
            raise ValueError(
                "granule has a 'lev' dimension but no level was specified"
            )
        vals = np.take(vals, level, axis=vdims.index("lev"))
        vdims = tuple(d for d in vdims if d != "lev")
    elif level is not None:
        raise ValueError("level specified but granule has no 'lev' dimension")

    # canonical (time, lat, lon) order, then time mean
    order = [vdims.index(d) for d in ("time", "lat", "lon")]
    vals = np.transpose(vals, order)
    if bbox is not None:
        min_lon, min_lat, max_lon, max_lat = bbox  # (W, S, E, N)
        li = np.flatnonzero((lons >= min_lon) & (lons <= max_lon))
        la = np.flatnonzero((lats >= min_lat) & (lats <= max_lat))
        lons, lats = lons[li], lats[la]
        vals = vals[:, la[:, None], li[None, :]]
    with np.errstate(invalid="ignore"):
        grid = np.nanmean(vals, axis=0)
    return lons, lats, grid


def decode_granule(
    path: str,
    variable: str,
    bbox: tuple[float, float, float, float] | None = None,
    level: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Return (lons, lats, grid2d) for a granule.

    Classic NetCDF-3 files decode for real (``decode_granule_netcdf3``),
    and so do HDF5 granules — both HDF-EOS L3 grids (OMI) and
    NetCDF-4-style files (MERRA as HDF5) — via the numpy-only codec in
    ``sources/hdf5_min`` (``hdfeos.decode_granule_hdf5``). Nonexistent
    paths fall back to a clearly-marked deterministic plane-valued fake
    so pipeline tests run without granule fixtures."""
    import os

    if os.path.exists(path):
        with open(path, "rb") as fh:
            magic = fh.read(8)
        if magic[:3] == b"CDF":
            return decode_granule_netcdf3(path, variable, bbox=bbox, level=level)
        if magic == b"\x89HDF\r\n\x1a\n":
            from pm25ml_spark.sources.hdfeos import decode_granule_hdf5

            return decode_granule_hdf5(path, variable, bbox=bbox, level=level)
        raise ValueError(f"{path}: neither classic NetCDF nor HDF5")
    # md5, NOT builtin hash(): str hash is salted per process (pyspark
    # only pins PYTHONHASHSEED when the env doesn't set one), and a
    # retried/speculative task re-decoding the same granule to different
    # values breaks Spark's recompute-on-failure assumption
    import hashlib

    seed = int(hashlib.md5(path.encode()).hexdigest()[:8], 16) % 1000
    lons = np.arange(60.0, 100.0, 2.0)
    lats = np.arange(5.0, 40.0, 2.5)
    a, b, c = 0.1 + seed * 1e-4, 0.2, float(seed % 7)
    grid = a * lons[None, :] + b * lats[:, None] + c
    return lons, lats, grid


def bilinear_regrid(
    lons: np.ndarray,
    lats: np.ndarray,
    grid2d: np.ndarray,
    q_lon: np.ndarray,
    q_lat: np.ndarray,
) -> np.ndarray:
    """K2: sample a regular lon×lat raster at query points, bilinear;
    points outside the raster are clamped to the edge (nearest)."""
    xi = np.clip(np.searchsorted(lons, q_lon) - 1, 0, len(lons) - 2)
    yi = np.clip(np.searchsorted(lats, q_lat) - 1, 0, len(lats) - 2)
    x0, x1 = lons[xi], lons[xi + 1]
    y0, y1 = lats[yi], lats[yi + 1]
    tx = np.clip((q_lon - x0) / (x1 - x0), 0.0, 1.0)
    ty = np.clip((q_lat - y0) / (y1 - y0), 0.0, 1.0)
    v00 = grid2d[yi, xi]
    v10 = grid2d[yi, xi + 1]
    v01 = grid2d[yi + 1, xi]
    v11 = grid2d[yi + 1, xi + 1]
    return (
        v00 * (1 - tx) * (1 - ty)
        + v10 * tx * (1 - ty)
        + v01 * (1 - tx) * ty
        + v11 * tx * ty
    )


def _regrid_granule(
    path: str,
    variable: str,
    bbox,
    level,
    g_lon: np.ndarray,
    g_lat: np.ndarray,
) -> np.ndarray:
    """Decode one manifest granule and sample it at the grid centroids.
    ``bbox`` and ``level`` arrive as the manifest columns surface them in
    pandas: an array (or None) and a nullable int (null as NaN/None)."""
    bbox = tuple(bbox) if bbox is not None else None
    level = None if pd.isna(level) else int(level)
    lons, lats, grid2d = decode_granule(path, variable, bbox=bbox, level=level)
    return bilinear_regrid(lons, lats, grid2d, g_lon, g_lat)


def _manifest_entry(g: RasterGranule) -> tuple:
    return (
        g.path,
        g.variable,
        list(g.bbox) if g.bbox is not None else None,
        g.level,
    )


def read_granules_wide(
    spark: SparkSession,
    granules: list[RasterGranule],
    grid_pdf: pd.DataFrame,  # columns: grid_id, lon, lat
) -> DataFrame:
    """Wide granule reader: rows ``(grid_id, date, <variable>…)``, the
    variables in sorted order, one row per grid cell per manifest date.

    The manifest is grouped by date on the driver, so a task decodes and
    regrids every granule of its dates and emits each date's complete
    grid; a variable the date has no granule for is null. The output is
    complete by construction, with no shuffle: the manifest rows spread
    over ``min(dates, defaultParallelism)`` partitions.

    Two granules for the same (date, variable) raise ``ValueError``
    before any Spark job: which one would win is not a function of the
    manifest."""
    variables = sorted({g.variable for g in granules})
    by_date: dict[str, dict[str, RasterGranule]] = {}
    for g in granules:
        day = by_date.setdefault(g.date, {})
        if g.variable in day:
            raise ValueError(
                f"two granules for date {g.date} variable {g.variable!r}: "
                f"{day[g.variable].path!r} and {g.path!r}"
            )
        day[g.variable] = g
    rows = [
        (date, [_manifest_entry(day[v]) for v in sorted(day)])
        for date, day in sorted(by_date.items())
    ]
    n_slices = max(1, min(len(rows), spark.sparkContext.defaultParallelism))
    manifest = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices),
        "date string, granules array<struct<path: string, variable: string, "
        "bbox: array<double>, level: int>>",
    )

    g_ids = grid_pdf["grid_id"].to_numpy(dtype=np.int64)
    g_lon = grid_pdf["lon"].to_numpy(dtype=np.float64)
    g_lat = grid_pdf["lat"].to_numpy(dtype=np.float64)
    schema = StructType(
        [StructField("grid_id", LongType()), StructField("date", StringType())]
        + [StructField(v, DoubleType()) for v in variables]
    )

    def fn(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for date, entries in zip(pdf["date"], pdf["granules"]):
                cols = {v: np.full(len(g_ids), np.nan) for v in variables}
                for e in entries:
                    cols[e["variable"]] = _regrid_granule(
                        e["path"], e["variable"], e["bbox"], e["level"],
                        g_lon, g_lat,
                    )
                yield pd.DataFrame({"grid_id": g_ids, "date": date, **cols})

    return manifest.mapInPandas(fn, schema=schema)
