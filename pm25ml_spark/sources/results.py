"""Terminal raster export (SURVEY K4 pivot + S17 NetCDF sink).

The final prediction is one country-sized raster (33k cells × days of
float32 — a few hundred MB at most), so the pivot runs on the driver after
``toPandas()`` exactly as the reference does (grid.py:122-185). The sink
(S17) mirrors `netcdf_final_result_writer.py:46-153`: CF-1.8 attributes,
days-since-2000 gregorian time, projection-metre x/y axes, grid_mapping +
GeoTransform — written as real NetCDF via the numpy-only codecs:

- ``engine="classic"`` (default): classic NetCDF-3 via `sources/netcdf3`
  — the maximally portable output, uncompressed;
- ``engine="netcdf4"``: the reference's actual encoding
  (`netcdf_final_result_writer.py:87-100`) — a netCDF-4-style HDF5
  container with dimension scales, DIMENSION_LIST wiring, and zlib
  level-5 DEFLATE-compressed variable data, via `sources/hdf5_min`.

Both carry identical data + CF metadata and both round-trip through
``read_raster`` (which dispatches on the file magic).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from pm25ml_spark.sources.hdf5_min import read_hdf5, write_netcdf4
from pm25ml_spark.sources.netcdf3 import read_netcdf3, write_netcdf3


def pivot_to_raster(
    df: DataFrame,
    grid: DataFrame,
    value_col: str,
    date_col: str = "date",
    x_col: str = "original_x",
    y_col: str = "original_y",
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """K4: (grid_id, date, value) long table → dense (time, y, x) cube.

    Outer-joins the data onto the full grid (grid.py:144-165) so missing
    cells become NaN, then pivots on the driver. Returns
    (cube[t,y,x] float32, dates, ys, xs).
    """
    joined = (
        grid.select("grid_id", x_col, y_col)
        .join(df.select("grid_id", date_col, value_col), "grid_id", "left")
        .toPandas()
    )
    dates = np.sort(joined[date_col].dropna().unique())
    ys = np.sort(joined[y_col].unique())
    xs = np.sort(joined[x_col].unique())
    cube = np.full((len(dates), len(ys), len(xs)), np.nan, dtype=np.float32)
    # vectorized fill: factorize each axis into index arrays and assign
    # in one fancy-indexing statement — a per-row Python loop costs
    # minutes at the reference scale (33k cells × 365 days ≈ 12M rows)
    filled = joined.dropna(subset=[date_col])
    ti = np.searchsorted(dates, filled[date_col].to_numpy())
    yi = np.searchsorted(ys, filled[y_col].to_numpy())
    xi = np.searchsorted(xs, filled[x_col].to_numpy())
    cube[ti, yi, xi] = filled[value_col].to_numpy(dtype=np.float32)
    return cube, dates, ys, xs


_TIME_EPOCH = np.datetime64("2000-01-01")


def write_raster(
    path: str,
    cube: np.ndarray,
    dates: np.ndarray,
    ys: np.ndarray,
    xs: np.ndarray,
    value_name: str = "value",
    engine: str = "classic",
) -> str:
    """S17 sink: CF-1.8 NetCDF with the reference's encoding
    (netcdf_final_result_writer.py:46-153): days-since-2000 gregorian
    time, projection_x/y_coordinate metre axes, grid_mapping spatial_ref,
    GeoTransform. ``engine="netcdf4"`` adds the reference's zlib
    complevel-5 compression in a netCDF-4-style HDF5 container;
    ``engine="classic"`` writes the portable uncompressed NetCDF-3 file
    with identical data + metadata."""
    if engine not in ("classic", "netcdf4"):
        raise ValueError(f"unknown engine {engine!r}")
    days = (
        (np.asarray(dates, dtype="datetime64[D]") - _TIME_EPOCH)
        .astype("timedelta64[D]")
        .astype(np.int32)
    )
    dx = float(np.diff(xs).mean()) if len(xs) > 1 else 1.0
    dy = abs(float(np.diff(ys).mean())) if len(ys) > 1 else 1.0
    # GDAL-style GeoTransform CONSISTENT WITH THE STORED ROW ORDER: the
    # cube's row r sits at ys[r] (ascending), so the y origin is the
    # bottom edge and the row step is +dy. (The reference emits -dy
    # because its xarray cube is north-up/descending-y; emitting -dy over
    # ascending rows would georeference the raster vertically mirrored.)
    gt = f"{xs[0] - dx / 2.0} {dx} 0.0 {ys[0] - dy / 2.0} 0.0 {dy}"
    out = path if path.endswith(".nc") else f"{path}.nc"
    coords = {
        "time": (
            days,
            {
                "standard_name": "time",
                "axis": "T",
                "units": "days since 2000-01-01 00:00:00",
                "calendar": "gregorian",
            },
        ),
        "y": (
            np.asarray(ys, dtype=np.float64),
            {
                "standard_name": "projection_y_coordinate",
                "long_name": "Northing",
                "units": "m",
                "axis": "Y",
            },
        ),
        "x": (
            np.asarray(xs, dtype=np.float64),
            {
                "standard_name": "projection_x_coordinate",
                "long_name": "Easting",
                "units": "m",
                "axis": "X",
            },
        ),
    }
    data_vars = {
        value_name: (
            ("time", "y", "x"),
            cube.astype(np.float32),
            {
                "_FillValue": np.float32(np.nan),
                "coordinates": "time y x",
                "grid_mapping": "spatial_ref",
            },
        ),
        # full CF CRS attrs (crs_wkt etc.) come from pyproj in the
        # reference; without it we pin the EPSG code + GeoTransform
        "spatial_ref": (
            (),
            np.int32(0),
            {"spatial_ref": "EPSG:7755", "GeoTransform": gt},
        ),
    }
    global_attrs = {"Conventions": "CF-1.8", "GeoTransform": gt}
    if engine == "netcdf4":
        write_netcdf4(out, coords, data_vars, global_attrs, compress=True)
        return out
    write_netcdf3(
        out,
        dims={"time": len(days), "y": len(ys), "x": len(xs)},
        variables={
            **data_vars,
            **{n: ((n,), arr, attrs) for n, (arr, attrs) in coords.items()},
        },
        global_attrs=global_attrs,
    )
    return out


def read_raster(path: str) -> dict[str, np.ndarray]:
    """Read a raster written by :func:`write_raster` — either engine,
    dispatched on the file magic."""
    with open(path, "rb") as fh:
        magic = fh.read(8)
    if magic == b"\x89HDF\r\n\x1a\n":
        f = read_hdf5(path)
        arrays = {n: ds.read() for n, ds in f.root.datasets.items()}
    else:
        _, variables, _ = read_netcdf3(path)
        arrays = {n: arr for n, (_, arr, _) in variables.items()}
    out = {}
    for name, arr in arrays.items():
        if name == "time":
            arr = (
                _TIME_EPOCH + np.asarray(arr).astype("timedelta64[D]")
            ).astype("datetime64[D]")
        out[name] = arr
    return out
