"""Raster reader plumbing (S12/S13/K2)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pm25ml_spark.sources.raster import (
    RasterGranule,
    bilinear_regrid,
    read_granules_wide,
)


def test_bilinear_regrid_exact_on_plane():
    lons = np.arange(0.0, 10.0, 1.0)
    lats = np.arange(0.0, 8.0, 1.0)
    grid = 2.0 * lons[None, :] + 3.0 * lats[:, None] + 1.0
    q_lon = np.array([2.5, 7.25, 0.0])
    q_lat = np.array([3.5, 1.75, 0.0])
    got = bilinear_regrid(lons, lats, grid, q_lon, q_lat)
    assert got == pytest.approx(2.0 * q_lon + 3.0 * q_lat + 1.0)


def test_bilinear_regrid_clamps_outside():
    lons = np.arange(0.0, 3.0, 1.0)
    lats = np.arange(0.0, 3.0, 1.0)
    grid = np.arange(9.0).reshape(3, 3)
    got = bilinear_regrid(lons, lats, grid, np.array([-5.0]), np.array([-5.0]))
    assert got[0] == 0.0  # clamped to corner


def test_read_granules_distributed(spark):
    grid_pdf = pd.DataFrame(
        {
            "grid_id": np.arange(20, dtype=np.int64),
            "lon": np.linspace(65.0, 95.0, 20),
            "lat": np.linspace(8.0, 35.0, 20),
        }
    )
    granules = [
        RasterGranule(f"fake://m2/{d}.nc", f"2023-01-{d:02d}", "aot")
        for d in range(1, 6)
    ]
    out = read_granules_wide(spark, granules, grid_pdf)
    pdf = out.toPandas()
    assert len(pdf) == 5 * 20  # one row per granule-day × grid cell
    assert set(pdf.date.unique()) == {f"2023-01-{d:02d}" for d in range(1, 6)}
    assert pdf.aot.notna().all()
    # determinism: same manifest → identical values
    pdf2 = read_granules_wide(spark, granules, grid_pdf).toPandas()
    a = pdf.sort_values(["date", "grid_id"]).aot.to_numpy()
    b = pdf2.sort_values(["date", "grid_id"]).aot.to_numpy()
    assert np.array_equal(a, b)


def test_read_granules_wide_rejects_duplicate_date_variable(spark):
    """Two granules for one (date, variable) leave the winner to chance:
    the wide reader refuses them, naming both, before any Spark job."""
    grid_pdf = pd.DataFrame(
        {"grid_id": np.arange(4, dtype=np.int64), "lon": 70.0, "lat": 20.0}
    )
    granules = [
        RasterGranule("fake://m2/aot/1.nc", "2023-01-01", "aot"),
        RasterGranule("fake://m2/t2m/1.nc", "2023-01-01", "t2m"),
        RasterGranule("fake://m2/aot/1b.nc", "2023-01-01", "aot"),
    ]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    with pytest.raises(ValueError, match=r"2023-01-01 variable 'aot'"):
        read_granules_wide(spark, granules, grid_pdf)
    assert set(tracker.getJobIdsForGroup()) == before
