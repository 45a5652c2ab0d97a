"""Wide-combiner semantics (mirrors combiners/archive/combiner__test.py:
month-keyed + static datasets, prefix rename, date normalization, inner
join, Float32 downcast)."""

from __future__ import annotations

import pytest

from pm25ml_spark.operators.combine import (
    normalize_date,
    prefix_rename,
    scaffold_complete,
    wide_combine,
)


@pytest.fixture()
def monthly(spark):
    return spark.createDataFrame(
        [(1, "2023-01-01", 10.0), (1, "2023-01-02", 11.0),
         (2, "2023-01-01", 20.0), (2, "2023-01-02", 21.0)],
        "grid_id long, date string, temperature double",
    )


@pytest.fixture()
def monthly2(spark):
    return spark.createDataFrame(
        [(1, "2023-01-01T00:00:00", 0.1), (1, "2023-01-02T00:00:00", 0.2),
         (2, "2023-01-01T00:00:00", 0.3), (2, "2023-01-02T00:00:00", 0.4)],
        "grid_id long, date string, aot double",
    )


@pytest.fixture()
def static(spark):
    return spark.createDataFrame(
        [(1, 77.0, 12.0), (2, 78.0, 13.0)],
        "grid_id long, lon double, lat double",
    )


def test_prefix_rename(monthly):
    out = prefix_rename(monthly, "era5")
    assert out.columns == ["grid_id", "date", "era5__temperature"]


def test_normalize_date_truncates_timestamps(monthly2):
    vals = {r.date for r in normalize_date(monthly2).select("date").collect()}
    assert vals == {"2023-01-01", "2023-01-02"}


def test_wide_combine_joins_monthly_and_static(monthly, monthly2, static):
    wide = wide_combine({"era5": monthly, "merra": monthly2, "grid": static})
    assert set(wide.columns) == {
        "grid_id", "date", "era5__temperature", "merra__aot",
        "grid__lon", "grid__lat",
    }
    rows = {(r.grid_id, r.date): r for r in wide.collect()}
    assert len(rows) == 4  # 2 grids × 2 dates; static broadcast-joined on grid_id
    assert rows[(1, "2023-01-02")].era5__temperature == 11.0
    assert rows[(1, "2023-01-02")].merra__aot == pytest.approx(0.2)
    assert rows[(2, "2023-01-01")].grid__lon == 78.0


def test_wide_combine_float32_downcast(monthly, static):
    wide = wide_combine({"era5": monthly, "grid": static}, downcast=True)
    types = dict(wide.dtypes)
    assert types["era5__temperature"] == "float"
    assert types["grid__lon"] == "float"
    assert types["grid_id"] == "bigint"  # id columns untouched


def test_scaffold_complete_left_join(spark, monthly):
    scaffold = spark.createDataFrame(
        [(g, d) for g in (1, 2, 3) for d in ("2023-01-01", "2023-01-02")],
        "grid_id long, date string",
    )
    out = scaffold_complete(monthly, scaffold)
    assert out.count() == 6
    missing = out.filter("grid_id = 3").collect()
    assert all(r.temperature is None for r in missing)

