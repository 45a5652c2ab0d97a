"""Feature-generation semantics (generate.py W1-W4 traps: min_samples=1,
NaN laundering, fills of all-null frames, calendar scalars)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pm25ml_spark.operators.features import (
    generate_features,
    monsoon_flag,
    nan_to_null,
    relative_humidity,
    wind_degree,
)


@pytest.fixture()
def series(spark):
    rows = [
        (1, "2023-01-01", 1.0),
        (1, "2023-01-02", None),
        (1, "2023-01-03", 3.0),
        (1, "2023-01-04", float("nan")),
        (1, "2023-01-05", 5.0),
        (2, "2023-01-01", None),
        (2, "2023-01-02", None),
        (2, "2023-01-03", None),
    ]
    return spark.createDataFrame(rows, "grid_id long, date string, v double")


def test_nan_to_null_launders_nan(series):
    out = nan_to_null(series, ["v"])
    got = [r.v for r in out.filter("grid_id = 1").orderBy("date").collect()]
    assert got == [1.0, None, 3.0, None, 5.0]


def test_rolling_mean_min_samples_1(series):
    feat = generate_features(series, ["v"], with_fills=False)
    got = {
        r.date: r.v__mean_r7d
        for r in feat.filter("grid_id = 1").collect()
    }
    # avg ignores null AND laundered NaN: frame means of present values
    assert got["2023-01-01"] == pytest.approx(1.0)
    assert got["2023-01-02"] == pytest.approx(1.0)        # only day1 valid
    assert got["2023-01-03"] == pytest.approx(2.0)        # (1+3)/2
    assert got["2023-01-05"] == pytest.approx(3.0)        # (1+3+5)/3


def test_rolling_fills_all_null_partition(series):
    feat = generate_features(series, ["v"], with_fills=True)
    grid2 = feat.filter("grid_id = 2").collect()
    # no valid value at all → fills cannot resolve → stays null
    assert all(r.v__mean_r7d is None for r in grid2)


def test_partition_means(series):
    feat = generate_features(series, ["v"], with_fills=False)
    got = feat.filter("grid_id = 1").select("v__mean_all").distinct().collect()
    assert len(got) == 1
    assert got[0].v__mean_all == pytest.approx(3.0)  # mean(1,3,5)


def test_calendar_and_monsoon(spark):
    df = spark.createDataFrame(
        [(1, "2023-07-15", 1.0), (1, "2023-12-01", 2.0)],
        "grid_id long, date string, v double",
    )
    feat = generate_features(df, ["v"], with_fills=False)
    rows = {r.date: r for r in feat.collect()}
    assert rows["2023-07-15"].monsoon_season == 1
    assert rows["2023-12-01"].monsoon_season == 0
    assert rows["2023-07-15"].day_of_year == 196
    assert rows["2023-12-01"].cos_day_of_year == pytest.approx(
        math.cos(335 * 2 * math.pi / 365)
    )


def test_relative_humidity_saturation(spark):
    # dewpoint == temperature → RH = 100 %
    df = spark.createDataFrame([(20.0, 20.0), (30.0, 15.0)], "t double, d double")
    out = df.select(relative_humidity("t", "d").alias("rh")).collect()
    assert out[0].rh == pytest.approx(100.0)
    assert 0 < out[1].rh < 100


def test_wind_degree_cardinal_directions(spark):
    # u=0, v=-1: wind from the north → 180? Meteorological: atan2(u,v)*180/pi+360 mod 360
    df = spark.createDataFrame(
        [(0.0, 1.0), (1.0, 0.0), (0.0, -1.0), (-1.0, 0.0)], "u double, v double"
    )
    got = [r.deg for r in df.select(wind_degree("u", "v").alias("deg")).collect()]
    assert got == pytest.approx([0.0, 90.0, 180.0, 270.0])


def test_w6_month_boundary_matches_carry_in_semantics(spark):
    """W6 golden (SURVEY §7.4 trap #3): the reference computes the 7-day
    rolling mean of imputed values per month by CONCATENATING the previous
    month's frame, rolling over the combined range, then keeping only
    current-month rows (regression_model_predictor.py:186-229). Our
    whole-range window must reproduce exactly that — and a naive
    per-month port (rolling within each month alone) must NOT.

    Fixture: values 10,20,...,130 on 2023-01-26..2023-02-07. For
    2023-02-01 the carry-in mean covers Jan 26-Feb 1 (10..70 → 40.0);
    the per-month port would see only Feb 1 (70.0).
    """
    from datetime import date, timedelta

    from pm25ml_spark.operators.features import rolling_mean

    start = date(2023, 1, 26)
    rows = [
        (1, (start + timedelta(days=i)).isoformat(), 10.0 * (i + 1))
        for i in range(13)  # Jan 26 .. Feb 7
    ]
    df = spark.createDataFrame(rows, "grid_id long, date string, v double")
    out = {
        r.date: r.m
        for r in df.select(
            "date", rolling_mean("v", 7).alias("m")
        ).collect()
    }

    # reference semantics, computed independently: concat prev+current
    # month, roll [-6,0] min_samples=1, keep current-month rows
    vals = {r[1]: r[2] for r in rows}
    ordered = sorted(vals)
    expect = {}
    for i, d in enumerate(ordered):
        window = [vals[x] for x in ordered[max(0, i - 6) : i + 1]]
        expect[d] = sum(window) / len(window)

    feb = [d for d in ordered if d >= "2023-02-01"]
    for d in feb:
        assert out[d] == pytest.approx(expect[d], abs=1e-12), d
    # the value the naive per-month port would produce differs at the
    # boundary — pin that this golden actually discriminates
    assert expect["2023-02-01"] == pytest.approx(40.0)
    assert out["2023-02-01"] != pytest.approx(70.0)
    # deep into the month (>=7 rows in-month) both ports agree again
    assert out["2023-02-07"] == pytest.approx(expect["2023-02-07"])
