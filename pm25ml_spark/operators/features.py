"""Feature generation — the reference's densest operator surface.

Re-expresses `feature_generation/generate.py` (SURVEY §3.2, W1-W4):
per-key rolling means (7/365-row frames, min_samples=1), year-partition
and all-time means, NaN→null laundering before every mean, and the
derived scalars (Magnus relative humidity, wind degree, monsoon flag,
day-of-year trig).

Spark notes:
- Polars ``rolling_mean(n, min_samples=1)`` ≡ ``avg`` over
  ``rowsBetween(-(n-1), 0)`` — Spark's avg ignores nulls, which *is* the
  min_samples=1 semantics; the count guard variant lives in
  plans/windows.py (W5).
- Polars distinguishes NaN from null and the reference launders NaN→null
  before every mean (generate.py:73,83,92,99); Spark's avg would propagate
  NaN, so :func:`nan_to_null` is applied first — SURVEY §7.4 trap #1.
- The reference's explicit pre-sorts (generate.py:106-113) are subsumed by
  the window ORDER BY; no global sort is ever issued.
- All windows share one partitioning (grid_id) → a single shuffle serves
  every frame; Catalyst reuses the exchange.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Magnus formula constants (generate.py:12-15).
MAGNUS_B = 17.625
MAGNUS_C = 243.04


def nan_to_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """NaN → null so mean/avg skip them (Polars fill_nan(None) parity)."""
    return df.withColumns(
        {c: F.when(F.isnan(F.col(c)), None).otherwise(F.col(c)) for c in cols}
    )


def rolling_mean(
    col: str,
    n: int,
    partition=("grid_id",),
    order=("date",),
) -> F.Column:
    """n-row rolling mean per partition, min_samples=1 (W1/W2)."""
    w = (
        Window.partitionBy(*partition)
        .orderBy(*order)
        .rowsBetween(-(n - 1), 0)
    )
    return F.avg(col).over(w)


def partition_mean(col: str, partition) -> F.Column:
    """Unbounded mean over a partition (W3 year-mean / W4 all-time mean)."""
    return F.avg(col).over(Window.partitionBy(*partition))


def fill_forward_backward(
    col: str, partition=("grid_id",), order=("date",)
) -> F.Column:
    """backward_fill + forward_fill of remaining nulls (generate.py:71-79)."""
    w = Window.partitionBy(*partition).orderBy(*order)
    ff = F.last(col, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    bf = F.first(col, ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    return F.coalesce(ff, bf)


def relative_humidity(temp_c: str, dewpoint_c: str) -> F.Column:
    """Magnus-formula RH from 2m temperature/dewpoint (generate.py:47-53)."""
    t, d = F.col(temp_c), F.col(dewpoint_c)
    gamma_t = MAGNUS_B * t / (MAGNUS_C + t)
    gamma_d = MAGNUS_B * d / (MAGNUS_C + d)
    return 100 * F.exp(gamma_d - gamma_t)


def wind_degree(u: str, v: str) -> F.Column:
    """Meteorological wind direction from u/v components
    (generate.py:55-63): atan2(u, v)·180/π + 360, mod 360."""
    deg = F.atan2(F.col(u), F.col(v)) * (180.0 / math.pi) + 360.0
    return F.pmod(deg, F.lit(360.0))


def monsoon_flag(date_col: str = "date") -> F.Column:
    """1 during June-September (generate.py:65-69)."""
    m = F.month(F.to_date(date_col))
    return F.when((m >= 6) & (m <= 9), 1).otherwise(0)


def calendar_features(df: DataFrame, date_col: str = "date") -> DataFrame:
    """year / day_of_year / cos_day_of_year / month_of_year
    (generate.py:114-141)."""
    d = F.to_date(date_col)
    return df.withColumns(
        {
            "year": F.year(d).cast("long"),
            "day_of_year": F.dayofyear(d).cast("long"),
            "cos_day_of_year": F.cos(F.dayofyear(d) * (2.0 * math.pi / 365.0)),
            "month_of_year": F.month(d),
            "monsoon_season": monsoon_flag(date_col),
        }
    )


def exact_rolling_mean(
    col: str, n: int, partition=("grid_id",), order=("date",)
) -> F.Column:
    """Decimal-sum spelling of :func:`rolling_mean` — bit-identical across
    engines (see functions.exact); used by oracle-checked plans."""
    w = Window.partitionBy(*partition).orderBy(*order).rowsBetween(-(n - 1), 0)
    return F.sum(F.col(col).cast("decimal(38,6)")).over(w).cast(
        "double"
    ) / F.count(col).over(w)


def exact_partition_mean(col: str, partition) -> F.Column:
    w = Window.partitionBy(*partition)
    return F.sum(F.col(col).cast("decimal(38,6)")).over(w).cast(
        "double"
    ) / F.count(col).over(w)


def generate_features(
    df: DataFrame,
    base_cols: list[str],
    key: str = "grid_id",
    date_col: str = "date",
    with_fills: bool = True,
    exact: bool = False,
) -> DataFrame:
    """The full §3.2 feature chain over a wide table: for each base column
    c, adds c__mean_r7d, c__mean_r365d, c__mean_year, c__mean_all; plus
    calendar scalars. One shuffle on ``key`` serves all window frames.

    ``exact=True`` switches means to the decimal-sum spelling so results
    are bit-identical across engines (oracle-checked plans use this).
    """
    df = nan_to_null(df, base_cols)
    df = calendar_features(df, date_col)
    roll = exact_rolling_mean if exact else rolling_mean
    pmean = exact_partition_mean if exact else partition_mean
    rolling_cols: dict[str, F.Column] = {}
    for c in base_cols:
        rolling_cols[f"{c}__mean_r7d"] = roll(c, 7, (key,), (date_col,))
        rolling_cols[f"{c}__mean_r365d"] = roll(c, 365, (key,), (date_col,))
        rolling_cols[f"{c}__mean_year"] = pmean(c, (key, "year"))
        rolling_cols[f"{c}__mean_all"] = pmean(c, (key,))
    df = df.withColumns(rolling_cols)
    if with_fills:
        # backward_fill + forward_fill of remaining nulls of the ROLLING
        # columns (generate.py:71-89) — a rolling value is null only when
        # its whole frame is null.
        fill_cols = {}
        for c in base_cols:
            for suffix in ("__mean_r7d", "__mean_r365d"):
                rc = f"{c}{suffix}"
                fill_cols[rc] = F.coalesce(
                    F.col(rc), fill_forward_backward(rc, (key,), (date_col,))
                )
        df = df.withColumns(fill_cols)
    return df
