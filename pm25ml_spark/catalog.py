"""Typed loaders for the benchmark parquet tables.

Each loader pushes an explicit projection-friendly read through
``spark.read.parquet`` so Catalyst can prune columns and push predicates
into the scan. The only special case is ``events``: its ``ts`` column has
shipped in two physical formats over time — TIMESTAMP(NANOS), which Spark
reads only as a raw long (``spark.sql.legacy.parquet.nanosAsLong``), and
plain TIMESTAMP(MICROS) without timezone, which Spark reads as
TIMESTAMP_NTZ. We normalize both to a session-TZ TIMESTAMP so every plan
downstream (``unix_micros``, ``withWatermark``, window frames) sees one
type. The session TZ is pinned to UTC (``session.py``), so the
NTZ→TIMESTAMP cast is an exact relabel, not a wall-clock shift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pm25ml_spark.session import ensure_runtime_confs

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one benchmark table; normalizes types where Spark needs help."""
    ensure_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return _normalize_event_ts(df) if name == "events" else df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP regardless of the
    parquet physical type the generator used (nanos-as-long or NTZ micros)."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # nanos → micros must use integer division: float division loses
        # precision above 2^53 (epoch-nanos ≈ 1.7e18).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # exact relabel under the pinned UTC session TZ
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() plans."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
