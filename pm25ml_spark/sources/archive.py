"""Partitioned-Parquet artifact store with declared-schema validation.

The reference's signature mechanism (SURVEY §4.3) is *validated
idempotency*: every stage declares its expected schema and exact row count
(`PipelineConfig`, collectors/export_pipeline.py:112-180), validates
Parquet footer metadata after writing (archived_file_validator.py:145-225),
and skips work whose output already exists and validates. Spark provides
none of this out of the box; this module ports it as a thin layer over
pyarrow footer reads (metadata-only — no data scan) + Spark partitioned
reads/writes.

Scan/sink operators covered: S1-S7 of SURVEY §2.1.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pm25ml_spark.sources.hive_path import HivePath


@dataclass(frozen=True)
class PipelineConfig:
    """Declared contract for one archived dataset (export_pipeline.py:112-180)."""

    result_subpath: HivePath
    id_columns: tuple[str, ...]  # only {grid_id} or {grid_id, date} are legal
    value_column_types: dict[str, str] = field(default_factory=dict)  # name -> spark type
    expected_rows: int | None = None

    def __post_init__(self):
        if not set(self.id_columns) <= {"grid_id", "date"}:
            raise ValueError(f"illegal id columns: {self.id_columns}")


class ValidationError(RuntimeError):
    pass


def _is_local(path: str) -> bool:
    # plain paths only; ANY scheme (file:, s3a:, hdfs:, gs:) routes
    # through the Hadoop FS API — glob.glob/os.* on a "file:///x" URI
    # silently return nothing, which would disable skip-if-valid
    return "://" not in path and not path.startswith("file:")


def _fs_glob(spark: SparkSession, pattern: str) -> list[str]:
    """Glob via the Hadoop FileSystem API — works for any scheme the
    cluster has a connector for (hdfs://, s3a://, gs://...). Plain
    ``glob.glob`` silently returns [] for object-store URLs, which would
    disable the skip-if-valid idempotency layer exactly in prod."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(pattern)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = fs.globStatus(jpath)
    if statuses is None:
        return []
    return [s.getPath().toString() for s in statuses]


def _fs_list_recursive(spark: SparkSession, root: str) -> list[str]:
    """Recursive file listing via Hadoop FS (the remote stand-in for a
    ``**`` glob, which Hadoop's globStatus does not support)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return []
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        out.append(it.next().getPath().toString())
    return out


class ArchiveStorage:
    """Read/write/validate hive-pathed Parquet artifacts on any
    Hadoop-compatible FS (local dirs in tests; object stores in prod).
    Listings/existence go through the Hadoop FileSystem API when the
    bucket has a non-local scheme; footer reads fall back to a Spark
    metadata read remotely (pyarrow locally)."""

    def __init__(self, spark: SparkSession, bucket: str):
        self.spark = spark
        self.bucket = bucket.rstrip("/")

    def _glob(self, pattern: str) -> list[str]:
        if _is_local(self.bucket):
            return glob.glob(pattern)
        return _fs_glob(self.spark, pattern)

    # -- paths -------------------------------------------------------------
    def _dir(self, subpath: HivePath | str) -> str:
        sp = subpath.path if isinstance(subpath, HivePath) else subpath
        return f"{self.bucket}/{sp}"

    def _data_file(self, subpath: HivePath | str) -> str:
        return f"{self._dir(subpath)}/data.parquet"

    # -- S2: write one asset ----------------------------------------------
    def write_to_destination(
        self,
        df: DataFrame,
        subpath: HivePath | str,
        sort_cols: tuple[str, ...] = ("date", "grid_id"),
    ) -> None:
        """Single-asset write. The reference writes exactly one file per
        dataset-month (~1M rows), sorted [date, grid_id] (O1:
        gee_export_pipeline.py:198-208); coalesce(1) + orderBy keeps that
        layout contract. Larger artifacts should use :meth:`sink_stage`
        (partitioned, sortWithinPartitions) instead."""
        cols = [c for c in sort_cols if c in df.columns]
        if cols:
            df = df.orderBy(*cols)
        df.coalesce(1).write.mode("overwrite").parquet(self._data_file(subpath))

    # -- S1: read one asset ------------------------------------------------
    def read_data_asset(self, subpath: HivePath | str) -> DataFrame:
        return self.spark.read.parquet(self._data_file(subpath))

    # -- S3: metadata-only footer read ------------------------------------
    def read_dataframe_metadata(self, subpath: HivePath | str):
        """Row count + arrow schema from Parquet footers — no data scan.
        Locally via pyarrow footers; on remote schemes via a Spark
        metadata read (parquet ``count()`` is footer-only, the schema
        comes from the reader) so the validation layer works against
        object stores too."""
        data_file = self._data_file(subpath)
        if _is_local(self.bucket):
            files = sorted(glob.glob(f"{data_file}/*.parquet"))
            if not files:
                raise FileNotFoundError(data_file)
            total = 0
            schema = None
            for f in files:
                meta = pq.ParquetFile(f)
                total += meta.metadata.num_rows
                schema = meta.schema_arrow if schema is None else schema
            return total, schema
        if not self.does_dataset_exist(subpath):
            raise FileNotFoundError(data_file)
        df = self.spark.read.parquet(data_file)
        # StructType exposes .names like the arrow schema does, so the
        # validate() column checks work identically on both branches
        return df.count(), df.schema

    # -- S6: existence probe ----------------------------------------------
    def does_dataset_exist(self, subpath: HivePath | str) -> bool:
        return bool(self._glob(f"{self._data_file(subpath)}/*.parquet"))

    # -- S7: path glob by key-value ---------------------------------------
    def filter_paths_by_kv(self, key: str, value: str) -> list[str]:
        if _is_local(self.bucket):
            hits = glob.glob(
                f"{self.bucket}/**/{key}={value}/**/data.parquet", recursive=True
            ) + glob.glob(
                f"{self.bucket}/**/{key}={value}/data.parquet", recursive=True
            )
        else:
            seg = f"/{key}={value}/"
            hits = [
                p
                for p in _fs_list_recursive(self.spark, self.bucket)
                if seg in p and p.rstrip("/").endswith(".parquet")
                and "/data.parquet" in p
            ]
        return sorted({os.path.dirname(h)[len(self.bucket) + 1 :] for h in hits})

    # -- §4.3: declared-config validation ---------------------------------
    def validate(self, config: PipelineConfig) -> None:
        """Footer-metadata check against the declared contract: column
        presence, id columns, exact row count."""
        if not self.does_dataset_exist(config.result_subpath):
            raise ValidationError(f"missing artifact: {config.result_subpath}")
        rows, schema = self.read_dataframe_metadata(config.result_subpath)
        names = set(schema.names)
        missing = (set(config.id_columns) | set(config.value_column_types)) - names
        if missing:
            raise ValidationError(f"{config.result_subpath}: missing columns {missing}")
        if config.expected_rows is not None and rows != config.expected_rows:
            raise ValidationError(
                f"{config.result_subpath}: rows {rows} != expected {config.expected_rows}"
            )

    def needs_upload(self, config: PipelineConfig) -> bool:
        """The skip-if-valid idempotency probe (collector.py:118-136)."""
        try:
            self.validate(config)
            return False
        except (ValidationError, FileNotFoundError):
            return True


class StageStorage:
    """Stage-partitioned store: ``stage=<s>/month=YYYY-MM/...`` with the
    month as a REAL partition column (S4/S5). Spark prunes month
    directories from any filter on ``month`` automatically."""

    def __init__(self, spark: SparkSession, bucket: str):
        self.spark = spark
        self.bucket = bucket.rstrip("/")

    def stage_path(self, stage: str) -> str:
        return f"{self.bucket}/stage={stage}"

    # -- S4: hive-partitioned scan ----------------------------------------
    def scan_stage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.stage_path(stage))

    # -- S5: partitioned sink ---------------------------------------------
    def sink_stage(
        self, df: DataFrame, stage: str, mode: str = "overwrite"
    ) -> int:
        """Partition by month; the partition key is carried by the path,
        not the files (pl.PartitionParted(include_key=False) parity is
        Spark's native behavior).

        Returns the exact written row count, measured with an
        ``Observation`` attached to the write job itself — the
        reference's post-write row validation (§4.3) without the second
        scan a ``count()`` would cost (at 100 TB the re-scan is a whole
        extra job)."""
        from pyspark.sql import Observation

        obs = Observation(f"sink_{stage}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        # dynamic partition overwrite: replace ONLY the month partitions
        # present in df. Static overwrite would clear the whole stage —
        # with the missing_months incremental workflow that silently
        # destroys every previously written month.
        observed.write.partitionBy("month").mode(mode).option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(self.stage_path(stage))
        return int(obs.get["rows"])

    def months_present(self, stage: str) -> list[str]:
        pattern = f"{self.stage_path(stage)}/month=*"
        if _is_local(self.bucket):
            dirs = glob.glob(pattern)
        else:
            dirs = _fs_glob(self.spark, pattern)
        return sorted(d.rsplit("month=", 1)[1] for d in dirs)

    def missing_months(self, in_stage: str, out_stage: str) -> list[str]:
        """Stage-level incremental skip (spatial_imputation_manager.py:
        206-215): the months present upstream but absent downstream —
        the only partitions the next run needs to process. Driver-side
        set difference over partition listings; combined with a
        ``filter(col("month").isin(...))`` the scan prunes to exactly
        those directories."""
        return sorted(
            set(self.months_present(in_stage)) - set(self.months_present(out_stage))
        )


def asof_fallback_months(
    wanted: list[str], available: list[str]
) -> dict[str, str | None]:
    """COPY_LATEST_AVAILABLE_BEFORE (combine_planner.py:118-163): for each
    wanted month, pick it if present, else the latest available earlier
    month, else None. Pure driver-side plan logic; months are 'YYYY-MM'
    strings so lexical order == temporal order."""
    avail = sorted(available)
    out: dict[str, str | None] = {}
    for m in wanted:
        if m in avail:
            out[m] = m
            continue
        earlier = [a for a in avail if a < m]
        out[m] = earlier[-1] if earlier else None
    return out

