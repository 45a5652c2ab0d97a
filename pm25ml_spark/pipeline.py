"""The full pm25 lifecycle (SURVEY §3 s01→s09) as one Spark program.

Where the reference runs nine Cloud Batch VMs with per-month ThreadPools,
this runner is a single declarative chain: every stage reads the previous
stage's hive-partitioned output (month pruning comes free), and the
per-month parallelism collapses into Spark partition parallelism.

Stages (reference entry points in parentheses):
1. ingest   (s01a) — raster granules → wide (grid_id, date, variable…)
                      rows over every grid cell, one pass
2. combine  (s01b) — wide monthly table (prefix-rename + N-way join)
3. interpolate (s01c) — K1 daily spatial interpolation of selected columns
4. features (s02)  — W1-W4 windows + derived scalars
5. sample   (s03/s06) — stratified per-50km split of non-null-target rows
6. train    (s04/s07) — group-CV single-node booster on the collected
                        sample + quality gate
7. impute   (s05/s08) — distributed predict + M7 stats columns, added to
                        the features stage in one pass (no join)
8. export   (s09)  — pivot to (time,y,x) raster + sink

Each stage writes through :class:`StageStorage`, and every call
overwrites its stage's output: no stage checks for a valid earlier
output. Resume (the reference's idempotency, SURVEY §4.3) is an open
ROADMAP item. The store records a digest of every stage it writes
(``store.digests``), so two runs can be compared stage by stage.

At the sizes a month runs at, a stage's cost is mostly fixed cost per
Spark job and per Python task, so the stages keep both counts low:

* one Python runner per task. Every Python runner a task starts pays
  the worker's per-task setup (on CPython 3.11 ``importlib.
  invalidate_caches()`` re-reads the archive directory of each of the
  ~16 zipimporters on the worker's path, Spark's jars and zips among
  them: 0.14-0.28 s per task on a 4-vCPU host), so a stage's Python
  work is one ``mapInPandas``/``applyInPandas`` over a JVM source,
  never a Python RDD feeding a pandas UDF;
* no schema-inference job: ``scan_stage`` hands the reader the schema
  stored in the stage's parquet footer;
* the imputer's CV folds are assigned to the collected sample on the
  driver, not by Spark jobs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pm25ml_spark.ml.pipeline import (
    predict_with_stats,
    stratified_split,
    train_imputation_model,
)
from pm25ml_spark.operators.combine import wide_combine
from pm25ml_spark.operators.features import generate_features
from pm25ml_spark.operators.interpolation import daily_spatial_interpolate
from pm25ml_spark.sources.archive import StageStorage
from pm25ml_spark.sources.raster import RasterGranule, read_granules_wide
from pm25ml_spark.sources.results import pivot_to_raster, write_raster


@dataclass
class PipelineSettings:
    bucket: str
    target: str = "aot__value"
    feature_cols: tuple[str, ...] = ()
    sample_fraction: float = 0.3
    n_folds: int = 3
    max_iter: int = 10
    quality_gate: tuple[float, float] | None = None
    interpolate_cols: tuple[str, ...] = ()


class Pm25Pipeline:
    def __init__(self, spark: SparkSession, grid: DataFrame, settings: PipelineSettings):
        self.spark = spark
        self.grid = grid
        self.s = settings
        self.store = StageStorage(spark, settings.bucket)

    def _validate_rows(self, stage: str, got: int, expected: int) -> None:
        """§4.3 exact-row validation using the count the write job itself
        observed (no re-scan): the reference fails loudly on any drift
        (days_in_month × grid_size there; scaffold arithmetic here)."""
        if got != expected:
            raise ValueError(
                f"stage={stage}: wrote {got} rows, expected {expected}"
            )

    # -- stage 1: ingest ----------------------------------------------------
    def ingest(self, granules: list[RasterGranule]) -> None:
        """Granule manifest → wide rows (grid_id, date, <variable>…) →
        stage=ingested partitioned by month, in one pass: each task
        decodes whole dates and emits every grid cell of them, so the
        output is grid × manifest dates by construction (a variable a
        date lacks is null). That count, known on the driver, is checked
        against the write-observed one."""
        grid_pdf = self.grid.select("grid_id", "lon", "lat").toPandas()
        wide = read_granules_wide(self.spark, granules, grid_pdf)
        out = wide.withColumn("month", F.substring("date", 1, 7))
        n = self.store.sink_stage(out, "ingested")
        expected = len(grid_pdf) * len({g.date for g in granules})
        self._validate_rows("ingested", n, expected)

    # -- stage 2: combine ---------------------------------------------------
    def combine(self, datasets: dict[str, DataFrame]) -> None:
        """Wide monthly table from long datasets + the grid dimension."""
        wide = wide_combine(
            {**datasets, "grid": self.grid}, id_cols=("grid_id", "date")
        )
        out = wide.withColumn("month", F.substring("date", 1, 7))
        self.store.sink_stage(out, "combined_monthly")

    # -- stage 3: spatial interpolation ------------------------------------
    def interpolate(self) -> None:
        wide = self.store.scan_stage("combined_monthly")
        cols = list(self.s.interpolate_cols)
        if not cols:
            self.store.sink_stage(wide, "combined_with_spatial_interpolation")
            return
        filled = daily_spatial_interpolate(
            wide,
            cols,
            date_col="date",
            x_col="grid__original_x",
            y_col="grid__original_y",
        )
        self.store.sink_stage(filled, "combined_with_spatial_interpolation")

    # -- stage 4: features --------------------------------------------------
    def features(self, base_cols: list[str]) -> None:
        wide = self.store.scan_stage("combined_with_spatial_interpolation")
        feat = generate_features(wide, base_cols, key="grid_id", date_col="date")
        self.store.sink_stage(feat, "generated_features")

    # -- stage 5: sample ----------------------------------------------------
    def sample(self) -> None:
        feat = self.store.scan_stage("generated_features")
        nonnull = feat.filter(F.col(self.s.target).isNotNull())
        sampled = stratified_split(
            nonnull,
            "grid__id_50km",
            self.s.sample_fraction,
            seed=42,
            # (grid_id, date) is the frame's unique row key — a bare
            # grid_id is not unique here and would leave split-boundary
            # ties to shuffle encounter order
            key=["grid_id", "date"],
        )
        self.store.sink_stage(sampled, "sampled")

    # -- stage 6+7: train + impute ------------------------------------------
    def train_and_impute(self):
        sampled = self.store.scan_stage("sampled").filter(
            F.col("split") == "training"
        )
        imputer = train_imputation_model(
            sampled,
            list(self.s.feature_cols),
            self.s.target,
            group_col="grid__id_50km",
            n_folds=self.s.n_folds,
            max_iter=self.s.max_iter,
        )
        if self.s.quality_gate:
            from pm25ml_spark.ml.pipeline import check_quality_gate

            check_quality_gate(imputer.mean_cv_r2, *self.s.quality_gate)
        # score the features stage in place: one scan, no join; a null
        # predictor fails the scoring task and so the write (P11)
        feat = self.store.scan_stage("generated_features")
        try:
            self.store.sink_stage(predict_with_stats(feat, imputer), "imputed")
        finally:
            # the model broadcast is done once the stage is written (or
            # has failed); a later transform() re-broadcasts
            imputer.release()
        return imputer

    # -- stage 8: export ----------------------------------------------------
    def export(self, out_path: str) -> str:
        final = self.store.scan_stage("imputed")
        long = final.select(
            "grid_id", "date", F.col(f"{self.s.target}__imputed").alias("value")
        )
        cube, dates, ys, xs = pivot_to_raster(long, self.grid, "value")
        return write_raster(out_path, cube, dates, ys, xs)


def bench_pipeline(
    spark: SparkSession, sf: float, workdir: str
) -> dict[str, float]:
    """Timed s01→s09 chain (the reference's real workload shape) at a
    size scaled to ``sf``: grid side ≈ 12·√(100·sf) cells, one month of
    daily granules, two variables. Returns per-stage wall seconds plus
    ``total`` — bench.py records this as the ``pipeline_e2e`` entry so
    the suite times the composed DAG (scan→combine→K1→windows→split→
    CV-train→impute→raster sink), not just per-operator queries.

    Granule paths are nonexistent on purpose: decode falls back to the
    deterministic plane fake (sources/raster.py), so the stage mix is
    dominated by the Spark work being measured, not fixture I/O.
    """
    import time

    from pm25ml_spark.sources.grid import synthetic_grid

    side = max(8, round(12 * (max(sf, 0.001) * 100) ** 0.5))
    days = 30
    grid = synthetic_grid(spark, nx=side, ny=side)
    settings = PipelineSettings(
        bucket=workdir,
        target="m2__aot",
        feature_cols=("m2__t2m", "grid__lon", "grid__lat"),
        sample_fraction=0.5,
        n_folds=2,
        max_iter=5,
        interpolate_cols=("m2__t2m",),
    )
    pipe = Pm25Pipeline(spark, grid, settings)
    granules = [
        RasterGranule(f"fake://m2/{v}/{d:02d}.nc", f"2023-01-{d:02d}", v)
        for d in range(1, days + 1)
        for v in ("aot", "t2m")
    ]
    stages: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        stages[name] = round(time.perf_counter() - t0, 3)
        return out

    timed("ingest", lambda: pipe.ingest(granules))
    ingested = pipe.store.scan_stage("ingested").drop("month")
    # poke holes so interpolation (t2m) and imputation (aot) have work
    ds = ingested.withColumn(
        "aot", F.when(F.col("grid_id") % 7 == 0, None).otherwise(F.col("aot"))
    ).withColumn(
        "t2m", F.when(F.col("grid_id") % 11 == 3, None).otherwise(F.col("t2m"))
    )
    timed("combine", lambda: pipe.combine({"m2": ds}))
    timed("interpolate", pipe.interpolate)
    timed("features", lambda: pipe.features(["m2__aot", "m2__t2m"]))
    timed("sample", pipe.sample)
    timed("train_impute", pipe.train_and_impute)
    timed("export", lambda: pipe.export(f"{workdir}/final"))
    stages["total"] = round(sum(stages.values()), 3)
    return stages
