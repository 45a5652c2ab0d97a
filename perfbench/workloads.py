"""The benchmark's workloads: closed loop, one client, public API only.

Each workload builds its inputs from the seed, runs one untimed warm-up
iteration, then timed iterations. An iteration is a list of operations
(a pipeline stage call or a catalog query); every operation is attempted
in order, and one that raises is recorded as failed with the time it took.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

# Sizes per workload. ``smoke`` sizes only prove that the plumbing runs and
# every metric is printed; they are not a measurement. The pipeline runs
# half a month: its cost is per-task and per-job overhead that grows with
# the granule count and barely with the grid, and a month does not fit the
# run's time budget (about 60 s for start, warm-up and measurement). Fewer
# days leave the noisy imputer training a larger share of the iteration.
SIZES = {
    "month_pipeline": {"side": 16, "days": 15},
    "query_mix": {"scale": 1.0, "days": 30},
}
SMOKE_SIZES = {
    "month_pipeline": {"side": 8, "days": 3},
    "query_mix": {"scale": 0.01, "days": 3},
}

# One pm25-shaped catalog query per plans module, and the operators the
# pipeline shares: imputed-stats block (domain), IDW regrid (raster),
# stratified split (relational, operators.sampling), rolling means
# (windows, operators.features). A run holds one warm-up and one timed
# pass; more queries or passes would not fit the run's time budget.
QUERY_TAGS = ("d06", "k03", "a03", "w01")
SMOKE_QUERY_TAGS = ("d06", "w01")

# Floor on the imputer's mean group-CV R²: a faster pipeline that trains a
# worse model fails the correctness check instead of posting a gain. Over
# 11 seeds at the benchmark's size the imputer scores 0.57-0.99.
MIN_IMPUTER_CV_R2 = 0.2

# Days the untimed ``month_pipeline`` warm-up runs: every stage and every
# code path of a full iteration at a lower cost (ingest cost grows with the
# granule count), so that a run fits its time budget.
WARM_UP_DAYS = 5


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool


def run_op(name: str, fn) -> tuple[Op, object]:
    t0 = time.perf_counter()
    try:
        out = fn()
        ok = True
    except Exception:  # the closed loop keeps going; the op counts as failed
        traceback.print_exc(file=sys.stderr)
        out, ok = None, False
    return Op(name, time.perf_counter() - t0, ok), out


class MonthPipeline:
    """Daily granules through the seven ``Pm25Pipeline`` stages."""

    name = "month_pipeline"

    def __init__(self, spark, tracer, work_dir: str, seed: int, smoke: bool):
        size = (SMOKE_SIZES if smoke else SIZES)[self.name]
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.side, self.days = size["side"], size["days"]
        self.cells = self.side * self.side
        self.cell_days = self.cells * self.days
        self.work_dir = work_dir
        self.iterations = 0
        self.cv_r2: list[float] = []
        self.last_bucket: str | None = None
        self.raster_path: str | None = None

    def prepare(self) -> None:
        from pm25ml_spark.sources.grid import synthetic_grid
        from pm25ml_spark.sources.raster import RasterGranule

        self.grid = synthetic_grid(self.spark, nx=self.side, ny=self.side)
        # nonexistent paths decode to the source's deterministic planes,
        # whose coefficients hash the path: the seed picks the values
        self.granules = [
            RasterGranule(f"fake://m2/s{self.seed}/{v}/{d:02d}.nc", f"2023-01-{d:02d}", v)
            for d in range(1, self.days + 1)
            for v in ("aot", "t2m")
        ]

    def warm_up(self) -> list[Op]:
        ops = self.iteration(self.granules[: 2 * WARM_UP_DAYS])
        # the R² floor and the reported R² are the full iterations'
        self.cv_r2.clear()
        return ops

    def iteration(self, granules=None) -> list[Op]:
        from pyspark.sql import functions as F

        from pm25ml_spark.pipeline import PipelineSettings, Pm25Pipeline

        self.iterations += 1
        bucket = os.path.join(self.work_dir, f"bucket{self.iterations}")
        pipe = Pm25Pipeline(
            self.spark,
            self.grid,
            PipelineSettings(
                bucket=bucket,
                target="m2__aot",
                feature_cols=("m2__t2m", "grid__lon", "grid__lat"),
                sample_fraction=0.5,
                n_folds=2,
                max_iter=5,
                interpolate_cols=("m2__t2m",),
            ),
        )
        s = self.seed

        def combine():
            ingested = pipe.store.scan_stage("ingested").drop("month")
            # holes give interpolation (t2m) and imputation (aot) work
            ds = ingested.withColumn(
                "aot", F.when((F.col("grid_id") + s) % 7 == 0, None).otherwise(F.col("aot"))
            ).withColumn(
                "t2m", F.when((F.col("grid_id") + s) % 11 == 3, None).otherwise(F.col("t2m"))
            )
            pipe.combine({"m2": ds})

        stages = [
            ("ingest", lambda: pipe.ingest(granules or self.granules)),
            ("combine", combine),
            ("interpolate", pipe.interpolate),
            ("features", lambda: pipe.features(["m2__aot", "m2__t2m"])),
            ("sample", pipe.sample),
            ("train_and_impute", pipe.train_and_impute),
            ("export", lambda: pipe.export(os.path.join(bucket, "final"))),
        ]
        ops = []
        for name, fn in stages:
            with self.tracer.span(f"pipeline.{name}"):
                op, out = run_op(name, fn)
            ops.append(op)
            if name == "train_and_impute" and op.ok:
                self.cv_r2.append(out.mean_cv_r2)
                print(f"perfbench: imputer mean CV R2 {out.mean_cv_r2:.4f}", file=sys.stderr)
            if name == "export" and op.ok:
                self.raster_path = out
        if self.last_bucket is not None:
            shutil.rmtree(self.last_bucket, ignore_errors=True)
        self.last_bucket = bucket
        return ops

    def stored_bytes(self) -> int:
        total = 0
        for d, _, files in os.walk(self.last_bucket):
            if os.path.basename(d) == "final":
                continue
            total += sum(
                os.path.getsize(os.path.join(d, f)) for f in files if f.startswith("part-")
            )
        return total

    def check(self) -> list[str]:
        """Output checks on the last iteration's artifacts."""
        import numpy as np
        from pyspark.sql import functions as F

        from pm25ml_spark.sources.archive import StageStorage
        from pm25ml_spark.sources.results import read_raster

        store = StageStorage(self.spark, self.last_bucket)
        bad = []
        for stage in (
            "combined_monthly",
            "combined_with_spatial_interpolation",
            "generated_features",
            "imputed",
        ):
            n = store.scan_stage(stage).count()
            if n != self.cell_days:
                bad.append(f"{stage}: {n} rows, expected {self.cell_days}")
        null_t2m = (
            store.scan_stage("combined_with_spatial_interpolation")
            .filter(F.col("m2__t2m").isNull())
            .count()
        )
        if null_t2m:
            bad.append(f"m2__t2m: {null_t2m} nulls after interpolation")
        row = (
            store.scan_stage("imputed")
            .agg(
                F.sum(F.col("m2__aot__imputed").isNull().cast("long")).alias("null_imputed"),
                F.sum(F.col("m2__aot").isNull().cast("long")).alias("null_target"),
                F.sum("m2__aot__imputed_flag").alias("flags"),
            )
            .first()
        )
        if row["null_imputed"]:
            bad.append(f"m2__aot__imputed: {row['null_imputed']} nulls")
        if row["flags"] != row["null_target"]:
            bad.append(f"imputed_flag count {row['flags']} != null targets {row['null_target']}")
        cube = read_raster(self.raster_path)["value"]
        if cube.shape != (self.days, self.side, self.side):
            bad.append(f"raster shape {cube.shape}")
        elif not np.isfinite(cube).all():
            bad.append("raster has non-finite values")
        if not self.cv_r2 or min(self.cv_r2) < MIN_IMPUTER_CV_R2:
            bad.append(f"imputer mean CV R2 {self.cv_r2} below {MIN_IMPUTER_CV_R2}")
        return bad


class _Collected:
    """Hands a collected frame to ``oracle_compare.assert_match``, which
    calls ``toPandas()`` on what it is given."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class QueryMix:
    """Passes over the pm25-shaped catalog queries, in seed-shuffled order."""

    name = "query_mix"

    def __init__(self, spark, tracer, work_dir: str, seed: int, smoke: bool):
        from pm25ml_spark.plans.registry import QUERIES, load_all_plans

        load_all_plans()
        size = (SMOKE_SIZES if smoke else SIZES)[self.name]
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.scale, self.days = size["scale"], size["days"]
        tags = SMOKE_QUERY_TAGS if smoke else QUERY_TAGS
        by_tag = {n.split("_", 1)[0]: n for n in QUERIES}
        self.names = [by_tag[t] for t in tags]
        self.queries = QUERIES
        self.sf_dir = os.path.join(work_dir, "catalog")
        self.iterations = 0
        self.collected: dict[str, object] = {}

    def prepare(self) -> None:
        from gen_catalog import write_catalog

        shape = write_catalog(self.sf_dir, self.seed, self.scale, self.days)
        self.cell_days = shape["users"] * shape["days"]

    def _layer(self, name: str) -> str:
        return "plans." + self.queries[name].__module__.rsplit(".", 1)[1]

    def warm_up(self) -> list[Op]:
        """Collect every query once; the results feed :meth:`check`."""
        ops = []
        for name in self.names:
            op, pdf = run_op(name, lambda: self.queries[name](self.spark, self.sf_dir).toPandas())
            ops.append(op)
            self.collected[name] = pdf
        return ops

    def iteration(self) -> list[Op]:
        self.iterations += 1
        order = list(self.names)
        random.Random(self.seed * 1_000 + self.iterations).shuffle(order)
        ops = []
        for name in order:
            with self.tracer.span(self._layer(name)):
                op, _ = run_op(
                    name,
                    lambda: self.queries[name](self.spark, self.sf_dir)
                    .write.format("noop")
                    .mode("overwrite")
                    .save(),
                )
            ops.append(op)
            # isolate queries: one query's cached intermediates must not
            # pressure the next one's executors
            self.spark.catalog.clearCache()
        return ops

    def check(self) -> list[str]:
        from pm25ml_spark.plans.registry import ORACLES
        from tests.oracle_compare import assert_match, run_oracle

        bad = []
        for name in self.names:
            pdf = self.collected.get(name)
            if pdf is None:
                bad.append(f"{name}: no result collected")
                continue
            try:
                assert_match(_Collected(pdf), run_oracle(ORACLES[name], self.sf_dir), name)
            except AssertionError as exc:
                bad.append(str(exc)[:300])
        return bad


WORKLOADS = {w.name: w for w in (MonthPipeline, QueryMix)}
