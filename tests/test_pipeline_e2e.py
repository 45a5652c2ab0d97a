"""Full-lifecycle test: ingest → combine → interpolate → features →
sample → train → impute → export, over a synthetic grid + fake granules.

This is the engine's answer to the reference's `_run_local.py` manual
end-to-end path — here it is an automated test.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pm25ml_spark.pipeline import PipelineSettings, Pm25Pipeline
from pm25ml_spark.sources.grid import synthetic_grid
from pm25ml_spark.sources.raster import RasterGranule, _regrid_granule
from pm25ml_spark.sources.results import read_raster


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    bucket = str(tmp_path_factory.mktemp("bucket"))
    grid = synthetic_grid(spark, nx=6, ny=6)
    settings = PipelineSettings(
        bucket=bucket,
        target="m2__aot",
        feature_cols=("m2__t2m", "grid__lon", "grid__lat"),
        sample_fraction=0.5,
        n_folds=2,
        max_iter=5,
    )
    return Pm25Pipeline(spark, grid, settings)


def test_full_lifecycle(pipeline, spark, tmp_path):
    # -- ingest: 10 days × 2 variables of fake granules
    granules = [
        RasterGranule(f"fake://m2/{v}/{d}.nc", f"2023-01-{d:02d}", v)
        for d in range(1, 11)
        for v in ("aot", "t2m")
    ]
    pipeline.ingest(granules)
    ingested = pipeline.store.scan_stage("ingested")
    assert ingested.count() == 36 * 10  # grid × days (scaffold-complete)
    assert {"aot", "t2m"} <= set(ingested.columns)

    # -- combine: one dataset (the ingested stage, unprefixed — the
    # combiner applies the m2__ prefix) + grid dimension
    ds = ingested.drop("month").withColumn(
        "aot",
        F.when(F.col("grid_id") % 7 == 0, None).otherwise(F.col("aot")),
    )
    pipeline.combine({"m2": ds})
    wide = pipeline.store.scan_stage("combined_monthly")
    assert wide.count() == 360
    assert "grid__id_50km" in wide.columns

    # -- interpolate the holes spatially
    pipeline.s.interpolate_cols = ("m2__t2m",)
    pipeline.interpolate()
    interp = pipeline.store.scan_stage("combined_with_spatial_interpolation")
    assert interp.filter(F.col("m2__t2m").isNull()).count() == 0

    # -- features
    pipeline.features(["m2__aot", "m2__t2m"])
    feat = pipeline.store.scan_stage("generated_features")
    assert "m2__aot__mean_r7d" in feat.columns
    assert "monsoon_season" in feat.columns

    # -- sample / train / impute
    pipeline.sample()
    sampled = pipeline.store.scan_stage("sampled")
    assert set(r.split for r in sampled.select("split").distinct().collect()) == {
        "training", "test",
    }
    imputer = pipeline.train_and_impute()
    assert len(imputer.cv_r2) == 2
    imputed = pipeline.store.scan_stage("imputed")
    assert imputed.filter(F.col("m2__aot__imputed").isNull()).count() == 0
    flagged = imputed.filter(F.col("m2__aot__imputed_flag") == 1)
    assert flagged.count() == imputed.filter(F.col("m2__aot").isNull()).count()

    # -- export to raster
    out = pipeline.export(str(tmp_path / "final"))
    raster = read_raster(out)
    assert raster["value"].shape == (10, 6, 6)
    assert np.isfinite(raster["value"]).all()


_FEATURES = ("m2__t2m", "grid__lon", "grid__lat")


def _sampled_pipeline(spark, tmp_path, t2m_holes: bool = False) -> Pm25Pipeline:
    """A 6×6 grid × 5 days run through ``sample``, ready for
    ``train_and_impute``. The target ``m2__aot`` is null on every
    ``grid_id % 7 == 0`` cell; with ``t2m_holes`` the predictor
    ``m2__t2m`` is null on exactly those cells too, so training (on
    non-null targets) is clean and only scoring meets the nulls."""
    pipe = Pm25Pipeline(
        spark,
        synthetic_grid(spark, nx=6, ny=6),
        PipelineSettings(
            bucket=str(tmp_path / "bucket"),
            target="m2__aot",
            feature_cols=_FEATURES,
            sample_fraction=0.5,
            n_folds=2,
            max_iter=3,
        ),
    )
    pipe.ingest(
        [
            RasterGranule(f"fake://m2/{v}/{d}.nc", f"2023-01-{d:02d}", v)
            for d in range(1, 6)
            for v in ("aot", "t2m")
        ]
    )
    hole = F.col("grid_id") % 7 == 0
    ds = pipe.store.scan_stage("ingested").drop("month").withColumn(
        "aot", F.when(hole, None).otherwise(F.col("aot"))
    )
    if t2m_holes:
        ds = ds.withColumn("t2m", F.when(hole, None).otherwise(F.col("t2m")))
    pipe.combine({"m2": ds})
    pipe.interpolate()
    pipe.features(["m2__aot", "m2__t2m"])
    pipe.sample()
    return pipe


def test_train_and_impute_releases_model_broadcast(spark, tmp_path, monkeypatch):
    """The stage destroys its model broadcast once ``imputed`` is
    written, so months run in one session do not pile broadcasts up on
    the executors; the returned imputer still scores (re-broadcasting)."""
    from pm25ml_spark.ml.boosters import BoosterImputer

    pipe = _sampled_pipeline(spark, tmp_path)

    broadcasts = []
    transform = BoosterImputer.transform

    def recording_transform(self, df, output_col=None):
        out = transform(self, df, output_col)
        broadcasts.append(self._bmodel)
        return out

    monkeypatch.setattr(BoosterImputer, "transform", recording_transform)
    imputer = pipe.train_and_impute()
    assert len(broadcasts) == 1
    assert not broadcasts[0]._jbroadcast.isValid()  # destroyed

    feat = pipe.store.scan_stage("generated_features").select(*_FEATURES)
    scored = imputer.transform(feat).toPandas()
    assert len(scored) == 36 * 5
    assert scored["m2__aot__predicted"].notna().all()
    assert broadcasts[1] is not broadcasts[0]
    assert broadcasts[1]._jbroadcast.isValid()
    imputer.release()


def test_impute_scores_the_features_scan_in_place(spark, tmp_path, monkeypatch):
    """The frame ``train_and_impute`` writes is the features stage plus
    the scoring columns: one parquet scan of ``generated_features`` and
    no join gluing the scores back onto a second scan of it."""
    pipe = _sampled_pipeline(spark, tmp_path)
    sunk = {}
    sink = pipe.store.sink_stage

    def recording_sink(df, stage, *args, **kwargs):
        sunk[stage] = df
        return sink(df, stage, *args, **kwargs)

    monkeypatch.setattr(pipe.store, "sink_stage", recording_sink)
    pipe.train_and_impute()
    plan = sunk["imputed"]._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert plan.count("FileScan parquet") == 1, plan
    files = sunk["imputed"].inputFiles()
    assert files and all("/stage=generated_features/" in f for f in files)
    feat = pipe.store.scan_stage("generated_features")
    assert sunk["imputed"].columns[: len(feat.columns)] == feat.columns


def test_null_predictor_fails_impute_and_writes_no_month(spark, tmp_path):
    """P11 on the scoring side: a predictor null only where the target is
    null passes training but fails ``train_and_impute``, and the failed
    stage write leaves no ``month=`` partition that could be read back as
    a complete month."""
    pipe = _sampled_pipeline(spark, tmp_path, t2m_holes=True)
    with pytest.raises(Exception, match="P11"):
        pipe.train_and_impute()
    assert pipe.store.months_present("imputed") == []


def _ingested(spark, tmp_path, grid, granules) -> pd.DataFrame:
    pipe = Pm25Pipeline(spark, grid, PipelineSettings(bucket=str(tmp_path)))
    pipe.ingest(granules)
    return (
        pipe.store.scan_stage("ingested")
        .toPandas()
        .sort_values(["grid_id", "date"], ignore_index=True)
    )


def test_ingest_via_read_granules_wide_equals_per_granule_pivot(spark, tmp_path):
    """``ingested`` is the per-granule kernel's long rows, computed on
    the driver one granule at a time, pivoted onto grid × manifest dates:
    a (date, variable) with no granule is null on that date, every other
    value is bit-identical, and the manifest's order does not matter."""
    grid = synthetic_grid(spark, nx=6, ny=6)
    granules = [
        RasterGranule(f"fake://m2/{v}/{d}.nc", f"2023-01-{d:02d}", v)
        for d in range(1, 6)
        for v in ("aot", "t2m")
        if (d, v) != (3, "t2m")
    ]
    grid_pdf = grid.select("grid_id", "lon", "lat").toPandas()
    g_lon = grid_pdf["lon"].to_numpy(dtype=np.float64)
    g_lat = grid_pdf["lat"].to_numpy(dtype=np.float64)
    long = pd.concat(
        pd.DataFrame(
            {
                "grid_id": grid_pdf["grid_id"],
                "date": g.date,
                "variable": g.variable,
                "value": _regrid_granule(
                    g.path, g.variable, g.bbox, g.level, g_lon, g_lat
                ),
            }
        )
        for g in granules
    )
    dates = sorted({g.date for g in granules})
    scaffold = pd.MultiIndex.from_product(
        [grid_pdf["grid_id"], dates], names=["grid_id", "date"]
    ).to_frame(index=False)
    per_var = long.pivot(index=["grid_id", "date"], columns="variable", values="value")
    expected = scaffold.merge(
        per_var[["aot", "t2m"]].reset_index(), on=["grid_id", "date"], how="left"
    )
    expected["month"] = expected["date"].str[:7]

    got = _ingested(spark, tmp_path / "a", grid, granules)
    assert list(got.columns) == ["grid_id", "date", "aot", "t2m", "month"]
    pd.testing.assert_frame_equal(got, expected, check_exact=True)
    assert got.loc[got["date"] == "2023-01-03", "t2m"].isna().all()
    assert got.loc[got["date"] != "2023-01-03", ["aot", "t2m"]].notna().all().all()

    shuffled = granules[:]
    random.Random(7).shuffle(shuffled)
    again = _ingested(spark, tmp_path / "b", grid, shuffled)
    pd.testing.assert_frame_equal(again, got, check_exact=True)


_STAGES = (
    "ingested",
    "combined_monthly",
    "combined_with_spatial_interpolation",
    "generated_features",
    "sampled",
    "imputed",
)


def _run_month(spark, bucket: str, granules) -> tuple[Pm25Pipeline, str]:
    """The seven stages on an 8×8 grid with the benchmark's hole
    pattern; returns the pipeline and its export raster path."""
    pipe = Pm25Pipeline(
        spark,
        synthetic_grid(spark, nx=8, ny=8),
        PipelineSettings(
            bucket=bucket,
            target="m2__aot",
            feature_cols=_FEATURES,
            sample_fraction=0.5,
            n_folds=2,
            max_iter=3,
            interpolate_cols=("m2__t2m",),
        ),
    )
    pipe.ingest(granules)
    ds = (
        pipe.store.scan_stage("ingested")
        .drop("month")
        .withColumn(
            "aot", F.when(F.col("grid_id") % 7 == 0, None).otherwise(F.col("aot"))
        )
        .withColumn(
            "t2m", F.when(F.col("grid_id") % 11 == 3, None).otherwise(F.col("t2m"))
        )
    )
    pipe.combine({"m2": ds})
    pipe.interpolate()
    pipe.features(["m2__aot", "m2__t2m"])
    pipe.sample()
    pipe.train_and_impute()
    return pipe, pipe.export(f"{bucket}/final")


@pytest.fixture(scope="module")
def invariance_runs(spark, tmp_path_factory):
    """One month (8×8 grid × 5 days) run twice: with one shuffle
    partition, then with 32 and the granule manifest reversed. Adaptive
    execution would coalesce this month's 32 small shuffle partitions
    back into one, so the second run turns coalescing off: its stages
    really run, write and re-read 32 partitions."""
    granules = [
        RasterGranule(f"fake://m2/{v}/{d}.nc", f"2023-01-{d:02d}", v)
        for d in range(1, 6)
        for v in ("aot", "t2m")
    ]
    parts = "spark.sql.shuffle.partitions"
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    before = {k: spark.conf.get(k) for k in (parts, coalesce)}
    runs = []
    try:
        for n, manifest in (("1", granules), ("32", granules[::-1])):
            spark.conf.set(parts, n)
            spark.conf.set(coalesce, str(n == "1").lower())
            bucket = str(tmp_path_factory.mktemp(f"invariance{n}"))
            runs.append(_run_month(spark, bucket, manifest))
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    return runs


def test_stage_digests_invariant_to_partitions_and_manifest_order(invariance_runs):
    """Every stage output is a function of the inputs and the seed (aim
    3): the write-observed digest of each of the six stages, and the
    export raster's bytes, do not change with the shuffle partition
    count or the granule manifest's order."""
    (a, raster_a), (b, raster_b) = invariance_runs
    assert set(a.store.digests) == set(_STAGES)
    for stage in _STAGES:
        assert a.store.digests[stage] == b.store.digests[stage], stage
        assert a.store.digests[stage] != 0, stage
    with open(raster_a, "rb") as fa, open(raster_b, "rb") as fb:
        assert fa.read() == fb.read()


def test_scan_stage_schema_equals_inference_and_runs_no_job(spark, invariance_runs):
    """``scan_stage`` reads the schema from the stage's parquet footer:
    for all six stages it equals what Spark infers (names, types, order,
    nullability), and building the six scans starts no Spark job."""
    pipe, _ = invariance_runs[0]
    sc = spark.sparkContext
    sc.setJobGroup("scan-stage-probe", "scan_stage schema probe")
    try:
        scans = {s: pipe.store.scan_stage(s) for s in _STAGES}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("scan-stage-probe")) == []
    for stage, df in scans.items():
        inferred = spark.read.parquet(pipe.store.stage_path(stage)).schema
        assert df.schema == inferred, stage
        assert df.schema.fieldNames()[-1] == "month"


def _static_import_closure(root: str) -> set[str]:
    """Package modules reachable from ``root`` through its import
    statements, module-level and function-level alike (an AST walk;
    nothing is imported)."""
    import ast
    import pathlib

    import pm25ml_spark

    top = pathlib.Path(pm25ml_spark.__file__).parent.parent

    def source(mod: str) -> pathlib.Path | None:
        p = top.joinpath(*mod.split("."))
        for f in (p / "__init__.py", p.with_suffix(".py")):
            if f.is_file():
                return f
        return None

    seen: set[str] = set()
    todo = [root]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        path = source(mod)
        pkg = mod if path.name == "__init__.py" else mod.rpartition(".")[0]
        names: list[str] = []
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names += [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    up = pkg.split(".")[: len(pkg.split(".")) - node.level + 1]
                    base = ".".join(up + [base] if base else up)
                names += [base] + [f"{base}.{a.name}" for a in node.names]
        for name in names:
            parts = name.split(".")
            if parts[0] != "pm25ml_spark":
                continue
            for i in range(1, len(parts) + 1):
                sub = ".".join(parts[:i])
                if sub not in seen and source(sub):
                    todo.append(sub)
    return seen


def test_pipeline_import_closure_is_pm25_only():
    """The pipeline reaches exactly the pm25 modules it runs, even through
    function-level imports: no catalog plans, no catalog-only operators
    or sources. A new module in the closure fails this test."""
    assert _static_import_closure("pm25ml_spark.pipeline") == {
        f"pm25ml_spark{m}"
        for m in (
            "",
            ".functions",
            ".functions.exact",
            ".ml",
            ".ml.boosters",
            ".ml.numpy_gbm",
            ".ml.pipeline",
            ".operators",
            ".operators.combine",
            ".operators.features",
            ".operators.interpolation",
            ".pipeline",
            ".sources",
            ".sources.archive",
            ".sources.grid",
            ".sources.hdf5_min",
            ".sources.hdfeos",
            ".sources.hive_path",
            ".sources.netcdf3",
            ".sources.raster",
            ".sources.results",
            ".sources.shapefile_io",
        )
    }


# Reference operators no job calls yet: the J8 station-to-cell join, the
# S9/S10 station reads, the S14-S16 Earthdata and GEE clients and the S18
# model store. The station stage needs the first two. The last entry is
# the transaction-log core (commits, snapshots, stats pruning), kept
# with its own tests until it is deleted.
_UNREACHED_KEEP = {
    "pm25ml_spark.ml.store",
    "pm25ml_spark.operators.nn_join",
    "pm25ml_spark.sources.http_csv",
    "pm25ml_spark.sources.earthdata",
    "pm25ml_spark.sources.gee",
    "pm25ml_spark.sources.txlog",
}


def test_every_package_module_has_a_caller():
    """Every module under the package is reached from the pipeline or
    the query catalog, or is named in ``_UNREACHED_KEEP``. A module no
    job imports fails this test, and so does a keep entry that a job
    has since reached or that no longer exists."""
    import pathlib

    import pm25ml_spark

    pkg = pathlib.Path(pm25ml_spark.__file__).parent
    modules = set()
    for f in pkg.rglob("*.py"):
        parts = ("pm25ml_spark",) + f.relative_to(pkg).with_suffix("").parts
        modules.add(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    reached = _static_import_closure("pm25ml_spark.pipeline")
    reached |= _static_import_closure("pm25ml_spark.plans.registry")
    assert not reached & _UNREACHED_KEEP
    assert modules == reached | _UNREACHED_KEEP
