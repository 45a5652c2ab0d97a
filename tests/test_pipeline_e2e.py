"""Full-lifecycle test: ingest → combine → interpolate → features →
sample → train → impute → export, over a synthetic grid + fake granules.

This is the engine's answer to the reference's `_run_local.py` manual
end-to-end path — here it is an automated test.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pm25ml_spark.pipeline import PipelineSettings, Pm25Pipeline
from pm25ml_spark.sources.grid import synthetic_grid
from pm25ml_spark.sources.raster import RasterGranule
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


def test_train_and_impute_releases_model_broadcast(spark, tmp_path, monkeypatch):
    """The stage destroys its model broadcast once ``imputed`` is
    written, so months run in one session do not pile broadcasts up on
    the executors; the returned imputer still scores (re-broadcasting)."""
    from pm25ml_spark.ml.boosters import BoosterImputer

    features = ("m2__t2m", "grid__lon", "grid__lat")
    pipe = Pm25Pipeline(
        spark,
        synthetic_grid(spark, nx=6, ny=6),
        PipelineSettings(
            bucket=str(tmp_path / "bucket"),
            target="m2__aot",
            feature_cols=features,
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
    ds = pipe.store.scan_stage("ingested").drop("month").withColumn(
        "aot", F.when(F.col("grid_id") % 7 == 0, None).otherwise(F.col("aot"))
    )
    pipe.combine({"m2": ds})
    pipe.interpolate()
    pipe.features(["m2__aot", "m2__t2m"])
    pipe.sample()

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

    feat = pipe.store.scan_stage("generated_features").select(*features)
    scored = imputer.transform(feat).toPandas()
    assert len(scored) == 36 * 5
    assert scored["m2__aot__predicted"].notna().all()
    assert broadcasts[1] is not broadcasts[0]
    assert broadcasts[1]._jbroadcast.isValid()
    imputer.release()
