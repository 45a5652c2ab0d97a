"""End-to-end imputation: train on a sample, predict with the M7 stats
columns (mirrors regression_model_predictor__test.py semantics)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pm25ml_spark.ml.boosters import BoosterImputer, cross_validate_booster
from pm25ml_spark.ml.numpy_gbm import NumpyHistGBM
from pm25ml_spark.ml.pipeline import (
    assign_group_folds,
    predict_with_stats,
    regression_metrics,
    train_imputation_model,
)


@pytest.fixture(scope="module")
def training_frame(spark):
    # deterministic synthetic: target = 2*f1 + 3*f2 with some nulls
    rows = []
    for i in range(400):
        f1 = (i % 20) / 10.0
        f2 = ((i * 7) % 13) / 6.0
        target = 2.0 * f1 + 3.0 * f2 if i % 5 != 0 else None  # 20 % missing
        rows.append((i % 16, f"2023-01-{(i % 28) + 1:02d}", i // 25, f1, f2, target))
    return spark.createDataFrame(
        rows, "grid_id long, date string, id_50km long, f1 double, f2 double, aot double"
    )


def test_train_and_predict_with_stats(training_frame):
    imputer = train_imputation_model(
        training_frame, ["f1", "f2"], "aot", group_col="id_50km",
        n_folds=3, max_iter=10,
    )
    assert len(imputer.cv_r2) == 3
    assert imputer.mean_cv_r2 > 0.8  # clean functional relation → near-perfect fit

    out = predict_with_stats(training_frame, imputer)
    cols = set(out.columns)
    assert {
        "aot__predicted", "aot__imputed_flag", "aot__imputed",
        "aot__score", "aot__share_imputed_across_all_grids", "aot__imputed_r7d",
    } <= cols

    rows = out.collect()
    for r in rows:
        # flag marks exactly the null-target rows
        assert r.aot__imputed_flag == (1 if r.aot is None else 0)
        # imputed = coalesce(target, prediction)
        if r.aot is not None:
            assert r.aot__imputed == r.aot
            assert r.aot__score == r.aot
        else:
            assert r.aot__imputed == r.aot__predicted
            assert r.aot__score == pytest.approx(
                r.aot__predicted * imputer.mean_cv_r2
            )

    # share per date constant & equals the day's flag mean
    shares = (
        out.groupBy("date")
        .agg(
            F.countDistinct("aot__share_imputed_across_all_grids").alias("n"),
            F.avg("aot__imputed_flag").alias("m"),
            F.first("aot__share_imputed_across_all_grids").alias("s"),
        )
        .collect()
    )
    for r in shares:
        assert r.n == 1
        assert r.s == pytest.approx(r.m)


@pytest.fixture(scope="module")
def keyed_frame(spark):
    """Unique (grid_id, date) rows with a nonlinear, noisy target and
    holes: float sums in the fit see many distinct values, so any row-
    order dependence would show in the low bits."""
    rng = np.random.RandomState(11)
    gid, day = np.meshgrid(np.arange(24), np.arange(1, 21), indexing="ij")
    pdf = pd.DataFrame(
        {
            "grid_id": gid.ravel(),
            "date": [f"2023-01-{d:02d}" for d in day.ravel()],
            "id_50km": gid.ravel() // 3,
            "f1": rng.uniform(-2, 2, gid.size),
            "f2": rng.uniform(-2, 2, gid.size),
        }
    )
    y = np.sin(2 * pdf.f1) + pdf.f2**2 + 0.1 * rng.randn(gid.size)
    pdf["aot"] = np.where(rng.rand(gid.size) < 0.2, np.nan, y)
    df = spark.createDataFrame(pdf)
    return df.withColumn("aot", F.when(~F.isnan("aot"), F.col("aot")))


def test_fit_and_predict_independent_of_row_order_and_partitions(keyed_frame):
    shuffled = keyed_frame.orderBy(F.rand(3)).repartition(7)
    single = keyed_frame.coalesce(1)
    args = (["f1", "f2"], "aot")
    kw = dict(group_col="id_50km", n_folds=3, max_iter=10)
    a = train_imputation_model(shuffled, *args, **kw)
    b = train_imputation_model(single, *args, **kw)
    assert a.cv_r2 == b.cv_r2

    def predicted(df, imputer):
        out = predict_with_stats(df, imputer).toPandas()
        return out.sort_values(["grid_id", "date"], ignore_index=True)

    pd.testing.assert_frame_equal(
        predicted(shuffled, a), predicted(single, b), check_exact=True
    )
    a.release()
    b.release()


def test_fold_r2_is_regression_metrics_r2(keyed_frame):
    """The quality gate and the benchmark's R² floor read the driver-side
    fold R²; it must be the number ``regression_metrics`` computes in
    Spark from the same fold's distributed predictions."""
    models = []

    def factory():
        models.append(NumpyHistGBM(n_estimators=10, max_depth=5, max_bin=32))
        return models[-1]

    imp = cross_validate_booster(
        keyed_frame, ["f1", "f2"], "aot", "id_50km", n_folds=3,
        model_factory=factory,
    )
    assert len(models) == 4  # three fold models, then the final model
    held_out = assign_group_folds(keyed_frame, "id_50km", 3).filter(
        (F.col("fold") == 0) & F.col("aot").isNotNull()
    )
    fold_model = BoosterImputer(models[0], ["f1", "f2"], "aot")
    scored = fold_model.transform(held_out, output_col="prediction")
    spark_r2 = regression_metrics(scored, "aot")["r2"]
    assert 0.2 < imp.cv_r2[0] < 1.0
    assert abs(imp.cv_r2[0] - spark_r2) < 1e-9
    fold_model.release()


def test_null_predictor_fails_training(training_frame):
    """P11: a null predictor in a labelled row stops training."""
    holed = training_frame.withColumn(
        "f2", F.when(F.col("grid_id") == 3, None).otherwise(F.col("f2"))
    )
    with pytest.raises(ValueError, match="P11"):
        train_imputation_model(
            holed, ["f1", "f2"], "aot", group_col="id_50km", n_folds=3,
            max_iter=2,
        )


@pytest.mark.parametrize("missing", [None, float("nan")])
def test_null_predictor_fails_scoring(training_frame, missing):
    """P11 on the scoring side: a predictor missing only in rows whose
    target is null passes training (which sees labelled rows alone) but
    fails the scoring job."""
    holed = training_frame.withColumn(
        "f2", F.when(F.col("aot").isNull(), missing).otherwise(F.col("f2"))
    )
    imputer = train_imputation_model(
        holed, ["f1", "f2"], "aot", group_col="id_50km", n_folds=3,
        max_iter=2,
    )
    with pytest.raises(Exception, match="P11"):
        predict_with_stats(holed, imputer).collect()
    imputer.release()


@pytest.mark.parametrize("key_type", ["long", "string"])
def test_driver_group_folds_equal_assign_group_folds(spark, key_type):
    """The imputer's CV assigns folds on the driver (``group_folds``);
    ``assign_group_folds`` (plan m01) assigns them in Spark. Both give
    every row the same fold, null keys included: a null key gets no
    fold and does not shift the ranks of the others."""
    from pm25ml_spark.ml.boosters import group_folds

    pinned = [None, 1, 3, 5] if key_type == "long" else [None, "1", "3", "5"]
    df = spark.createDataFrame(list(enumerate(pinned)), f"row long, grp {key_type}")
    spark_folds = assign_group_folds(df, "grp", 2).toPandas().sort_values("row")
    want = [np.nan, 0.0, 1.0, 0.0]
    np.testing.assert_array_equal(spark_folds["fold"].to_numpy(dtype=float), want)
    np.testing.assert_array_equal(group_folds(pd.Series(pinned), 2), want)

    rng = np.random.RandomState(5)
    raw = rng.randint(0, 23, 300).tolist()
    keys = [
        None if i % 17 == 0 else (k if key_type == "long" else f"g{k * 37 % 101}")
        for i, k in enumerate(raw)
    ]
    for with_null in (True, False):
        rows = [(i, k) for i, k in enumerate(keys) if with_null or k is not None]
        df = spark.createDataFrame(rows, f"row long, grp {key_type}")
        for k in (2, 3):
            spark_folds = (
                assign_group_folds(df, "grp", k)
                .toPandas()
                .sort_values("row", ignore_index=True)
            )
            got = group_folds(spark_folds["grp"], k)
            want = spark_folds["fold"].to_numpy(dtype=float)
            np.testing.assert_array_equal(got, want)


def test_cv_collect_carries_only_the_keys_of_unlabelled_rows(training_frame):
    """Unlabelled rows count in the fold ranking, so the CV collect keeps
    their group key, and only that: no feature or target values."""
    from pm25ml_spark.ml.boosters import _collect_sample

    rows = _collect_sample(training_frame, ["f1", "f2"], "aot", "id_50km")
    unlabelled = rows[~rows["__labelled"]]
    assert len(rows) == 400 and len(unlabelled) == 80
    assert unlabelled[["f1", "f2", "aot"]].isna().all().all()
    assert unlabelled["__group"].notna().all()
    assert rows.loc[rows["__labelled"], ["f1", "f2", "aot"]].notna().all().all()
