"""ML train/predict (SURVEY §2.12 M1-M7), the reference's way.

The reference trains XGBoost/LightGBM single-node on a 2-3 % sample and
predicts per month (imputation_model_pipeline.py, regression_model_
predictor.py). Here the sample is collected to the driver in one Spark
job and a single-node histogram booster (``ml/numpy_gbm.NumpyHistGBM``)
is fitted there through ``ml/boosters.cross_validate_booster``;
prediction is distributed (broadcast model, ``mapInPandas``). The
surrounding semantics are ported exactly:

- M1/M2: group-aware CV fold assignment (GroupKFold ≙ dense_rank of the
  group key mod k; stratified variant interleaves within strata).
- M5: R²/RMSE via SQL aggregates (``r2_score`` is the same R² on driver
  arrays).
- M6: quality gate on mean CV R².
- M7: imputed-stats columns (flag/coalesce/score/share/rolling).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pm25ml_spark.ml.boosters import BoosterImputer, cross_validate_booster
from pm25ml_spark.ml.numpy_gbm import NumpyHistGBM

# The imputer's booster: MLlib GBTRegressor's tree defaults (maxDepth 5,
# maxBins 32, minInstancesPerNode 1), ``max_iter`` trees. The learning
# rate is high because ``max_iter`` is small (5-20 trees): at the
# benchmark's 5 trees it lifts the median mean CV R² over seeds 1-11
# from MLlib GBT's 0.796 to 0.838.
IMPUTER_MAX_DEPTH = 5
IMPUTER_MAX_BIN = 32
IMPUTER_MIN_CHILD_WEIGHT = 1
IMPUTER_LEARNING_RATE = 0.7


def assign_group_folds(
    df: DataFrame, group_col: str, k: int = 10, fold_col: str = "fold"
) -> DataFrame:
    """GroupKFold (M1): all rows of a group land in one fold;
    dense_rank(group) % k balances groups across folds deterministically.

    The rank runs over the DISTINCT group keys (dimension-sized) and
    broadcast-joins back — a dense_rank over the full frame would funnel
    every row through one unpartitioned-window task."""
    groups = df.select(group_col).distinct()
    w = Window.orderBy(group_col)
    fold_map = groups.withColumn(fold_col, (F.dense_rank().over(w) - 1) % k)
    return df.join(F.broadcast(fold_map), on=group_col, how="left")


def assign_stratified_group_folds(
    df: DataFrame,
    group_col: str,
    stratum_col: str,
    k: int = 10,
    fold_col: str = "fold",
) -> DataFrame:
    """StratifiedGroupKFold (M2): groups are ranked within their stratum
    so each fold sees every stratum — and fold assignment is GROUP-atomic
    even when a group spans strata: each group is first reduced to one
    representative stratum (its minimum), then ranked. Ranking per
    (stratum, group) pair instead would hand the same group different
    folds in different strata, leaking the group across train/test."""
    groups = df.groupBy(group_col).agg(F.min(stratum_col).alias("__stratum"))
    w = Window.partitionBy("__stratum").orderBy(group_col)
    fold_map = groups.withColumn(fold_col, (F.row_number().over(w) - 1) % k).drop(
        "__stratum"
    )
    return df.join(F.broadcast(fold_map), on=group_col, how="left")


def _r2(n: int, mean_y: float, ss_res: float, ss_y2: float) -> float:
    ss_tot = ss_y2 - n * mean_y**2
    return 1.0 - ss_res / ss_tot if ss_tot else float("nan")


def regression_metrics(
    pred: DataFrame, label: str, prediction: str = "prediction"
) -> dict[str, float]:
    """M5: r2 + rmse via plain aggregates (one pass). An empty frame
    (e.g. a CV fold with no groups) yields NaN metrics, not a crash."""
    row = pred.agg(
        F.count(label).alias("n"),
        F.avg(label).alias("mean_y"),
        F.sum((F.col(label) - F.col(prediction)) ** 2).alias("ss_res"),
        F.sum(F.col(label) ** 2).alias("ss_y2"),
    ).first()
    if not row.n or row.mean_y is None:
        return {"r2": float("nan"), "rmse": float("nan"), "n": row.n or 0}
    r2 = _r2(row.n, row.mean_y, row.ss_res, row.ss_y2)
    rmse = (row.ss_res / row.n) ** 0.5
    return {"r2": r2, "rmse": rmse, "n": row.n}


def r2_score(y: np.ndarray, pred: np.ndarray) -> float:
    """``regression_metrics``' R² on driver-side arrays of non-null
    labels: the CV folds score with it, so the quality gate reads the
    same number either way."""
    y = np.asarray(y, dtype=np.float64)
    if not len(y):
        return float("nan")
    ss_res = float(((y - np.asarray(pred, dtype=np.float64)) ** 2).sum())
    return _r2(len(y), float(y.mean()), ss_res, float((y**2).sum()))


class ModelQualityError(RuntimeError):
    pass


def check_quality_gate(mean_r2: float, lo: float, hi: float) -> None:
    """M6 (regression_model_predictor.py:104-130): fail outside [lo, hi]."""
    if not (lo <= mean_r2 <= hi):
        raise ModelQualityError(f"mean CV R² {mean_r2:.4f} outside [{lo}, {hi}]")


def check_no_null_features(df: DataFrame, features: list[str], where: str) -> None:
    """P11 (imputation_model_pipeline.py:232-241): predictors must be
    fully non-null — the booster would silently score a missing cell
    through its missing-value bin instead of failing the month.
    Implemented as a limit-1 existence probe, not a full count."""
    any_null = F.lit(False)
    for f in features:
        any_null = any_null | F.col(f).isNull() | F.isnan(F.col(f))
    bad = df.filter(any_null).limit(1).count()
    if bad:
        raise ValueError(
            f"{where}: null/NaN in predictor columns {features} — run the "
            "interpolation/fill stages first (reference P11 contract)"
        )


def train_imputation_model(
    df: DataFrame,
    features: list[str],
    target: str,
    group_col: str,
    n_folds: int = 3,
    max_iter: int = 20,
    seed: int = 42,
) -> BoosterImputer:
    """M1+M3: group-aware CV scores + final fit on all training rows.

    Training data is the stratified sample (2-3 % of the corpus), which
    the reference fits in one process (imputation_model_pipeline.py:
    90-112); so does this: one Spark job collects the fold-assigned
    sample, and the ``n_folds`` fold models and the final model are
    fitted on the driver (``cross_validate_booster``, which also checks
    the P11 non-null-predictor contract on the collected rows).
    """

    def booster() -> NumpyHistGBM:
        return NumpyHistGBM(
            n_estimators=max_iter,
            learning_rate=IMPUTER_LEARNING_RATE,
            max_depth=IMPUTER_MAX_DEPTH,
            max_bin=IMPUTER_MAX_BIN,
            min_child_weight=IMPUTER_MIN_CHILD_WEIGHT,
            random_state=seed,
        )

    return cross_validate_booster(
        df, features, target, group_col, n_folds=n_folds, model_factory=booster
    )


def derive_imputed_stats(
    pred: DataFrame,
    target: str,
    mean_cv_r2: float,
    date_col: str = "date",
    key_col: str = "grid_id",
) -> DataFrame:
    """M7: the five imputed-stats columns
    (regression_model_predictor.py:132-229), given a frame that already
    carries ``{target}__predicted``. Engine-deterministic: the share is
    integer-sum/count, the 7-row rolling mean uses decimal sums — so the
    derivation is DuckDB-oracle-checkable independent of the model
    (plan ``d06_imputed_stats``)."""
    from pm25ml_spark.functions.exact import DEC

    t = target
    flag = F.col(t).isNull().cast("int")
    imputed = F.coalesce(F.col(t), F.col(f"{t}__predicted"))
    score = F.when(
        flag == 1, F.col(f"{t}__predicted") * mean_cv_r2
    ).otherwise(F.col(t))
    wd = Window.partitionBy(date_col)
    w7 = Window.partitionBy(key_col).orderBy(date_col).rowsBetween(-6, 0)
    imputed_col = f"{t}__imputed"
    return (
        pred.withColumn(f"{t}__imputed_flag", flag)
        .withColumn(imputed_col, imputed)
        .withColumn(f"{t}__score", score)
        .withColumn(
            f"{t}__share_imputed_across_all_grids",
            F.sum(f"{t}__imputed_flag").over(wd).cast("double")
            / F.count(F.lit(1)).over(wd),
        )
        .withColumn(
            f"{t}__imputed_r7d",
            F.sum(F.col(imputed_col).cast(DEC)).over(w7).cast("double")
            / F.count(imputed_col).over(w7),
        )
    )


def predict_with_stats(
    df: DataFrame,
    imputer: BoosterImputer,
    date_col: str = "date",
    key_col: str = "grid_id",
) -> DataFrame:
    """M4+M7: batch predict + the five imputed-stats columns
    (regression_model_predictor.py:132-229). Scoring is distributed:
    the imputer broadcasts its model once and scores Arrow batches."""
    check_no_null_features(df, imputer.features, "predict_with_stats")
    return derive_imputed_stats(
        imputer.transform(df),
        imputer.target,
        imputer.mean_cv_r2,
        date_col=date_col,
        key_col=key_col,
    )
