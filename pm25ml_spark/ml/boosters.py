"""The imputer's trainer: a single-node booster fitted on the sample.

The reference fits single-node XGBoost/LightGBM regressors on the 2-3 %
stratified sample (`imputation_model_pipeline.py:90-112`) with the paper's
hyperparameters (`setup/training.py:68-139`). This module is that path:

* fit: collect the SAMPLE (small by contract — the reference itself fits
  it in one process) with its group key to the driver in one Spark job
  and fit the booster there; the GroupKFold folds are assigned to the
  collected rows on the driver (``group_folds``), then fitted and scored
  on them (``cross_validate_booster``, the one CV loop);
* predict: pickle-broadcast the fitted booster and score Arrow batches of
  the feature columns in a pandas UDF — M4 stays fully distributed, and
  a null/NaN predictor fails the scoring task (P11).

The caller supplies the booster as a ``model_factory`` (any
sklearn-style regressor). ``ml/pipeline.train_imputation_model`` passes
``ml/numpy_gbm.NumpyHistGBM``, a histogram GBM; the paper's XGBoost and
LightGBM hyperparameters below translate to its vocabulary through
``numpy_params_from_xgb``/``numpy_params_from_lgbm``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

# paper hyperparameters, verbatim from setup/training.py:68-139
XGB_AOD_PARAMS = {
    "eta": 0.1,
    "gamma": 0.8,
    "max_depth": 20,
    "min_child_weight": 1,
    "subsample": 0.8,
    "reg_lambda": 100,
    "n_estimators": 1000,
    "booster": "gbtree",
}
LGBM_NO2_PARAMS = {
    "boosting": "gbdt",
    "lambda_l2": 10,
    "learning_rate": 0.1,
    "max_bin": 500,
    "max_depth": 10,
    "min_data_in_leaf": 10,
    "num_iterations": 3000,
    "num_leaves": 1500,
    "objective": "regression",
}
LGBM_CO_PARAMS = {**LGBM_NO2_PARAMS, "max_bin": 1000}


def numpy_params_from_xgb(params: dict, **overrides) -> dict:
    """Translate an XGBoost param dict (the reference's AOD config,
    `setup/training.py:68-90`) to NumpyHistGBM's vocabulary: depth-wise
    growth, eta→learning_rate, gamma→min_split_gain, seeded per-tree
    subsample. Known parity deltas of the analogue (documented, tested
    in test_numpy_gbm): histogram thresholds are quantile bins rather
    than exact greedy splits, no column subsampling, no hessian
    weighting (squared loss ⇒ hessian ≡ 1 anyway)."""
    out = {
        "growth": "depthwise",
        "learning_rate": params.get("eta", params.get("learning_rate", 0.3)),
        "min_split_gain": params.get("gamma", 0.0),
        "max_depth": params.get("max_depth", 6),
        "min_child_weight": params.get("min_child_weight", 1),
        "subsample": params.get("subsample", 1.0),
        "reg_lambda": params.get("reg_lambda", 1.0),
        "n_estimators": params.get("n_estimators", 100),
    }
    out.update(overrides)
    return out


def numpy_params_from_lgbm(params: dict, **overrides) -> dict:
    """Translate a LightGBM param dict (the reference's NO2/CO configs,
    `setup/training.py:92-139`) to NumpyHistGBM: LEAF-WISE growth with
    num_leaves as the complexity budget (lightgbm's defining trait),
    lambda_l2→reg_lambda, min_data_in_leaf→min_child_weight,
    num_iterations→n_estimators; max_depth ≤ 0 means unbounded, the
    lightgbm -1 convention. Same histogram-vs-exact parity delta as the
    xgb translation."""
    md = params.get("max_depth", -1)
    out = {
        "growth": "leafwise",
        "learning_rate": params.get("learning_rate", 0.1),
        "reg_lambda": params.get("lambda_l2", 0.0),
        "max_bin": params.get("max_bin", 255),
        "max_depth": md if md and md > 0 else 0,
        "min_child_weight": params.get("min_data_in_leaf", 20),
        "n_estimators": params.get("num_iterations", 100),
        "num_leaves": params.get("num_leaves", 31),
    }
    out.update(overrides)
    return out


@dataclass
class BoosterImputer:
    """Fitted single-node booster + the distributed scoring contract:
    the imputer that ``train_imputation_model`` returns, that
    ``predict_with_stats`` scores through and that ``ModelStore``
    persists."""

    model: object
    features: list[str]
    target: str
    cv_r2: list[float] = field(default_factory=list)
    # broadcast cache: one broadcast per FITTED MODEL OBJECT, reused
    # across transform() calls (a fresh broadcast per call would leak
    # executor memory until session end). The cache is invalidated when
    # self.model is rebound to a different object; mutating the same
    # model object IN PLACE after a transform() is not detected — call
    # release() to force a re-broadcast in that case, and when done with
    # the imputer.
    _bmodel: object | None = field(default=None, repr=False, compare=False)
    _bmodel_src: object | None = field(default=None, repr=False, compare=False)

    @property
    def mean_cv_r2(self) -> float:
        return sum(self.cv_r2) / len(self.cv_r2) if self.cv_r2 else float("nan")

    def release(self) -> None:
        """Destroy the cached model broadcast (safe to call repeatedly)."""
        if self._bmodel is not None:
            self._bmodel.destroy()
            self._bmodel = None
            self._bmodel_src = None

    def transform(self, df: DataFrame, output_col: str | None = None) -> DataFrame:
        """M4: distributed batch predict, ``df`` plus one ``output_col``.
        The fitted booster is broadcast once per imputer (cached); a
        scalar-iterator pandas UDF scores Arrow batches of the feature
        columns alone (no per-row Python, the other columns stay in the
        JVM). P11 (`imputation_model_pipeline.py:232-241`): predictors
        must be fully non-null — the booster would silently score a
        missing cell through its missing-value bin — so a batch with a
        null/NaN feature fails its task with a ``ValueError``, which
        aborts the job that consumes the scores (on the driver it
        surfaces as Spark's ``PythonException``)."""
        out = output_col or f"{self.target}__predicted"
        if out in df.columns:
            raise ValueError(
                f"output column {out!r} already exists in the input frame"
            )
        feats = list(self.features)
        sc = df.sparkSession.sparkContext
        if self._bmodel is None or self._bmodel_src is not self.model:
            self.release()  # a swapped model must never score stale
            self._bmodel = sc.broadcast(self.model)
            self._bmodel_src = self.model
        bmodel = self._bmodel

        @F.pandas_udf(DoubleType())
        def predict(batches: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
            model = bmodel.value
            for pdf in batches:
                null_cols = [f for f in feats if pdf[f].isna().any()]
                if null_cols:
                    raise ValueError(
                        f"BoosterImputer.transform: null/NaN in predictor "
                        f"columns {null_cols} — run the interpolation/fill "
                        "stages first (reference P11 contract)"
                    )
                yield pd.Series(model.predict(pdf[feats]))

        return df.withColumn(out, predict(F.struct(*feats)))


def _collect_sample(
    df: DataFrame, features: list[str], target: str, group_col: str
) -> pd.DataFrame:
    """One Spark job: every row's group key (as ``__group``), whether
    its target is non-null (``__labelled``; a NaN target is not null),
    and the features and target of the labelled rows. An unlabelled
    row carries only its key (it still counts in the fold ranking), so
    the collect grows by keys, not by feature rows, with the unlabelled
    share of ``df``."""
    labelled = F.col(target).isNotNull()
    sample = df.select(
        F.col(group_col).alias("__group"),
        *(F.when(labelled, F.col(f)).alias(f) for f in features),
        target,
        labelled.alias("__labelled"),
    ).toPandas()
    if not sample["__labelled"].any():
        raise ValueError("no non-null training rows to fit the booster on")
    return sample


def group_folds(keys: pd.Series, k: int) -> np.ndarray:
    """GroupKFold (M1) on driver-side long or string keys: the fold
    ``assign_group_folds`` gives each key, as floats with NaN for a null
    key. The fold is the 0-based dense rank of the key among the sorted
    distinct non-null keys, mod ``k``."""
    null = keys.isna().to_numpy()
    present = keys.to_numpy()[~null]
    rank = np.searchsorted(np.unique(present), present)
    fold = np.full(len(keys), np.nan)
    fold[~null] = rank % k
    return fold


def _fit(model_factory: Callable[[], object], X, y):
    model = model_factory()
    model.fit(X, y)
    return model


def cross_validate_booster(
    df: DataFrame,
    features: list[str],
    target: str,
    group_col: str,
    *,
    model_factory: Callable[[], object],
    n_folds: int = 3,
) -> BoosterImputer:
    """Group-aware CV (M1) + final fit: the one CV loop.

    One Spark job collects the rows with their group key; the GroupKFold
    folds are assigned on the driver (``group_folds``, over the group
    keys of every row, labelled or not, as ``assign_group_folds`` ranks
    them) and the unlabelled rows dropped. The labelled rows are sorted
    on ``fold``, the features and the target, so that a fit never
    depends on row order or partition count (the learners' float sums
    follow row order). The ``n_folds`` fold models and the final model
    are fitted on the driver, and each fold's held-out R² is scored in
    numpy with ``regression_metrics``' formula. Predictors must be
    non-null (P11, `imputation_model_pipeline.py:232-241`): the check
    runs on the collected rows, so it costs no Spark job."""
    from pm25ml_spark.ml.pipeline import r2_score

    rows = _collect_sample(df, features, target, group_col)
    rows["fold"] = group_folds(rows["__group"], n_folds)
    cols = ["fold", *features, target]
    sample = rows.loc[rows["__labelled"], cols].sort_values(
        cols, kind="mergesort", ignore_index=True
    )
    null_cols = [f for f in features if sample[f].isna().any()]
    if null_cols:
        raise ValueError(
            f"cross_validate_booster: null/NaN in predictor columns {null_cols}"
            " — run the interpolation/fill stages first (reference P11 contract)"
        )
    X, y = sample[features], sample[target].to_numpy()
    # a null group key joins to no fold: such rows train only the final model
    fold = sample["fold"].to_numpy(dtype=float)
    cv_r2 = []
    for k in range(n_folds):
        test = fold == k
        train = ~test & ~np.isnan(fold)
        model = _fit(model_factory, X[train], y[train])
        cv_r2.append(r2_score(y[test], model.predict(X[test])))
    final = _fit(model_factory, X, y)
    return BoosterImputer(
        model=final, features=list(features), target=target, cv_r2=cv_r2
    )
