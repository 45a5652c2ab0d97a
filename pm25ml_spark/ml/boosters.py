"""The imputer's trainer: a single-node booster fitted on the sample.

The reference fits single-node XGBoost/LightGBM regressors on the 2-3 %
stratified sample (`imputation_model_pipeline.py:90-112`) with the paper's
hyperparameters (`setup/training.py:68-139`). This module is that path:

* fit: collect the SAMPLE (small by contract — the reference itself fits
  it in one process) to the driver in one Spark job and fit the booster
  there; group-aware CV folds are fitted and scored on the same
  collected rows (``cross_validate_booster``, the one CV loop);
* predict: pickle-broadcast the fitted booster and score in Arrow batches
  via ``mapInPandas`` — M4 stays fully distributed.

xgboost/lightgbm are not in this container, so those backends raise a
clear error unless a ``model_factory`` is injected. The always-available
``backend="numpy"`` (``ml/numpy_gbm.NumpyHistGBM``, a real histogram
GBM) is what ``ml/pipeline.train_imputation_model`` trains.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def _default_factory(backend: str, params: dict) -> Callable[[], object]:
    if backend == "numpy":
        # always-available histogram GBM (ml/numpy_gbm.py): the numeric
        # end-to-end path in containers without xgboost/lightgbm
        from pm25ml_spark.ml.numpy_gbm import NumpyHistGBM

        return lambda: NumpyHistGBM(**params)
    if backend == "numpy_xgb":
        from pm25ml_spark.ml.numpy_gbm import NumpyHistGBM

        return lambda: NumpyHistGBM(**numpy_params_from_xgb(params))
    if backend == "numpy_lgbm":
        from pm25ml_spark.ml.numpy_gbm import NumpyHistGBM

        return lambda: NumpyHistGBM(**numpy_params_from_lgbm(params))
    if backend == "xgb":
        try:
            from xgboost import XGBRegressor
        except ImportError as exc:
            raise ImportError(
                "booster backend 'xgb' needs xgboost; use backend='numpy' "
                "or inject model_factory"
            ) from exc
        return lambda: XGBRegressor(**params)
    if backend == "lgbm":
        try:
            from lightgbm import LGBMRegressor
        except ImportError as exc:
            raise ImportError(
                "booster backend 'lgbm' needs lightgbm; use backend='numpy' "
                "or inject model_factory"
            ) from exc
        return lambda: LGBMRegressor(**params)
    raise ValueError(f"unknown booster backend {backend!r}")


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
        """M4: distributed batch predict. The fitted booster is broadcast
        once per imputer (cached); each Arrow batch scores in-process (no
        per-row Python)."""
        out = output_col or f"{self.target}__predicted"
        if out in df.columns:
            raise ValueError(
                f"output column {out!r} already exists in the input frame"
            )
        feats = list(self.features)
        from pyspark.sql.types import DoubleType, StructField, StructType

        sc = df.sparkSession.sparkContext
        if self._bmodel is None or self._bmodel_src is not self.model:
            self.release()  # a swapped model must never score stale
            self._bmodel = sc.broadcast(self.model)
            self._bmodel_src = self.model
        bmodel = self._bmodel
        # StructType.add mutates in place — never call it on df's cached
        # schema object; build a fresh one
        schema = StructType(
            list(df.schema.fields) + [StructField(out, DoubleType())]
        )

        def score(batches):
            model = bmodel.value
            for pdf in batches:
                pdf = pdf.copy()
                pdf[out] = model.predict(pdf[feats])
                yield pdf

        return df.mapInPandas(score, schema=schema)


def _collect_sample(
    df: DataFrame, features: list[str], target: str, *extra: str
) -> pd.DataFrame:
    """One Spark job: the non-null-target rows, sorted on their own
    columns so that a fit never depends on row order or partition count
    (the learners' float sums follow row order)."""
    cols = [*extra, *features, target]
    sample = df.filter(F.col(target).isNotNull()).select(*cols).toPandas()
    if sample.empty:
        raise ValueError("no non-null training rows to fit the booster on")
    return sample.sort_values(cols, kind="mergesort", ignore_index=True)


def _fit(model_factory: Callable[[], object], X, y, n_jobs: int | None = None):
    model = model_factory()
    if n_jobs is not None and hasattr(model, "set_params"):
        model.set_params(n_jobs=n_jobs)
    model.fit(X, y)
    return model


def train_booster_on_sample(
    df: DataFrame,
    features: list[str],
    target: str,
    *,
    backend: str = "xgb",
    params: dict | None = None,
    model_factory: Callable[[], object] | None = None,
    n_jobs: int | None = None,
) -> BoosterImputer:
    """M3 booster path without CV: collect the (sampled, small-by-
    contract) training frame and fit exactly as the reference does
    (`imputation_model_pipeline.py:90-112`). ``model_factory`` injects any
    sklearn-style regressor — the seam for tests and for future backends.
    """
    if model_factory is None:
        model_factory = _default_factory(
            backend, params if params is not None else XGB_AOD_PARAMS
        )
    sample = _collect_sample(df, features, target)
    model = _fit(model_factory, sample[features], sample[target], n_jobs)
    return BoosterImputer(model=model, features=list(features), target=target)


def cross_validate_booster(
    df: DataFrame,
    features: list[str],
    target: str,
    group_col: str,
    *,
    n_folds: int = 3,
    model_factory: Callable[[], object] | None = None,
    backend: str = "xgb",
    params: dict | None = None,
) -> BoosterImputer:
    """Group-aware CV (M1) + final fit: the one CV loop.

    Spark assigns the folds (``assign_group_folds``) and the fold-assigned
    sample is collected once; the ``n_folds`` fold models and the final
    model are then fitted on the driver, and each fold's held-out R² is
    scored in numpy with ``regression_metrics``' formula. Predictors must
    be non-null (P11, `imputation_model_pipeline.py:232-241`): the check
    runs on the collected rows, so it costs no Spark job."""
    from pm25ml_spark.ml.pipeline import assign_group_folds, r2_score

    if model_factory is None:
        model_factory = _default_factory(
            backend, params if params is not None else XGB_AOD_PARAMS
        )
    sample = _collect_sample(
        assign_group_folds(df, group_col, n_folds), features, target, "fold"
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
