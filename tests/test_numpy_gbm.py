"""Numeric end-to-end M3 path with a REAL learner (ml/numpy_gbm.py).

The round-4 suite drove the booster plumbing with a linear stub; these
tests run the full numeric pipeline — group CV folds → collect-sample
fit → broadcast → ``mapInPandas`` score → M6 quality gate — with the
histogram GBM, on data a linear model cannot fit (R² ≈ 0), proving the
learner and the distributed scoring are real.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pm25ml_spark.ml.boosters import cross_validate_booster
from pm25ml_spark.ml.numpy_gbm import NumpyHistGBM
from pm25ml_spark.ml.pipeline import check_quality_gate, regression_metrics


def _nonlinear(n=3000, seed=0) -> pd.DataFrame:
    rng = np.random.RandomState(seed)
    pdf = pd.DataFrame(
        {
            "f1": rng.uniform(-2, 2, n),
            "f2": rng.uniform(-2, 2, n),
            "f3": rng.uniform(-2, 2, n),
            "grp": rng.randint(0, 20, n),
        }
    )
    pdf["y"] = (
        np.sin(2 * pdf.f1)
        + pdf.f2**2
        - 1.5 * pdf.f1 * pdf.f3
        + 0.05 * rng.randn(n)
    )
    return pdf


class TestLearner:
    def test_beats_linear_on_nonlinear_target(self):
        pdf = _nonlinear()
        X, y = pdf[["f1", "f2", "f3"]].to_numpy(), pdf["y"].to_numpy()
        tr, te = slice(0, 2400), slice(2400, None)
        m = NumpyHistGBM(n_estimators=150, max_depth=5, max_bin=64)
        p = m.fit(X[tr], y[tr]).predict(X[te])
        ss = ((y[te] - y[te].mean()) ** 2).sum()
        r2 = 1 - ((y[te] - p) ** 2).sum() / ss
        A = np.column_stack([X[tr], np.ones(2400)])
        c, *_ = np.linalg.lstsq(A, y[tr], rcond=None)
        pl = np.column_stack([X[te], np.ones(len(y[te]))]) @ c
        r2_lin = 1 - ((y[te] - pl) ** 2).sum() / ss
        assert r2 > 0.95
        assert r2_lin < 0.3  # the target is genuinely nonlinear

    def test_deterministic(self):
        pdf = _nonlinear(500, seed=3)
        X, y = pdf[["f1", "f2", "f3"]].to_numpy(), pdf["y"].to_numpy()
        p1 = NumpyHistGBM(n_estimators=20).fit(X, y).predict(X)
        p2 = NumpyHistGBM(n_estimators=20).fit(X, y).predict(X)
        np.testing.assert_array_equal(p1, p2)

    def test_constant_target_single_leaf(self):
        X = np.arange(20, dtype=float).reshape(-1, 1)
        m = NumpyHistGBM(n_estimators=50).fit(X, np.full(20, 7.0))
        np.testing.assert_allclose(m.predict(X), 7.0)
        assert len(m.trees_) == 1  # residuals exhausted -> early stop

    def test_params_contract(self):
        m = NumpyHistGBM(n_estimators=9, reg_lambda=2.0, n_jobs=4)
        assert m.get_params()["n_estimators"] == 9
        m.set_params(max_depth=7, n_jobs=8)  # unknown keys ignored
        assert m.max_depth == 7


class TestEndToEnd:
    def test_cv_fit_gate_and_distributed_score(self, spark):
        """M1 folds -> M3 fit -> M4 broadcast score -> M5 metrics -> M6
        gate, all with the real learner."""
        pdf = _nonlinear()
        df = spark.createDataFrame(pdf)
        imp = cross_validate_booster(
            df,
            ["f1", "f2", "f3"],
            "y",
            "grp",
            n_folds=3,
            model_factory=lambda: NumpyHistGBM(
                n_estimators=120, max_depth=5, max_bin=64
            ),
        )
        assert len(imp.cv_r2) == 3
        assert imp.mean_cv_r2 > 0.9  # nontrivial R² on held-out groups
        check_quality_gate(imp.mean_cv_r2, 0.5, 1.0)  # M6 passes

        scored = imp.transform(df, output_col="prediction")
        # distributed scoring == driver-side predict, bit for bit
        local = imp.model.predict(pdf[["f1", "f2", "f3"]])
        got = scored.toPandas().sort_index()
        np.testing.assert_allclose(got["prediction"].to_numpy(), local)
        assert regression_metrics(scored, "y")["r2"] > 0.95
        imp.release()

    def test_final_model_scores_training_frame(self, spark):
        pdf = _nonlinear(800, seed=5)
        df = spark.createDataFrame(pdf)
        imp = cross_validate_booster(
            df,
            ["f1", "f2", "f3"],
            "y",
            "grp",
            model_factory=lambda: NumpyHistGBM(n_estimators=60, max_depth=4),
        )
        out = imp.transform(df).toPandas()
        r2 = 1 - ((out.y - out.y__predicted) ** 2).sum() / (
            (out.y - out.y.mean()) ** 2
        ).sum()
        assert r2 > 0.9
        imp.release()


class TestMissingValues:
    def test_nan_feature_values_get_their_own_bin(self):
        """NaN must not destroy a feature's binning (np.quantile over a
        NaN-containing column is all-NaN): the GBM bins NaN separately
        and can still split on the feature's numeric range."""
        rng = np.random.RandomState(2)
        x = rng.uniform(-2, 2, 2000)
        y = np.where(np.abs(x) < 1, 1.0, -1.0) + 0.01 * rng.randn(2000)
        xm = x.copy()
        nan_idx = rng.choice(2000, 200, replace=False)
        xm[nan_idx] = np.nan
        y[nan_idx] = 5.0  # missingness itself is informative
        X = xm.reshape(-1, 1)
        m = NumpyHistGBM(n_estimators=60, max_depth=3, max_bin=32).fit(X, y)
        p = m.predict(X)
        r2 = 1 - ((y - p) ** 2).sum() / ((y - y.mean()) ** 2).sum()
        assert r2 > 0.9  # numeric signal AND the missing bin both learned
        assert p[nan_idx].mean() > 3.0  # missing rows routed to their bin

    def test_missing_default_direction_is_learned(self):
        """Missing must be routable to EITHER child (ADVICE r5): here the
        informative split is at the LOW end of the value range and missing
        rows belong with the low side — a missing-always-right learner
        cannot separate them without burning extra depth. One depth-1
        tree must already put NaN rows on the correct side."""
        rng = np.random.RandomState(7)
        x = rng.uniform(0, 1, 1000)
        y = np.where(x < 0.2, -10.0, 10.0)
        xm = x.copy()
        nan_idx = rng.choice(np.nonzero(x < 0.2)[0], 100, replace=False)
        xm[nan_idx] = np.nan  # missing ⇔ low-side rows
        m = NumpyHistGBM(
            n_estimators=1, learning_rate=1.0, max_depth=1, max_bin=32
        ).fit(xm.reshape(-1, 1), y)
        tree = m.trees_[0]
        assert len(tree) == 3  # one split, two leaves
        assert tree[0][4] == 1.0  # learned default: missing goes LEFT
        p = m.predict(xm.reshape(-1, 1))
        assert p[nan_idx].mean() < -5.0  # NaN rows land in the low leaf

    def test_all_nan_feature_is_inert(self):
        rng = np.random.RandomState(3)
        X = np.column_stack([rng.rand(300), np.full(300, np.nan)])
        y = 2.0 * X[:, 0]
        m = NumpyHistGBM(n_estimators=40, max_depth=3).fit(X, y)
        p = m.predict(X)
        r2 = 1 - ((y - p) ** 2).sum() / ((y - y.mean()) ** 2).sum()
        assert r2 > 0.95


class _ConstModel:
    """Module-level so pyspark's broadcast pickle can serialize it."""

    def __init__(self, c):
        self.c = c

    def predict(self, X):
        return np.full(len(X), self.c)


def test_transform_rebroadcasts_after_model_swap(spark):
    """A rebound imp.model must never score through the stale cached
    broadcast."""
    from pm25ml_spark.ml.boosters import BoosterImputer

    Const = _ConstModel
    pdf = pd.DataFrame({"f1": [1.0, 2.0], "y": [0.0, 0.0]})
    df = spark.createDataFrame(pdf)
    imp = BoosterImputer(model=Const(1.0), features=["f1"], target="y")
    out1 = imp.transform(df, output_col="p").toPandas()["p"]
    imp.model = Const(2.0)
    out2 = imp.transform(df, output_col="p").toPandas()["p"]
    assert out1.tolist() == [1.0, 1.0]
    assert out2.tolist() == [2.0, 2.0]
    imp.release()


def test_parity_bound_tree_task_excess_under_8pct():
    """The measurable half of reference-booster parity (see the numeric
    parity appendix in ml/numpy_gbm.py): on a tree-representable target
    with known noise, any learner's held-out RMSE >= sigma, so OUR
    excess over sigma bounds our gap to real XGBoost under the same
    translated config. Smaller/faster variant of
    tools/gbm_parity_bound.py; pins excess < 8%."""
    import numpy as np

    from pm25ml_spark.ml.boosters import XGB_AOD_PARAMS, numpy_params_from_xgb
    from pm25ml_spark.ml.numpy_gbm import NumpyHistGBM

    sigma, n_tr, n_te = 0.5, 8000, 4000
    rng = np.random.default_rng(42)
    X = rng.normal(size=(n_tr + n_te, 8))
    f = (
        2.0 * (X[:, 0] > 0)
        + 1.5 * ((X[:, 1] > 0.5) & (X[:, 2] < 0))
        - 1.0 * (X[:, 3] > 1.0)
    )
    y = f + rng.normal(scale=sigma, size=len(f))
    params = numpy_params_from_xgb(
        XGB_AOD_PARAMS, n_estimators=120, max_depth=6
    )
    m = NumpyHistGBM(**params).fit(X[:n_tr], y[:n_tr])
    rmse = float(np.sqrt(np.mean((m.predict(X[n_tr:]) - y[n_tr:]) ** 2)))
    assert rmse / sigma - 1.0 < 0.08, rmse
