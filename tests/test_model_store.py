"""S18 model store tests: pickled booster round-trips (a trained
imputer predicts identically after save/load), latest-run resolution."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pm25ml_spark.ml.boosters import BoosterImputer
from pm25ml_spark.ml.numpy_gbm import NumpyHistGBM
from pm25ml_spark.ml.pipeline import train_imputation_model
from pm25ml_spark.ml.store import ModelStore


def _frame(spark, n=120, seed=0):
    rng = np.random.RandomState(seed)
    pdf = pd.DataFrame(
        {"f1": rng.rand(n), "f2": rng.rand(n), "grp": rng.randint(0, 6, n)}
    )
    pdf["y"] = 4.0 * pdf.f1 - pdf.f2
    return spark.createDataFrame(pdf)


def test_trained_imputer_store_roundtrip(spark, tmp_path):
    df = _frame(spark)
    fitted = train_imputation_model(
        df, ["f1", "f2"], "y", group_col="grp", n_folds=2, max_iter=5
    )
    store = ModelStore(str(tmp_path))
    store.save("aod", "2026-08-13+10-00-00", fitted, {"r2": 0.93})

    loaded = store.load("aod", "2026-08-13+10-00-00")
    assert loaded.features == ["f1", "f2"]
    assert loaded.cv_r2 == fitted.cv_r2
    assert store.test_metrics("aod", "2026-08-13+10-00-00") == {"r2": 0.93}
    # the loaded model predicts identically to the fitted one, both
    # distributed and on the driver
    a = fitted.transform(df).select("y__predicted").toPandas()
    b = loaded.transform(df).select("y__predicted").toPandas()
    np.testing.assert_array_equal(a.y__predicted, b.y__predicted)
    X = df.select("f1", "f2").toPandas()
    np.testing.assert_array_equal(fitted.model.predict(X), loaded.model.predict(X))
    fitted.release()
    loaded.release()


def test_load_latest_picks_max_ref(tmp_path):
    store = ModelStore(str(tmp_path))
    X = np.random.RandomState(0).rand(40, 2)
    fitted = NumpyHistGBM(n_estimators=2).fit(X, 4.0 * X[:, 0] - X[:, 1])
    for ref, r2 in [
        ("2026-01-01+00-00-00", 0.1),
        ("2026-03-01+00-00-00", 0.3),
        ("2026-02-01+00-00-00", 0.2),
    ]:
        store.save(
            "no2", ref, BoosterImputer(fitted, ["f1", "f2"], "y", [r2])
        )
    assert store.load_latest("no2").cv_r2 == [0.3]


def test_load_latest_no_runs_errors(tmp_path):
    with pytest.raises(FileNotFoundError, match="No model runs"):
        ModelStore(str(tmp_path)).load_latest("missing")


class Stub:  # module-level: pickle needs an importable class
    def __init__(self):
        self.coef_ = [1.0, 2.0]

    def predict(self, X):
        return [0.0] * len(X)


def test_pickle_fallback_for_booster_models(tmp_path):
    store = ModelStore(str(tmp_path))
    store.save("co", "r1", BoosterImputer(Stub(), ["f1"], "y", [0.5]))
    loaded = store.load("co", "r1")
    assert loaded.model.coef_ == [1.0, 2.0]
    assert loaded.target == "y"
