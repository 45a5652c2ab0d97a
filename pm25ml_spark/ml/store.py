"""Model store (SURVEY S18).

Reference semantics (`training/model_storage.py:83-220`): models live under
``{base}/{model_name}/{run_ref}/`` together with their CV results and test
metrics; loading takes an explicit run ref or resolves the LATEST ref
(lexicographic max — refs are sortable timestamps); no runs → error.

The model artifact is the fitted driver-side booster (`ml/boosters.py`),
gzip-pickled as the reference does. Run metadata (features, target,
cv_r2, model class) rides in ``meta.json`` and metrics in
``test_metrics.json``, mirroring the reference layout.
"""

from __future__ import annotations

import gzip
import json
import pickle
from pathlib import Path

from pm25ml_spark.ml.boosters import BoosterImputer


class ModelStore:
    """Filesystem model store with the reference's run-ref layout."""

    def __init__(self, base_path: str):
        self.base = Path(base_path)

    def _run_dir(self, model_name: str, run_ref: str) -> Path:
        return self.base / model_name / run_ref

    def save(
        self,
        model_name: str,
        run_ref: str,
        imputer: BoosterImputer,
        test_metrics: dict | None = None,
    ) -> str:
        """Persist one validated run: model + metadata + metrics."""
        d = self._run_dir(model_name, run_ref)
        d.mkdir(parents=True, exist_ok=True)
        with gzip.open(d / "model.pkl.gz", "wb") as fh:
            pickle.dump(imputer.model, fh)
        (d / "meta.json").write_text(
            json.dumps(
                {
                    "model_class": type(imputer.model).__name__,
                    "features": imputer.features,
                    "target": imputer.target,
                    "cv_r2": imputer.cv_r2,
                }
            )
        )
        (d / "test_metrics.json").write_text(json.dumps(test_metrics or {}))
        return str(d)

    def load(self, model_name: str, run_ref: str) -> BoosterImputer:
        d = self._run_dir(model_name, run_ref)
        meta = json.loads((d / "meta.json").read_text())
        with gzip.open(d / "model.pkl.gz", "rb") as fh:
            model = pickle.load(fh)  # noqa: S301 - own artifacts
        return BoosterImputer(
            model=model,
            features=list(meta["features"]),
            target=meta["target"],
            cv_r2=list(meta["cv_r2"]),
        )

    def load_latest(self, model_name: str) -> BoosterImputer:
        """Latest run = lexicographically greatest run ref
        (model_storage.py:156-182); no runs → FileNotFoundError."""
        base = self.base / model_name
        refs = sorted(p.name for p in base.glob("*") if p.is_dir()) if base.exists() else []
        if not refs:
            raise FileNotFoundError(f"No model runs found for model: {model_name}")
        return self.load(model_name, refs[-1])

    def test_metrics(self, model_name: str, run_ref: str) -> dict:
        return json.loads(
            (self._run_dir(model_name, run_ref) / "test_metrics.json").read_text()
        )
