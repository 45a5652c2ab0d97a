"""Session-scoped staged-table registry — build-once-analyze-many.

A corpus-derived intermediate (today the winnowing fingerprint
selection behind t20, ``plans/text.winnow_selection_staged``) is
materialized ONCE per (session, corpus, params) into a
transaction-log table under a process-local temp dir and read from
parquet by every later consumer. The reference stages intermediate
artifacts the same way (``combiners/data_artifact.py:10-44``). At 100 TB
these artifacts live on the object store next to the corpus, refreshed
by the ingest pipeline rather than per analytics query; the session memo
here is the local-mode stand-in for that lifecycle.

Correctness stays oracle-checked end-to-end: every consumer's DuckDB
oracle recomputes the artifact's content from the raw corpus, so a
stale or wrong staged table cannot hide behind the cache.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# (applicationId, sf_dir, name, params, input_fingerprint) -> TxTable path
_ARTIFACTS: dict[tuple, str] = {}
# observability + test pin: from-scratch builds per artifact name
BUILD_COUNTS: dict[str, int] = {}
# honest-bench accounting: wall seconds spent building each artifact
# this process (bench.py folds these into the reported suite total —
# min-of-two-passes timing would otherwise hide the one-time build)
BUILD_SECONDS: dict[str, float] = {}
# concurrent consumers (e.g. parallel test workers sharing a session)
# must not each pay the build: one lock serializes first-build races —
# the loser re-checks the memo and reads the winner's table
_LOCK = threading.Lock()


def _input_fingerprint(sf_dir: str, inputs: tuple[str, ...] | None) -> str:
    """Cheap snapshot-version fingerprint of the artifact's source data:
    md5 over the sorted (path, size, mtime_ns) listing of each input
    table (or of every table file under ``sf_dir`` when ``inputs`` is
    None). Folding this into the memo key means an in-place mutation of
    the corpus under the SAME path triggers a rebuild instead of serving
    a stale artifact for the rest of the session.

    At 100 TB the input is a lakehouse table and this is its snapshot/
    version id — one metadata read from the transaction log, never a
    full object listing; the stat-walk here is the local-parquet
    stand-in (a handful of files per sf_dir)."""
    import hashlib

    if inputs is None:
        paths = sorted(
            os.path.join(sf_dir, f)
            for f in os.listdir(sf_dir)
            if f.endswith(".parquet")
        )
    else:
        paths = [
            t if os.path.isabs(t) else os.path.join(sf_dir, f"{t}.parquet")
            for t in inputs
        ]
    h = hashlib.md5()
    for p in paths:
        files = []
        if os.path.isdir(p):
            for root, _dirs, names in os.walk(p):
                files.extend(os.path.join(root, n) for n in names)
        elif os.path.exists(p):
            files.append(p)
        for f in sorted(files):
            st = os.stat(f)
            h.update(f"{f}|{st.st_size}|{st.st_mtime_ns};".encode())
    return h.hexdigest()


def staged_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    params: tuple,
    build: Callable[[], DataFrame],
    inputs: tuple[str, ...] | None = None,
) -> DataFrame:
    """Return the staged table for ``(sf_dir, name, params)``, building
    it with ``build()`` on first use. ``inputs`` names the source
    tables whose content version is folded into the memo key (see
    :func:`_input_fingerprint`); None fingerprints every table under
    ``sf_dir``."""
    from pm25ml_spark.sources.txlog import TxTable

    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        name,
        params,
        _input_fingerprint(sf_dir, inputs),
    )
    path = _ARTIFACTS.get(key)
    if path is None:
        with _LOCK:
            path = _ARTIFACTS.get(key)  # re-check: a racer may have built
            if path is None:
                import time

                t0 = time.perf_counter()
                base = tempfile.mkdtemp(prefix=f"pm25ml_stage_{name}_")
                atexit.register(shutil.rmtree, base, True)
                path = os.path.join(base, name)
                TxTable(spark, path).append(build())
                BUILD_COUNTS[name] = BUILD_COUNTS.get(name, 0) + 1
                BUILD_SECONDS[name] = (
                    BUILD_SECONDS.get(name, 0.0) + time.perf_counter() - t0
                )
                _ARTIFACTS[key] = path
    return TxTable(spark, path).read()
