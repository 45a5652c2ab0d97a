"""The session-scoped staged-table registry (plans/artifacts.py): a
staged artifact is built exactly once per (session, corpus, params,
input version), matches the direct computation, survives a concurrent
first build, and rebuilds when its input changes in place. The winnowing
selection behind t20 is the staged artifact under test; the operator
cache's LRU registry is pinned here too."""

from __future__ import annotations

import pm25ml_spark.plans.artifacts as ART

SF = "/root/testdata/sf0.001"


def _private_corpus(tmp_path, *tables: str) -> str:
    """A test-owned copy of the named sf0.001 tables: lifecycle pins of
    the form `BUILD_COUNTS == before + 1` need a corpus dir NO other
    test has staged against — the memo keys on (applicationId, sf_dir),
    so running after e.g. the oracle-parity sweep at the shared SF would
    find the artifact already built and break the +1 arithmetic."""
    import shutil

    d = tmp_path / "corpus"
    d.mkdir()
    for t in tables:
        shutil.copy(f"{SF}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


def test_winnow_artifact_built_once_and_exact(spark, tmp_path):
    from pm25ml_spark.catalog import load_table
    from pm25ml_spark.plans.text import (
        winnow_selection,
        winnow_selection_staged,
    )

    SF = _private_corpus(tmp_path, "documents")
    before = ART.BUILD_COUNTS.get("winnow_sel", 0)
    staged = winnow_selection_staged(spark, SF)
    got = {tuple(r) for r in staged.collect()}
    direct = winnow_selection(load_table(spark, SF, "documents"))
    want = {tuple(r) for r in direct.collect()}
    assert got == want and got
    winnow_selection_staged(spark, SF).count()  # second consumer: no rebuild
    assert ART.BUILD_COUNTS.get("winnow_sel", 0) == before + 1


def test_staged_table_concurrent_first_build_is_single(spark, tmp_path):
    """Two threads racing the first build of the same artifact must
    produce exactly ONE build (double-checked lock) and both read the
    same table."""
    import threading

    from pm25ml_spark.plans.artifacts import BUILD_COUNTS, staged_table

    calls = []

    def build():
        calls.append(1)
        return spark.range(10).selectExpr("id", "id * 2 AS v")

    results = []

    def consume():
        df = staged_table(
            spark, str(tmp_path), "race_probe", ("x",), build
        )
        results.append({(r.id, r.v) for r in df.collect()})

    threads = [threading.Thread(target=consume) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1 and BUILD_COUNTS["race_probe"] == 1
    want = {(i, 2 * i) for i in range(10)}
    assert all(r == want for r in results) and len(results) == 4


def test_cache_registry_is_true_lru():
    """Re-registering an existing frame must move it to the MRU end —
    eviction order is LRU, not first-insert FIFO."""
    from pm25ml_spark.operators import cache as C

    class Fake:
        def __init__(self):
            self._jdf = object()
            self.unpersisted = False

        def unpersist(self, blocking=False):
            self.unpersisted = True

    C.release_all()
    old_max = C.MAX_CACHED
    C.MAX_CACHED = 2
    try:
        a, b, c = Fake(), Fake(), Fake()
        C.release_with(None, a)
        C.release_with(None, b)
        C.release_with(None, a)  # re-use: a becomes most-recent
        C.release_with(None, c)  # must evict b (the true LRU), not a
        assert b.unpersisted
        assert not a.unpersisted and not c.unpersisted
    finally:
        C.MAX_CACHED = old_max
        C.release_all()


def test_staged_artifact_rebuilds_on_input_mutation(spark, tmp_path):
    """The memo key folds in the input's content fingerprint: mutating
    the corpus under the SAME path mid-session must trigger a rebuild
    (BUILD_COUNTS increments) instead of serving the stale artifact."""
    import os

    from pm25ml_spark.plans.text import winnow_selection_staged

    corpus = _private_corpus(tmp_path, "documents")
    before = ART.BUILD_COUNTS.get("winnow_sel", 0)
    n1 = winnow_selection_staged(spark, corpus).count()
    assert ART.BUILD_COUNTS.get("winnow_sel", 0) == before + 1
    # unchanged input: no rebuild
    winnow_selection_staged(spark, corpus).count()
    assert ART.BUILD_COUNTS.get("winnow_sel", 0) == before + 1
    # in-place mutation: same path, new content version
    st = os.stat(os.path.join(corpus, "documents.parquet"))
    os.utime(
        os.path.join(corpus, "documents.parquet"),
        ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000),
    )
    n2 = winnow_selection_staged(spark, corpus).count()
    assert ART.BUILD_COUNTS.get("winnow_sel", 0) == before + 2
    assert n1 == n2  # same bytes, so same content — only the key moved
