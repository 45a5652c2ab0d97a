"""Build-once duplicate-pair graph artifact (plans/dup_graph.py):
the staged edge list is built exactly once per (session, corpus,
params), matches the direct operator output, and every gr-family plan
reads it instead of recomputing the shingle join."""

from __future__ import annotations

from pyspark.sql import functions as F

import pm25ml_spark.plans.artifacts as ART
import pm25ml_spark.plans.dup_graph as DG

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


def test_dup_edges_built_once_and_exact(spark, tmp_path):
    from pm25ml_spark.catalog import load_table
    from pm25ml_spark.operators import dedup as D

    SF = _private_corpus(tmp_path, "documents")
    before = ART.BUILD_COUNTS.get("dup_edges", 0)
    e1 = DG.dup_edges(spark, SF)
    got = {
        (r.doc_a, r.doc_b, r.shared, round(r.jaccard, 9))
        for r in e1.collect()
    }
    docs = load_table(spark, SF, "documents")
    want = {
        (r.doc_a, r.doc_b, r.shared, round(r.jaccard, 9))
        for r in D.jaccard_pairs(docs, n=3, t_num=3, t_den=5).collect()
    }
    assert got == want and got  # artifact content == direct operator
    # second consumer (and the symmetric view) reuse the staged table
    DG.dup_edges(spark, SF).count()
    sym = DG.dup_edges_symmetric(spark, SF)
    assert sym.count() == 2 * len(got)
    assert ART.BUILD_COUNTS.get("dup_edges", 0) == before + 1


def test_gr_family_shares_one_build(spark):
    from pm25ml_spark.plans.registry import QUERIES, load_all_plans

    load_all_plans()
    DG.dup_edges(spark, SF).count()  # warm the artifact
    before = ART.BUILD_COUNTS.get("dup_edges", 0)
    a = QUERIES["gr06_dupgraph_degree_hist"](spark, SF)
    b = QUERIES["dd03_jaccard_pairs"](spark, SF)
    assert a.count() > 0 and b.count() > 0
    assert ART.BUILD_COUNTS.get("dup_edges", 0) == before  # zero rebuilds after the stage


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


def test_pruned_ego_lookup_skips_files(spark):
    """The range-partitioned artifact layout must make the seed lookup a
    real data-skip: read_pruned opens strictly fewer files than the
    snapshot holds (and the pruned result equals the filtered scan)."""
    from pm25ml_spark.plans.artifacts import staged_table_handle
    from pm25ml_spark.plans.dup_graph import dup_edges, dup_edges_pruned

    edges = dup_edges(spark, SF)
    seed = edges.agg({"doc_a": "min"}).collect()[0][0]
    t = staged_table_handle(spark, SF, "dup_edges", (3, 3, 5))
    _v, live = t.snapshot()
    stats = t.file_stats()
    kept = [
        f
        for f in live
        if (st := stats.get(f, {}).get("doc_a")) is None
        or st[0] is None
        or not (st[1] < seed or st[0] > seed)
    ]
    assert len(live) > 1 and len(kept) < len(live), (
        f"no pruning possible: {len(kept)}/{len(live)} files kept — "
        "range layout lost its tight per-file doc_a stats"
    )
    got = {tuple(r) for r in dup_edges_pruned(spark, SF, seed, seed).collect()}
    want = {
        tuple(r) for r in edges.filter(F.col("doc_a") == seed).collect()
    }
    assert got == want and got


def test_jaccard_between_equals_filtered_self_join(spark):
    """The asymmetric probe must return exactly the cross-set subset of
    the symmetric pair set (same threshold, same shingles) — the
    equivalence that lets the oracle recompute it brute-force."""
    from pm25ml_spark.catalog import load_table
    from pm25ml_spark.operators import dedup as D

    docs = load_table(spark, SF, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    got = {
        (r.new_id, r.corpus_id, r.shared, round(r.jaccard, 9))
        for r in D.jaccard_pairs_between(batch, corpus).collect()
    }
    full = D.jaccard_pairs(docs, n=3, t_num=3, t_den=5).collect()
    want = set()
    for r in full:
        a_batch, b_batch = r.doc_a % 10 == 7, r.doc_b % 10 == 7
        if a_batch != b_batch:  # cross pairs only, keyed new->corpus
            new, cor = (r.doc_a, r.doc_b) if a_batch else (r.doc_b, r.doc_a)
            want.add((new, cor, r.shared, round(r.jaccard, 9)))
    assert got == want and got


def test_jaccard_delta_pairs_equals_internal_plus_cross(spark):
    """The consolidated one-probe delta (batch vs existing ∪ batch) must
    equal the union of the batch's internal pair set and the
    batch-vs-existing cross set — the exact partition of the full pair
    set by later-arriving endpoint that the incremental lifecycles rely
    on. Also checks the bootstrap case (no existing store)."""
    from pm25ml_spark.catalog import load_table
    from pm25ml_spark.operators import dedup as D

    docs = load_table(spark, SF, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    sh_batch = D.shingle_arrays(batch, n=3)
    sh_existing = D.shingle_arrays(docs.filter(F.col("doc_id") % 10 != 7), n=3)
    got = {
        (r.doc_a, r.doc_b, r.shared, round(r.jaccard, 9))
        for r in D.jaccard_delta_pairs(sh_batch, sh_existing).collect()
    }
    full = D.jaccard_pairs(docs, n=3, t_num=3, t_den=5).collect()
    want = {
        (r.doc_a, r.doc_b, r.shared, round(r.jaccard, 9))
        for r in full
        if (r.doc_a % 10 == 7) or (r.doc_b % 10 == 7)
    }
    assert got == want and got

    boot = {
        (r.doc_a, r.doc_b, r.shared, round(r.jaccard, 9))
        for r in D.jaccard_delta_pairs(sh_batch, None).collect()
    }
    internal = {
        (r.doc_a, r.doc_b, r.shared, round(r.jaccard, 9))
        for r in D.jaccard_pairs(batch, n=3, t_num=3, t_den=5).collect()
    }
    assert boot == internal
    sh_batch.unpersist()
    sh_existing.unpersist()


def test_delta_pairs_snapshot_combined_reuses_one_broadcast(spark, tmp_path):
    """`sh_combined` (the store's post-append parquet snapshot) must
    (a) yield the identical pair set as the explicit existing-∪-batch
    union, and (b) plan the verify join's two array broadcasts as ONE
    BroadcastExchange + a ReusedExchange — the r14 pass-count cut. Over
    the cached-union form Spark 4 AQE wraps each InMemoryTableScan in
    its own TableCacheQueryStage, so reuse can never fire there; the
    parquet snapshot is what makes the second collect disappear."""
    from pm25ml_spark.catalog import load_table
    from pm25ml_spark.operators import dedup as D
    from pm25ml_spark.sources.txlog import TxTable

    docs = load_table(spark, SF, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    sh_batch = D.shingle_arrays(batch, n=3)
    sh_existing = D.shingle_arrays(
        docs.filter(F.col("doc_id") % 10 != 7), n=3
    )
    t = TxTable(spark, str(tmp_path / "sh_store"))
    t.append(sh_existing.select("doc_id", "h_arr", "n_sh"))
    v = t.append(sh_batch.select("doc_id", "h_arr", "n_sh"))

    snap = D.jaccard_delta_pairs(
        sh_batch, None, sh_combined=t.read(version=v)
    )
    got = {
        (r.doc_a, r.doc_b, r.shared, round(r.jaccard, 9))
        for r in snap.collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.shared, round(r.jaccard, 9))
        for r in D.jaccard_delta_pairs(sh_batch, sh_existing).collect()
    }
    assert got == want and got

    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan
    sh_batch.unpersist()
    sh_existing.unpersist()


def test_oversized_batch_degrades_to_shuffle_join(spark):
    """The guarded broadcast hints (`_bcast_if_small`) must DROP the
    hint when the plan-statistics estimate exceeds the cap: a
    backfill-sized "batch" fed to the incremental probe degrades the
    prefix and verify joins to shuffle joins instead of collecting
    10^9 prefix rows into a broadcast relation (r13 VERDICT hazard #2).
    A bench-sized batch must keep the broadcast (the plan the r13 wins
    were measured on)."""
    from pm25ml_spark.catalog import load_table
    from pm25ml_spark.operators import dedup as D

    huge = spark.range(1_000_000_000).select(
        F.col("id").alias("doc_id"),
        F.array(F.col("id")).alias("h_arr"),
        F.lit(1).alias("n_sh"),
    )
    plan = (
        D.jaccard_delta_pairs(huge, None)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)

    docs = load_table(spark, SF, "documents")
    sh = D.shingle_arrays(docs, n=3)
    try:
        sh.count()  # materialize so the estimate is the real cached size
        small_plan = (
            D.jaccard_delta_pairs(sh, None)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in small_plan
    finally:
        sh.unpersist()


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


def test_jaccard_between_registers_internal_caches(spark):
    """The asymmetric probe's two persisted shingle frames must enter the
    bounded LRU registry (long-lived sessions would otherwise leak two
    caches per call)."""
    from pm25ml_spark.catalog import load_table
    from pm25ml_spark.operators import cache as C
    from pm25ml_spark.operators import dedup as D

    docs = load_table(spark, SF, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    C.release_all()
    out = D.jaccard_pairs_between(batch, corpus)
    assert len(C._LRU) == 2
    assert out.count() >= 0
    C.release_all()


def test_staged_artifact_rebuilds_on_input_mutation(spark, tmp_path):
    """The memo key folds in the input's content fingerprint: mutating
    the corpus under the SAME path mid-session must trigger a rebuild
    (BUILD_COUNTS increments) instead of serving the stale artifact."""
    import os
    import shutil

    corpus = str(tmp_path / "corpus")
    os.makedirs(corpus)
    shutil.copy(
        os.path.join(SF, "documents.parquet"),
        os.path.join(corpus, "documents.parquet"),
    )
    before = ART.BUILD_COUNTS.get("dup_edges", 0)
    n1 = DG.dup_edges(spark, corpus).count()
    assert ART.BUILD_COUNTS.get("dup_edges", 0) == before + 1
    DG.dup_edges(spark, corpus).count()  # unchanged input: no rebuild
    assert ART.BUILD_COUNTS.get("dup_edges", 0) == before + 1
    # in-place mutation: same path, new content version
    st = os.stat(os.path.join(corpus, "documents.parquet"))
    os.utime(
        os.path.join(corpus, "documents.parquet"),
        ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000),
    )
    n2 = DG.dup_edges(spark, corpus).count()
    assert ART.BUILD_COUNTS.get("dup_edges", 0) == before + 2
    assert n1 == n2  # same bytes, so same content — only the key moved


def test_incremental_edges_equal_full_rebuild(spark):
    """The multi-batch incrementally-maintained edge artifact (base
    commit + one delta commit per ingest batch, each probing a
    time-travel read of the shingle store) must equal a from-scratch
    rebuild over the full corpus, with the lifecycle pins: one log
    commit per step on both artifacts, every doc shingled exactly once
    across the whole lifecycle, correct per-commit provenance, and
    zero rebuilds on re-read."""
    from pm25ml_spark.catalog import load_table
    from pm25ml_spark.operators import dedup as D
    from pm25ml_spark.plans.artifacts import staged_table_handle

    def counts():
        return {
            k: v
            for k, v in ART.BUILD_COUNTS.items()
            if k.startswith(("shingle_store.", "dup_edges_incr."))
        }

    before = counts()
    inc = DG.dup_edges_incremental(spark, SF)
    rows = inc.collect()
    got = {
        (r.doc_a, r.doc_b, r.shared, round(r.jaccard, 9)) for r in rows
    }
    docs = load_table(spark, SF, "documents")
    want = {
        (r.doc_a, r.doc_b, r.shared, round(r.jaccard, 9))
        for r in D.jaccard_pairs(docs, n=3, t_num=3, t_den=5).collect()
    }
    assert got == want and got

    # every lifecycle step built exactly once; nothing re-shingled,
    # no corpus-pair join re-run
    after = counts()
    for step in (
        "shingle_store.base",
        "shingle_store.batch5",
        "shingle_store.batch9",
        "dup_edges_incr.base",
        "dup_edges_incr.delta5",
        "dup_edges_incr.delta9",
    ):
        assert after.get(step, 0) == before.get(step, 0) + 1, step

    # provenance: each edge is tagged with its later-arriving endpoint's
    # batch (0 = bootstrap, 1 = %10==5, 2 = %10==9)
    arrival = lambda d: {5: 1, 9: 2}.get(d % 10, 0)
    for r in rows:
        assert r.src_batch == max(arrival(r.doc_a), arrival(r.doc_b)), r

    # append-only txlog lifecycle: one commit per step; time travel to
    # the bootstrap snapshot shows ONLY pre-batch pairs, and to the
    # post-batch-1 snapshot shows no batch-2 endpoints yet
    t = staged_table_handle(
        spark, SF, "dup_edges_incr", (3, 3, 5, 10, (5, 9))
    )
    vs = t.versions()
    assert len(vs) == 3, vs
    base_pairs = {
        (r.doc_a, r.doc_b) for r in t.read(version=vs[0]).collect()
    }
    assert base_pairs == {
        (a, b)
        for a, b, _s, _j in want
        if a % 10 not in (5, 9) and b % 10 not in (5, 9)
    }
    v2 = {(r.doc_a, r.doc_b) for r in t.read(version=vs[1]).collect()}
    assert v2 == {
        (a, b)
        for a, b, _s, _j in want
        if a % 10 != 9 and b % 10 != 9
    }
    assert {(a, b) for a, b, _s, _j in want} - v2  # batch 2 added edges

    # the shingle store shingled each doc exactly once, in its own step
    sh = staged_table_handle(spark, SF, "shingle_store", (3, 10, (5, 9)))
    assert len(sh.versions()) == 3
    all_ids = [r.doc_id for r in sh.read().select("doc_id").collect()]
    assert len(all_ids) == len(set(all_ids))
    assert len(all_ids) == docs.count()

    # re-read: memoized, zero rebuilds
    DG.dup_edges_incremental(spark, SF).count()
    assert counts() == after


def test_incremental_artifact_compacts_without_content_change(spark):
    """Maintenance close of the incremental lifecycle: after the
    base + delta commits accrete small files, compact() must merge them
    in one atomic commit with identical content, and time travel to the
    pre-compact snapshots must still resolve (old files stay until
    vacuum)."""
    from pm25ml_spark.plans.artifacts import staged_table_handle

    DG.dup_edges_incremental(spark, SF).count()  # ensure staged
    t = staged_table_handle(
        spark, SF, "dup_edges_incr", (3, 3, 5, 10, (5, 9))
    )
    before_versions = t.versions()
    before = {tuple(r) for r in t.read().collect()}
    _v, live_before = t.snapshot()
    v = t.compact(target_file_bytes=64 * 1024 * 1024)
    assert v is not None and v == before_versions[-1] + 1
    _v2, live_after = t.snapshot()
    assert len(live_after) < len(live_before)
    assert {tuple(r) for r in t.read().collect()} == before
    # pre-compact snapshots still resolve through the original files
    first = {
        tuple(r) for r in t.read(version=before_versions[0]).collect()
    }
    assert first and first < before
