"""Similarity search over embedding columns (`array<float>`).

Brute-force cosine top-k is the exact baseline: a broadcast of the (small)
query set against the candidate corpus, dot products computed JVM-side via
``zip_with`` + ``aggregate`` (no Python, no shuffle until the final top-k
window). For the billion-vector scale path, ``lsh_bucket_topk`` buckets
candidates by deterministic random-hyperplane signs so each query probes
only its bucket.

Determinism contract: scores are rounded to 6 dp and ranked with
(rounded score DESC, candidate id ASC) so ordering is reproducible across
engines; the 1e-13-level float divergence sits ~7 orders of magnitude
below the rounding step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    q_id: str = "qid",
    c_id: str = "cid",
    q_vec: str = "qe",
    c_vec: str = "ce",
    q_grp: str | None = None,
    c_grp: str | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbours of each query vector.

    The probe batch is broadcast (typical ANN workloads probe with a small
    query set, like a broadcast-join build side); candidates stream through
    ``mapInPandas`` where one float64 BLAS matmul scores each
    queries × batch tile and emits only a per-batch partial top-k (with a
    1e-6 margin that provably covers the 6-dp rounding step). The global
    top-k window then runs over ~k·n_batches rows per query instead of the
    full candidate set — the classic distributed top-k combine; never a
    single-partition sort, no O(n_q·n_c) row materialization.

    ``q_grp``/``c_grp`` (set together or not at all) name integer group
    columns; pairs whose groups are EQUAL are masked out of the ranking —
    the hard-negative-mining shape (top-k most-similar items NOT sharing
    the query's label). NULL groups never match anything (an explicit
    null-flag mask, not an in-band sentinel, so EVERY int64 group value
    is valid), mirroring SQL NULL-equality semantics.
    """
    import numpy as np
    import pandas as pd

    if (q_grp is None) != (c_grp is None):
        raise ValueError("q_grp and c_grp must be set together")

    sc = candidates.sparkSession.sparkContext
    qcols = [q_id, q_vec] + ([q_grp] if q_grp else [])
    qrows = queries.select(*qcols).collect()  # probe batch: small by contract
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    qn = np.sqrt((Q * Q).sum(axis=1))
    qgrps = None
    if q_grp:
        qgrps = (
            np.array([0 if r[2] is None else int(r[2]) for r in qrows], np.int64),
            np.array([r[2] is not None for r in qrows], bool),  # non-null flag
        )
    bq = sc.broadcast((qids, Q, qn, qgrps))

    def partial_topk(batches):
        # Per-batch partial top-k: one BLAS matmul scores the whole
        # queries × batch tile; each query emits its batch rows with
        # raw ≥ (k-th best raw in batch) − 1e-6. The margin covers the
        # 6-dp rounding step exactly (round moves a score by ≤ 5e-7),
        # so no row that could win the global rounded-score/cid ranking
        # is dropped; the global window below finishes the top-k.
        q_ids, q_mat, q_norms, q_groups = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            cids = pdf[c_id].to_numpy(dtype=np.int64)
            C = np.array(pdf[c_vec].tolist(), dtype=np.float64)
            S = (q_mat @ C.T) / np.outer(q_norms, np.sqrt((C * C).sum(axis=1)))
            S[q_ids[:, None] == cids[None, :]] = -np.inf  # self-pairs
            if q_groups is not None:
                qg, q_ok = q_groups
                raw = pdf[c_grp].to_numpy(dtype=object)
                # Arrow renders int NULL as None or NaN depending on the
                # batch's null mask — track nullity in a separate flag
                # array so every int64 group VALUE stays valid
                c_ok = np.array(
                    [g is not None and g == g for g in raw], dtype=bool
                )
                cg = np.array(
                    [int(g) if ok else 0 for g, ok in zip(raw, c_ok)],
                    dtype=np.int64,
                )
                S[
                    (qg[:, None] == cg[None, :])
                    & (q_ok[:, None] & c_ok[None, :])
                ] = -np.inf
            kth = (
                -np.partition(-S, k - 1, axis=1)[:, k - 1]
                if S.shape[1] > k
                else np.full(S.shape[0], -np.inf)
            )
            ii, jj = np.nonzero((S >= (kth[:, None] - 1e-6)) & np.isfinite(S))
            yield pd.DataFrame(
                {q_id: q_ids[ii], c_id: cids[jj], "raw": S[ii, jj]}
            )

    ccols = [c_id, c_vec] + ([c_grp] if c_grp else [])
    partial = candidates.select(*ccols).mapInPandas(
        partial_topk, f"{q_id} long, {c_id} long, raw double"
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (
        partial.withColumn("score", F.round(F.col("raw"), 6))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(q_id, c_id, "score", "rk")
    )


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, score ≥ t).

    Exact all-pairs is O(n²·d); the naive spelling (cross join + per-pair
    ``zip_with``/``aggregate``) evaluates an interpreted higher-order
    expression n² times and dominates the whole bench suite. Instead this
    runs a distributed **block nested-loop**: rows hash into ``n_blocks``
    blocks, every unordered block pair (bi ≤ bj) becomes one
    ``applyInPandas`` group, and each group scores its |bi|×|bj| tile with
    one float64 BLAS matmul — the O(n²·d) flops run vectorized in C, and
    the tiles parallelize across executors (no driver collect, no
    broadcast of the corpus). Each row is replicated n_blocks+1 times by
    the block-pair join; at fixed tile size the replication factor is
    O(√tasks), the standard all-pairs shuffle bound.

    Rounding/threshold semantics stay engine-portable: the kernel emits
    raw float64 scores with a conservative pre-filter (threshold − 1e-6,
    i.e. wider than the half-ulp of the 6-dp rounding), and the exact
    ``round(score, 6) ≥ threshold`` cut happens in Spark, identical to the
    DuckDB oracle's formula.

    The scale path for cos ≥ 0.99 is still the hyperplane-bucketed
    variant (:func:`lsh_bucket_topk` machinery): near-dups collide in
    low-resolution buckets with overwhelming probability, replacing the
    n² tile sweep with per-bucket tiles.
    """
    import pandas as pd

    spark = embeddings.sparkSession
    e = embeddings.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("_blk"),
    )
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    # ONE scan of the (possibly expensive) embeddings subtree: an
    # OR-condition broadcast join against the 36-row pair table replaces
    # the two-join union, which would execute the whole upstream twice.
    joined = e.join(
        F.broadcast(block_pairs),
        (e["_blk"] == block_pairs["bi"]) | (e["_blk"] == block_pairs["bj"]),
    )
    sides = (
        F.when(F.col("bi") == F.col("bj"), F.array(F.lit(0), F.lit(1)))
        .when(F.col("_blk") == F.col("bi"), F.array(F.lit(0)))
        .otherwise(F.array(F.lit(1)))
    )
    tagged = joined.select(
        "bi", "bj", F.explode(sides).alias("_side"), "_id", "_v"
    )

    prefilter = threshold - 1e-6

    def score_tile(key, pdf):
        import numpy as np

        bi, bj = key
        lrows = pdf[pdf["_side"] == 0]
        rrows = pdf[pdf["_side"] == 1]
        empty = pd.DataFrame({"id_a": [], "id_b": [], "raw": []})
        if lrows.empty or rrows.empty:
            return empty
        ida = lrows["_id"].to_numpy()
        idb = rrows["_id"].to_numpy()
        A = np.array(lrows["_v"].tolist(), dtype=np.float64)
        B = np.array(rrows["_v"].tolist(), dtype=np.float64)
        S = (A @ B.T) / np.outer(
            np.sqrt((A * A).sum(axis=1)), np.sqrt((B * B).sum(axis=1))
        )
        hit = S >= prefilter
        if bi == bj:
            # same-block tile holds every row on both sides: keep the
            # strict upper triangle so each unordered pair emits once
            hit &= ida[:, None] < idb[None, :]
        ii, jj = np.nonzero(hit)
        if not ii.size:
            return empty
        lo = np.minimum(ida[ii], idb[jj])
        hi = np.maximum(ida[ii], idb[jj])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "raw": S[ii, jj]})

    scored = tagged.groupBy("bi", "bj").applyInPandas(
        score_tile, "id_a long, id_b long, raw double"
    )
    return (
        scored.withColumn("score", F.round(F.col("raw"), 6))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def plane_component(p: int, i: int) -> int:
    """Deterministic hyperplane component: 60-bit md5 of "p_i" mod 1000,
    shifted to [-500, 500). Seedless and engine-portable — Python hashlib,
    Spark md5() and DuckDB md5() all agree, so the SQL oracle can rebuild
    the identical planes (plans/similarity.py embeds these as literals)."""
    import hashlib

    return int(hashlib.md5(f"{p}_{i}".encode()).hexdigest()[:15], 16) % 1000 - 500


def hyperplane_signature(
    vec, n_planes: int, dim: int, plane_offset: int = 0
) -> F.Column:
    """Deterministic random-hyperplane LSH signature (bigint bucket id).

    Components are precomputed driver-side and embedded as literals — the
    expression tree carries plain doubles instead of n_planes×dim folded
    md5 calls, which keeps plan compilation O(ms). The signature packs
    sign(v·plane_p) bits. ``plane_offset`` selects an independent plane
    set (multi-table LSH: table t passes ``t·n_planes``)."""
    sig = None
    for p in range(n_planes):
        comps = F.array(
            *[
                F.lit(float(plane_component(plane_offset + p, i)))
                for i in range(dim)
            ]
        )
        dot = _dot(vec, comps)
        bit = F.when(dot >= 0, F.lit(1 << p).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = bit if sig is None else sig + bit
    return sig


def kmeans_codebook(
    candidates: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 5,
    c_id: str = "cid",
    c_vec: str = "ce",
):
    """Train an IVF coarse quantizer with distributed Lloyd k-means.

    Returns a ``(n_centroids, dim)`` float64 array for :func:`ivf_topk`'s
    ``codebook=`` parameter. Deterministic (k-lowest-id init, layout-
    invariant assignment), so IVF results stay reproducible run-to-run —
    but the centroids are DATA-derived, so a static SQL oracle can't
    rebuild them; the strided codebook remains the oracle-checkable
    variant while this is the production default (measured recall in
    SCALING.md: a trained codebook concentrates list occupancy where the
    data is, which is what lifts recall at a fixed nprobe budget).
    """
    import numpy as np

    from pm25ml_spark.operators.kmeans import kmeans_fit

    C, _ = kmeans_fit(
        candidates.select(c_id, c_vec),
        k=n_centroids,
        n_iter=n_iter,
        id_col=c_id,
        vec_col=c_vec,
    )
    return np.asarray(C, dtype=np.float64)


def exact_rescore(
    short: DataFrame,
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    q_id: str = "qid",
    c_id: str = "cid",
    q_vec: str = "qe",
    c_vec: str = "ce",
) -> DataFrame:
    """Two-stage ANN second stage, generalized (ss08's recipe for ANY
    first stage): take a shortlist of ``(q_id, c_id)`` pairs — an ADC
    compressed scan, an LSH probe union, an IVF probe, anything that
    winnowed — fetch ONLY those candidates' full vectors by broadcast
    fetch-by-id join (n_q · W rows against the corpus, never a second
    corpus-scan shape), and re-rank by the exact JVM cosine fold with
    the engine's 6-dp determinism contract. At 10^9 vectors the exact
    math touches W rows per query; the compressed stage's quantization
    error stops binding recall (the IVFADC remedy RECALL.md measures:
    rerank restores what a 16-cell residual codebook loses). Returns
    ``(q_id, c_id, score, rk)``, rk ≤ k."""
    pairs = short.select(q_id, c_id).distinct()
    exact = (
        F.broadcast(pairs)
        .join(candidates.select(c_id, c_vec), c_id)
        .join(F.broadcast(queries.select(q_id, q_vec)), q_id)
        .select(
            q_id,
            c_id,
            F.round(
                _dot(F.col(q_vec), F.col(c_vec))
                / (_norm(F.col(q_vec)) * _norm(F.col(c_vec))),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(q_id, c_id, "score", "rk")
    )


def _ivf_codebook_arrays(
    source: DataFrame,
    centroid_stride: int,
    centroid_offset: int,
    codebook,
    c_id: str,
    c_vec: str,
    codebook_ids=None,
):
    """(cen_ids, CM) coarse-quantizer arrays: an explicit trained
    ``codebook`` (list ids 0..k-1, or ``codebook_ids`` when the caller
    pins the list identities — e.g. a persisted retrained model whose
    lists keep their centroid vector ids) or the deterministic strided
    selection collected from ``source`` (contract-small — the
    bounded-collect precedent)."""
    import numpy as np

    if codebook is not None:
        CM = np.asarray(codebook, dtype=np.float64)
        if codebook_ids is not None:
            ids = np.asarray(codebook_ids, dtype=np.int64)
            if len(ids) != len(CM):
                raise ValueError(
                    f"codebook_ids has {len(ids)} entries for "
                    f"{len(CM)} centroids"
                )
            return ids, CM
        return np.arange(len(CM), dtype=np.int64), CM
    cent = source.filter(
        (F.col(c_id) % centroid_stride) == centroid_offset
    ).select(F.col(c_id).alias("cen_id"), F.col(c_vec).alias("cen_vec"))
    crows = cent.collect()  # coarse codebook: small by construction
    if not crows:
        raise ValueError(
            "ivf_topk: centroid selection (id % "
            f"{centroid_stride} == {centroid_offset}) matched no candidates — "
            "choose a stride/offset that hits the id space, or use "
            "cosine_topk / lsh_bucket_topk"
        )
    cen_ids = np.array([r[0] for r in crows], dtype=np.int64)
    CM = np.array([list(r[1]) for r in crows], dtype=np.float64)
    return cen_ids, CM


def ivf_assign(
    candidates: DataFrame,
    centroid_stride: int = 100,
    centroid_offset: int = 7,
    codebook=None,
    c_id: str = "cid",
    c_vec: str = "ce",
    cen_source: DataFrame | None = None,
    codebook_ids=None,
) -> DataFrame:
    """The INDEX-BUILD half of IVF: assign every candidate its nearest
    coarse centroid by rounded cosine (ties: lower cen id) and return
    the inverted-list table ``(c_id, c_vec, cnorm, cen)`` — vectors
    stored in their lists with their precomputed L2 norm, the
    inverted-FILE layout a production ANN store persists once per
    corpus version and serves every query from (``plans/similarity.py``
    stages it via ``plans/artifacts``). The vectorized Arrow kernel
    lives HERE, in the one-time build — the staged consumers'
    query-time plans carry zero Python stages, and the stored ``cnorm``
    saves a per-pair norm fold at query time.

    ``cen_source``: optional frame the strided coarse quantizer is
    collected from (defaults to ``candidates``). The INCREMENTAL-INGEST
    refresh passes the established corpus here while assigning only the
    new batch — a production store keeps its quantizer FIXED across
    refreshes precisely so list assignments stay append-only."""
    import numpy as np

    sc = candidates.sparkSession.sparkContext
    cen_ids_a, CM_a = _ivf_codebook_arrays(
        cen_source if cen_source is not None else candidates,
        centroid_stride,
        centroid_offset,
        codebook,
        c_id,
        c_vec,
        codebook_ids=codebook_ids,
    )
    cn = np.sqrt((CM_a * CM_a).sum(axis=1))
    bc = sc.broadcast((cen_ids_a, CM_a, cn))

    def assign(batches):
        cids, M, n = bc.value
        order = np.argsort(cids)
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(pdf[c_vec].tolist(), dtype=np.float64)
            S = np.round(
                (V @ M.T) / np.outer(np.sqrt((V * V).sum(axis=1)), n), 6
            )
            # argmax by (score DESC, cen_id ASC): scan columns in
            # ascending-id order, keep strict improvements only
            best = np.full(len(V), -1)
            best_s = np.full(len(V), -np.inf)
            for j in order:
                better = S[:, j] > best_s
                best[better] = cids[j]
                best_s[better] = S[better, j]
            out = pdf[[c_id, c_vec]].copy()
            out["cnorm"] = np.sqrt((V * V).sum(axis=1))
            out["cen"] = best
            # assigned-list similarity: the quantization-quality signal
            # the drift audit folds per commit (ivf_commit_audit) — a
            # frozen quantizer that stops covering new ingest shows up
            # as this column's distribution collapsing, commits before
            # queries ever degrade
            out["asim"] = best_s
            yield out

    vec_type = dict(candidates.dtypes)[c_vec]
    return candidates.select(c_id, c_vec).mapInPandas(
        assign,
        f"{c_id} long, {c_vec} {vec_type}, cnorm double, cen long, "
        f"asim double",
    )


def _ivf_audit_exprs() -> dict:
    return {
        "n": F.count(F.lit(1)),
        "md": F.avg(F.lit(1.0) - F.col("asim")),
        "oo": F.avg(F.when(F.col("asim") <= 0.0, 1.0).otherwise(0.0)),
    }


def _ivf_audit_fields(r) -> dict:
    return {
        "ivf_drift": {
            "n_rows": int(r["n"]),
            "mean_dist": float(r["md"]) if r["md"] is not None else None,
            "out_of_halfspace_frac": float(r["oo"] or 0.0),
        }
    }


def ivf_commit_audit(written: DataFrame) -> dict:
    """Per-commit IVF assignment-quality counters for the txlog entry
    (``TxTable.append(entry_extra=...)``): row count, mean assigned-
    list cosine DISTANCE (1 − asim), and the fraction of vectors whose
    assigned similarity is ≤ 0 (no centroid even in their half-space,
    i.e. a vector the frozen quantizer cannot place). One tiny
    aggregate over the commit's already-written files. Prefer
    :func:`ivf_audit_observed` on write paths — same counters, no
    extra Spark job."""
    r = written.agg(
        *[c.alias(k) for k, c in _ivf_audit_exprs().items()]
    ).collect()[0]
    return _ivf_audit_fields(r)


def ivf_audit_observed(extra_fields: dict | None = None):
    """The :func:`ivf_commit_audit` counters as an
    :class:`~pm25ml_spark.sources.txlog.ObservedEntryExtra` — the
    aggregate rides the commit's WRITE job (``DataFrame.observe``)
    instead of re-reading the just-written files, so a maintained
    index pays one Spark job per commit, not two. ``extra_fields``
    merges additional constant entry fields (e.g. a retrain's
    ``ivf_model``)."""
    from pm25ml_spark.sources.txlog import ObservedEntryExtra

    def fin(metrics: dict) -> dict:
        out = _ivf_audit_fields(metrics)
        if extra_fields:
            out.update(extra_fields)
        return out

    return ObservedEntryExtra(_ivf_audit_exprs(), fin)


def ivf_drift_report(
    table, ratio_threshold: float = 1.5, halfspace_threshold: float = 0.1
) -> dict:
    """Fold a maintained IVF index's per-commit ``ivf_drift`` audits
    into a RETRAIN signal. The coarse quantizer is frozen across
    refreshes (that is what keeps them append-only), so ingest drift
    shows up as later commits' mean assigned-list distance growing
    relative to the BASE commit's. ``retrain`` fires when any refresh
    commit's mean distance exceeds ``ratio_threshold ×`` the base's, or
    its out-of-halfspace fraction crosses ``halfspace_threshold``.
    Reads the commit LOG only — results stay oracle-green regardless
    (assignment to the nearest FROZEN centroid is still exact); the
    signal is about recall economics, not correctness.

    An ``ivf_model`` entry (a :func:`retrain_ivf` rewrite) RESETS the
    fold — drift is always measured against the CURRENT frozen
    quantizer, and the retrain commit's own audit becomes the new
    base, so the signal clears once the repair lands."""
    audits = []
    for e in table.history():
        if e.get("ivf_model"):
            audits = []
        if e.get("ivf_drift"):
            audits.append((e["version"], e["ivf_drift"]))
    if not audits:
        return {"commits": 0, "retrain": False, "worst_ratio": 0.0}
    base = audits[0][1]["mean_dist"] or 1e-12
    worst = 0.0
    worst_oo = 0.0
    for _v, a in audits[1:]:
        if a["mean_dist"] is not None:
            worst = max(worst, a["mean_dist"] / max(base, 1e-12))
        worst_oo = max(worst_oo, a["out_of_halfspace_frac"])
    return {
        "commits": len(audits),
        "base_mean_dist": base,
        "worst_ratio": worst,
        "worst_out_of_halfspace_frac": worst_oo,
        "retrain": worst > ratio_threshold or worst_oo > halfspace_threshold,
    }


def retrain_ivf(
    table,
    centroid_stride: int = 100,
    centroid_offset: int = 7,
    use_kmeans: bool = False,
    n_centroids: int = 16,
    c_id: str = "cid",
    c_vec: str = "ce",
) -> tuple[int, dict]:
    """The REPAIR verb :func:`ivf_drift_report` recommends: train a
    FRESH coarse quantizer from the table's CURRENT vectors
    (strided selection by default, distributed k-means with
    ``use_kmeans=True``), re-assign every vector to its nearest new
    centroid, and atomically OVERWRITE the inverted-list table so
    consumers never see a mixed index — old snapshots still time-travel
    to the old lists. The commit carries the new quantizer
    (``ivf_model``: centroid ids + the centroid matrix, a bounded
    driver array by the codebook contract) so incremental maintenance
    can resume against the retrained model
    (``ivf_assign(batch, codebook=model["codebook"],
    codebook_ids=model["cen_ids"])``), plus its own assignment audit —
    which becomes the drift fold's new base, resetting the signal at
    the model boundary.

    Returns ``(version, model)``. Cost is one full re-assignment +
    rewrite — exactly why drift is MONITORED instead of retraining per
    refresh: the signal decides when the rewrite is worth it."""
    import numpy as np

    current = table.read().select(c_id, c_vec)
    if use_kmeans:
        CM = kmeans_codebook(
            current, n_centroids=n_centroids, c_id=c_id, c_vec=c_vec
        )
        cen_ids = np.arange(len(CM), dtype=np.int64)
        kind = {"kind": "kmeans", "n_centroids": int(n_centroids)}
    else:
        cen_ids, CM = _ivf_codebook_arrays(
            current, centroid_stride, centroid_offset, None, c_id, c_vec
        )
        kind = {
            "kind": "strided",
            "stride": int(centroid_stride),
            "offset": int(centroid_offset),
        }
    assigned = ivf_assign(
        current,
        codebook=CM,
        codebook_ids=cen_ids,
        c_id=c_id,
        c_vec=c_vec,
    )
    model = {
        **kind,
        "cen_ids": [int(i) for i in cen_ids],
        "codebook": [[float(x) for x in row] for row in CM],
    }
    nparts = current.sparkSession.sparkContext.defaultParallelism
    v = table.overwrite(
        assigned.repartitionByRange(nparts, F.col("cen")),
        stats_cols=["cen"],
        entry_extra=ivf_audit_observed({"ivf_model": model}),
    )
    return v, model


def ivf_probe_topk(
    queries: DataFrame,
    lists: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    centroid_stride: int = 100,
    centroid_offset: int = 7,
    codebook=None,
    q_id: str = "qid",
    c_id: str = "cid",
    q_vec: str = "qe",
    c_vec: str = "ce",
) -> DataFrame:
    """The QUERY half of IVF over a pre-built inverted-list table
    (:func:`ivf_assign` output, usually read back from the staged
    artifact): probe selection is one driver-side numpy pass over the
    contract-small query batch, and the plan is broadcast-join + JVM
    ``zip_with``/``aggregate`` cosine + one top-k window — ZERO Python
    stages at query time (the pin shape of the staged-PQ consumers).
    Scores are rounded to 6 dp before ranking, which absorbs the
    summation-order divergence between this ordered fold and the
    BLAS-tile scorer in :func:`ivf_topk` (~1e-13, seven orders below
    the rounding step)."""
    import numpy as np

    spark = lists.sparkSession
    cen_ids, CM = _ivf_codebook_arrays(
        lists, centroid_stride, centroid_offset, codebook, c_id, c_vec
    )
    cn = np.sqrt((CM * CM).sum(axis=1))
    qrows = queries.select(q_id, q_vec).collect()  # probe batch: small
    probe_rows = []
    for r in qrows:
        qv = np.array(list(r[1]), dtype=np.float64)
        S = np.round((CM @ qv) / (cn * np.sqrt(qv @ qv)), 6)
        order = sorted(range(len(cen_ids)), key=lambda j: (-S[j], cen_ids[j]))
        probe_rows.extend(
            (int(r[0]), int(cen_ids[j])) for j in order[:nprobe]
        )
    probes = spark.createDataFrame(probe_rows, f"{q_id} long, cen long")
    # norms are projected ONCE per side (query norms on the tiny
    # broadcast frame, candidate norms stored in the staged lists at
    # build time) so the per-pair expression is a single dot fold. The
    # numpy-vs-fold summation-order divergence (~1e-13) sits far below
    # the 6-dp rounding on the final score, the module-wide contract.
    qvecs = queries.select(q_id, q_vec).withColumn(
        "__qnorm", _norm(F.col(q_vec))
    )
    cnorm = (
        F.col("cnorm") if "cnorm" in lists.columns else _norm(F.col(c_vec))
    )
    score = F.round(
        _dot(F.col(q_vec), F.col(c_vec)) / (F.col("__qnorm") * cnorm),
        6,
    )
    pairs = (
        lists.join(F.broadcast(probes), "cen")
        .join(F.broadcast(qvecs), q_id)
        .filter(F.col(q_id) != F.col(c_id))
        .select(q_id, c_id, score.alias("score"))
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (
        pairs.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(q_id, c_id, "score", "rk")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    centroid_stride: int = 100,
    centroid_offset: int = 7,
    codebook=None,
    q_id: str = "qid",
    c_id: str = "cid",
    q_vec: str = "qe",
    c_vec: str = "ce",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k over an embedding column.

    The other half of the ANN scale path next to :func:`lsh_bucket_topk`:

    1. **Coarse quantizer** — either an explicit ``codebook`` array
       (pass :func:`kmeans_codebook` output — the production default:
       trained centroids follow the data distribution, so inverted lists
       are balanced and a fixed ``nprobe`` covers far more of each
       query's true neighbourhood), or a deterministic strided centroid
       set (every ``centroid_stride``-th candidate by id — data-
       independent, so a static SQL oracle can rebuild it verbatim;
       this is the oracle-checkable variant).
    2. **Inverted lists** — every candidate is assigned to its nearest
       centroid by cosine (one BLAS tile per batch; ties broken by
       rounded score DESC, centroid id ASC — the engine-portable order).
    3. **Probe** — each query searches only the lists of its ``nprobe``
       nearest centroids: a broadcast (qid, centroid) probe table joins
       against the assignment, shrinking the scored set
       ~n_centroids/nprobe-fold; scoring is vectorized per batch.

    At 10^9 vectors the assignment pass is a single narrow map, the
    probe join shuffles only list-sized slices, and nothing ever
    materializes the n_q × n_c cross product.
    """
    import numpy as np
    import pandas as pd

    spark = candidates.sparkSession
    sc = spark.sparkContext

    cen_ids, CM = _ivf_codebook_arrays(
        candidates, centroid_stride, centroid_offset, codebook, c_id, c_vec
    )
    cn = np.sqrt((CM * CM).sum(axis=1))
    assigned = ivf_assign(
        candidates,
        centroid_stride,
        centroid_offset,
        codebook=codebook,
        c_id=c_id,
        c_vec=c_vec,
    )

    qrows = queries.select(q_id, q_vec).collect()  # probe batch: small
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    QS = np.round(
        (Q @ CM.T) / np.outer(np.sqrt((Q * Q).sum(axis=1)), cn), 6
    )
    probe_rows = []
    for qi in range(len(qids)):
        order = sorted(
            range(len(cen_ids)), key=lambda j: (-QS[qi, j], cen_ids[j])
        )
        probe_rows.extend(
            (int(qids[qi]), int(cen_ids[j])) for j in order[:nprobe]
        )
    probes = spark.createDataFrame(probe_rows, f"{q_id} long, cen long")
    bq = sc.broadcast((qids, Q, np.sqrt((Q * Q).sum(axis=1))))

    def score(batches):
        q_ids, q_mat, q_norms = bq.value
        pos = {int(q): i for i, q in enumerate(q_ids)}
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.array(pdf[c_vec].tolist(), dtype=np.float64)
            idx = pdf[q_id].map(pos).to_numpy()
            raw = (C * q_mat[idx]).sum(axis=1) / (
                np.sqrt((C * C).sum(axis=1)) * q_norms[idx]
            )
            out = pd.DataFrame(
                {q_id: pdf[q_id].to_numpy(), c_id: pdf[c_id].to_numpy(), "raw": raw}
            )
            yield out[out[q_id] != out[c_id]]

    pairs = assigned.join(F.broadcast(probes), "cen").mapInPandas(
        score, f"{q_id} long, {c_id} long, raw double"
    )
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (
        pairs.withColumn("score", F.round(F.col("raw"), 6))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(q_id, c_id, "score", "rk")
    )


def probe_masks(n_planes: int, probe_hamming: int) -> list[int]:
    """XOR masks enumerating every bucket within Hamming distance
    ``probe_hamming`` of a signature (identity mask first). Distinct by
    construction, so multi-probe never duplicates a (query, candidate)
    pair — a candidate lives in exactly one bucket."""
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << p for p in range(n_planes)]
    if probe_hamming >= 2:
        masks += [
            (1 << p) | (1 << r)
            for p in range(n_planes)
            for r in range(p + 1, n_planes)
        ]
    if probe_hamming >= 3:
        raise ValueError("probe_hamming > 2 not supported (use fewer planes)")
    return masks


def lsh_bucket_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 1,
    n_planes: int = 8,
    dim: int = 64,
    probe_hamming: int = 0,
    n_tables: int = 1,
    q_id: str = "qid",
    c_id: str = "cid",
    q_vec: str = "qe",
    c_vec: str = "ce",
) -> DataFrame:
    """Approximate top-k: only candidates in the query's hyperplane bucket
    are scored. The bucket join replaces the cross join — at 10^9 vectors
    with 2^n_planes buckets the probe set shrinks ~2^n_planes-fold.

    **Multi-probe** (``probe_hamming`` ≥ 1): a true near neighbour that
    straddles one or two hyperplanes lands in a Hamming-adjacent bucket,
    and with a single probe it is simply lost — the round-5 recall
    measurement showed recall@1 ≈ 0 on an isotropic corpus for exactly
    this reason. Probing all buckets within Hamming distance h multiplies
    the candidate budget by ``1 + C(n,1) [+ C(n,2)]`` while recovering the
    mass of the signature's noise band, the classic multi-probe LSH
    trade (Lv et al., VLDB'07): far better recall per candidate than
    spending the same budget on fewer planes. Only the QUERY side fans
    out (n_probes rows per query, still broadcast); the corpus is hashed
    once per table and never replicated — the 100 TB shape is unchanged.

    **Multi-table** (``n_tables`` ≥ 2): L independent plane sets (table t
    draws planes ``t·n_planes … (t+1)·n_planes−1``), candidates taken
    from the union of per-table bucket matches — the classic L-table LSH
    index. Where multi-probe recovers the noise band of ONE projection,
    extra tables draw fresh projections, which is what buys recall on
    structureless corpora: the measured frontier (SCALING.md) reaches
    recall 0.45 at ~0.09 candidate fraction (12 planes / h=2 / 4 tables)
    vs 0.53 at 0.35 for the single-table default — ~4× fewer candidates
    per point of recall. Cost: each item carries L postings (the corpus
    side of the join fans out L×, the standard L-table index size), and
    a pair matching in several tables is deduplicated by a
    map-side-combinable first-score aggregate before ranking.

    Fully deterministic (hash-derived planes, enumerated masks), so
    oracle-checkable at any probe radius / table count.
    """
    postings = lsh_postings(
        candidates, n_planes=n_planes, dim=dim, n_tables=n_tables,
        c_id=c_id, c_vec=c_vec,
    )
    return lsh_probe_topk(
        queries, postings, k=k, n_planes=n_planes, dim=dim,
        probe_hamming=probe_hamming, n_tables=n_tables,
        q_id=q_id, c_id=c_id, q_vec=q_vec, c_vec=c_vec,
    )


def lsh_postings(
    candidates: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 1,
    c_id: str = "cid",
    c_vec: str = "ce",
    meta_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The corpus side of the LSH index — one ``(tbl, bucket, cid, ce)``
    posting per (item, table). THIS is the table a production deployment
    stages once per corpus version and serves every query from (see
    ``plans/similarity._lsh_postings_staged``): hashing 10^9 vectors
    through L×n_planes hyperplanes is the expensive half of the bucket
    join, and it depends only on the corpus, never on the query set.
    Because the signature has no trained component, the postings table is
    append-only under ingest — a new batch hashes and appends its own
    rows without touching (or even reading) existing postings, the same
    refresh-lifecycle shape as the frozen-quantizer IVF lists.

    ``meta_cols`` copies metadata columns (e.g. a label) into each
    posting — the filtered-search layout: a metadata predicate then
    evaluates on index rows inside the bucket join (pre-filter) with no
    corpus fetch, and consumers that don't filter never pay for the
    extra column (Catalyst prunes it out of their scan)."""
    entries = [
        F.struct(
            F.lit(t).alias("tbl"),
            hyperplane_signature(
                F.col(c_vec), n_planes, dim, plane_offset=t * n_planes
            ).alias("bucket"),
        )
        for t in range(n_tables)
    ]
    return candidates.withColumn("__c", F.explode(F.array(*entries))).select(
        F.col("__c.tbl").alias("tbl"),
        F.col("__c.bucket").alias("bucket"),
        c_id,
        c_vec,
        *meta_cols,
    )


def lsh_probe_topk(
    queries: DataFrame,
    postings: DataFrame,
    k: int = 1,
    n_planes: int = 8,
    dim: int = 64,
    probe_hamming: int = 0,
    n_tables: int = 1,
    q_id: str = "qid",
    c_id: str = "cid",
    q_vec: str = "qe",
    c_vec: str = "ce",
    q_meta: tuple[str, ...] = (),
    pair_filter=None,
) -> DataFrame:
    """Query-time half of the LSH index: fan each query out to its probe
    buckets (multi-probe masks × tables — small, broadcast), join the
    postings table on ``(tbl, bucket)``, score matches with the exact
    JVM cosine, and rank. Zero Python stages; with staged postings the
    only corpus-shaped work is the bucket-join itself.

    FILTERED search: ``pair_filter`` (a Column over probe-side
    ``q_meta`` columns and posting-side ``meta_cols``) is applied
    inside the bucket join, BEFORE scoring and ranking — the pre-filter
    strategy: a predicate like ``label == query.label`` evaluates on
    index rows, rejected candidates are never scored, and top-k ranks
    only true matches (a post-filter would rank first and could return
    fewer than k survivors)."""
    masks = probe_masks(n_planes, probe_hamming)
    # Expression-size discipline: the signature is a ~(n_planes × dim)-
    # term arithmetic tree. Building tables × masks probe STRUCTS that
    # each reference the signature lets CollapseProject inline that
    # tree into every entry — at 4 tables × 37 masks that is a ~76k-node
    # expression (codegen falls over, planning dominates wall time; the
    # r11 retune surfaced it as an 8× query slowdown). Instead: compute
    # the L signatures ONCE per row as an array, posexplode it (the
    # Generate node is a projection-collapse barrier, and one generator
    # keeps the query side a SINGLE scan — pinned), then explode the
    # tiny literal mask array and XOR post-explode: expression work is
    # O(L · planes · dim) per row, never multiplied by the probe count.
    sigs = F.array(
        *[
            hyperplane_signature(
                F.col(q_vec), n_planes, dim, plane_offset=t * n_planes
            )
            for t in range(n_tables)
        ]
    )
    qs = (
        queries.select(
            q_id, q_vec, *q_meta, F.posexplode(sigs).alias("tbl", "__sig")
        )
        .withColumn(
            "__m",
            F.explode(F.array(*[F.lit(m).cast("bigint") for m in masks])),
        )
        .withColumn("bucket", F.col("__sig").bitwiseXOR(F.col("__m")))
        .select(q_id, q_vec, *q_meta, "tbl", "bucket")
    )
    pairs = postings.join(F.broadcast(qs), ["tbl", "bucket"]).filter(
        F.col(q_id) != F.col(c_id)
    )
    if pair_filter is not None:
        pairs = pairs.filter(pair_filter)
    score = F.round(
        _dot(F.col(q_vec), F.col(c_vec)) / (_norm(F.col(q_vec)) * _norm(F.col(c_vec))),
        6,
    )
    scored = pairs.select(q_id, c_id, score.alias("score"))
    if n_tables > 1:
        # a pair found in several tables must rank once: identical score
        # in every table ⇒ first() is value-deterministic, and the hash
        # aggregate combines map-side before the exchange
        scored = scored.groupBy(q_id, c_id).agg(F.first("score").alias("score"))
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (
        scored
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


# --------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): compress each vector to m subspace code ids
# and answer queries with asymmetric distance computation (ADC) against a
# per-query lookup table. Unlike the BLAS-tile operators above this pair
# is PURE JVM DataFrame algebra — slice/zip_with/aggregate expressions
# inside whole-stage codegen, no Python workers — because the distances
# are short fixed-order folds the engines (and the DuckDB oracle) can
# reproduce bit-for-bit after 6-dp rounding.


def _sub_l2(a, b) -> F.Column:
    """Σ (a_i − b_i)² as an ordered left fold in DOUBLE — the exact
    expression shape the oracle mirrors with list_transform/list_sum."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _subspaces(df: DataFrame, id_out: str, vec: str, m: int, sub_dim: int):
    """(id, s, sub) — one row per subspace slice of each vector."""
    arr = F.array(
        *[F.slice(F.col(vec), s * sub_dim + 1, sub_dim) for s in range(m)]
    )
    return df.select(F.col(id_out), F.posexplode(arr).alias("s", "sub"))


def pq_codebook_subspaces(
    candidates: DataFrame,
    m: int,
    sub_dim: int,
    stride: int = 31,
    offset: int = 7,
    c_id: str = "cid",
    c_vec: str = "ce",
) -> DataFrame:
    """Deterministic strided PQ codebook, pre-split into subspaces:
    (cen_id, s, csub). Data-independent selection (id % stride == offset)
    so a static SQL oracle rebuilds it verbatim; K grows with the corpus
    (finer quantizer at larger scale), stays broadcastable regardless."""
    cents = candidates.filter((F.col(c_id) % stride) == offset).select(
        F.col(c_id).alias("cen_id"), F.col(c_vec).alias("cv")
    )
    return _subspaces(cents, "cen_id", "cv", m, sub_dim).withColumnRenamed(
        "sub", "csub"
    )


def pq_encode(
    candidates: DataFrame,
    csubs: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    c_id: str = "cid",
    c_vec: str = "ce",
    prune: bool = True,
) -> DataFrame:
    """Assign every (vector, subspace) its nearest codebook id: (cid, s,
    code). Argmin is min(struct(rounded_dist, cen_id)): lexicographic
    struct order gives the engine-portable tie-break.

    ``prune=True`` (default): a vectorized Arrow kernel first shrinks
    each (vector, subspace)'s codebook from K to the near-argmin set —
    every centroid within 1e-5 of the float64 minimum, a GUARANTEED
    superset of the rounded-d6 argmin (rounding moves a distance ≤ 5e-7
    and the kernel/JVM float-order disagreement is ~1e-12, both far
    inside the margin) — and the exact JVM fold + rounded tie-break only
    runs on the ~1-per-row survivors. Same answer as the pure-JVM path
    (equivalence-tested), ~K× less exact-expression work: the kernel is
    one BLAS-shaped batch op, the decision stays engine-portable.

    ``prune=False`` is the reference shape the oracle mirrors: the full
    candidate×codebook explosion inside a broadcast join, min-combined
    map-side so only n·m assignment rows reach an exchange.
    """
    if not prune:
        subs = _subspaces(candidates, c_id, c_vec, m, sub_dim)
        enc = subs.join(F.broadcast(csubs), "s").select(
            c_id,
            "s",
            F.struct(
                F.round(_sub_l2(F.col("sub"), F.col("csub")), 6).alias("d6"),
                F.col("cen_id"),
            ).alias("dc"),
        )
        return (
            enc.groupBy(c_id, "s")
            .agg(F.min("dc").alias("best"))
            .select(c_id, "s", F.col("best.cen_id").alias("code"))
        )

    import numpy as np
    import pandas as pd

    # materializes the codebook at construction time (the ivf_topk
    # precedent) — K·m·sub_dim values, contract-small. The arrays ride
    # in the kernel closure (~tens of KB), not an sc.broadcast, so
    # repeated calls leak nothing on executors.
    crows = csubs.collect()
    by_s: dict[int, list] = {}
    for r in crows:
        by_s.setdefault(int(r["s"]), []).append(
            (int(r["cen_id"]), list(r["csub"]))
        )
    cen_ids = np.array(
        sorted({i for entries in by_s.values() for i, _ in entries}),
        dtype=np.int64,
    )
    # loud completeness check: a grid with any (s, cen_id) hole would
    # otherwise compare against unset rows and prune the true argmin.
    # Compares the DISTINCT id set per subspace, not entry counts — a
    # duplicated (s, cen_id) masking a missing cell must raise, not leave
    # a NaN row that silently empties the prune mask.
    want = set(int(i) for i in cen_ids)
    if sorted(by_s) != list(range(m)) or any(
        {i for i, _ in entries} != want for entries in by_s.values()
    ):
        raise ValueError(
            "pq_encode: codebook is not a complete m x K grid "
            f"(m={m}, K={len(cen_ids)}, subspaces={sorted(by_s)})"
        )
    mats = np.full((m, len(cen_ids), sub_dim), np.nan, dtype=np.float64)
    pos = {int(i): j for j, i in enumerate(cen_ids)}
    for s, entries in by_s.items():
        for i, v in entries:
            mats[s, pos[i]] = v

    def prune_kernel(batches):
        ids, M = cen_ids, mats
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(pdf[c_vec].tolist(), dtype=np.float64)
            out_id, out_s, out_sub, out_near = [], [], [], []
            for s in range(m):
                Vs = V[:, s * sub_dim : (s + 1) * sub_dim]
                diff = Vs[:, None, :] - M[s][None, :, :]
                D = (diff * diff).sum(axis=-1)
                thr = D.min(axis=1, keepdims=True) + 1e-5
                mask = D <= thr
                for b in range(len(V)):
                    out_id.append(pdf[c_id].iat[b])
                    out_s.append(s)
                    out_sub.append(Vs[b].tolist())
                    out_near.append(ids[mask[b]].tolist())
            yield pd.DataFrame(
                {c_id: out_id, "s": out_s, "sub": out_sub, "near": out_near}
            )

    # the id column keeps its own type (long ids here, but string doc
    # ids etc. must survive the kernel exactly like the pure-JVM path)
    id_type = dict(candidates.dtypes)[c_id]
    near = candidates.select(c_id, c_vec).mapInPandas(
        prune_kernel,
        f"{c_id} {id_type}, s int, sub array<double>, near array<bigint>",
    )
    enc = near.select(
        c_id, "s", "sub", F.explode("near").alias("cen_id")
    ).join(F.broadcast(csubs), ["s", "cen_id"]).select(
        c_id,
        "s",
        F.struct(
            F.round(_sub_l2(F.col("sub"), F.col("csub")), 6).alias("d6"),
            F.col("cen_id"),
        ).alias("dc"),
    )
    return (
        enc.groupBy(c_id, "s")
        .agg(F.min("dc").alias("best"))
        .select(c_id, "s", F.col("best.cen_id").alias("code"))
    )


def pq_adc_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    m: int = 8,
    sub_dim: int = 8,
    stride: int = 31,
    offset: int = 7,
    q_id: str = "qid",
    c_id: str = "cid",
    q_vec: str = "qe",
    c_vec: str = "ce",
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ/ADC approximate top-k: (qid, cid, adist, rk).

    Per query the lookup table holds its distance to every (subspace,
    code) cell — n_q·m·K rows, broadcast — and each candidate's
    approximate distance is the decimal-sum of m table lookups keyed by
    its stored codes. At 10^9 candidates the corpus side is one narrow
    codes table (m small ints per vector — the 64×-compressed sketch of
    the corpus), the scoring join is broadcast, and the partial sums
    combine map-side; nothing quadratic ever materializes.

    ``codes``: a precomputed (c_id, s, code) table — THE INDEX a
    production ANN system stages once and serves many queries from
    (pass the staged-artifact read); must have been encoded with the
    same (m, sub_dim, stride, offset). Built from ``candidates`` when
    omitted."""
    csubs = pq_codebook_subspaces(
        candidates, m, sub_dim, stride, offset, c_id, c_vec
    )
    if codes is None:
        codes = pq_encode(candidates, csubs, m, sub_dim, c_id, c_vec)
    qsubs = _subspaces(queries, q_id, q_vec, m, sub_dim)
    lut = qsubs.join(F.broadcast(csubs), "s").select(
        q_id,
        "s",
        F.col("cen_id").alias("code"),
        F.round(_sub_l2(F.col("sub"), F.col("csub")), 6).alias("d6"),
    )
    part = codes.join(F.broadcast(lut), ["s", "code"]).filter(
        F.col(q_id) != F.col(c_id)
    )
    agg = part.groupBy(q_id, c_id).agg(
        F.sum(F.col("d6").cast("decimal(38,6)")).cast("double").alias("adist")
    )
    w = Window.partitionBy(q_id).orderBy(F.asc("adist"), F.asc(c_id))
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(q_id, c_id, "adist", "rk")
    )


def pq_rerank_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    shortlist_k: int = 20,
    m: int = 8,
    sub_dim: int = 8,
    stride: int = 31,
    offset: int = 7,
    q_id: str = "qid",
    c_id: str = "cid",
    q_vec: str = "qe",
    c_vec: str = "ce",
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ/ADC shortlist + exact L2 re-rank: (qid, cid, dist, rk).

    The standard exactness-restoring second stage: the compressed ADC
    scan winnows to ``shortlist_k`` ids per query, then ONLY those rows'
    full vectors are fetched (the n_q·shortlist_k shortlist broadcasts
    against the corpus — fetch-by-id, never a second corpus scan shape)
    and re-ranked by the full-dimension exact fold. ``codes`` forwards a
    staged index to the ADC stage (see :func:`pq_adc_topk`)."""
    short = pq_adc_topk(
        queries,
        candidates,
        k=shortlist_k,
        m=m,
        sub_dim=sub_dim,
        stride=stride,
        offset=offset,
        q_id=q_id,
        c_id=c_id,
        q_vec=q_vec,
        c_vec=c_vec,
        codes=codes,
    ).select(q_id, c_id)
    exact = (
        F.broadcast(short)
        .join(candidates, c_id)
        .join(F.broadcast(queries), q_id)
        .select(
            q_id,
            c_id,
            F.round(_sub_l2(F.col(q_vec), F.col(c_vec)), 6).alias("dist"),
        )
    )
    w = Window.partitionBy(q_id).orderBy(F.asc("dist"), F.asc(c_id))
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(q_id, c_id, "dist", "rk")
    )


def ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
    nprobe: int = 4,
    coarse_stride: int = 100,
    coarse_offset: int = 7,
    m: int = 16,
    sub_dim: int = 4,
    pq_stride: int = 13,
    pq_offset: int = 7,
    q_id: str = "qid",
    c_id: str = "cid",
    q_vec: str = "qe",
    c_vec: str = "ce",
) -> DataFrame:
    """IVFADC (Jégou et al. 2011 §IV): the billion-scale ANN composition —
    IVF coarse lists to prune WHICH vectors are scored, residual PQ codes
    to compress HOW they are scored. This is the FAISS ``IVFx,PQy``
    default and the shape a 100 TB embedding store actually runs:

    1. **Coarse quantizer** — strided centroid set (data-independent so
       the SQL oracle rebuilds it; ``kmeans_codebook`` is the production
       choice, as in :func:`ivf_topk`). One numpy kernel assigns every
       candidate its nearest coarse centroid by rounded L2 (ties: lower
       cen id) and emits the RESIDUAL ``c − centroid`` — float64
       subtraction, bit-exact in any engine.
    2. **Residual PQ** — :func:`pq_encode` quantizes the residuals
       against a residual codebook (strided candidate ids again), so the
       corpus collapses to one narrow table: (cid, coarse cen, m codes).
    3. **Probe + ADC** — each query probes its ``nprobe`` nearest coarse
       lists; its LUT is built from the PER-LIST residual ``q − centroid``
       (the part plain PQ skips — reusing one LUT across lists is the
       IVFADC approximation error), joins broadcast against the codes
       keyed (cen, s, code), and the approximate distance is the decimal
       sum of m lookups — map-side combinable, order-independent.

    At 10^9 vectors: the corpus side carries m+1 small ints per vector
    (64× compression at the defaults), the probe LUT is n_q·nprobe·m·K
    broadcast rows, and nothing quadratic materializes. Returns
    (q_id, c_id, adist, rk)."""
    cen_ids, CM = ivfpq_coarse_arrays(
        candidates, coarse_stride, coarse_offset, c_id, c_vec
    )

    # Persisted: the coarse-assign kernel is the full-corpus Python pass,
    # and four downstream consumers re-evaluate it otherwise (rsubs
    # collect, pq_encode's scan, the codes branch, the cen join). Cache
    # is LRU-evictable; one materialization instead of four.
    assigned = ivfpq_assign_residuals(
        candidates, cen_ids, CM, c_id, c_vec
    ).persist()
    # residual PQ codebook: residuals of the strided candidate ids
    rsubs = _subspaces(
        assigned.filter((F.col(c_id) % pq_stride) == pq_offset).select(
            F.col(c_id).alias("cen_id"), F.col("resid").alias("cv")
        ),
        "cen_id",
        "cv",
        m,
        sub_dim,
    ).withColumnRenamed("sub", "csub")
    codes = pq_encode(assigned, rsubs, m, sub_dim, c_id, "resid")

    lut = ivfpq_lut(
        queries, rsubs, cen_ids, CM, nprobe, m, sub_dim, q_id, q_vec
    )
    codes_cen = codes.join(assigned.select(c_id, "cen"), c_id)
    from pm25ml_spark.operators.cache import release_with

    return release_with(ivfpq_adc_rank(codes_cen, lut, k, q_id, c_id), assigned)


def ivfpq_coarse_arrays(
    candidates: DataFrame,
    coarse_stride: int = 100,
    coarse_offset: int = 7,
    c_id: str = "cid",
    c_vec: str = "ce",
):
    """Sorted ``(cen_ids, CM)`` coarse-quantizer arrays for the IVFADC
    family — the deterministic strided selection, collected driver-side
    (contract-small, the bounded-collect precedent)."""
    import numpy as np

    cent = candidates.filter(
        (F.col(c_id) % coarse_stride) == coarse_offset
    ).select(F.col(c_id).alias("cen_id"), F.col(c_vec).alias("cen_vec"))
    crows = cent.collect()  # coarse codebook: contract-small
    if not crows:
        raise ValueError("ivfpq_topk: coarse centroid selection is empty")
    cen_ids = np.array([r[0] for r in crows], dtype=np.int64)
    CM = np.array([list(r[1]) for r in crows], dtype=np.float64)
    order = np.argsort(cen_ids)
    return cen_ids[order], CM[order]


def ivfpq_assign_residuals(
    candidates: DataFrame,
    cen_ids,
    CM,
    c_id: str = "cid",
    c_vec: str = "ce",
) -> DataFrame:
    """(c_id, cen, resid): nearest coarse centroid by rounded L2 (ties:
    lower cen id) plus the float64 residual ``c − centroid`` — the
    INDEX-BUILD Arrow kernel of IVFADC. Staged once per corpus version
    by ``plans/similarity.py``; query-time consumers never run it."""
    import numpy as np
    import pandas as pd

    bc = candidates.sparkSession.sparkContext.broadcast(
        (np.asarray(cen_ids, dtype=np.int64), np.asarray(CM, dtype=np.float64))
    )

    def assign(batches):
        ids, M = bc.value
        pos = {int(i): j for j, i in enumerate(ids)}
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.array(pdf[c_vec].tolist(), dtype=np.float64)
            D = np.round(
                ((V[:, None, :] - M[None, :, :]) ** 2).sum(axis=-1), 6
            )
            # ids ascend, so the first strict minimum wins ties
            best = ids[D.argmin(axis=1)]
            resid = V - M[[pos[int(b)] for b in best]]
            yield pd.DataFrame(
                {
                    c_id: pdf[c_id].to_numpy(),
                    "cen": best,
                    "resid": list(resid),
                }
            )

    return candidates.select(c_id, c_vec).mapInPandas(
        assign, f"{c_id} long, cen long, resid array<double>"
    )


def ivfpq_lut(
    queries: DataFrame,
    rsubs: DataFrame,
    cen_ids,
    CM,
    nprobe: int = 4,
    m: int = 16,
    sub_dim: int = 4,
    q_id: str = "qid",
    q_vec: str = "qe",
) -> DataFrame:
    """Per-query ADC lookup table ``(q_id, cen, s, code, d6)``: probe
    selection + query residuals are one driver-side numpy pass over the
    contract-small query batch; the subspace distances are a JVM
    broadcast join against the residual codebook — no Python stage."""
    import numpy as np

    spark = rsubs.sparkSession
    qrows = queries.select(q_id, q_vec).collect()  # contract-small
    lut_rows = []
    for r in qrows:
        qid = int(r[0])
        qv = np.array(list(r[1]), dtype=np.float64)
        D = np.round(((qv[None, :] - CM) ** 2).sum(axis=-1), 6)
        probe = sorted(
            range(len(cen_ids)), key=lambda j: (D[j], cen_ids[j])
        )[:nprobe]
        for j in probe:
            qresid = qv - CM[j]
            for s in range(m):
                lut_rows.append(
                    (
                        qid,
                        int(cen_ids[j]),
                        s,
                        qresid[s * sub_dim : (s + 1) * sub_dim].tolist(),
                    )
                )
    qsub = spark.createDataFrame(
        lut_rows, f"{q_id} long, cen long, s int, qsub array<double>"
    )
    return qsub.join(F.broadcast(rsubs), "s").select(
        q_id,
        "cen",
        "s",
        F.col("cen_id").alias("code"),
        F.round(_sub_l2(F.col("qsub"), F.col("csub")), 6).alias("d6"),
    )


def ivfpq_adc_rank(
    codes_cen: DataFrame,
    lut: DataFrame,
    k: int = 3,
    q_id: str = "qid",
    c_id: str = "cid",
) -> DataFrame:
    """ADC aggregate + top-k: broadcast-LUT join against the
    ``(c_id, cen, s, code)`` code table, decimal-exact distance sum
    (map-side combinable), rank window. Pure JVM."""
    part = codes_cen.join(F.broadcast(lut), ["cen", "s", "code"]).filter(
        F.col(q_id) != F.col(c_id)
    )
    agg = part.groupBy(q_id, c_id).agg(
        F.sum(F.col("d6").cast("decimal(38,6)")).cast("double").alias("adist")
    )
    w = Window.partitionBy(q_id).orderBy(F.asc("adist"), F.asc(c_id))
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(q_id, c_id, "adist", "rk")
    )
