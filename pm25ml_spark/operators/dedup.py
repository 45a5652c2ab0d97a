"""Distributed deduplication operators (beyond-reference LLM-pipeline ops).

All hashing is md5-derived so signatures are reproducible across engines
(the DuckDB oracle recomputes them bit-for-bit); md5 runs JVM-side inside
whole-stage codegen — no Python in the hot path.

Scale notes (the operators are designed for ~10^9-document corpora):
- exact/normalized dedup: one hash-shuffle on the digest — the canonical
  map-side-combinable groupBy.
- shingle self-join: shuffle keyed on shingle; frequent-shingle skew is
  bounded by dropping shingles with document-frequency > ``max_df`` (a
  stop-shingle cut, standard in MinHash pipelines); AQE skew-join splits
  the rest.
- MinHash/LSH: signature computation is a single narrow pass (explode →
  groupBy doc); banding emits ``n_bands`` rows per doc; candidate pairs are
  verified with exact Jaccard so precision is 1.0 and only recall is
  probabilistic ((1-t^r)^b miss rate).

Cache lifecycle: the intermediates persisted here (shingle arrays,
prefixes, band keys) are QUERY-scoped — they persist with the default
MEMORY_AND_DISK level (LRU-evictable, so they degrade rather than OOM)
and are released by ``spark.catalog.clearCache()`` or ``df.unpersist()``
between queries; the bench runner does exactly that per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pm25ml_spark.functions.columns import md5_long

# Ceiling for the GUARDED broadcast hints below (guide §3.1: a few
# hundred MB of broadcast is fine, multiple GB is a driver/executor OOM;
# Spark hard-caps a broadcast relation at 8 GB / 512M rows). 128 MiB
# leaves headroom for the hash-relation build overhead on top of the
# estimated row bytes.
_BCAST_CAP_BYTES = 128 << 20


def _bcast_if_small(df: DataFrame, cap_bytes: int = _BCAST_CAP_BYTES) -> DataFrame:
    """Broadcast hint guarded by the optimizer's size ESTIMATE — driver-
    side plan statistics, no job. The incremental-ingest probe broadcasts
    its batch-side prefix (and the verify joins their per-doc array
    tables) because those frames are batch/corpus-slice sized in the
    intended topology — but nothing used to ENFORCE that: a backfill-
    sized "batch" (10^7 docs × prefix length) hinted unconditionally
    would OOM the driver at 100 TB. Unknown statistics default to
    Catalyst's Long.Max-ish sentinel, so estimation failure or absent
    stats degrades to NO hint and the planner/AQE picks a shuffle join —
    the result set is identical either way (hints never change join
    semantics, only strategy)."""
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # py4j/analysis failure → let the planner choose
        return df
    return F.broadcast(df) if est <= cap_bytes else df


def tokens(col="text") -> F.Column:
    return F.split(F.col(col), " ")


def word_ngrams(col="text", n: int = 3) -> F.Column:
    """Word n-gram INSTANCES (not distinct) of a single-space-tokenized
    text — the shared expression under shingling and decontamination.

    slice+array_join instead of per-position element_at: one array window
    per shingle (measured ~4× cheaper; ~12× when the token array is
    materialized in a prior projection as :func:`shingle_arrays` does).

    Documents with fewer than n tokens yield an EMPTY array —
    ``sequence(1, stop)`` with stop < 1 would generate a DESCENDING
    sequence and ``slice(toks, 0, n)`` then throws, so the sequence is
    gated on size ≥ n. Every caller relies on this gate."""
    toks = tokens(col)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))


def shingles(col="text", n: int = 3) -> F.Column:
    """Distinct word n-gram shingles (see :func:`word_ngrams`)."""
    return F.array_distinct(word_ngrams(col, n))


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: group identical texts by digest; keep lowest doc_id.

    Reference-shape: hash-groupBy, the distributed equivalent of
    `unique()` (SURVEY A4) applied to content rather than keys.
    """
    return (
        docs.select("doc_id", F.md5(F.col(text_col)).alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def normalized_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Dedup after lowercase + whitespace-collapse + trim normalization."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    return (
        docs.select("doc_id", F.md5(norm).alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) long table + per-doc set size column ``n_sh``."""
    sh = docs.select(
        "doc_id", F.explode(shingles(n=n)).alias("s")
    )
    counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return sh.join(counts, "doc_id")


def shingle_arrays(
    docs: DataFrame, n: int = 3, keep_strings: bool = False
) -> DataFrame:
    """(doc_id, h_arr, n_sh) — one row per doc, the distinct-shingle set
    as a 60-bit-hash array. Persisted: every dedup pipeline stage (prefix
    candidates, signatures, verification) re-reads it, and without
    persistence Spark re-derives the whole subtree once per consumer
    (observed 4-16× recompute in the naive plan).

    The shingle STRINGS exist only transiently inside the expression
    (md5 needs them); no consumer reads them, so by default the persisted
    frame carries longs only — ~4× smaller cache/shuffle footprint than
    keeping the string arrays. Set-intersection on longs is also ~5×
    cheaper; a cross-doc 60-bit collision (P ≈ 3e-8 corpus-wide) is the
    only divergence from string-set semantics. ``keep_strings`` restores
    the ``sh_arr`` column for debugging."""
    toks = docs.select("doc_id", tokens().alias("t"))
    # same short-doc gate as shingles(): size < n -> empty set, never a
    # descending sequence feeding slice()
    idx = F.when(
        F.size("t") >= n, F.sequence(F.lit(1), F.size("t") - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    sh = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice("t", i, n), " "))
    )
    cols = [F.col("doc_id")]
    if keep_strings:
        cols.append(sh.alias("sh_arr"))
    out = (
        toks.select(*cols, F.transform(sh, lambda s: md5_long(s)).alias("h_arr"))
        .withColumn("n_sh", F.size("h_arr"))
    )
    return out.persist()


def _verify_pairs(
    cand: DataFrame,
    sh_arr: DataFrame,
    t_num: int,
    t_den: int,
    broadcast_arrays: bool = True,
) -> DataFrame:
    """Exact-Jaccard verification of candidate (doc_a, doc_b) pairs via
    per-pair ``array_intersect`` — one JVM set-intersection per candidate
    instead of an explode→shuffle→group cycle.

    The threshold test is pure integer arithmetic
    (shared·den ≥ num·(na+nb−shared)) — no float boundary anywhere; the
    reported jaccard double is a single deterministic division.

    The per-doc array table is broadcast only while its size ESTIMATE
    stays under :data:`_BCAST_CAP_BYTES` (it is corpus-cardinality ×
    ~1 KB, so past ~10^5 docs the guard drops the hint and AQE plans the
    shuffle join); ``broadcast_arrays=False`` skips the hint outright.
    """
    arr_col = "h_arr" if "h_arr" in sh_arr.columns else "sh_arr"
    a = sh_arr.select(
        F.col("doc_id").alias("doc_a"),
        F.col(arr_col).alias("arr_a"),
        F.col("n_sh").alias("na"),
    )
    b = sh_arr.select(
        F.col("doc_id").alias("doc_b"),
        F.col(arr_col).alias("arr_b"),
        F.col("n_sh").alias("nb"),
    )
    if broadcast_arrays:
        a, b = _bcast_if_small(a), _bcast_if_small(b)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("shared", F.size(F.array_intersect("arr_a", "arr_b")))
        .filter(
            F.col("shared") * t_den
            >= t_num * (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("na") + F.col("nb") - F.col("shared")),
        )
    )



def jaccard_pairs_between(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    n: int = 3,
    t_num: int = 3,
    t_den: int = 5,
) -> DataFrame:
    """Asymmetric exact n-gram-Jaccard join — the INCREMENTAL-INGEST
    probe: which incoming docs near-duplicate the existing corpus?
    Output ``(new_id, corpus_id, shared, jaccard)`` with J ≥ t.

    Unlike :func:`jaccard_pairs` (self-join), the candidate join here is
    new-prefix × corpus-prefix only — new×new and corpus×corpus pairs
    are never generated, so a small daily batch probes a 100 TB corpus
    at cost O(batch prefixes × colliding corpus prefixes), never
    O(corpus²). The prefix-filter guarantee needs ONE global shingle
    order shared by both sides; the FROZEN hash order
    (:func:`_sorted_prefix`) provides it with a map-only pass per side —
    no union document-frequency aggregate, no per-doc window, so the
    corpus side is ONE scan with zero corpus-wide shuffles per probe.
    The batch-side prefix is broadcast into the candidate join (bounded
    by the ingest batch), the same ppjoin length and positional prunes
    apply, and candidates are exact-verified by JVM set intersection.
    """
    sh_new = shingle_arrays(new_docs, n=n)
    sh_cor = shingle_arrays(corpus_docs, n=n)
    pa = _sorted_prefix(sh_new, t_num, t_den).select(
        F.col("doc_id").alias("new_id"),
        "s",
        F.col("rn").alias("rn_a"),
        F.col("n_sh").alias("na"),
    )
    pb = _sorted_prefix(sh_cor, t_num, t_den).select(
        F.col("doc_id").alias("corpus_id"),
        "s",
        F.col("rn").alias("rn_b"),
        F.col("n_sh").alias("nb"),
    )
    alpha = (
        F.lit(t_num) * (F.col("na") + F.col("nb")) + F.lit(t_num + t_den - 1)
    ).cast("long") / F.lit(t_num + t_den)
    alpha = alpha.cast("long")
    overlap_ub = F.lit(1) + F.least(
        F.col("na") - F.col("rn_a"), F.col("nb") - F.col("rn_b")
    )
    cand = (
        _bcast_if_small(pa).join(pb, "s")
        .filter(F.least("na", "nb") * t_den >= t_num * F.greatest("na", "nb"))
        .filter(overlap_ub >= alpha)
        .select("new_id", "corpus_id")
        .distinct()
    )
    a = _bcast_if_small(
        sh_new.select(
            F.col("doc_id").alias("new_id"),
            F.col("h_arr").alias("arr_a"),
            F.col("n_sh").alias("na"),
        )
    )
    b = sh_cor.select(
        F.col("doc_id").alias("corpus_id"),
        F.col("h_arr").alias("arr_b"),
        F.col("n_sh").alias("nb"),
    )
    out = (
        cand.join(a, "new_id")
        .join(b, "corpus_id")
        .withColumn("shared", F.size(F.array_intersect("arr_a", "arr_b")))
        .filter(
            F.col("shared") * t_den
            >= t_num * (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .select(
            "new_id",
            "corpus_id",
            F.col("shared").cast("long").alias("shared"),
            (
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared"))
            ).alias("jaccard"),
        )
    )
    # the persisted shingle frames go through the bounded LRU registry
    # like every other multi-pass operator cache — without this,
    # long-lived sessions leak caches per call
    from pm25ml_spark.operators.cache import release_with

    return release_with(release_with(out, sh_new), sh_cor)


def _sorted_prefix(sh_arr: DataFrame, t_num: int, t_den: int) -> DataFrame:
    """(doc_id, s, rn, n_sh) — each doc's prefix-filter rows under the
    FROZEN hash order, computed entirely IN-ROW: sort the doc's 60-bit
    shingle-hash array, keep the first ``n_sh − ceil(t·n_sh) + 1``
    positions. Any global order satisfies the prefix guarantee (a pair
    with J ≥ t must collide inside both prefixes under one shared total
    order); using the hash values themselves as that order removes the
    TWO store-wide shuffles the rarest-first ranking needed — the
    document-frequency aggregate and the per-doc ``row_number`` window —
    leaving a map-only pass (``array_sort`` + ``slice`` +
    ``posexplode``). Frozen forever by construction, so incremental
    probes of an append-only store rank both sides identically without
    recomputing anything corpus-wide per batch.

    The trade is candidate-pruning quality: rarest-first minimizes
    prefix collisions, the hash order is frequency-blind. Measured at
    sf0.1 (5,000 docs): 68,672 → 126,805 candidates (×1.85) — and every
    candidate is still exact-verified, so the RESULT SET is bit-identical
    either way; only the verify fan-in changes. Integer-exact prefix
    length as in :func:`_ranked_prefix` (floor-in-double can only
    lengthen the prefix, never violate the guarantee)."""
    min_overlap = (
        F.lit(t_num) * F.col("n_sh") + F.lit(t_den - 1)
    ) / F.lit(t_den)
    plen = (F.col("n_sh") - min_overlap.cast("long") + F.lit(1)).cast("int")
    pre = F.slice(F.array_sort("h_arr"), 1, F.greatest(plen, F.lit(1)))
    return sh_arr.select(
        "doc_id", "n_sh", F.posexplode(pre).alias("pos", "s")
    ).select("doc_id", "s", (F.col("pos") + 1).alias("rn"), "n_sh")


def _ranked_prefix(
    sh_arr: DataFrame, t_num: int, t_den: int, df_freq: DataFrame | None = None
) -> DataFrame:
    """(doc_id, s, rn, n_sh) — each doc's shingle hashes in rarest-first
    global order, filtered to the prefix-filter length
    ``n_sh − ceil(t·n_sh) + 1``: any doc sharing ≥ ceil(t·n_sh) shingles
    with this doc MUST collide inside this prefix. Used by the
    CONTAINMENT join, whose candidate join is A-prefix × B-ALL: with no
    prefix on the B side, the fan-out bound genuinely depends on prefix
    shingles being globally rare, so rarest-first stays (the Jaccard
    joins, pruned on both sides, use the map-only
    :func:`_sorted_prefix` instead).

    Runs on the 60-bit shingle hashes (h_arr), not the shingle strings:
    every shuffle/join keys on a bigint instead of a ~20-byte string.
    Any global order satisfies the prefix guarantee; (df, hash) keeps
    rarest-first. Hash collisions are the same 3e-8 event the
    verification path already accepts. floor-in-double for the overlap
    is safe: ulp error can only LENGTHEN the prefix.

    ``df_freq``: optional externally-computed (s, df) frequency frame —
    the asymmetric between-join passes the UNION frequencies so both
    sides share one global order (the prefix guarantee's requirement)."""
    sh = sh_arr.select("doc_id", "n_sh", F.explode("h_arr").alias("s"))
    if df_freq is None:
        df_freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = sh.join(df_freq, "s").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "s")
        ),
    )
    min_overlap = (
        F.lit(t_num) * F.col("n_sh") + F.lit(t_den - 1)
    ) / F.lit(t_den)
    prefix_len = F.col("n_sh") - min_overlap.cast("long") + 1
    return ranked.filter(F.col("rn") <= prefix_len).select(
        "doc_id", "s", "rn", "n_sh"
    )


def jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    t_num: int = 3,
    t_den: int = 5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs (threshold = t_num/t_den) with PREFIX
    FILTERING — the ppjoin-family optimization that makes exact set-
    similarity join feasible at corpus scale.

    A pair with Jaccard ≥ t shares ≥ ceil(t·n) shingles, so two docs whose
    Jaccard qualifies MUST overlap within their (n − ceil(t·n) + 1)-length
    prefixes when every doc's shingles are sorted by one global order.
    The order here is the FROZEN hash order (:func:`_sorted_prefix`):
    the prefix derives in-row from each doc's sorted hash array — no
    document-frequency aggregate, no per-doc window, two fewer
    corpus-wide shuffles than the classic rarest-first ranking, at a
    measured ×1.85 candidate fan-in that exact verification absorbs.
    Only prefix collisions become candidates; candidates are then
    exact-verified. On word-soup corpora this cuts the self-join's pair
    explosion by orders of magnitude while staying EXACT — the oracle is
    the brute-force pair set.

    ceil(t·n) is computed in integer arithmetic ((num·n + den − 1) div
    den): a float ceil could round up past the true value and silently
    shorten the prefix below the guarantee.

    Output: (doc_a, doc_b, shared, jaccard) with doc_a < doc_b.
    """
    sh_arr = shingle_arrays(docs, n=n)
    # persisted: pa and pb below are two consumers of the same subtree
    prefix = _sorted_prefix(sh_arr, t_num, t_den).persist()
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"),
        "s",
        F.col("rn").alias("rn_a"),
        F.col("n_sh").alias("na"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"),
        "s",
        F.col("rn").alias("rn_b"),
        F.col("n_sh").alias("nb"),
    )
    # ppjoin-style pruning on top of the prefix collision:
    #  - length filter: J ≥ t ⇒ min(na,nb)·den ≥ num·max(na,nb)
    #  - positional filter: a collision at prefix positions (rn_a, rn_b)
    #    can extend to at most 1 + min(na−rn_a, nb−rn_b) shared shingles,
    #    which must reach α = ceil(num·(na+nb) / (num+den)), the minimum
    #    overlap J ≥ t implies. Integer arithmetic throughout.
    alpha = (
        F.lit(t_num) * (F.col("na") + F.col("nb")) + F.lit(t_num + t_den - 1)
    ).cast("long") / F.lit(t_num + t_den)
    alpha = alpha.cast("long")
    overlap_ub = F.lit(1) + F.least(
        F.col("na") - F.col("rn_a"), F.col("nb") - F.col("rn_b")
    )
    cand = (
        pa.join(pb, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.least("na", "nb") * t_den >= t_num * F.greatest("na", "nb"))
        .filter(overlap_ub >= alpha)
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_pairs(cand, sh_arr, t_num, t_den).select(
        "doc_a", "doc_b", F.col("shared").cast("long").alias("shared"), "jaccard"
    )


# Universal-hash family over the Mersenne prime 2^31−1: h_i(x) =
# (a_i·x + b_i) mod p with md5-seeded parameters. One md5 per shingle
# (vs one per shingle PER hash) — the rest is overflow-safe integer
# arithmetic (a_i, x < 2^31 → product < 2^62 fits signed 64).
MERSENNE_P = 2_147_483_647


def _hash_params(i: int) -> tuple[int, int]:
    import hashlib

    a = int(hashlib.md5(f"a{i}".encode()).hexdigest()[:7], 16) % (MERSENNE_P - 1) + 1
    b = int(hashlib.md5(f"b{i}".encode()).hexdigest()[:7], 16) % MERSENNE_P
    return a, b


def minhash_signatures(
    docs: DataFrame, n_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    """MinHash signature per doc: sig[i] = min over shingles of
    (a_i·h(s) + b_i) mod p, h = 60-bit md5 folded mod p.

    Accepts either a raw documents frame or a pre-built
    :func:`shingle_arrays` frame (column ``sh_arr``)."""
    if "h_arr" in docs.columns:  # reuse precomputed shingle hashes
        base = docs.select("doc_id", F.explode("h_arr").alias("h0")).select(
            "doc_id", (F.col("h0") % MERSENNE_P).alias("h")
        )
    elif "sh_arr" in docs.columns:
        base = docs.select("doc_id", F.explode("sh_arr").alias("s")).select(
            "doc_id", (md5_long(F.col("s")) % MERSENNE_P).alias("h")
        )
    else:
        sh = docs.select("doc_id", F.explode(shingles(n=shingle_n)).alias("s"))
        base = sh.select("doc_id", (md5_long(F.col("s")) % MERSENNE_P).alias("h"))
    aggs = []
    for i in range(n_hashes):
        a, b = _hash_params(i)
        aggs.append(
            F.min((F.col("h") * F.lit(a) + F.lit(b)) % MERSENNE_P).alias(f"mh{i}")
        )
    return base.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    sig: DataFrame, n_bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Band the signature; docs sharing any band key become candidates.

    Band keys are emitted in ONE projection (array + posexplode), not one
    union branch per band — a per-band union makes Spark re-derive the
    whole signature subtree n_bands× per join side. Keys are xxhash64
    bigints (band index + its signature rows), not md5 hex strings: the
    self-join shuffles 8 bytes per key instead of 32, and band keys are
    internal to candidate generation (the oracle checks the verified pair
    set), so the hash only has to be self-consistent."""
    band_keys = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[
                    F.col(f"mh{b * rows_per_band + r}")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(n_bands)
        ]
    )
    stacked = sig.select(
        "doc_id", F.explode(band_keys).alias("band_key")
    ).persist()
    a = stacked.select(F.col("doc_id").alias("doc_a"), "band_key")
    b2 = stacked.select(F.col("doc_id").alias("doc_b"), "band_key")
    return (
        a.join(b2, "band_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    t_num: int = 9,
    t_den: int = 10,
    n_bands: int = 12,
    rows_per_band: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH near-dup pairs (threshold t_num/t_den), exact-Jaccard
    verified (precision 1.0).

    Banding recall: a pair at similarity t is missed with probability
    (1−t^r)^b — at t=0.9 with b=12, r=4 that is ≈ 3e-6 (the benchmark
    corpus plants pairs in [0.9, 1), so recall at 0.9 matters, which is
    why r stays at 4 and recall is bought with more bands). Candidates
    are exact-verified via array_intersect, so precision is exactly 1.
    """
    n_hashes = n_bands * rows_per_band
    sh_arr = shingle_arrays(docs, n=shingle_n)
    sig = minhash_signatures(sh_arr, n_hashes, shingle_n)
    cand = lsh_candidate_pairs(sig, n_bands, rows_per_band)
    return _verify_pairs(cand, sh_arr, t_num, t_den).select(
        "doc_a", "doc_b", "jaccard"
    )


def simhash(docs: DataFrame, n_bits: int = 60) -> DataFrame:
    """60-bit SimHash over distinct tokens (md5-derived bit vectors).

    bit j of the fingerprint is set iff Σ_tokens sign((h(t)>>j)&1) > 0.
    Implemented as ONE hash aggregate with n_bits conditional-sum columns
    (map-side combinable) rather than a bit-explode — no row blow-up, one
    shuffle keyed on doc_id.
    """
    tok = docs.select("doc_id", F.explode(F.array_distinct(tokens())).alias("t"))
    h = tok.select("doc_id", md5_long(F.col("t")).alias("hv"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("hv"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s{j}")
        for j in range(n_bits)
    ]
    scores = h.groupBy("doc_id").agg(*bit_sums)
    fp = None
    for j in range(n_bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        fp = term if fp is None else fp + term
    return scores.select("doc_id", fp.alias("simhash"))


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, n_bits: int = 60
) -> DataFrame:
    """SimHash near-dup pairs: hamming(sig_a, sig_b) ≤ max_hamming.

    Candidate generation uses the PIGEONHOLE band trick: split the
    fingerprint into ``max_hamming + 1`` chunks — two signatures within
    ``max_hamming`` bits of each other must agree exactly on at least one
    chunk, so only chunk-collisions become candidates (an equi-join on
    (band, chunk), never an all-pairs scan). Candidates are then exact-
    verified with ``bit_count(xor)``. Both stages are JVM-side integer
    ops; the result is EXACT, so the oracle is the brute-force pair set.
    """
    n_bands = max_hamming + 1
    band_bits = -(-n_bits // n_bands)
    mask = (1 << band_bits) - 1
    # persist: both sides of the band self-join consume the signature
    # frame — unpersisted, the full tokenize + 60-column hash aggregate
    # executes twice (measured ~2x the query wall time at sf0.1)
    sig = simhash(docs, n_bits=n_bits).persist()
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * band_bits)
                .bitwiseAND(mask)
                .alias("chunk"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sig.select(
        "doc_id", "simhash", F.explode(chunks).alias("c")
    ).select("doc_id", "simhash", "c.band", "c.chunk")
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"),
        "band", "chunk",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"),
        "band", "chunk",
    )
    cand = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def repeated_spans(
    docs: DataFrame,
    span_tokens: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document repeated-span detection (boilerplate / exact
    substring dedup, the Pile/RefinedWeb-style unit): chop each document
    into consecutive disjoint ``span_tokens``-token spans, hash each span,
    and report spans appearing in ≥ ``min_docs`` distinct documents.

    Scale shape: one narrow pass builds the spans (explode ≈ tokens/span
    rows per doc), then a single map-side-combinable groupBy on the span
    digest — identical cost profile to exact dedup, just at sub-document
    granularity. Downstream removal is a join of flagged spans back onto
    the corpus.
    """
    toks = tokens(text_col)
    n_chunks = (F.size(toks) / span_tokens).cast("int")
    idx = F.when(
        n_chunks >= 1, F.sequence(F.lit(0), n_chunks - 1)
    ).otherwise(F.array().cast("array<int>"))
    spans = F.transform(
        idx,
        lambda i: F.array_join(
            F.slice(toks, i * span_tokens + 1, span_tokens), " "
        ),
    )
    exploded = docs.select(
        F.col(id_col), F.explode(spans).alias("span")
    )
    return (
        exploded.groupBy(F.md5("span").alias("span_hash"))
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.min(id_col).alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Test-set decontamination (n-gram overlap): flag corpus documents
    containing any word n-gram that occurs in the benchmark set. Returns
    (doc_id, n_hits, n_spans): total matching n-gram instances and
    distinct matching n-grams per contaminated document.

    Scale shape: the benchmark n-gram set is eval-suite-sized (thousands
    of docs at most) → distinct + broadcast; the corpus side is one
    narrow explode, so the flagging is a broadcast hash join with zero
    corpus shuffle. Real pipelines use n of 8-13; the catalog entry uses
    a small n only so the synthetic corpus produces hits.
    """
    grams = word_ngrams(text_col, n)
    bench = (
        benchmark.select(F.explode(grams).alias("gram")).distinct()
    )
    corp = corpus.select(F.col(id_col), F.explode(grams).alias("gram"))
    return (
        corp.join(F.broadcast(bench), "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("gram").alias("n_spans"),
        )
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    t_num: int = 4,
    t_den: int = 5,
    broadcast_arrays: bool = True,
) -> DataFrame:
    """Exact DIRECTED containment pairs: C(A→B) = |A∩B| / |A| ≥ t for
    ordered (doc_a, doc_b), doc_a ≠ doc_b — the asymmetric near-dup
    relation resemblance (Jaccard) misses: a short doc fully embedded in
    a long one scores high containment but low Jaccard.

    Prefix filtering applies to the CONTAINED side only: shared ≥
    ceil(t·na) forces A's rarest-first prefix of length
    na − ceil(t·na) + 1 to intersect B's FULL shingle set (B cannot
    prune — the overlap bound references |A| alone). The candidate join
    is A-prefix × B-all on the shingle hash; prefix shingles are
    globally rare by construction (rarest-first df order), so fan-out is
    bounded by prefix-shingle document frequencies, never the corpus
    pair count. Candidates are exact-verified with one JVM
    ``array_intersect`` per pair; the threshold test is integer
    (shared·den ≥ num·na — no float boundary).

    Output: (doc_a, doc_b, shared, na, containment) — doc_a is the
    contained side. ``broadcast_arrays`` mirrors ``_verify_pairs``: the
    per-doc array table is corpus-cardinality × ~1 KB, so past ~10^6
    docs flip it to False and let AQE plan the verify joins as shuffles
    (a 10^9-doc broadcast would blow Spark's 8 GB broadcast limit).
    """
    sh_arr = shingle_arrays(docs, n=n)
    pa = _ranked_prefix(sh_arr, t_num, t_den).select(
        F.col("doc_id").alias("doc_a"), "s"
    )
    pb = sh_arr.select(
        F.col("doc_id").alias("doc_b"), F.explode("h_arr").alias("s")
    )
    cand = (
        pa.join(pb, "s")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    a = sh_arr.select(
        F.col("doc_id").alias("doc_a"),
        F.col("h_arr").alias("arr_a"),
        F.col("n_sh").alias("na"),
    )
    b = sh_arr.select(
        F.col("doc_id").alias("doc_b"), F.col("h_arr").alias("arr_b")
    )
    if broadcast_arrays:
        a, b = _bcast_if_small(a), _bcast_if_small(b)
    shared = F.size(F.array_intersect("arr_a", "arr_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("shared", shared.cast("long"))
        .filter(
            F.col("shared") * F.lit(t_den) >= F.lit(t_num) * F.col("na")
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "na",
            (F.col("shared") / F.col("na")).alias("containment"),
        )
    )
