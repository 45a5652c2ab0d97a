"""Sketch-operator plans over `documents` bigrams (beyond-reference ops).

sk01: exact heavy hitters via Misra-Gries prune + broadcast recount —
      the bounded-memory path to "frequent n-grams" at corpus scale,
      provably identical to the single-shuffle exact answer (which is
      the DuckDB oracle here).
sk02: HyperLogLog distinct-cardinality estimate, reported next to the
      exact distinct count and its relative error. The register pipeline
      is pure JVM bit-arithmetic on the portable 60-bit md5 hash, and the
      harmonic mean is computed on exact integers, so even the ESTIMATE
      is bit-identical across engines — the oracle re-derives the whole
      sketch in SQL, not just the exact count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pm25ml_spark.catalog import load_table
from pm25ml_spark.operators import sketches as SK
from pm25ml_spark.plans.registry import query

# bigram SQL fragment shared by both oracles (instances, not distinct)
_BIGRAMS = """
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    bg AS (
        SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS b
        FROM tok, UNNEST(range(1, len(ts))) AS u(i)
    )
"""

_HH_K = 800


def _bigram_instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pm25ml_spark.operators.dedup import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(F.explode(word_ngrams("text", 2)).alias("b"))


@query(
    "sk01_heavy_hitters",
    f"""
    WITH {_BIGRAMS},
    c AS (SELECT b, COUNT(*) AS n FROM bg GROUP BY b),
    t AS (SELECT COUNT(*) AS n_total FROM bg)
    SELECT b, n FROM c CROSS JOIN t WHERE n * {_HH_K} > n_total
    """,
)
def sk01_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigrams with count > N/k, k = 800. The Spark plan is the two-pass
    sketch (operators.sketches.exact_heavy_hitters); the oracle is the
    naive full-shuffle aggregate — equality IS the superset proof."""
    return SK.exact_heavy_hitters(_bigram_instances(spark, sf_dir), "b", _HH_K)


def _hll_oracle() -> str:
    # mirror operators.sketches numerics exactly: same hash, same bit
    # splits, same integer register combine, same double literals.
    p, m = 6, 64
    rest_bits = 60 - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    top2 = float(1 << rest_bits) * 2.0  # 2^55 as an exact double
    return f"""
    WITH {_BIGRAMS},
    h AS (SELECT ('0x' || substr(md5(b), 1, 15))::BIGINT AS h FROM bg),
    r AS (
        SELECT h & {m - 1} AS bucket,
               CASE WHEN (h >> {p}) = 0 THEN {rest_bits + 1}
                    ELSE {rest_bits + 1} - len(bin(h >> {p}))
               END AS rho
        FROM h
    ),
    reg AS (SELECT bucket, MAX(rho) AS max_rho FROM r GROUP BY bucket),
    agg AS (
        SELECT SUM(1::BIGINT << ({rest_bits + 1} - max_rho)) AS s_present,
               COUNT(*) AS n_present
        FROM reg
    ),
    est AS (
        SELECT n_present,
               CAST({alpha!r} AS DOUBLE) * {m} * {m} * CAST({top2!r} AS DOUBLE)
                 / CAST(s_present
                        + ({m} - n_present) * (1::BIGINT << {rest_bits + 1})
                        AS DOUBLE) AS raw,
               {m} - n_present AS zeros
        FROM agg
    ),
    ex AS (SELECT COUNT(DISTINCT b) AS exact_distinct FROM bg),
    fin AS (
        SELECT exact_distinct,
               CAST(n_present AS BIGINT) AS n_buckets_hit,
               ROUND(CASE WHEN raw <= {2.5 * m!r} AND zeros > 0
                          THEN {m} * ln({float(m)!r} / CAST(zeros AS DOUBLE))
                          ELSE raw END, 6) AS estimate
        FROM est CROSS JOIN ex
    )
    SELECT exact_distinct, n_buckets_hit, estimate,
           ROUND(abs(estimate - exact_distinct) / exact_distinct, 6) AS rel_err
    FROM fin
    """


@query("sk02_hll_distinct", _hll_oracle())
def sk02_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL(p=6) estimate of distinct bigrams vs the exact count.

    The exact count is reported for the accuracy column only — at corpus
    scale a user runs just the register pipeline (m rows out, map-side
    combinable) and skips the exact distinct entirely.
    """
    bg = _bigram_instances(spark, sf_dir)
    est = SK.hll_distinct(bg, "b", p=6)
    exact = bg.agg(F.count_distinct("b").alias("exact_distinct"))
    return est.crossJoin(F.broadcast(exact)).select(
        "exact_distinct",
        "n_buckets_hit",
        "estimate",
        F.round(
            F.abs(F.col("estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )


# --------------------------------------------------------------------------
# sk03 — Count-Min point-frequency estimates. The counter build is the
# 100 TB path (shuffle bounded by d·w per task, not by vocabulary size);
# the exact top-20 probe selection + true counts exist only for the
# accuracy columns, exactly like sk02's exact_distinct. CM never
# underestimates, so overcount ≥ 0 is part of the contract the oracle
# re-derives cell-by-cell.

_CM_D, _CM_W = 4, 1024


def _cm_oracle() -> str:
    d, w = _CM_D, _CM_W
    return f"""
    WITH {_BIGRAMS},
    c AS (SELECT b, COUNT(*) AS n FROM bg GROUP BY b),
    probes AS (
        SELECT b, n FROM c
        QUALIFY row_number() OVER (ORDER BY n DESC, b) <= 20
    ),
    cells AS (
        SELECT r,
               ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || b), 1, 15))::BIGINT
                 % {w} AS cc,
               COUNT(*) AS n
        FROM bg, UNNEST(range(0, {d})) AS u(r)
        GROUP BY 1, 2
    ),
    pc AS (
        SELECT p.b, u.r,
               ('0x' || substr(md5(CAST(u.r AS VARCHAR) || ':' || p.b), 1, 15))::BIGINT
                 % {w} AS cc
        FROM probes p, UNNEST(range(0, {d})) AS u(r)
    ),
    est AS (
        SELECT pc.b, MIN(COALESCE(cells.n, 0)) AS cm_est
        FROM pc LEFT JOIN cells ON pc.r = cells.r AND pc.cc = cells.cc
        GROUP BY pc.b
    )
    SELECT p.b, p.n AS n_true, e.cm_est, e.cm_est - p.n AS overcount
    FROM probes p JOIN est e ON p.b = e.b
    """


@query("sk03_countmin", _cm_oracle())
def sk03_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min(d=4, w=1024) frequency estimates for the exact top-20
    bigrams, with true counts and the (always ≥ 0) overcount."""
    from pyspark.sql import Window

    from pm25ml_spark.functions.columns import md5_long

    bg = _bigram_instances(spark, sf_dir)
    counts = bg.groupBy("b").agg(F.count(F.lit(1)).alias("n_true"))
    # two-level top-20 (hash-lane prune, then the true top-20 over
    # ≤ 20·lanes survivors) so the accuracy side never funnels the whole
    # vocabulary through one sort partition either
    lane = Window.partitionBy(md5_long(F.col("b")) % 32).orderBy(
        F.col("n_true").desc(), F.col("b")
    )
    pre = (
        counts.withColumn("rn", F.row_number().over(lane))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )
    # deliberately NOT persisted: both consumers live in the ONE final
    # plan and runtime exchange reuse shares the vocabulary aggregate +
    # top-k prune between them — an explicit persist() was A/B-measured
    # SLOWER (3.7 s → 5.5 s at sf0.1; same barrier effect as sk04)
    probes = (
        pre.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("n_true").desc(), F.col("b"))
            ),
        )
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )
    # the counter table derives from the SAME vocabulary aggregate the
    # accuracy side already computes (cell count ≡ Σ per-key counts,
    # exact integers): runtime exchange reuse shares the one corpus
    # explode+aggregate between probes and counters, and the sketch's
    # ×d explode + md5 run per distinct bigram instead of per instance
    # (guide §2.3 — pre-aggregate before the explode)
    counters = SK.cm_counters_from_counts(
        counts, "b", "n_true", d=_CM_D, w=_CM_W
    )
    est = SK.cm_estimate(probes.select("b"), counters, "b", d=_CM_D, w=_CM_W)
    return probes.join(est, "b").select(
        "b",
        "n_true",
        "cm_est",
        (F.col("cm_est") - F.col("n_true")).alias("overcount"),
    )


# --------------------------------------------------------------------------
# sk04 — KMV / theta sketches per source: distinct-cardinality estimates
# and PAIRWISE INTERSECTION estimates from k smallest hashes per group.
# Unlike KLL/t-digest, bottom-k of a fixed hash is merge-order
# independent, so the estimates themselves are bit-deterministic and the
# oracle rebuilds the whole sketch in SQL. The exact intersection column
# is the accuracy yardstick (sk02-style); at corpus scale only the
# sketch pipeline runs.

_KMV_K = 64


def _kmv_oracle() -> str:
    k = _KMV_K
    full_i = 1 << 60
    numer = float((k - 1) * (1 << 60))
    full_f = float(1 << 60)
    return f"""
    WITH tok AS (
        SELECT source, string_split(text, ' ') AS ts FROM documents
    ),
    sbg AS (
        SELECT source, ts[i] || ' ' || ts[i + 1] AS b
        FROM tok, UNNEST(range(1, len(ts))) AS u(i)
    ),
    hs AS (
        SELECT DISTINCT source,
               ('0x' || substr(md5(b), 1, 15))::BIGINT AS h
        FROM sbg
    ),
    sk AS (
        SELECT source, h FROM hs
        QUALIFY row_number() OVER (PARTITION BY source ORDER BY h) <= {k}
    ),
    th AS (
        SELECT source, COUNT(*) AS n_k, MAX(h) AS theta_k
        FROM sk GROUP BY source
    ),
    th2 AS (
        SELECT source, n_k,
               CASE WHEN n_k < {k} THEN {full_i} ELSE theta_k END AS theta,
               ROUND(CASE WHEN n_k < {k} THEN CAST(n_k AS DOUBLE)
                          ELSE CAST({numer!r} AS DOUBLE)
                               / CAST(theta_k AS DOUBLE) END, 6) AS est_distinct
        FROM th
    ),
    pairs AS (
        SELECT a.source AS g1, b.source AS g2,
               a.theta AS th1, b.theta AS th2x,
               a.est_distinct AS est_d1, b.est_distinct AS est_d2
        FROM th2 a JOIN th2 b ON a.source < b.source
    ),
    m AS (
        SELECT s1.source AS g1, s2.source AS g2, s1.h AS h
        FROM sk s1 JOIN sk s2 ON s1.h = s2.h AND s1.source < s2.source
    ),
    ret AS (
        SELECT m.g1, m.g2, COUNT(*) AS n_retained
        FROM m JOIN pairs p ON m.g1 = p.g1 AND m.g2 = p.g2
        WHERE m.h < LEAST(p.th1, p.th2x)
        GROUP BY m.g1, m.g2
    ),
    db AS (SELECT DISTINCT source, b FROM sbg),
    ex AS (
        SELECT a.source AS g1, b.source AS g2, COUNT(*) AS exact_intersection
        FROM db a JOIN db b ON a.b = b.b AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT p.g1, p.g2, p.est_d1, p.est_d2,
           COALESCE(r.n_retained, 0) AS n_retained,
           ROUND(CAST(COALESCE(r.n_retained, 0) AS DOUBLE)
                 * CAST({full_f!r} AS DOUBLE)
                 / CAST(LEAST(p.th1, p.th2x) AS DOUBLE), 6) AS est_intersection,
           COALESCE(e.exact_intersection, 0) AS exact_intersection
    FROM pairs p
    LEFT JOIN ret r ON p.g1 = r.g1 AND p.g2 = r.g2
    LEFT JOIN ex e ON p.g1 = e.g1 AND p.g2 = e.g2
    """


@query("sk04_kmv_intersection", _kmv_oracle())
def sk04_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV(k=64) bottom-k theta sketches per source: per-pair distinct
    estimates, intersection estimate, and the exact intersection."""
    from pm25ml_spark.operators.dedup import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    sbg = docs.select("source", F.explode(word_ngrams("text", 2)).alias("b"))
    # deliberately NOT persisted: the ≤ k·|sources|-row sketch feeds four
    # subtrees of the ONE final plan, and runtime exchange/subquery reuse
    # already shares the bottom-k pipeline between them — an explicit
    # persist() was A/B-measured SLOWER (4.2 s → 7.9 s at sf0.1: a
    # blocking materialization job plus an InMemoryTableScan barrier in
    # every consumer, for a subtree reuse the engine provided anyway)
    # ONE distinct (source, bigram) pass feeds both the sketch build and
    # the exact-intersection yardstick: kmv_bottomk re-hashes and
    # re-distincts on (source, h) anyway, so distinct-of-hashes over the
    # distinct string pairs is value-identical to hashing the raw
    # instances — but the corpus explode + tokenize + its exchange now
    # run once (ReusedExchange) instead of twice, and the sketch's
    # (source, h) distinct aggregates vocabulary-sized input instead of
    # instance-sized (guide §2.3/§2.4)
    db = sbg.select("source", "b").distinct()
    sk = SK.kmv_bottomk(db, "b", "source", k=_KMV_K)
    th = SK.kmv_theta(sk, "source", _KMV_K)
    inter = SK.kmv_intersections(sk, th, "source")
    ex = (
        db.select(F.col("source").alias("g1"), "b")
        .join(db.select(F.col("source").alias("g2"), "b"), "b")
        .filter(F.col("g1") < F.col("g2"))
        .groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return inter.join(ex, ["g1", "g2"], "left").select(
        "g1",
        "g2",
        "est_d1",
        "est_d2",
        "n_retained",
        "est_intersection",
        F.coalesce("exact_intersection", F.lit(0)).alias("exact_intersection"),
    )


# --------------------------------------------------------------------------
# sk05 — bounded-memory quantile sketch: a bottom-k-by-hash uniform
# sample per group (the mergeable sample under KMV — deterministic,
# engine-portable), then order statistics read off the sample. This is
# the quantile member of the sketch family (the role KLL/t-digest play
# in production sketch libraries) in a form whose ESTIMATE is
# bit-identical across engines: the sample is a pure function of md5 and
# the quantile rule is the explicit order statistic at rank
# ceil(q * n_sample). Memory is O(k) per group at every stage; the
# per-group rank windows run on ≤ k rows after the salt-lane prune
# inside stratified_cap_k, never on the corpus.
def _sk05_oracle() -> str:
    k = _SKQ_K
    sel = ", ".join(
        f"MAX(CASE WHEN vr = ({num} * n + {den} - 1) // {den} "
        f"THEN value END) AS {name}"
        for name, num, den in _SKQ_QUANTILES
    )
    return f"""
    WITH hashed AS (
        SELECT event_type, event_id, value,
               ('0x' || substr(md5('skq:' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT AS h
        FROM events WHERE value IS NOT NULL
    ),
    sample AS (
        SELECT event_type, event_id, value
        FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY h, event_id) AS rk
              FROM hashed)
        WHERE rk <= {k}
    ),
    ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS vr,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM sample
    )
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_sample, {sel}
    FROM ranked GROUP BY event_type
    """


_SKQ_K = 200
# (output column, ceil-numerator, ceil-denominator): rank = ceil(num*n/den)
_SKQ_QUANTILES = (("est_p25", 1, 4), ("est_p50", 1, 2), ("est_p75", 3, 4))


@query("sk05_sample_quantiles", _sk05_oracle())
def sk05_sample_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from pm25ml_spark.operators.sampling import stratified_cap_k

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id", "value")
        .filter(F.col("value").isNotNull())
    )
    samp = stratified_cap_k(
        ev, "event_type", "event_id", k=_SKQ_K, seed="skq"
    ).drop("rk")
    # per-group value-rank windows over the ≤ k-row sample only
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = samp.withColumn("vr", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    aggs = [
        F.max(
            F.when(
                # integer ceil(num*n/den): floor-divide AFTER the +den-1
                # bump ('/' alone is double division and would compare a
                # long rank against a fractional value)
                F.col("vr")
                == F.floor(
                    (F.lit(num) * F.col("n") + F.lit(den - 1)) / F.lit(den)
                ).cast("long"),
                F.col("value"),
            )
        ).alias(name)
        for name, num, den in _SKQ_QUANTILES
    ]
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_sample"), *aggs
    )
