"""Streaming-sketch operators: Misra-Gries heavy hitters and HyperLogLog.

Beyond-reference surface (the reference pipeline has no frequency/sketch
operators — its aggregates are plain means/quantiles, SURVEY §2.4): these
are the bounded-memory primitives a 100 TB training-data pipeline uses
where an exact hash aggregate would shuffle the full key space.

Scale shapes:

- **Heavy hitters** (`exact_heavy_hitters`): the naive plan
  ``groupBy(key).count().filter(n·k > N)`` shuffles EVERY distinct key —
  at web scale that is a shuffle the size of the vocabulary (billions of
  n-grams). The two-pass plan here is the classic fix: pass 1 runs a
  Misra-Gries summary per partition inside ``mapInPandas`` (bounded O(k)
  state, ZERO shuffle — only ≤ k candidate keys leave each partition);
  pass 2 recounts the tiny candidate set exactly via a broadcast semi
  join. Per-partition MG with capacity k retains every key whose local
  count exceeds n_p/k, and a global heavy hitter (count·k > N) must be
  partition-local-heavy in at least one partition (pigeonhole), so the
  candidate union is a SUPERSET of the true answer and the recount makes
  the final output exact — the sketch only prunes, it never decides.

- **HyperLogLog** (`hll_distinct`): count-distinct with m registers
  instead of a distinct shuffle. Implemented entirely with JVM built-ins
  on the engine's portable 60-bit md5 hash: bucket = h mod m, rho =
  leading-zero-rank of the remaining 54 bits via ``bin()`` string length
  (both engines print minimal binary digits, so rho = 55 − len(bin(rest))
  with the rest = 0 case pinned to 55). The register combine is
  ``groupBy(bucket).max(rho)`` — map-side combinable, m rows out — and
  the harmonic mean uses the integer identity sum(2^-rho) = S / 2^55
  with S = Σ 2^(55−rho) a BIGINT, so the estimate is bit-deterministic
  across engines (no float summation anywhere before the final single
  division). Flajolet's bias constant and the linear-counting small-range
  correction are the standard ones.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pm25ml_spark.functions.columns import md5_long

# the portable hash is 15 hex digits = 60 bits; 6 go to the bucket (m=64)
# leaving 54 bits of "rest", so rho ranges 1..55.
_HASH_BITS = 60


def mg_summarizer(col: str, k: int):
    """The per-partition Misra-Gries pass as a ``mapInPandas`` function:
    O(k) state per task, emits the surviving candidate keys.

    Weighted/batched variant of the classic sketch: each Arrow batch is
    collapsed to vectorized value_counts first (C speed — the per-element
    Python loop was the whole cost of the pass), merged into the O(k)
    counter state, then compacted in ONE numpy step. The compaction
    subtracts d = the (L−k)-th smallest count from every counter and
    drops the non-positive ones — exactly the fixpoint of MG's
    repeated decrement-all — and the superset guarantee survives: a
    compaction removes ≥ (k+1)·d total mass (the k survivors lose d
    each, the dropped ones lose their full ≤ d counts, and there is at
    least one of those), so total decrement ≤ n_p/(k+1) and every key
    with local count > n_p/k still has a positive counter at the end."""

    import numpy as np

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            for key, c in pdf[col].value_counts().items():
                counters[key] = counters.get(key, 0) + int(c)
            excess = len(counters) - k
            if excess > 0:
                keys = np.array(list(counters.keys()), dtype=object)
                vals = np.fromiter(
                    counters.values(), dtype=np.int64, count=len(counters)
                )
                d = np.partition(vals, excess - 1)[excess - 1]
                keep = vals > d
                counters = dict(
                    zip(keys[keep].tolist(), (vals[keep] - d).tolist())
                )
        yield pd.DataFrame({col: list(counters.keys())})

    return summarize


def mg_candidates(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries candidate keys (capacity ``k``).

    Returns a DataFrame with one column ``col`` holding the distinct
    union of every partition's surviving MG keys — a superset of all
    keys with global count > N/k, in bounded memory and with no shuffle
    of the input (only the ≤ k·partitions candidate rows move).
    """
    return (
        df.select(col)
        .mapInPandas(mg_summarizer(col, k), f"{col} string")
        .distinct()
    )


def exact_heavy_hitters(df: DataFrame, col: str, k: int) -> DataFrame:
    """Keys with count·k > N, exactly, via MG-prune + broadcast recount.

    Output columns: ``col``, ``n`` (exact global count). Identical to
    the single-shuffle ``groupBy.count.filter`` answer (the oracle), but
    the only aggregation over the full key space happens inside the
    bounded-memory sketch; the exact hash aggregate touches candidate
    keys only.

    TWO scans of ``df``, not three: the MG pass already sees every row,
    so each task also emits its partition's row count (one extra ``__pn``
    row per task) and the global N comes from summing those — the
    separate full-scan count job the old plan paid was pure duplicate
    work. The tiny candidates+totals frame is persisted so the candidate
    subtree and the N subtree of the one final plan both read the single
    MG pass instead of re-running it.
    """
    import numpy as np  # noqa: F401  (parity with mg_summarizer's env)

    base = mg_summarizer(col, k)

    def summarize_with_total(batches):
        total = 0

        def counted():
            nonlocal total
            for pdf in batches:
                total += len(pdf)
                yield pdf

        for out in base(counted()):
            yield out.assign(__pn=0)
        yield pd.DataFrame({col: [None], "__pn": [total]})

    both = (
        df.select(col)
        .mapInPandas(summarize_with_total, f"{col} string, __pn bigint")
        .persist()
    )
    cand = both.filter(F.col(col).isNotNull()).select(col).distinct()
    total = both.select(F.sum("__pn").alias("n_total"))
    counts = (
        df.join(F.broadcast(cand), col)
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pm25ml_spark.operators.cache import release_with

    out = (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n") * k > F.col("n_total"))
        .select(col, "n")
    )
    return release_with(out, both)


def _rho(rest: F.Column, rest_bits: int) -> F.Column:
    """Leading-zero rank (position of the first 1-bit, 1-based) of a
    ``rest_bits``-wide non-negative integer. ``bin()`` prints minimal
    binary digits in Spark and DuckDB alike, so bitlen(x) = len(bin(x))
    for x ≥ 1; the all-zero word is pinned to rest_bits + 1."""
    return (
        F.when(rest == 0, rest_bits + 1)
        .otherwise(rest_bits + 1 - F.length(F.bin(rest)))
        .cast("int")
    )


def hll_registers(df: DataFrame, col: str, p: int = 6) -> DataFrame:
    """HLL register table: (bucket, max_rho) over ``m = 2**p`` buckets.

    Map-side combinable (max), at most m rows out — THE shape for
    distinct-cardinality at 100 TB. Mergeable across partitions, days,
    or corpora by a further groupBy(bucket).max(max_rho).
    """
    m = 1 << p
    rest_bits = _HASH_BITS - p
    h = md5_long(F.col(col))
    # bit ops, not arithmetic: h spans 60 bits, and a double division
    # (the / operator) would silently lose the low bits past 2^53.
    hashed = df.select(
        h.bitwiseAND(m - 1).alias("bucket"),
        _rho(F.shiftright(h, p), rest_bits).alias("rho"),
    )
    return hashed.groupBy("bucket").agg(F.max("rho").alias("max_rho"))


def hll_estimate(registers: DataFrame, p: int = 6) -> DataFrame:
    """Single-row cardinality estimate from an HLL register table.

    Exact-integer register combine: S = Σ 2^(55−max_rho) (+ 2^55 per
    empty bucket), then one double division E = α·m²·2^55 / S, with
    Flajolet's linear-counting correction when E ≤ 5m/2 and empty
    buckets exist. Bit-deterministic: the only float ops are the final
    division/ln, applied to exact integers in a fixed expression shape.
    """
    m = 1 << p
    rest_bits = _HASH_BITS - p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    top = float(1 << rest_bits)  # 2^54... exact power-of-two double
    agg = registers.agg(
        F.sum(F.expr(f"shiftleft(1L, {rest_bits + 1} - max_rho)")).alias(
            "s_present"
        ),
        F.count(F.lit(1)).alias("n_present"),
    )
    s_total = F.col("s_present") + (m - F.col("n_present")) * F.lit(
        1 << (rest_bits + 1)
    )
    raw = (
        F.lit(alpha)
        * m
        * m
        * F.lit(top * 2.0)
        / s_total.cast("double")
    )
    zeros = m - F.col("n_present")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        m * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.col("n_present").cast("long").alias("n_buckets_hit"),
        F.round(est, 6).alias("estimate"),
    )


def hll_distinct(df: DataFrame, col: str, p: int = 6) -> DataFrame:
    """End-to-end HLL distinct-count estimate for one column."""
    return hll_estimate(hll_registers(df, col, p), p)


# --------------------------------------------------------------------------
# Count-Min sketch: point-frequency estimates in d·w counters instead of a
# full-vocabulary hash aggregate. est(x) = min_i C[i, h_i(x)] ≥ true(x),
# always an OVER-estimate (Cormode & Muthukrishnan 2005), with
# P[err > ε·N] ≤ δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉.


def _cm_col(col, i: int, w: int) -> F.Column:
    """Row-``i`` counter column for value ``col``: the engine-portable
    60-bit md5 of ``"{i}:{value}"`` reduced mod w. Seeding through the
    hashed STRING (not h + i) keeps the d rows pairwise-independent and
    lets the DuckDB oracle re-derive the exact same cells."""
    return md5_long(F.concat_ws(":", F.lit(str(i)), col)) % w


def cm_counters(df: DataFrame, col: str, d: int = 4, w: int = 1024) -> DataFrame:
    """Build the Count-Min counter table: (r, c, n) with ≤ d·w rows.

    Scale shape: each input instance expands to its d cells JVM-side
    (inline explode of a literal array — stays in whole-stage codegen),
    then ``groupBy(r, c).count()`` map-side combines to at most d·w rows
    PER PARTITION before the shuffle, so the shuffle volume is bounded by
    tasks·d·w regardless of corpus size — the whole point of the sketch
    at 100 TB, where the exact vocabulary aggregate it replaces shuffles
    billions of distinct keys. Counter tables from disjoint corpora merge
    by a further groupBy(r, c).sum(n).
    """
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"), _cm_col(F.col(col), i, w).alias("c")
            )
            for i in range(d)
        ]
    )
    return (
        df.select(F.explode(cells).alias("rc"))
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cm_counters_from_counts(
    counts: DataFrame,
    col: str,
    weight_col: str,
    d: int = 4,
    w: int = 1024,
) -> DataFrame:
    """Counter table from a PRE-AGGREGATED ``(key, count)`` frame —
    identical cells to :func:`cm_counters` over the underlying instances
    (Σ per-key counts per cell ≡ per-cell instance count, exact integer
    arithmetic), built with the ×d explode and the d per-row md5 calls
    paid per DISTINCT key instead of per instance (guide §2.3 "aggregate
    before you shuffle"). The shape for pipelines that already hold a
    key-count aggregate for another consumer: sharing that aggregate
    drops one full corpus explode+hash pass, and the sketch's own
    aggregate shrinks from |instances|·d to |vocabulary|·d input rows.
    ``cm_counters`` remains the right entry point when no count frame
    exists (building one would BE the vocabulary-wide shuffle the sketch
    exists to avoid).
    """
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"), _cm_col(F.col(col), i, w).alias("c")
            )
            for i in range(d)
        ]
    )
    return (
        counts.select(F.col(weight_col).alias("__n"), F.explode(cells).alias("rc"))
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.sum("__n").alias("n"))
    )


def cm_estimate(
    probes: DataFrame, counters: DataFrame, col: str, d: int = 4, w: int = 1024
) -> DataFrame:
    """Point estimates for ``probes[col]`` from a counter table.

    The counter table is ≤ d·w rows by construction → broadcast; the
    probe side streams through a BroadcastHashJoin with no shuffle of
    its own. Missing cells count 0 (left join + coalesce), and the
    row-wise minimum is a plain groupBy over d rows per probe.
    Output: (col, cm_est).
    """
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"), _cm_col(F.col(col), i, w).alias("c")
            )
            for i in range(d)
        ]
    )
    probe_cells = probes.select(
        F.col(col), F.explode(cells).alias("rc")
    ).select(col, F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
    joined = probe_cells.join(F.broadcast(counters), ["r", "c"], "left")
    return joined.groupBy(col).agg(
        F.min(F.coalesce(F.col("n"), F.lit(0))).alias("cm_est")
    )


# --------------------------------------------------------------------------
# KMV / theta sketch: distinct-cardinality AND set-intersection estimates
# from the k smallest distinct hash values per group (Bar-Yossef et al.
# 2002; the Druid/DataSketches theta family). Fully deterministic — the
# bottom-k of a fixed hash is merge-order independent, unlike KLL — so
# even the ESTIMATES hash-match the SQL oracle.

_KMV_SALTS = 64


def kmv_bottomk(
    df: DataFrame, col: str, group: str, k: int, salts: int = _KMV_SALTS
) -> DataFrame:
    """Per-group bottom-k distinct hashes: (group, h) with ≤ k rows/group.

    Two-level pruning keeps the per-group sort off the critical path at
    scale: distinct (group, h) pairs first take a per-(group, salt)
    bottom-k over ``salts`` hash-derived salt lanes — ``salts`` parallel
    windows per group instead of one giant single-reducer sort — then the
    ≤ k·salts survivors take the true per-group bottom-k. The union of
    per-salt bottom-k sets contains every globally bottom-k hash, so the
    result is exactly the global bottom-k. h is distinct within a group,
    so ORDER BY h alone is a total order (no tie-break needed).
    """
    from pyspark.sql import Window

    h = md5_long(F.col(col))
    hashes = df.select(F.col(group), h.alias("h")).distinct()
    lane = Window.partitionBy(group, F.col("h") % salts).orderBy("h")
    pruned = (
        hashes.withColumn("rn", F.row_number().over(lane))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    final = Window.partitionBy(group).orderBy("h")
    return (
        pruned.withColumn("rn", F.row_number().over(final))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def kmv_theta(sketch: DataFrame, group: str, k: int) -> DataFrame:
    """Per-group (n_k, theta, est_distinct) from a bottom-k sketch.

    theta = the k-th smallest hash; est = (k−1)·2^60 / theta (the
    unbiased KMV estimator). A group with fewer than k distinct values
    is EXACT (its sketch holds everything): theta pins to 2^60 and the
    estimate is just n_k. The numerator (k−1)·2^60 is an exact double
    (small-int × power of two), so the one float division is
    bit-deterministic across engines.
    """
    numer = float((k - 1) * (1 << _HASH_BITS))
    agg = sketch.groupBy(group).agg(
        F.count(F.lit(1)).alias("n_k"), F.max("h").alias("theta_k")
    )
    return agg.select(
        group,
        "n_k",
        F.when(F.col("n_k") < k, F.lit(int(1 << _HASH_BITS)))
        .otherwise(F.col("theta_k"))
        .alias("theta"),
        F.round(
            F.when(F.col("n_k") < k, F.col("n_k").cast("double")).otherwise(
                F.lit(numer) / F.col("theta_k").cast("double")
            ),
            6,
        ).alias("est_distinct"),
    )


def kmv_intersections(
    sketch: DataFrame, theta: DataFrame, group: str
) -> DataFrame:
    """Pairwise intersection-cardinality estimates between groups.

    Theta-sketch intersection: for a pair (a, b), θ = min(θ_a, θ_b);
    every hash below θ is fully known to BOTH sketches (bottom-k holds
    all of a group's hashes < its own θ), so the retained set is the
    h-equi-join of the two sketches filtered to h < θ, and
    est = |retained| · 2^60 / θ. The join is hash-equi (no cartesian);
    the per-group θ frames are tiny and broadcast.
    """
    full = float(1 << _HASH_BITS)
    a = sketch.select(F.col(group).alias("g1"), "h")
    b = sketch.select(F.col(group).alias("g2"), "h")
    matched = a.join(b, "h").filter(F.col("g1") < F.col("g2"))
    ta = theta.select(
        F.col(group).alias("g1"),
        F.col("theta").alias("th1"),
        F.col("est_distinct").alias("est_d1"),
    )
    tb = theta.select(
        F.col(group).alias("g2"),
        F.col("theta").alias("th2"),
        F.col("est_distinct").alias("est_d2"),
    )
    pairs = ta.crossJoin(tb).filter(F.col("g1") < F.col("g2"))
    th = F.least("th1", "th2")
    retained = (
        matched.join(F.broadcast(pairs.select("g1", "g2", th.alias("th"))), ["g1", "g2"])
        .filter(F.col("h") < F.col("th"))
        .groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("n_retained"))
    )
    return (
        pairs.join(retained, ["g1", "g2"], "left")
        .select(
            "g1",
            "g2",
            "est_d1",
            "est_d2",
            F.coalesce("n_retained", F.lit(0)).alias("n_retained"),
            F.round(
                F.coalesce("n_retained", F.lit(0)).cast("double")
                * F.lit(full)
                / F.least("th1", "th2").cast("double"),
                6,
            ).alias("est_intersection"),
        )
    )
