"""Catalog sampling helpers (SURVEY A3/W7): decimation, an md5-portable
stratified split, per-stratum caps, global top-k and weighted sampling.

The pipeline's own split — the reference's per-50km-stratum fraction
sample (`sample/imputation_sampler.py:46-110`) — is
``ml/pipeline.stratified_split``, beside the CV fold assignment.

Seeded-RNG bit-parity with Polars is impossible cross-engine (SURVEY §7.4
trap #2). ``stratified_split_portable`` sidesteps it: hash-ordered
membership IS bit-identical across engines (oracle-checked in
``a03_stratified_split``), at the cost of md5 over xxhash64.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def decimate(df: DataFrame, every: int, order_cols: list[str]) -> DataFrame:
    """gather_every(n) (W7, dependency_injection.py:340-346): keep rows
    whose rank ≡ 1 (mod n) in the given order. Deterministic; the global
    window funnels everything through ONE task — acceptable only when the
    input is already mini-sample-sized. For anything larger use
    :func:`decimate_partitioned` (identical output, no single-task sort)."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") - 1) % every == 0)
        .drop("__rn")
    )


def decimate_partitioned(
    df: DataFrame,
    every: int,
    order_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact gather_every(n) without the global window (the W7 scale
    path): EXACTLY the rows :func:`decimate` keeps, computed with
    per-bucket ranks + bucket offsets (the classic two-pass zipWithIndex
    shape) instead of a single-task global sort.

    The global rank is :func:`~pm25ml_spark.operators.prefix.
    ordered_prefix_sum` of a literal 1 — the one audited implementation
    of the deterministic two-pass pattern (row-pure ``__bucket`` from
    once-sampled split keys, per-bucket totals collected once, broadcast
    offsets + per-bucket window) — entirely JVM-side, no Python kernel,
    no single-partition stage anywhere.

    Requires unique ``order_cols`` keys for a well-defined result (the
    same contract as ``decimate`` — with ties, ANY engine's rank is
    arbitrary). The two passes re-evaluate the input, so the source must
    be deterministic (true of every storage scan; re-derive plans with
    nondeterministic columns should persist first) — and the bucket id
    itself is deterministic even across different physical partitionings.
    """
    from pm25ml_spark.operators.prefix import ordered_prefix_sum

    ranked = ordered_prefix_sum(
        df.withColumn("__one", F.lit(1).cast("bigint")),
        order_cols,
        "__one",
        "__rank",
        num_partitions=num_partitions,
    )
    return ranked.filter((F.col("__rank") - 1) % every == 0).drop(
        "__one", "__rank"
    )


def stratified_split_portable(
    df: DataFrame,
    stratum: str,
    fraction: float,
    key: str,
    seed: int = 42,
) -> DataFrame:
    """Exact per-stratum split whose membership is bit-identical across
    ENGINES, not just runs: rows are ordered by ``md5(seed || key)`` (then
    the key), both computable verbatim in any SQL engine — so the sampled
    set itself is oracle-checkable, going beyond the SURVEY §7.4 trap-#2
    concession that seeded-RNG parity is impossible. Same shuffle shape
    as ``ml/pipeline.stratified_split`` (one rank window per stratum);
    that one (xxhash64) suffices when only within-engine determinism is
    needed — xxhash64 is a cheaper hash than md5. The label goes to a
    ``split`` column: ``"training"`` for each stratum's first
    ``ceil(n · fraction)`` rows in that order, ``"test"`` for the rest."""
    h = F.md5(F.concat(F.lit(str(seed) + ":"), F.col(key).cast("string")))
    w = Window.partitionBy(stratum).orderBy(h, F.col(key))
    wc = Window.partitionBy(stratum)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wc))
        .withColumn(
            "split",
            F.when(
                F.col("__rn") <= F.ceil(F.col("__n") * fraction), "training"
            ).otherwise("test"),
        )
        .drop("__rn", "__n")
    )


def stratified_cap_k(
    df: DataFrame,
    stratum: str,
    id_col: str,
    k: int,
    seed: str = "cap",
    salts: int = 32,
) -> DataFrame:
    """Cap every stratum at its k hash-FIRST rows — the class-rebalancing
    primitive of a training-data mix ("at most k docs per source"), with
    membership portable across engines: rows rank by the 60-bit md5 of
    ``"{seed}:{id}"`` (then the id), so any SQL engine reproduces the
    same sample exactly.

    Scale shape: a plain per-stratum window shuffles the whole corpus
    onto stratum keys, and a dominant stratum becomes one giant task. So
    the rank is two-level, like :func:`global_topk` but per stratum:
    per-(stratum, lane) top-k first (salted parallel windows), then the
    true per-stratum top-k over the ≤ k·salts survivors. Adds ``rk``
    (1-based within stratum); keeps all input columns.
    """
    from pm25ml_spark.functions.columns import md5_long

    h = md5_long(F.concat_ws(":", F.lit(seed), F.col(id_col)))
    keyed = df.withColumn("__h", h).withColumn("__lane", h % salts)
    lane = Window.partitionBy(stratum, "__lane").orderBy(
        "__h", F.col(id_col)
    )
    pruned = (
        keyed.withColumn("__rn", F.row_number().over(lane))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__lane")
    )
    final = Window.partitionBy(stratum).orderBy("__h", F.col(id_col))
    return (
        pruned.withColumn("rk", F.row_number().over(final).cast("long"))
        .filter(F.col("rk") <= k)
        .drop("__h")
    )


def global_topk(
    df: DataFrame,
    order: list,
    k: int,
    lane_col: str,
    salts: int = 64,
    rank_col: str = "rk",
) -> DataFrame:
    """Exact global top-k with rank, WITHOUT sorting the whole frame
    through one task: per-salt-lane top-k first (``salts`` parallel
    windows over ``xxhash64(lane_col) % salts``), then the true top-k
    over the ≤ k·salts survivors. Exact by the subset argument — any
    global top-k row is also top-k within its lane, so the prune never
    drops a winner. The final unpartitioned window sees a BOUNDED frame
    (k·salts rows), not the corpus.

    ``order`` is the ordering column list (e.g. ``[F.desc("score"),
    F.asc("id")]``) — it must be a total order (include a tie-break) for
    a well-defined result. ``lane_col`` is any column; the lane hash only
    affects balance, never the result.
    """
    # pmod, not %: xxhash64 is signed, and raw % would yield 2*salts-1
    # distinct lanes on mixed-sign hashes — correct but double the
    # documented k*salts survivor bound the final window relies on
    lane = F.pmod(F.xxhash64(F.col(lane_col)), F.lit(salts))
    lw = Window.partitionBy("__lane").orderBy(*order)
    pruned = (
        df.withColumn("__lane", lane)
        .withColumn("__rn", F.row_number().over(lw))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__lane")
    )
    final = Window.orderBy(*order)
    return pruned.withColumn(
        rank_col, F.row_number().over(final).cast("long")
    ).filter(F.col(rank_col) <= k)


def weighted_sample_topk(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: str = "es",
    salts: int = 64,
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis 2006,
    algorithm A-ES): every row draws a deterministic uniform u from the
    portable 60-bit md5 of ``"{seed}:{id}"`` and the sample is the k
    largest keys u^(1/w) — inclusion probability proportional to weight,
    exactly the "sample the corpus length-weighted" primitive a
    training-data mix needs. The key is compared in log space,
    ln(u)/w (same ordering, no pow), rounded to 6 dp with the row id as
    tie-break — the repo's standard portable-transcendental recipe.

    Scale shape: a global top-k is a single-reducer sort, so the plan
    takes per-salt-lane top-k first (``salts`` parallel windows over a
    hash-derived lane) and the true top-k over the ≤ k·salts survivors —
    the same two-level prune as :func:`global_topk`, exact by the same
    subset argument. Adds column ``es_key``; keeps id and weight.

    A-ES is defined for w > 0 only: rows with w = 0 have zero inclusion
    probability by definition, and a NEGATIVE weight would flip the key
    sign and rank ABOVE every valid row — so non-positive weights are
    filtered out up front rather than silently inverting the sample.
    """
    from pm25ml_spark.functions.columns import md5_long

    df = df.filter(F.col(weight_col) > 0)
    h = md5_long(F.concat_ws(":", F.lit(seed), F.col(id_col)))
    u = (h % 1_000_000 + 0.5) / 1_000_000.0
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 6)
    keyed = df.select(
        F.col(id_col),
        F.col(weight_col),
        key.alias("es_key"),
        (h % salts).alias("__lane"),
    )
    lane = Window.partitionBy("__lane").orderBy(
        F.desc("es_key"), F.col(id_col)
    )
    pruned = (
        keyed.withColumn("__rn", F.row_number().over(lane))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__lane")
    )
    final = Window.orderBy(F.desc("es_key"), F.col(id_col))
    return (
        pruned.withColumn("rk", F.row_number().over(final).cast("long"))
        .filter(F.col("rk") <= k)
    )
