"""Unit + property tests for the sketch operators (Misra-Gries, HLL).

The registered sk01/sk02 plans are value-pinned by the DuckDB oracle in
test_oracle_parity; these tests exercise the operators directly on
synthetic data whose skew/cardinality the sf fixtures can't produce:
MG's superset guarantee under heavy skew, sketch-vs-naive equality, HLL
error across cardinalities, and HLL register mergeability.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pm25ml_spark.operators import sketches as SK


def _skewed(spark, n_heavy=5000, n_tail=20000):
    """A few very hot keys over a long uniform tail, spread over many
    partitions so per-partition MG actually has to work."""
    heavy = spark.range(n_heavy).select(
        F.concat(F.lit("hot"), (F.col("id") % 3)).alias("k")
    )
    tail = spark.range(n_tail).select(
        F.concat(F.lit("t"), (F.col("id") % 4000)).alias("k")
    )
    return heavy.unionAll(tail).repartition(16)


def test_mg_candidates_superset_and_exactness(spark):
    df = _skewed(spark)
    k = 50
    naive = (
        df.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(df.agg(F.count(F.lit(1)).alias("t")))
        .filter(F.col("n") * k > F.col("t"))
        .select("k", "n")
    )
    sketched = SK.exact_heavy_hitters(df, "k", k)
    want = {(r.k, r.n) for r in naive.collect()}
    got = {(r.k, r.n) for r in sketched.collect()}
    assert want, "fixture must actually contain heavy hitters"
    assert got == want
    # and the candidate set really is a superset of the answer keys
    cand = {r.k for r in SK.mg_candidates(df, "k", k).collect()}
    assert {k_ for k_, _ in want} <= cand


def test_mg_bounded_output(spark):
    # uniform data, tiny capacity: every partition emits at most k keys
    df = spark.range(100_000).select(
        F.concat(F.lit("u"), (F.col("id") % 10_000)).alias("k")
    ).repartition(8)
    cand = SK.mg_candidates(df, "k", 10)
    assert cand.count() <= 10 * 8


@pytest.mark.parametrize("true_n", [100, 1000, 20000])
def test_hll_accuracy_band(spark, true_n):
    df = spark.range(true_n * 3).select(
        F.concat(F.lit("v"), (F.col("id") % true_n)).alias("k")
    )
    est = SK.hll_distinct(df, "k", p=6).collect()[0].estimate
    # standard error for m=64 is ~13%; allow 4 sigma
    assert abs(est - true_n) / true_n < 0.52


def test_hll_registers_merge(spark):
    """Registers from two halves, merged by max, equal whole-data
    registers — the property that makes HLL a distributed/streamable
    aggregate."""
    df = spark.range(5000).select(
        F.concat(F.lit("m"), (F.col("id") % 1234)).alias("k")
    )
    a = SK.hll_registers(df.filter(F.col("k") < "m5"), "k")
    b = SK.hll_registers(df.filter(F.col("k") >= "m5"), "k")
    merged = (
        a.unionAll(b)
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    whole = SK.hll_registers(df, "k")
    assert {(r.bucket, r.max_rho) for r in merged.collect()} == {
        (r.bucket, r.max_rho) for r in whole.collect()
    }
    # and identical registers give the identical estimate
    e1 = SK.hll_estimate(merged).collect()[0].estimate
    e2 = SK.hll_estimate(whole).collect()[0].estimate
    assert e1 == e2


def test_hll_insensitive_to_duplication(spark):
    """Estimate depends only on the distinct set (multiset invariance)."""
    df = spark.range(800).select(
        F.concat(F.lit("d"), F.col("id")).alias("k")
    )
    dup = df.unionAll(df).unionAll(df)
    e1 = SK.hll_distinct(df, "k").collect()[0].estimate
    e2 = SK.hll_distinct(dup, "k").collect()[0].estimate
    assert e1 == e2


# ---- sequence packing (operators/packing.py) -----------------------------


def test_pack_sequences_matches_global_window(spark):
    """Two-pass distributed prefix-sum == single global window, row for
    row, on a many-partition corpus with awkward sizes."""
    from pyspark.sql import functions as F

    from pm25ml_spark.operators.packing import (
        pack_sequences,
        pack_sequences_global,
    )

    df = (
        spark.range(3000)
        .select(
            F.col("id").alias("doc_id"),
            (F.pmod(F.col("id") * 37, 91) + 1).alias("n_tokens"),
        )
        .repartition(16)
    )
    a = pack_sequences(df, "n_tokens", ["doc_id"], 128, num_partitions=11)
    b = pack_sequences_global(df, "n_tokens", ["doc_id"], 128)
    rows_a = {tuple(r) for r in a.collect()}
    rows_b = {tuple(r) for r in b.collect()}
    assert rows_a == rows_b


def test_pack_sequences_invariants(spark, sf_dir):
    from pm25ml_spark.plans.registry import QUERIES, load_all_plans

    load_all_plans()

    rows = sorted(
        QUERIES["t13_sequence_packing"](spark, sf_dir).collect(),
        key=lambda r: r.doc_id,
    )
    # offsets are a gapless prefix sum in doc_id order
    expect = 0
    for r in rows:
        assert r.start_offset == expect
        expect += r.n_tokens
        assert r.first_chunk == r.start_offset // 256
        assert (r.first_chunk != r.last_chunk) == bool(r.spans_boundary)


def test_t13_no_single_partition_stage(spark, sf_dir):
    from tests.test_plan_quality import physical_plan
    from pm25ml_spark.plans.registry import QUERIES, load_all_plans

    load_all_plans()

    plan = physical_plan(QUERIES["t13_sequence_packing"](spark, sf_dir))
    # the whole point: the corpus-bearing prefix sum runs bucket-
    # partitioned on the row-pure __bucket id (NOT rangepartitioning —
    # its per-job boundary resample caused the r6 t13 red). The ONE
    # allowed SinglePartition exchange is the r9 in-plan offsets frame:
    # it must sit directly above the per-bucket HashAggregate, i.e.
    # carry <= num_buckets rows, never the corpus.
    assert "hashpartitioning(__bucket" in plan
    assert "rangepartitioning" not in plan.lower()
    lines = plan.splitlines()
    singles = [i for i, l in enumerate(lines) if "SinglePartition" in l]
    assert len(singles) == 1, plan
    below = "\n".join(lines[singles[0] + 1 : singles[0] + 3])
    assert "HashAggregate(keys=[__bucket" in below, (
        "SinglePartition exchange no longer feeds the bounded "
        "bucket-offsets aggregate:\n" + plan
    )


# ---- Count-Min (operators/sketches.py cm_*) ------------------------------


def _cm_corpus(spark):
    return spark.range(30_000).select(
        F.concat(F.lit("w"), (F.col("id") % 700)).alias("k")
    ).repartition(8)


def test_cm_never_underestimates_and_is_tight_when_wide(spark):
    df = _cm_corpus(spark)
    truth = {r.k: r.n for r in df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    counters = SK.cm_counters(df, "k", d=4, w=4096)
    probes = df.select("k").distinct()
    est = {r.k: r.cm_est for r in SK.cm_estimate(
        probes, counters, "k", d=4, w=4096).collect()}
    assert set(est) == set(truth)
    # CM is a one-sided estimator: est >= truth, always
    assert all(est[k] >= truth[k] for k in truth)
    # with w >> distinct keys, collisions are rare: most probes exact
    exact = sum(est[k] == truth[k] for k in truth)
    assert exact / len(truth) > 0.8


def test_cm_counter_table_bounded_and_mergeable(spark):
    d, w = 3, 64
    df = _cm_corpus(spark)
    counters = SK.cm_counters(df, "k", d=d, w=w)
    assert counters.count() <= d * w
    # counters from two disjoint halves merge by summing cells
    a = SK.cm_counters(df.filter(F.col("k") < "w4"), "k", d=d, w=w)
    b = SK.cm_counters(df.filter(F.col("k") >= "w4"), "k", d=d, w=w)
    merged = a.unionAll(b).groupBy("r", "c").agg(F.sum("n").alias("n"))
    assert {(r.r, r.c, r.n) for r in merged.collect()} == {
        (r.r, r.c, r.n) for r in counters.collect()
    }


def test_cm_missing_probe_gets_zero_or_collision(spark):
    df = _cm_corpus(spark)
    counters = SK.cm_counters(df, "k", d=4, w=1 << 16)
    probes = df.sparkSession.createDataFrame(
        [("never-seen-1",), ("never-seen-2",)], "k string"
    )
    est = {r.k: r.cm_est for r in SK.cm_estimate(
        probes, counters, "k", d=4, w=1 << 16).collect()}
    # wide sketch, 700 keys: an unseen key should hit an empty cell
    assert est == {"never-seen-1": 0, "never-seen-2": 0}


# ---- KMV / theta (operators/sketches.py kmv_*) ---------------------------


def _grouped(spark):
    """Three groups with controlled distinct counts and a known overlap:
    g0 = {v0..v999}, g1 = {v500..v1499} (overlap 500), g2 = tiny."""
    g0 = spark.range(1000).select(
        F.lit("g0").alias("g"), F.concat(F.lit("v"), F.col("id")).alias("k"))
    g1 = spark.range(500, 1500).select(
        F.lit("g1").alias("g"), F.concat(F.lit("v"), F.col("id")).alias("k"))
    g2 = spark.range(10).select(
        F.lit("g2").alias("g"), F.concat(F.lit("v"), F.col("id")).alias("k"))
    return g0.unionAll(g1).unionAll(g2).repartition(16)


def test_kmv_bottomk_equals_naive_global_bottomk(spark):
    """The salt-lane pre-prune must return EXACTLY the global bottom-k."""
    from pyspark.sql import Window

    from pm25ml_spark.functions.columns import md5_long

    df = _grouped(spark)
    k = 32
    got = SK.kmv_bottomk(df, "k", "g", k)
    naive = (
        df.select("g", md5_long(F.col("k")).alias("h"))
        .distinct()
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("g").orderBy("h")))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    assert {(r.g, r.h) for r in got.collect()} == {
        (r.g, r.h) for r in naive.collect()
    }


def test_kmv_theta_exact_below_k(spark):
    df = _grouped(spark)
    th = {r.g: r for r in SK.kmv_theta(
        SK.kmv_bottomk(df, "k", "g", 64), "g", 64).collect()}
    # g2 has 10 < k distinct values: estimate is exact, theta pinned full
    assert th["g2"].est_distinct == 10.0
    assert th["g2"].theta == 1 << 60
    # g0/g1 have 1000 each: KMV k=64 standard error is ~1/sqrt(62) ≈ 13%
    for g in ("g0", "g1"):
        assert abs(th[g].est_distinct - 1000) / 1000 < 0.52


def test_kmv_intersection_accuracy_and_exact_small_group(spark):
    df = _grouped(spark)
    k = 64
    sk = SK.kmv_bottomk(df, "k", "g", k)
    th = SK.kmv_theta(sk, "g", k)
    out = {(r.g1, r.g2): r for r in SK.kmv_intersections(
        sk, th, "g").collect()}
    assert set(out) == {("g0", "g1"), ("g0", "g2"), ("g1", "g2")}
    # true |g0 ∩ g1| = 500 of ~1000 each; 4-sigma band on k=64
    est = out[("g0", "g1")].est_intersection
    assert abs(est - 500) / 500 < 1.0
    # g2 ⊂ g0 and θ_pair = θ_g0 < full: the retained-set estimate of a
    # 10-element subset must come out near 10 (small-count noise aside)
    assert out[("g0", "g2")].est_intersection <= 120
    # disjointness sanity: g1 ∩ g2 = ∅ exactly (v500.. vs v0..v9)
    assert out[("g1", "g2")].n_retained == 0
    assert out[("g1", "g2")].est_intersection == 0.0
