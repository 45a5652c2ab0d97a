"""Multi-partition, multi-action determinism for every two-pass (multi-job)
operator — the regression class behind the round-6 w08 red.

Why these tests are shaped this way: the r6 bug was `repartitionByRange`
re-sampling its split boundaries PER JOB, so an operator that evaluates the
ranged frame twice (collect offsets, then apply them) applied job-1 offsets
to job-2's different partitioning. Tiny inputs never trip it — with few
rows per partition the resample lands on the same boundaries — so every
test here forces ≥10k rows through ≥8 buckets from a shuffled physical
layout, compares against the single-window global reference, and collects
the operator output through two INDEPENDENT actions (what the driver's
value-hash does).
"""

from __future__ import annotations

from pyspark.sql import functions as F

N = 10_007
BUCKETS = 11


def _permuted_ids(spark, n=N):
    # non-contiguous, shuffled keys over a multi-partition layout
    return (
        spark.range(0, n)
        .select((F.col("id") * 7919 % 100_003).alias("id"))
        .repartition(13)
    )


def test_decimate_partitioned_at_scale_matches_global(spark):
    from pm25ml_spark.operators.sampling import decimate, decimate_partitioned

    df = _permuted_ids(spark)
    want = sorted(r.id for r in decimate(df, 7, ["id"]).collect())
    out = decimate_partitioned(df, 7, ["id"], num_partitions=BUCKETS)
    got1 = sorted(r.id for r in out.collect())
    got2 = sorted(r.id for r in out.collect())  # second independent action
    assert got1 == want
    assert got2 == want


def test_decimate_partitioned_fresh_plans_agree(spark):
    from pm25ml_spark.operators.sampling import decimate_partitioned

    df = _permuted_ids(spark)
    runs = {
        tuple(
            sorted(
                r.id
                for r in decimate_partitioned(
                    df, 7, ["id"], num_partitions=BUCKETS
                ).collect()
            )
        )
        for _ in range(3)
    }
    assert len(runs) == 1


def test_range_bucket_column_is_row_pure_and_monotone(spark):
    from pm25ml_spark.operators.bucketize import range_bucket_column

    df = _permuted_ids(spark)
    expr, nb = range_bucket_column(df, ["id"], 8)
    assert 1 <= nb <= 8
    rows = df.select("id", expr.alias("b")).collect()
    # monotone: sort by key → bucket ids non-decreasing, all within range
    by_key = sorted((r.id, r.b) for r in rows)
    bs = [b for _, b in by_key]
    assert all(0 <= b < nb for b in bs)
    assert bs == sorted(bs)
    # row-pure: same row → same bucket under a different physical layout
    again = dict(
        (r.id, r.b)
        for r in df.repartition(3).select("id", expr.alias("b")).collect()
    )
    assert all(again[k] == b for k, b in by_key)


def test_range_bucket_column_nulls_land_in_bucket_zero(spark):
    from pm25ml_spark.operators.bucketize import range_bucket_column

    df = spark.createDataFrame(
        [(None,)] + [(i,) for i in range(1000)], "id long"
    ).repartition(7)
    expr, nb = range_bucket_column(df, ["id"], 4)
    got = {r.id: r.b for r in df.select("id", expr.alias("b")).collect()}
    assert got[None] == 0
    assert nb >= 2


def test_range_bucket_column_degenerate_single_key(spark):
    from pm25ml_spark.operators.bucketize import range_bucket_column

    df = spark.createDataFrame([(1,)] * 500, "id long")
    expr, nb = range_bucket_column(df, ["id"], 8)
    assert nb == 1
    assert df.select(expr.alias("b")).distinct().collect()[0].b == 0


def test_exact_quantiles_matches_sort_and_repeats(spark):
    """exact_quantiles is a two-pass (counts job + pick job) operator on
    range buckets — same regression class as decimation and the prefix
    sum: multi-bucket, shuffled layout, independent actions, duplicate
    values included."""
    import math

    from pm25ml_spark.operators.quantiles import exact_quantiles

    vals = [(float((i * 7919) % 997),) for i in range(10_007)]
    df = spark.createDataFrame(vals, "v double").repartition(13)
    truth = sorted(v for (v,) in vals)
    ps = [0.0, 0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0]
    want = {
        p: truth[min(max(1, math.ceil(p * len(truth))), len(truth)) - 1]
        for p in ps
    }
    out = exact_quantiles(df, "v", ps, num_partitions=11)
    got1 = {r.p: r.value for r in out.collect()}
    got2 = {r.p: r.value for r in out.collect()}
    assert got1 == want
    assert got2 == want


def test_exact_quantiles_nulls_and_empty(spark):
    from pm25ml_spark.operators.quantiles import exact_quantiles

    df = spark.createDataFrame(
        [(None,), (5.0,), (1.0,), (None,), (3.0,)], "v double"
    )
    got = {
        r.p: r.value
        for r in exact_quantiles(df, "v", [0.5, 1.0]).collect()
    }
    assert got == {0.5: 3.0, 1.0: 5.0}  # nulls excluded, n=3
    empty = spark.createDataFrame([], "v double")
    assert exact_quantiles(empty, "v", [0.5]).collect() == []


def test_ordered_prefix_sum_matches_global_window_two_actions(spark):
    from pyspark.sql import Window

    from pm25ml_spark.operators.prefix import ordered_prefix_sum

    df = _permuted_ids(spark).withColumn("v", (F.col("id") % 13) + 1)
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.id: r.c
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    out = ordered_prefix_sum(df, ["id"], "v", "c", num_partitions=BUCKETS)
    got1 = {r.id: r.c for r in out.collect()}
    got2 = {r.id: r.c for r in out.collect()}
    assert got1 == want
    assert got2 == want


def test_ordered_prefix_sum_double_is_decimal_exact(spark):
    from pyspark.sql import Window

    from pm25ml_spark.operators.prefix import ordered_prefix_sum

    df = _permuted_ids(spark).withColumn(
        "v", (F.col("id") % 97).cast("double") / 8 + 0.125
    )
    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.id: r.c
        for r in df.withColumn(
            "c",
            F.sum(F.col("v").cast("decimal(38,6)")).over(w).cast("double"),
        ).collect()
    }
    out = ordered_prefix_sum(df, ["id"], "v", "c", num_partitions=BUCKETS)
    got = {r.id: r.c for r in out.collect()}
    assert got == want


def test_ordered_prefix_sum_all_null_bucket(spark):
    """A range bucket whose value rows are ALL NULL sums to NULL on the
    driver — it must contribute 0 to downstream offsets (window-SUM
    semantics), not crash the integral path with int(None)."""
    from pm25ml_spark.operators.prefix import ordered_prefix_sum

    # ids 0..199; v is NULL for the low half — with enough buckets the
    # low-range buckets are entirely NULL
    df = spark.range(200).select(
        "id",
        F.when(F.col("id") >= 100, F.col("id") % 7 + 1)
        .cast("long")
        .alias("v"),
    )
    out = ordered_prefix_sum(df, ["id"], "v", "c", num_partitions=8)
    got = {r.id: r.c for r in out.collect()}
    from pyspark.sql import Window

    w = Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.id: r.c
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_ordered_prefix_sum_composite_order_key(spark):
    """A two-column (string, string) order key: composite keys are what
    m06 ranks over (neg_score, vec_id)."""
    from pyspark.sql import Window

    from pm25ml_spark.operators.prefix import ordered_prefix_sum

    docs = (
        spark.range(0, 10_500)
        .select(
            F.concat(
                F.lit("d"), F.lpad(F.col("id").cast("string"), 6, "0")
            ).alias("doc_id"),
            F.element_at(
                F.array(F.lit("de"), F.lit("en"), F.lit("fr"), F.lit("hi")),
                (F.col("id") % 4 + 1).cast("int"),
            ).alias("lang"),
            ((F.col("id") * 13 % 61) + 1).cast("long").alias("n_tokens"),
        )
        .repartition(19)
    )
    w = Window.orderBy("lang", "doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    want = sorted(
        map(tuple, docs.withColumn("c", F.sum("n_tokens").over(w)).collect())
    )
    out = ordered_prefix_sum(
        docs, ["lang", "doc_id"], "n_tokens", "c", num_partitions=BUCKETS
    )
    assert sorted(map(tuple, out.collect())) == want
    assert sorted(map(tuple, out.collect())) == want  # second action


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


def test_grouped_exact_quantiles_matches_window(spark):
    """Per-group rank-exact quantiles == the window-sort reference,
    including NULL group keys (own group) and duplicate values."""
    import math

    from pm25ml_spark.operators.quantiles import grouped_exact_quantiles

    df = (
        spark.range(3000)
        .select(
            F.when(F.col("id") % 7 == 0, None)
            .otherwise(F.concat(F.lit("g"), (F.col("id") % 3).cast("string")))
            .alias("g"),
            ((F.col("id") * 37) % 101).cast("double").alias("v"),
        )
    )
    ps = [0.0, 0.25, 0.5, 1.0]
    got = {
        (r.g, r.p): r.value
        for r in grouped_exact_quantiles(df, ["g"], "v", ps, 8).collect()
    }
    rows = df.collect()
    byg: dict = {}
    for r in rows:
        byg.setdefault(r.g, []).append(r.v)
    want = {}
    for g, vs in byg.items():
        vs.sort()
        for p in ps:
            k = min(max(1, math.ceil(p * len(vs))), len(vs))
            want[(g, p)] = vs[k - 1]
    assert got == want


def test_grouped_exact_quantiles_nan_group_key(spark):
    """NaN group keys must form ONE group (Spark normalizes NaN in
    groupBy; a naive nan != nan dict would fragment counts and then
    IndexError in the picker)."""
    from pm25ml_spark.operators.quantiles import grouped_exact_quantiles

    df = spark.range(400).select(
        F.when(F.col("id") % 3 == 0, float("nan"))
        .otherwise((F.col("id") % 2).cast("double"))
        .alias("g"),
        F.col("id").cast("double").alias("v"),
    )
    out = grouped_exact_quantiles(df, ["g"], "v", [0.5, 1.0], 8).collect()
    import math as _m

    by = {}
    for r in out:
        k = "nan" if r.g is not None and _m.isnan(r.g) else r.g
        by.setdefault(k, {})[r.p] = r.value
    # one NaN group with both quantiles, plus groups 0.0 and 1.0
    assert set(by) == {"nan", 0.0, 1.0}
    # NaN rows are ids 0,3,6,...,399 -> max 399; median = 198th of 134
    vs = sorted(float(i) for i in range(0, 400, 3))
    assert by["nan"][1.0] == vs[-1]
    assert by["nan"][0.5] == vs[max(1, -(-len(vs) * 1 // 2)) - 1]


def test_grouped_weighted_median_matches_reference(spark):
    """Bucketed weighted median == the brute-force cumulative-weight
    reference (smallest v with 2*cumw >= totw), including duplicate
    values, NULL group keys, and excluded non-positive/NULL weights."""
    from pm25ml_spark.operators.quantiles import grouped_weighted_median

    df = spark.range(3000).select(
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 4).cast("string")))
        .alias("g"),
        ((F.col("id") * 37) % 97).cast("double").alias("v"),
        # weights cycle through negatives, zero, NULL, and positives
        F.when(F.col("id") % 13 == 0, None)
        .otherwise(((F.col("id") % 9) - 2).cast("double"))
        .alias("w"),
    )
    got = {
        r.g: (r.wmedian, r.n, r.w_total)
        for r in grouped_weighted_median(df, ["g"], "v", "w", 8).collect()
    }
    byg: dict = {}
    for r in df.collect():
        if r.w is None or r.w <= 0:
            continue
        byg.setdefault(r.g, []).append((r.v, r.w))
    want = {}
    for g, vw in byg.items():
        vw.sort()
        tot = sum(int(round(w * 1e6)) for _, w in vw)
        acc = 0
        for v, w in vw:
            acc += int(round(w * 1e6))
            if 2 * acc >= tot:
                want[g] = (v, len(vw), tot / 1e6)
                break
    assert set(got) == set(want)
    for g in want:
        assert got[g][0] == want[g][0], (g, got[g], want[g])
        assert got[g][1] == want[g][1]
        assert abs(got[g][2] - want[g][2]) < 1e-9


def test_grouped_weighted_median_single_heavy_row(spark):
    """One row holding more than half the total mass IS the median,
    wherever it sorts."""
    from pm25ml_spark.operators.quantiles import grouped_weighted_median

    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 100.0, 10.0)],
        "g string, v double, w double",
    )
    out = grouped_weighted_median(df, ["g"], "v", "w", 4).collect()
    assert len(out) == 1 and out[0].wmedian == 100.0


def test_grouped_weighted_median_fractional_weights(spark):
    """Sub-6dp fractional weights: the kernel must consume the SAME
    DECIMAL(38,6) micro-units the driver summed (numpy re-rounding uses
    half-even vs Spark's HALF_UP and can miss the crossing bucket
    entirely). Ten equal weights 2.5e-6 over values 0..9 -> median 4.0."""
    from pm25ml_spark.operators.quantiles import grouped_weighted_median

    df = spark.createDataFrame(
        [("a", float(i), 2.5e-6) for i in range(10)],
        "g string, v double, w double",
    )
    out = grouped_weighted_median(df, ["g"], "v", "w", 4).collect()
    assert len(out) == 1 and out[0].wmedian == 4.0, out


def test_grouped_weighted_median_nan_weight_excluded(spark):
    """NaN weights sort above 0 in Spark comparisons — they must be
    excluded like NULLs and non-positives, not crash the kernel's int
    cast or silently count as mass."""
    from pm25ml_spark.operators.quantiles import grouped_weighted_median

    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 1.5, float("nan")), ("a", 2.0, 1.0)],
        "g string, v double, w double",
    )
    out = grouped_weighted_median(df, ["g"], "v", "w", 4).collect()
    assert len(out) == 1
    assert out[0].wmedian == 1.0 and out[0].n == 2
    assert abs(out[0].w_total - 2.0) < 1e-12


def test_grouped_quantiles_null_and_nan_groups_coexist(spark):
    """A NULL-key and a NaN-key group on a float group column must not
    steal each other's rows: Arrow renders SQL NULL as NaN in pandas,
    so the kernel must match on the Spark-computed gid, not on pandas
    values. NULL group holds 0..9, NaN group holds 0.5..9.5."""
    from pm25ml_spark.operators.quantiles import (
        grouped_exact_quantiles,
        grouped_weighted_median,
    )

    rows = [(None, float(i)) for i in range(10)] + [
        (float("nan"), i + 0.5) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g double, v double")
    got = {}
    for r in grouped_exact_quantiles(df, ["g"], "v", [0.5], 4).collect():
        key = "nan" if r.g is not None else "null"
        got[key] = r.value
    assert got == {"null": 4.0, "nan": 4.5}, got

    wdf = df.select("g", "v", F.lit(1.0).alias("w"))
    wm = {}
    for r in grouped_weighted_median(wdf, ["g"], "v", "w", 4).collect():
        key = "nan" if r.g is not None else "null"
        wm[key] = r.wmedian
    assert wm == {"null": 4.0, "nan": 4.5}, wm


def test_grouped_quantiles_high_cardinality_fallback(spark):
    """When |groups| x buckets tallies exceed max_driver_tallies, the
    operator must switch to the per-group window plan (group-shard
    fallback) and produce the IDENTICAL result — same rank convention,
    same schema. Forced here with a tiny threshold over a group column
    with 500 distinct keys."""
    import math

    from pm25ml_spark.operators.quantiles import grouped_exact_quantiles

    df = spark.range(5000).select(
        (F.col("id") % 500).cast("string").alias("g"),
        ((F.col("id") * 37) % 101).cast("double").alias("v"),
    )
    ps = [0.0, 0.5, 1.0]
    big = grouped_exact_quantiles(df, ["g"], "v", ps, 8)
    small = grouped_exact_quantiles(
        df, ["g"], "v", ps, 8, max_driver_tallies=10
    )
    assert [f.name for f in big.schema.fields] == [
        f.name for f in small.schema.fields
    ]
    as_map = lambda d: {(r.g, r.p): r.value for r in d.collect()}  # noqa: E731
    got_big, got_small = as_map(big), as_map(small)
    assert got_small == got_big
    # independent reference: driver-side sort per group
    rows = df.collect()
    byg: dict = {}
    for r in rows:
        byg.setdefault(r.g, []).append(r.v)
    for g, vs in byg.items():
        vs.sort()
        for p in ps:
            k = min(max(1, math.ceil(p * len(vs))), len(vs))
            assert got_small[(g, p)] == vs[k - 1]


def test_grouped_weighted_median_high_cardinality_fallback(spark):
    """Same switch for the weighted median: the windowed fallback must
    reproduce the bucketed path bit-for-bit (crossing value, n, and the
    decimal-summed w_total)."""
    from pm25ml_spark.operators.quantiles import grouped_weighted_median

    df = spark.range(4000).select(
        (F.col("id") % 400).cast("string").alias("g"),
        ((F.col("id") * 13) % 97).cast("double").alias("v"),
        ((F.col("id") % 7) * 0.25 + 0.125).alias("w"),
    )
    big = grouped_weighted_median(df, ["g"], "v", "w", 8)
    small = grouped_weighted_median(
        df, ["g"], "v", "w", 8, max_driver_tallies=10
    )
    as_map = lambda d: {  # noqa: E731
        r.g: (r.wmedian, r.n, r.w_total) for r in d.collect()
    }
    assert as_map(small) == as_map(big)
