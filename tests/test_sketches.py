"""Tests for the sequence-packing operator (``operators/packing``) and
the t13 catalog query built on it: the two-pass distributed prefix sum
equals a single global window, t13's offsets are gapless, and its plan
keeps the corpus off a single partition.
"""

from __future__ import annotations


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
