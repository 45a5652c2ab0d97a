"""Structured Streaming variants of the batch operators.

The reference has NO streaming surface (SURVEY §2.11 — its incrementality
is idempotent batch + skip-if-valid). This module is the beyond-reference
extension SURVEY §7.3(8) names: the same event-table aggregations as
streams, with watermarks for late data. Each builder takes a streaming
DataFrame (``spark.readStream``) and returns the transformed stream; tests
drive them with ``Trigger.AvailableNow`` over the benchmark parquet so
results are comparable to the batch plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pm25ml_spark.catalog import _normalize_event_ts
from pm25ml_spark.session import ensure_runtime_confs


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 1,
    glob: str = "events.parquet",
) -> DataFrame:
    """File-source stream over the events table (nanos ts handled as in
    the batch catalog). ``glob`` selects which files in the directory feed
    the stream (tests point it at multi-file duplicate corpora)."""
    ensure_runtime_confs(spark)
    static = spark.read.parquet(f"{sf_dir}/{glob}")
    # the file-stream source needs a directory basePath; select the events
    # file(s) out of the table directory with a glob filter
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", glob)
        .parquet(sf_dir)
    )
    # normalize nanos-as-long / TIMESTAMP_NTZ to TIMESTAMP: withWatermark
    # rejects NTZ event-time columns
    return _normalize_event_ts(stream)


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling event-time windows with a late-data watermark: count +
    value sum per (window, event_type). State is bounded by the watermark;
    the aggregation is partial+final like any Spark hash agg."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_user_activity(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "4 hours",
) -> DataFrame:
    """Sliding-window per-user activity — the streaming dual of the batch
    rolling mean (W1)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("mean_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "user_id",
            "n",
            "mean_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (gap-based) — the streaming dual of the
    batch w09_sessionize plan."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_stream(
    events: DataFrame,
    watermark: str = "2 hours",
    keys=("event_id",),
) -> DataFrame:
    """Streaming exact dedup — the streaming dual of the batch dd01
    hash-groupBy dedup. ``dropDuplicatesWithinWatermark`` keeps one row
    per key and bounds the dedup state by the event-time watermark, so
    state stays O(keys-per-watermark-window) instead of O(stream) — the
    only viable shape for an unbounded 100 TB/day ingest."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    tmp_dir: str,
    output_mode: str = "complete",
    timeout_s: int = 120,
    state_partitions: int | None = None,
):
    """Drain the stream with AvailableNow into an in-memory sink; returns
    the finished StreamingQuery (caller reads ``spark.table(query_name)``).
    Aggregating streams drain in ``complete`` mode; row-level operators
    (dedup) drain in ``append``.

    ``state_partitions`` sizes the stateful operators' shuffle (and
    therefore the number of state-store instances the query creates,
    commits, and snapshots EVERY micro-batch — a stream-stream join
    carries 4 stores per partition per side). Structured Streaming pins
    this at checkpoint creation, so it must be set before ``start()``;
    the session value is restored right after, since each catalog
    invocation uses a fresh checkpoint dir. Size it to expected state
    volume: a 100 TB topology wants hundreds, these bounded-state
    catalog drains want few (per-store fixed cost dominates measured
    BENCH streaming time otherwise).

    SCOPE NOTE: ``spark.sql.shuffle.partitions`` is session-scoped; the
    mutation targets ``stream_df``'s OWN session (the one that plans
    every micro-batch). The catalog's drains build their streams in an
    isolated ``spark.newSession()`` child (``plans/live.py:_isolated``),
    so the caller's session conf is never touched and concurrent batch
    planning cannot pick up the drain's state-partition count. Direct
    callers that share one session with batch work should do the same;
    the guard below still refuses stacked drains on one session."""
    spark = stream_df.sparkSession
    prev = None
    if state_partitions is not None:
        # runtime safety check, not a debug assertion: `assert` is
        # stripped under `python -O`, which would silently re-enable the
        # session-global shuffle-partition mutation race
        if spark.streams.active:
            raise RuntimeError(
                "run_available_now(state_partitions=...) mutates the "
                "session-wide shuffle-partition conf; refusing to overlap "
                "with active streaming queries"
            )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", f"{tmp_dir}/chk_{query_name}")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(timeout_s)
    finally:
        # start() is async — the first micro-batch (which pins the state
        # partition count into the checkpoint) may plan at any point
        # before termination, so the conf is only restored AFTER the
        # drain completes
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    if not finished:
        # a silent partial drain would hand the caller an incomplete
        # memory table with no error — stop the query and fail loudly
        q.stop()
        raise TimeoutError(
            f"stream '{query_name}' did not drain within {timeout_s}s"
        )
    return q


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-user running event count + value total, carried in the state
    store across micro-batches and emitted (update mode) once per user
    per batch.

    This is the escape hatch for stateful semantics Spark's built-in
    windowed aggregations can't express (per-key custom accumulators,
    decaying counters, session models with side conditions). State is
    O(distinct users); pair with a state TTL (GroupStateTimeout) when the
    key space is unbounded.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("total", DoubleType())]
    )

    def fn(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def read_documents_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the documents table — the ingest shape of
    a continuously-crawled corpus."""
    ensure_runtime_confs(spark)
    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def contamination_stream(
    docs_stream: DataFrame, benchmark_static: DataFrame, n: int = 2
) -> DataFrame:
    """Streaming n-gram decontamination: the stream-static dual of the
    batch ``cp02`` operator. Each micro-batch of crawled documents is
    exploded into n-grams and broadcast-joined against the STATIC
    benchmark n-gram set; output is (doc_id, gram) match rows in append
    mode — completely stateless, so state never grows with the stream
    (the aggregation to per-doc verdicts happens downstream, batch-side
    or in a watermarked window)."""
    from pm25ml_spark.operators.dedup import word_ngrams

    grams = word_ngrams("text", n)
    bench = (
        benchmark_static.select(F.explode(grams).alias("gram")).distinct()
    )
    stream_grams = docs_stream.select(
        "doc_id", F.explode(grams).alias("gram")
    )
    return stream_grams.join(F.broadcast(bench), "gram").select(
        "doc_id", "gram"
    )


def contamination_stream_bloom(
    docs_stream: DataFrame,
    bitset,
    k_hashes: int,
    benchmark_static: DataFrame,
    n: int = 2,
) -> DataFrame:
    """Streaming dual of the Bloom-prefiltered decontamination (cp04):
    each micro-batch's n-grams are probed against the broadcast bitset
    (one vectorized lookup, no join) and only Bloom-suspected grams hit
    the exact verify join against the static benchmark set — identical
    output rows to :func:`contamination_stream`, with the join input cut
    to ~fpr × stream + true hits. The bitset broadcast is created once
    and reused by every micro-batch, which is exactly the property that
    makes Bloom the right shape for an unbounded stream against a
    web-scale denylist (the verify side can live in a store keyed by
    gram; here it stays a broadcast because the catalog benchmark is
    eval-suite-sized). Stateless — state never grows with the stream."""
    from pm25ml_spark.operators.bloom import bloom_might_contain
    from pm25ml_spark.operators.dedup import word_ngrams

    grams = word_ngrams("text", n)
    bench = (
        benchmark_static.select(F.explode(grams).alias("gram")).distinct()
    )
    stream_grams = docs_stream.select(
        "doc_id", F.explode(grams).alias("gram")
    )
    suspects = bloom_might_contain(
        stream_grams, "gram", bitset, k_hashes
    ).filter(F.col("maybe_member")).drop("maybe_member")
    return suspects.join(F.broadcast(bench), "gram").select("doc_id", "gram")


def hll_register_stream(
    docs_stream: DataFrame, n: int = 2, p: int = 6
) -> DataFrame:
    """Streaming HyperLogLog: maintain distinct-n-gram registers over an
    unbounded document stream. The register table is a plain streaming
    ``groupBy(bucket).max(rho)`` — state is EXACTLY m = 2^p rows forever
    (the whole point of HLL as a streaming aggregate: max is monotone, so
    no watermark, no eviction, no growth), drained in update/complete
    mode and convertible to a cardinality estimate at any instant with
    :func:`pm25ml_spark.operators.sketches.hll_estimate`. The register
    pipeline is the BATCH operator applied to the stream unchanged —
    the batch/stream duality is the operator's mergeability property."""
    from pm25ml_spark.operators.dedup import word_ngrams
    from pm25ml_spark.operators.sketches import hll_registers

    grams = docs_stream.select(F.explode(word_ngrams("text", n)).alias("b"))
    return hll_registers(grams, "b", p)


def heavy_hitter_candidate_stream(
    docs_stream: DataFrame, k: int, n: int = 2
) -> DataFrame:
    """Streaming half of the two-pass heavy-hitter plan: per-micro-batch
    Misra-Gries candidate keys, emitted append-mode and STATELESS (O(k)
    memory inside the task, nothing in the state store). The pigeonhole
    superset argument holds for any segmentation of the stream — a key
    heavy over the whole stream is heavy in at least one micro-batch's
    partition — so the union of emitted candidates is a superset of the
    true heavy hitters and the batch-side exact recount
    (:func:`pm25ml_spark.operators.sketches.exact_heavy_hitters`'s
    second phase) stays exact. Candidates may repeat across batches;
    dedup happens in the bounded recount, not in stream state."""
    from pm25ml_spark.operators.dedup import word_ngrams
    from pm25ml_spark.operators.sketches import mg_summarizer

    grams = docs_stream.select(F.explode(word_ngrams("text", n)).alias("b"))
    return grams.mapInPandas(mg_summarizer("b", k), "b string")


def cm_counter_stream(
    docs_stream: DataFrame, n: int = 2, d: int = 4, w: int = 1024
) -> DataFrame:
    """Streaming Count-Min: maintain the d·w counter table over an
    unbounded document stream. Like the HLL dual, the state is the
    SKETCH itself — a streaming ``groupBy(r, c).count()`` whose state
    is bounded at d·w rows forever (sum is monotone, no watermark, no
    eviction) — and the batch operator applies to the stream unchanged;
    point estimates come from
    :func:`pm25ml_spark.operators.sketches.cm_estimate` against any
    drained snapshot. This is the streaming shape of "track n-gram
    frequencies over a crawl as it arrives"."""
    from pm25ml_spark.operators.dedup import word_ngrams
    from pm25ml_spark.operators.sketches import cm_counters

    grams = docs_stream.select(F.explode(word_ngrams("text", n)).alias("b"))
    return cm_counters(grams, "b", d=d, w=w)


def kmv_sketch_stream(
    docs_stream: DataFrame, k: int, n: int = 2, group: str = "source"
) -> DataFrame:
    """Streaming KMV/theta sketch: per-group bottom-k distinct n-gram
    hashes carried in the state store (``applyInPandasWithState``) —
    O(k) longs per group FOREVER, emitted update-mode after each batch.

    The built-in streaming aggregates can't express "k smallest
    distinct" with bounded state (a streaming min is one value, a
    streaming distinct grows unboundedly), so this is the
    custom-stateful escape hatch: merge each batch's hashes into the
    kept bottom-k with one numpy union+unique+partition, which is
    exactly the KMV merge — order-independent, so the stream sketch
    equals the batch sketch over the same rows
    (:func:`pm25ml_spark.operators.sketches.kmv_bottomk`).

    Output shape: one row per group per changed batch with a
    monotonically increasing ``seq`` and the kept hashes as an array.
    To feed the batch consumers (``kmv_theta`` / ``kmv_intersections``,
    which expect one row per hash), take each group's max-``seq`` row
    and explode ``h`` — the `seq` exists precisely because an
    update-mode sink accumulates every emission and "latest" is not
    otherwise recoverable from the rows alone.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    from pm25ml_spark.functions.columns import md5_long
    from pm25ml_spark.operators.dedup import word_ngrams

    hashes = docs_stream.select(
        F.col(group), F.explode(word_ngrams("text", n)).alias("b")
    ).select(F.col(group), md5_long(F.col("b")).alias("h"))

    # the group column keeps ITS OWN type (string source, int bucket,
    # ...) — hardcoding StringType would silently stringify non-string
    # keys and break joins against the batch sketch
    group_field = hashes.schema[group]
    out_schema = StructType(
        [
            StructField(group, group_field.dataType),
            StructField("seq", LongType()),
            StructField("h", ArrayType(LongType())),
        ]
    )
    state_schema = StructType(
        [
            StructField("ks", ArrayType(LongType())),
            StructField("seq", LongType()),
        ]
    )

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            prev, seq = state.get
        else:
            prev, seq = [], 0
        kept = np.array(prev, dtype=np.int64)
        batches = [kept]
        for pdf in pdfs:
            batches.append(pdf["h"].to_numpy(dtype=np.int64))
        merged = np.unique(np.concatenate(batches))  # sorted distinct
        kept = merged[:k]
        seq += 1
        state.update((kept.tolist(), seq))
        yield pd.DataFrame(
            {group: [key[0]], "seq": [seq], "h": [kept.tolist()]}
        )

    return hashes.groupBy(group).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def view_purchase_attribution(
    views: DataFrame,
    purchases: DataFrame,
    horizon: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM inner join — the attribution shape: each purchase
    matches every view by the same user in the preceding ``horizon``.

    Both inputs are event streams (typically two filtered branches of
    one source). Both sides carry watermarks and the join condition
    bounds purchase_ts to [view_ts, view_ts + horizon], which is what
    lets Spark BOUND the buffered state: a view is evicted once the
    purchase watermark passes view_ts + horizon, a purchase once the
    view watermark passes purchase_ts — state is O(rate × horizon) per
    side at any corpus size, never the whole history. At 100 TB/day the
    join is shuffled by user_id on both sides (co-partitioned state
    store), the standard production attribution topology.

    Output: one row per (view, purchase) match with the view→purchase
    lag in microseconds.
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event"),
    ).withWatermark("view_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_event"),
    ).withWatermark("purchase_ts", watermark)
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {horizon}")
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_event",
        "purchase_event",
        (
            F.unix_micros("purchase_ts") - F.unix_micros("view_ts")
        ).alias("lag_us"),
    )


def stateful_user_checksums(events: DataFrame) -> DataFrame:
    """Custom stateful operator with INTEGER-exact state (the oracle-
    checkable face of ``applyInPandasWithState``): per-user running
    event count and event_id checksum, carried across micro-batches and
    re-emitted (update mode) after every batch the user appears in.
    Both accumulators are bigint, so the running values are exact under
    ANY arrival order — the property that lets an external SQL oracle
    hash-match the final emission. State is O(distinct users); bound it
    with a GroupStateTimeout TTL when the key space is unbounded."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_event_id", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("cks", LongType())]
    )

    def fn(key, pdfs, state: GroupState):
        n, cks = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cks += int(pdf["event_id"].astype("int64").sum())
        state.update((n, cks))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_event_id": [cks]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
