"""Transaction-log table tests (sources/txlog.py): atomic visibility,
optimistic-concurrency conflicts, time travel, checkpoint resolution,
and vacuum safety."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pm25ml_spark.sources.txlog import CommitConflict, TxTable


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def test_append_and_read_latest(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    v0 = t.append(_df(spark, 0, 10, "a"))
    v1 = t.append(_df(spark, 10, 15, "b"))
    assert (v0, v1) == (0, 1)
    assert t.read().count() == 15
    assert t.read(version=0).count() == 10  # time travel


def test_overwrite_is_atomic_snapshot_swap(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, "old"))
    old_reader = t.read()  # resolves version 0's file list NOW
    t.overwrite(_df(spark, 0, 3, "new"))
    # new snapshot sees only the replacement
    rows = t.read().select("tag").distinct().collect()
    assert [r.tag for r in rows] == ["new"]
    assert t.read().count() == 3
    # the pre-overwrite reader still sees its immutable snapshot
    assert old_reader.count() == 10
    # and old data remains reachable via time travel
    assert t.read(version=0).count() == 10


def test_commit_conflict_raises_when_version_already_claimed(spark, tmp_path):
    """_commit claims the next version with create-if-absent; if another
    writer landed that exact file first, the loser gets CommitConflict
    (not silent overwrite)."""
    import json

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5, "a"))
    # an interloper claims version 1 directly
    interloper = os.path.join(
        str(tmp_path / "t"), "_txlog", f"{1:020d}.json"
    )
    with open(interloper, "w") as f:
        json.dump({"op": "append", "added": [], "version": 1}, f)
    files, n = t._write_files(_df(spark, 5, 8, "b"))
    with pytest.raises(CommitConflict):
        # latest_version() now sees 1, so _commit targets 2... force the
        # race by claiming 2 as well between resolve and commit: patch
        # latest_version to the stale value the writer observed earlier
        t_latest_stale = 0

        class Stale(TxTable):
            def latest_version(self):
                return t_latest_stale

        stale = Stale(spark, str(tmp_path / "t"))
        stale._commit({"op": "append", "added": files, "n_rows": n})


def test_concurrent_appends_both_land_under_retry(spark, tmp_path):
    """Two writers appending concurrently: whichever claims version N
    first wins it; the public append() retries the loser against the
    new snapshot. Both file sets end up live - no lost update."""
    a = TxTable(spark, str(tmp_path / "t"))
    b = TxTable(spark, str(tmp_path / "t"))
    a.append(_df(spark, 0, 2, "seed"))
    fa, na = a._write_files(_df(spark, 10, 14, "a"))
    fb, nb = b._write_files(_df(spark, 20, 26, "b"))
    b._commit({"op": "append", "added": fb, "n_rows": nb})
    a._commit({"op": "append", "added": fa, "n_rows": na})
    assert a.read().count() == 2 + 4 + 6
    ops = [e["op"] for e in a.history()]
    assert ops == ["append", "append", "append"]


def test_checkpoint_short_circuits_resolution(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.append(_df(spark, i * 10, i * 10 + 3, f"b{i}"))
    cp = t.checkpoint()
    t.append(_df(spark, 100, 101, "post"))
    v, live = t.snapshot()
    assert v == cp + 1
    assert t.read().count() == 4 * 3 + 1
    # resolution from an old version still works (pre-checkpoint replay)
    assert t.read(version=1).count() == 6


def test_vacuum_removes_only_dead_files(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, "old"))
    t.overwrite(_df(spark, 0, 4, "new"))
    _, live = t.snapshot()
    dead = t.vacuum()
    assert dead  # the overwritten files were deleted
    assert all(not os.path.exists(os.path.join(str(tmp_path / "t"), f)) for f in dead)
    # the live snapshot still reads fine
    assert t.read().count() == 4
    # time travel to the vacuumed version now fails loudly at scan time
    with pytest.raises(Exception):
        t.read(version=0).count()


def test_empty_table_read_raises(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="empty"):
        t.read()


def test_streaming_sink_exactly_once_under_replay(spark, tmp_path):
    """3 micro-batches land atomically; a REPLAYED epoch (same batch id)
    is skipped by the log stamp, so rows never duplicate."""
    from pm25ml_spark.sources.txlog import sink_stream_exactly_once

    src = str(tmp_path / "src")
    docs = spark.range(30).select(
        F.col("id"), (F.col("id") % 3).alias("part")
    )
    docs.repartition("part").write.partitionBy("part").parquet(src)
    static = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    t = TxTable(spark, str(tmp_path / "table"))
    q = sink_stream_exactly_once(
        stream, t, "ingest", str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert t.read().count() == 30
    ops = [e["op"] for e in t.history()]
    assert all(o == "stream-append" for o in ops)
    stamps = [tuple(e["stream_batch"]) for e in t.history()]
    assert len(stamps) == len(set(stamps))
    # simulate the crash-replay of epoch 0: same query name + batch id
    # must be a no-op even though the data would otherwise append
    replayed = static.limit(7)
    before = t.read().count()
    # drive the idempotent path directly (foreachBatch calls this shape)
    from pm25ml_spark.sources import txlog as TL

    def replay(batch_df, batch_id):
        stamp = ["ingest", int(batch_id)]
        if any(e.get("stream_batch") == stamp for e in t.history()):
            return
        files, n = t._write_files(batch_df)
        t._commit({"op": "stream-append", "added": files,
                   "n_rows": n, "stream_batch": stamp})

    replay(replayed, 0)
    assert t.read().count() == before
    # a NEW epoch id still lands
    replay(replayed, 99)
    assert t.read().count() == before + 7


def test_pinned_commit_rejects_interleaved_writer(spark, tmp_path):
    """The exactly-once core: a commit pinned to the version the
    idempotence check observed FAILS if any other commit interleaved —
    even though a later version number is free — so check+commit is
    atomic and two concurrent replays of one epoch cannot both land."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 3, "seed"))  # version 0
    observed = t.latest_version()
    # another writer (a concurrent replay) lands version 1 in between
    files_b, nb = t._write_files(_df(spark, 10, 13, "replayA"))
    t._commit({"op": "stream-append", "added": files_b, "n_rows": nb,
               "stream_batch": ["q", 7]}, at_version=observed + 1)
    # our pinned claim at the SAME observed version must conflict, even
    # though version 2 would be free
    files_a, na = t._write_files(_df(spark, 20, 23, "replayB"))
    with pytest.raises(CommitConflict):
        t._commit({"op": "stream-append", "added": files_a, "n_rows": na,
                   "stream_batch": ["q", 7]}, at_version=observed + 1)
    # epoch 7 landed exactly once
    stamps = [e.get("stream_batch") for e in t.history()]
    assert stamps.count(["q", 7]) == 1


def test_auto_checkpoint_on_stride(spark, tmp_path):
    from pm25ml_spark.sources.txlog import _CHECKPOINT_EVERY

    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(_CHECKPOINT_EVERY + 1):
        t.append(_df(spark, i * 5, i * 5 + 2, f"b{i}"))
    ops = [e["op"] for e in t.history()]
    assert "checkpoint" in ops
    assert t.read().count() == (_CHECKPOINT_EVERY + 1) * 2


def test_overwrite_conflicts_with_interleaved_append(spark, tmp_path):
    """An overwrite's removal list is pinned to the snapshot it read:
    an append landing in between must force a re-resolve (retry), so
    the final state is new-data-only — the interleaved append's rows
    are removed by the re-resolved overwrite, never half-kept."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5, "old"))
    # interleave an append between overwrite's snapshot and its commit
    # by claiming the pinned version first
    sv, live = t.snapshot()
    files_i, ni = t._write_files(_df(spark, 50, 53, "interleaved"))
    t._commit({"op": "append", "added": files_i, "n_rows": ni},
              at_version=sv + 1)
    # public overwrite retries internally and lands against the NEW
    # snapshot (removing both old and interleaved files)
    t.overwrite(_df(spark, 100, 102, "new"))
    rows = {r.tag for r in t.read().select("tag").distinct().collect()}
    assert rows == {"new"}


def test_randomized_interleavings_never_lose_updates(spark, tmp_path):
    """Fuzz: two writer handles execute a random schedule of appends /
    overwrites / checkpoints (with commit races forced by interleaved
    version claims). Invariants checked after every step:
    - reads never fail on a non-empty table;
    - an append's rows are visible in every later snapshot until an
      overwrite removes them (no lost updates);
    - version history is gapless and strictly ordered.
    """
    import random

    rng = random.Random(20260814)
    t1 = TxTable(spark, str(tmp_path / "t"))
    t2 = TxTable(spark, str(tmp_path / "t"))
    live_tags: set[str] = set()
    seq = 0
    for step in range(14):
        writer = t1 if rng.random() < 0.5 else t2
        op = rng.choice(["append", "append", "overwrite", "checkpoint"])
        tag = f"s{seq}"
        if op == "append":
            writer.append(_df(spark, seq * 10, seq * 10 + 3, tag))
            live_tags.add(tag)
            seq += 1
        elif op == "overwrite":
            writer.overwrite(_df(spark, seq * 10, seq * 10 + 2, tag))
            live_tags = {tag}
            seq += 1
        else:
            if writer.latest_version() is not None:
                writer.checkpoint()
        if live_tags:
            got = {
                r.tag
                for r in t1.read().select("tag").distinct().collect()
            }
            assert got == live_tags, (step, op, got, live_tags)
    vs = t1.versions()
    assert vs == list(range(len(vs)))  # dense, gapless log


def test_compact_merges_small_files_preserving_rows(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(6):
        t.append(_df(spark, i * 10, i * 10 + 10, "a"))
    pre_version, pre_live = t.snapshot()
    before = {
        tuple(r) for r in t.read().select("id", "tag").collect()
    }
    v = t.compact(target_file_bytes=1 << 30)  # everything is "small"
    assert v == pre_version + 1
    _, live = t.snapshot()
    assert len(live) < len(pre_live)  # fewer files
    after = {tuple(r) for r in t.read().select("id", "tag").collect()}
    assert after == before  # same rows, new boundaries
    # time travel still resolves to the ORIGINAL files
    assert t.read(version=pre_version).count() == 60
    assert t.snapshot(pre_version)[1] == pre_live
    assert t.history()[-1]["op"] == "compact"


def test_compact_noop_when_nothing_small(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, "a"))
    sv, live = t.snapshot()
    # target so small every existing file counts as already-big
    assert t.compact(target_file_bytes=2) is None
    assert t.snapshot() == (sv, live)  # no commit happened


def test_compact_retries_claim_when_append_slides_in(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(3):
        t.append(_df(spark, i * 10, i * 10 + 10, "a"))
    # interleave a foreign append between compact's plan and its claim
    other = TxTable(spark, str(tmp_path / "t"))
    orig_commit = t._commit
    state = {"fired": False}

    def racing_commit(entry, at_version=None):
        if entry.get("op") == "compact" and not state["fired"]:
            state["fired"] = True
            other.append(_df(spark, 100, 105, "z"))  # steals the version
        return orig_commit(entry, at_version=at_version)

    t._commit = racing_commit
    v = t.compact(target_file_bytes=1 << 30)
    assert state["fired"] and v is not None
    # both the compaction AND the interleaved append survived
    assert t.read().count() == 35
    ops = [e["op"] for e in t.history()]
    assert ops.count("compact") == 1 and ops.count("append") == 4


def test_compact_replans_after_interleaved_overwrite(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(3):
        t.append(_df(spark, i * 10, i * 10 + 10, "a"))
    other = TxTable(spark, str(tmp_path / "t"))
    orig_commit = t._commit
    state = {"fired": False}

    def racing_commit(entry, at_version=None):
        if entry.get("op") == "compact" and not state["fired"]:
            state["fired"] = True
            other.overwrite(_df(spark, 0, 7, "w"))  # retires planned files
        return orig_commit(entry, at_version=at_version)

    t._commit = racing_commit
    v = t.compact(target_file_bytes=1 << 30)
    # the stale plan was rebuilt against the overwritten table (or found
    # nothing left to compact) — either way data equals the overwrite
    assert {tuple(r) for r in t.read().select("id", "tag").collect()} == {
        (i, "w") for i in range(7)
    }
    if v is not None:
        assert t.history()[-1]["op"] in ("compact", "checkpoint")


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, val string, seq long")


def test_upsert_insert_and_replace_by_key(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.upsert(_kv(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]), "k")
    t.upsert(_kv(spark, [(2, "B", 2), (4, "d", 2)]), "k")
    got = {(r.k, r.val) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    assert t.history()[-1]["op"] == "upsert"


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.upsert(_kv(spark, [(i, f"v{i}", 1) for i in range(40)]), "k", n_buckets=8)
    _, live_before = t.snapshot()
    t.upsert(_kv(spark, [(1, "X", 2)]), "k", n_buckets=8)
    _, live_after = t.snapshot()
    survivors = set(live_before) & set(live_after)
    retired = set(live_before) - survivors
    # the single-key batch touches exactly key 1's bucket: every
    # retired file belongs to THAT bucket (computed the same way the
    # operator plans it), every other bucket's files survive
    key_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(1).cast("long")), F.lit(8)).cast("int")
    ).first()[0]
    assert retired and {t._file_bucket(f) for f in retired} == {key_bucket}
    for f in live_before:
        if t._file_bucket(f) != key_bucket:
            assert f in survivors
    got = {(r.k, r.val) for r in t.read().collect()}
    assert (1, "X") in got and len(got) == 40


def test_upsert_bootstraps_unbucketed_table(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_kv(spark, [(1, "a", 1), (2, "b", 1)]))
    v = t.upsert(_kv(spark, [(2, "B", 2)]), "k")
    got = {(r.k, r.val) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "B")}
    # bootstrap retired every legacy file: all live files now bucketed
    _, live = t.snapshot()
    assert all(t._file_bucket(f) is not None for f in live)
    assert v == t.latest_version() or t.history()[-1]["op"] == "checkpoint"


def test_upsert_duplicate_keys_in_batch_raise(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="duplicate"):
        t.upsert(_kv(spark, [(1, "a", 1), (1, "b", 2)]), "k")


def test_upsert_bucket_count_mismatch_raises(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.upsert(_kv(spark, [(1, "a", 1)]), "k", n_buckets=8)
    with pytest.raises(ValueError, match="buckets"):
        t.upsert(_kv(spark, [(2, "b", 1)]), "k", n_buckets=16)


@pytest.mark.slow
def test_stream_upsert_cdc_apply_matches_latest_state(spark, tmp_path):
    """Drive a CDC stream (3 micro-batches of keyed updates) through
    sink_stream_upsert; the table must equal 'latest row per key', and
    a full REPLAY of the drained stream (fresh checkpoint dir, same
    epochs) must be a no-op thanks to the epoch stamps."""
    import glob as _glob
    import os
    import shutil

    from pm25ml_spark.sources.txlog import sink_stream_upsert

    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [(1, "a", 1), (2, "b", 2)],
        [(1, "A", 3), (3, "c", 4)],
        [(2, "B", 5), (1, "A2", 6)],
    ]
    for i, rows in enumerate(batches):
        scratch = str(tmp_path / f"s{i}")
        _kv(spark, rows).coalesce(1).write.parquet(scratch)
        (part,) = _glob.glob(f"{scratch}/part-*.parquet")
        shutil.move(part, f"{src}/{i:02d}.parquet")

    t = TxTable(spark, str(tmp_path / "t"))
    stream = (
        spark.readStream.schema("k long, val string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sink_stream_upsert(
        stream, t, "k", "seq", "cdc", str(tmp_path / "chk1"), n_buckets=4
    )
    assert q.awaitTermination(120)
    got = {(r.k, r.val) for r in t.read().collect()}
    assert got == {(1, "A2"), (2, "B"), (3, "c")}
    v_after = t.latest_version()

    # replay everything from scratch (new checkpoint): stamps skip it all
    stream2 = (
        spark.readStream.schema("k long, val string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = sink_stream_upsert(
        stream2, t, "k", "seq", "cdc", str(tmp_path / "chk2"), n_buckets=4
    )
    assert q2.awaitTermination(120)
    assert t.latest_version() == v_after  # nothing re-applied
    assert {(r.k, r.val) for r in t.read().collect()} == got


def test_read_pruned_skips_files_and_matches_full_filter(spark, tmp_path):
    """Data skipping: three appends with disjoint id ranges + stats; a
    range read must (a) open only the files whose [min,max] intersect
    and (b) return exactly the rows a full-scan filter returns."""
    t = TxTable(spark, str(tmp_path / "t"))
    for lo in (0, 100, 200):
        t.append(
            _df(spark, lo, lo + 50, f"r{lo}").coalesce(1),
            stats_cols=["id"],
        )
    pruned = t.read_pruned("id", 110, 140)
    want = {
        tuple(r)
        for r in t.read()
        .filter((F.col("id") >= 110) & (F.col("id") <= 140))
        .collect()
    }
    assert {tuple(r) for r in pruned.collect()} == want and len(want) == 31
    n_files = pruned.select(F.input_file_name()).distinct().count()
    assert n_files == 1  # the other two ranges were never opened
    # fully-excluded range: zero files, empty result, stable schema
    none = t.read_pruned("id", 1000, 2000)
    assert none.count() == 0 and none.columns == t.read().columns


def test_read_pruned_reads_statless_files_unconditionally(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 50, "a").coalesce(1), stats_cols=["id"])
    t.append(_df(spark, 100, 150, "b").coalesce(1))  # no stats
    got = {r.id for r in t.read_pruned("id", 120, 130).collect()}
    assert got == set(range(120, 131))  # statless file still consulted


def test_file_stats_follow_live_set(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, "a").coalesce(1), stats_cols=["id", "tag"])
    stats = t.file_stats()
    (st,) = stats.values()
    assert st["id"] == [0, 9] and st["tag"] == ["a", "a"]
    t.overwrite(_df(spark, 50, 60, "b"))
    assert t.file_stats() == {}  # retired files drop out


def test_append_stats_reject_unsupported_types(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    df = _df(spark, 0, 5, "a").withColumn("arr", F.array(F.lit(1)))
    with pytest.raises(ValueError, match="numeric/string"):
        t.append(df, stats_cols=["arr"])
    # validation happens BEFORE any file is written: nothing to vacuum,
    # no orphan part dirs under the table root
    import os

    debris = [
        d for d in os.listdir(t.path) if d.startswith("part-")
    ]
    assert debris == []


def test_compact_preserves_upsert_bucket_layout(spark, tmp_path):
    """Compacting an upserted table must keep files bucket-tagged so
    the NEXT upsert is still touched-buckets-only (not the full
    bootstrap rewrite a layout loss would force)."""
    t = TxTable(spark, str(tmp_path / "t"))
    for s in range(3):  # several epochs -> several small files per bucket
        t.upsert(
            _kv(spark, [(i, f"v{i}s{s}", s) for i in range(s, 30 + s)]),
            "k",
            n_buckets=4,
        )
    before = {(r.k, r.val) for r in t.read().collect()}
    v = t.compact(target_file_bytes=1 << 30)
    assert v is not None
    _, live = t.snapshot()
    assert all(t._file_bucket(f) is not None for f in live)
    assert {(r.k, r.val) for r in t.read().collect()} == before
    # follow-up single-key upsert stays bucket-local
    _, live_before = t.snapshot()
    t.upsert(_kv(spark, [(1, "X", 99)]), "k", n_buckets=4)
    _, live_after = t.snapshot()
    retired = set(live_before) - set(live_after)
    assert len({t._file_bucket(f) for f in retired}) == 1
    got = {(r.k, r.val) for r in t.read().collect()}
    assert (1, "X") in got and len(got) == len(before)


def test_upsert_stamp_check_is_atomic_with_pin(spark, tmp_path):
    """The double-apply hole: replay B snapshots AFTER replay A's
    stamped commit landed. B's upsert must detect A's stamp at its own
    pinned snapshot and return A's version instead of re-applying."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.upsert(_kv(spark, [(1, "a", 1)]), "k", n_buckets=4)
    # replay A applies epoch 7
    va = t.upsert(_kv(spark, [(1, "A", 2)]), "k", n_buckets=4, _stamp=("q", 7))
    # replay B arrives late with the same epoch and a stale floor
    vb = t.upsert(
        _kv(spark, [(1, "A", 2)]), "k", n_buckets=4, _stamp=("q", 7), _stamp_floor=-1
    )
    assert vb == va  # returned the winner, no second stamped commit
    stamped = [
        e["version"] for e in t.history() if e.get("stream_batch") == ["q", 7]
    ]
    assert stamped == [va]


def test_upsert_empty_batch_is_noop_unless_stamped(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    v0 = t.upsert(_kv(spark, [(1, "a", 1)]), "k", n_buckets=4)
    empty = spark.createDataFrame([], "k long, val string, seq long")
    assert t.upsert(empty, "k", n_buckets=4) == v0  # no commit
    assert t.latest_version() == v0
    v1 = t.upsert(empty, "k", n_buckets=4, _stamp=("q", 3))
    assert v1 == v0 + 1  # stamped: zero-file entry recorded
    e = t.history()[-1]
    assert e["added"] == [] and e["n_rows"] == 0
    assert {(r.k, r.val) for r in t.read().collect()} == {(1, "a")}


def test_upsert_after_overwrite_accepts_new_bucket_count(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.upsert(_kv(spark, [(1, "a", 1)]), "k", n_buckets=8)
    t.overwrite(_kv(spark, [(2, "b", 1)]))  # retires every bucketed file
    v = t.upsert(_kv(spark, [(3, "c", 1)]), "k", n_buckets=16)  # must not raise
    assert v == t.latest_version() or t.history()[-1]["op"] == "checkpoint"
    _, live = t.snapshot()
    assert all(t._file_bucket(f) is not None for f in live)
    assert {(r.k, r.val) for r in t.read().collect()} == {(2, "b"), (3, "c")}


def test_compact_converges_on_bucketed_table(spark, tmp_path):
    """Second compact of an already-merged bucketed table is a no-op —
    the periodic maintenance loop must not churn versions forever."""
    t = TxTable(spark, str(tmp_path / "t"))
    for s in range(2):
        t.upsert(_kv(spark, [(i, f"v{s}", s) for i in range(20)]), "k", n_buckets=4)
    assert t.compact(target_file_bytes=1 << 30) is not None
    v = t.latest_version()
    assert t.compact(target_file_bytes=1 << 30) is None  # converged
    assert t.latest_version() == v


def test_sink_upsert_rejects_tied_order_col(spark, tmp_path):
    import glob as _glob
    import os
    import shutil

    from pm25ml_spark.sources.txlog import sink_stream_upsert

    src = str(tmp_path / "src")
    os.makedirs(src)
    scratch = str(tmp_path / "s0")
    _kv(spark, [(1, "a", 5), (1, "b", 5)]).coalesce(1).write.parquet(scratch)
    (part,) = _glob.glob(f"{scratch}/part-*.parquet")
    shutil.move(part, f"{src}/00.parquet")
    t = TxTable(spark, str(tmp_path / "t"))
    stream = (
        spark.readStream.schema("k long, val string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sink_stream_upsert(
        stream, t, "k", "seq", "tied", str(tmp_path / "chk"), n_buckets=4
    )
    with pytest.raises(Exception, match="nondeterministic|StreamingQuery"):
        q.awaitTermination(120)
        raise RuntimeError("StreamingQuery should have failed")


@pytest.mark.slow
def test_randomized_interleavings_with_upserts(spark, tmp_path):
    """Fuzz the FULL writer surface (append / overwrite / upsert /
    compact / checkpoint) across two table handles with a keyed row
    model: after every step the table must equal the model exactly —
    upserts replace by key, appends insert fresh keys, overwrites reset,
    compaction/checkpoints never change data."""
    import random

    rng = random.Random(20260815)
    t1 = TxTable(spark, str(tmp_path / "t"))
    t2 = TxTable(spark, str(tmp_path / "t"))
    expected: dict[int, str] = {}
    seq = 0
    for step in range(16):
        writer = t1 if rng.random() < 0.5 else t2
        op = rng.choice(
            ["append", "upsert", "upsert", "overwrite", "compact", "checkpoint"]
        )
        tag = f"s{seq}"
        if op == "append":
            lo = seq * 10
            writer.append(_df(spark, lo, lo + 3, tag))
            expected.update({i: tag for i in range(lo, lo + 3)})
            seq += 1
        elif op == "upsert":
            pool = list(expected) or [0]
            ids = sorted(
                set(rng.sample(pool, min(3, len(pool))) + [seq * 10 + 5])
            )
            writer.upsert(
                spark.createDataFrame(
                    [(i, tag) for i in ids], "id long, tag string"
                ),
                "id",
                n_buckets=4,
            )
            expected.update({i: tag for i in ids})
            seq += 1
        elif op == "overwrite":
            lo = seq * 10
            writer.overwrite(_df(spark, lo, lo + 2, tag))
            expected = {i: tag for i in range(lo, lo + 2)}
            seq += 1
        elif op == "compact":
            writer.compact(target_file_bytes=1 << 30)
        else:
            if writer.latest_version() is not None:
                writer.checkpoint()
        if expected:
            got = {(r.id, r.tag) for r in t1.read().collect()}
            assert got == set(expected.items()), (step, op, len(got))
    vs = t1.versions()
    assert vs == list(range(len(vs)))


def test_delete_keys_removes_rows_and_is_idempotent(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.upsert(_kv(spark, [(i, f"v{i}", 1) for i in range(20)]), "k")
    keys = spark.range(5).select(F.col("id").cast("long").alias("k"))
    v1 = t.delete_keys(keys, "k")
    assert {r.k for r in t.read().collect()} == set(range(5, 20))
    assert t.history()[-1]["op"] == "delete"
    # re-deleting the same (now absent) keys touches buckets but stays
    # correct; absent keys are per-key no-ops
    t.delete_keys(keys, "k")
    assert {r.k for r in t.read().collect()} == set(range(5, 20))
    # time travel: the pre-delete snapshot still shows every row
    assert len(t.read(version=v1 - 1).collect()) == 20


def test_delete_keys_rewrites_only_touched_buckets(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.upsert(_kv(spark, [(i, f"v{i}", 1) for i in range(40)]), "k", n_buckets=8)
    _, live_before = t.snapshot()
    t.delete_keys(
        spark.range(1, 2).select(F.col("id").cast("long").alias("k")),
        "k",
        n_buckets=8,
    )
    _, live_after = t.snapshot()
    retired = set(live_before) - set(live_after)
    key_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(1).cast("long")), F.lit(8)).cast("int")
    ).first()[0]
    assert retired and {t._file_bucket(f) for f in retired} == {key_bucket}
    for f in live_before:
        if t._file_bucket(f) != key_bucket:
            assert f in live_after
    got = {r.k for r in t.read().collect()}
    assert got == set(range(40)) - {1}


def test_delete_keys_empty_set_and_empty_table_are_noops(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    empty = spark.range(0).select(F.col("id").cast("long").alias("k"))
    t.delete_keys(empty, "k")
    assert t.latest_version() is None  # no commit on an empty table
    t.upsert(_kv(spark, [(1, "a", 1)]), "k")
    v = t.latest_version()
    assert t.delete_keys(empty, "k") == v  # no commit for an empty key set
    assert t.latest_version() == v


def test_delete_keys_can_empty_a_bucket(spark, tmp_path):
    """Deleting every key in a touched bucket writes ZERO replacement
    files for it (the empty-frame write path) and the table stays
    readable."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.upsert(_kv(spark, [(i, f"v{i}", 1) for i in range(12)]), "k", n_buckets=2)
    t.delete_keys(
        spark.range(12).select(F.col("id").cast("long").alias("k")),
        "k",
        n_buckets=2,
    )
    e = t.history()[-1]
    assert e["op"] == "delete" and e["n_rows"] == 0 and e["added"] == []
    # a fully-empty snapshot has no files to infer a schema from; read
    # raises the table's documented empty-read error rather than
    # returning a schemaless frame
    with pytest.raises(ValueError, match="empty at version"):
        t.read()


def test_delete_keys_bootstraps_unbucketed_table(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_kv(spark, [(1, "a", 1), (2, "b", 1), (3, "c", 1)]))
    t.delete_keys(
        spark.range(2, 3).select(F.col("id").cast("long").alias("k")), "k"
    )
    got = {r.k for r in t.read().collect()}
    assert got == {1, 3}
    _, live = t.snapshot()
    assert all(t._file_bucket(f) is not None for f in live)


def test_delete_keys_bucket_count_mismatch_raises(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.upsert(_kv(spark, [(1, "a", 1)]), "k", n_buckets=8)
    with pytest.raises(ValueError, match="laid out with 8 buckets"):
        t.delete_keys(
            spark.range(1).select(F.col("id").cast("long").alias("k")),
            "k",
            n_buckets=4,
        )


def test_merge_schema_read_and_time_travel_pin(spark, tmp_path):
    """Additive column evolution: a merge-schema read unions schemas
    (pre-evolution rows -> NULL), while time travel to the pre-evolution
    version keeps the ORIGINAL schema — the snapshot pins its files."""
    t = TxTable(spark, str(tmp_path / "t"))
    v0 = t.append(_df(spark, 0, 5, "old"))
    t.append(
        _df(spark, 5, 8, "new").withColumn("extra", F.col("id") * 2)
    )
    merged = t.read(merge_schema=True)
    assert "extra" in merged.columns
    got = {r.id: r.extra for r in merged.collect()}
    assert all(got[i] is None for i in range(5))
    assert all(got[i] == 2 * i for i in range(5, 8))
    old = t.read(version=v0)
    assert "extra" not in old.columns and old.count() == 5


@pytest.mark.slow
def test_randomized_upsert_delete_interleavings(spark, tmp_path):
    """Fuzz the NEW delete verb against upserts from two handles: a
    random schedule of keyed upserts and keyed deletes must always
    leave the table equal to a dict replay of the same schedule —
    latest-upsert-wins, delete removes, absent-key deletes no-op."""
    import random

    rng = random.Random(20260815)
    t1 = TxTable(spark, str(tmp_path / "t"))
    t2 = TxTable(spark, str(tmp_path / "t"))
    expect: dict[int, str] = {}

    def kv(pairs):
        return spark.createDataFrame(
            [(k, v) for k, v in pairs], "k long, val string"
        )

    for step in range(12):
        writer = t1 if rng.random() < 0.5 else t2
        if rng.random() < 0.6 or not expect:
            keys = rng.sample(range(30), rng.randint(1, 5))
            pairs = [(k, f"v{step}_{k}") for k in keys]
            writer.upsert(kv(pairs), "k", n_buckets=4)
            expect.update(dict(pairs))
        else:
            pool = list(range(30))  # live and absent keys alike
            keys = rng.sample(pool, rng.randint(1, 6))
            writer.delete_keys(
                spark.createDataFrame([(k,) for k in keys], "k long"),
                "k",
                n_buckets=4,
            )
            for k in keys:
                expect.pop(k, None)
        if expect:
            got = {(r.k, r.val) for r in t1.read().collect()}
            assert got == set(expect.items()), (step, got, expect)
    vs = t1.versions()
    assert vs == list(range(len(vs)))


def test_restore_rolls_back_without_copying_files(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    v0 = t.upsert(_kv(spark, [(i, f"v{i}", 1) for i in range(10)]), "k")
    _, live_v0 = t.snapshot()
    t.upsert(_kv(spark, [(1, "CORRUPT", 2), (99, "extra", 2)]), "k")
    rv = t.restore(v0)
    # content equals the restored snapshot exactly
    got = {(r.k, r.val) for r in t.read().collect()}
    assert got == {(i, f"v{i}") for i in range(10)}
    # no data copy: the live files ARE v0's files, re-referenced
    _, live_now = t.snapshot()
    assert live_now == live_v0
    # history preserved: mistake and fix both visible
    ops = [e["op"] for e in t.history()]
    assert ops[-1] == "restore" and "upsert" in ops
    assert t.history()[-1]["restore_of"] == v0
    # the rolled-back state is still time-travelable
    assert (1, "CORRUPT") in {
        (r.k, r.val) for r in t.read(version=rv - 1).collect()
    }


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 5, "old"))
    t.overwrite(_df(spark, 0, 2, "new"))
    t.vacuum()  # version 0's files are gone
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(0)


def test_restore_preserves_bucket_layout_of_target(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    v0 = t.upsert(_kv(spark, [(1, "a", 1)]), "k", n_buckets=8)
    t.upsert(_kv(spark, [(2, "b", 2)]), "k", n_buckets=8)
    t.restore(v0)
    # upserts after restore still enforce the restored layout
    with pytest.raises(ValueError, match="laid out with 8 buckets"):
        t.upsert(_kv(spark, [(3, "c", 3)]), "k", n_buckets=4)
    t.upsert(_kv(spark, [(3, "c", 3)]), "k", n_buckets=8)
    got = {(r.k, r.val) for r in t.read().collect()}
    assert got == {(1, "a"), (3, "c")}


def test_vacuum_reclaims_delete_retired_files(spark, tmp_path):
    """Files retired by a keyed DELETE are dead once no live snapshot
    references them; vacuum removes them and the live read survives."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.upsert(_kv(spark, [(i, f"v{i}", 1) for i in range(12)]), "k", n_buckets=2)
    t.delete_keys(
        spark.range(6).select(F.col("id").cast("long").alias("k")),
        "k",
        n_buckets=2,
    )
    dead = t.vacuum()
    assert dead  # the pre-delete bucket files were reclaimed
    assert {r.k for r in t.read().collect()} == set(range(6, 12))


def test_checkpoint_failure_after_commit_keeps_data_files(
    spark, tmp_path, monkeypatch
):
    """A checkpoint IO error AFTER a successful commit must not delete
    the data files the committed entry references (upsert / delete_keys
    / compact share the cleanup-on-failure rmtree; only UNcommitted
    files may be reclaimed by it)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.upsert(_kv(spark, [(i, f"v{i}", 1) for i in range(8)]), "k", n_buckets=2)

    def boom(version):
        raise OSError("checkpoint write failed")

    monkeypatch.setattr(t, "_maybe_checkpoint", boom)
    with pytest.raises(OSError):
        t.upsert(_kv(spark, [(1, "NEW", 2)]), "k", n_buckets=2)
    with pytest.raises(OSError):
        t.delete_keys(
            spark.range(2, 4).select(F.col("id").alias("k")),
            "k",
            n_buckets=2,
        )
    monkeypatch.undo()
    # every committed snapshot must still be fully readable
    got = {(r.k, r.val) for r in t.read().collect()}
    assert got == {(1, "NEW")} | {(i, f"v{i}") for i in range(8) if i not in (1, 2, 3)}
    # and the log itself is intact for time travel
    assert t.read(version=0).count() == 8


def test_compact_inherits_and_tightens_stats(spark, tmp_path):
    """Compaction must not destroy data skipping: merged files inherit
    recomputed min/max for every column the removed files tracked, the
    range re-partition keeps the merged files' key ranges tight, and a
    post-compact read_pruned still skips files."""
    t = TxTable(spark, str(tmp_path / "t"))
    # six stat-tracked appends with interleaved ranges (so round-robin
    # merging WOULD produce full-range files)
    for i in range(6):
        t.append(
            _df(spark, i * 10, i * 10 + 10, "a"), stats_cols=["id"]
        )
    pre_stats = t.file_stats()
    assert pre_stats  # every live file tracked
    v = t.compact(target_file_bytes=1 << 30)
    assert v is not None
    _, live = t.snapshot()
    post_stats = t.file_stats()
    # EVERY live file still has id stats (nothing became unknowable)
    assert set(post_stats) == set(live)
    # correct bounds over the whole table
    mins = [s["id"][0] for s in post_stats.values()]
    maxs = [s["id"][1] for s in post_stats.values()]
    assert min(mins) == 0 and max(maxs) == 59
    # pruning still works after maintenance: a narrow range opens
    # fewer files than the snapshot holds (only meaningful if >1 file)
    if len(live) > 1:
        kept = [
            f
            for f in live
            if not (post_stats[f]["id"][1] < 5 or post_stats[f]["id"][0] > 5)
        ]
        assert len(kept) < len(live)
    got = {r.id for r in t.read_pruned("id", 0, 5).collect()}
    assert got == set(range(6))


def test_compact_cluster_col_keeps_ranges_tight(spark, tmp_path):
    """With cluster_col (or the inferred first stats column), merged
    files are range-partitioned: their [min, max] spans must be
    disjoint-ish rather than all covering the full key range."""
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(8):
        t.append(_df(spark, i * 10, i * 10 + 10, "a"), stats_cols=["id"])
    # force multiple output files: tiny target → n_out > 1
    total = sum(
        __import__("os").path.getsize(f"{t.path}/{f}")
        for f in t.snapshot()[1]
    )
    v = t.compact(target_file_bytes=max(total // 3, 1024), cluster_col="id")
    if v is None:  # every file already "big" under this target: skip
        return
    stats = t.file_stats()
    spans = sorted(
        (s["id"][0], s["id"][1]) for s in stats.values()
    )
    # ranges must not all be [0, 79]: range partitioning keeps them tight
    full_span = [sp for sp in spans if sp[0] == 0 and sp[1] == 79]
    assert len(full_span) == 0, spans
    # and consecutive spans must not overlap (boundaries are splits)
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2 or lo1 == lo2, spans


def test_compact_preserves_evolved_columns(spark, tmp_path):
    """Compacting an additively-evolved table must not lose the newer
    columns: the rewrite reads with mergeSchema, so rows written before
    the column existed merge as NULL and later rows keep their values —
    the d16 add-column contract survives maintenance."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, "a"))  # old schema: (id, tag)
    t.append(
        spark.range(10, 20).select(
            F.col("id"), F.lit("b").alias("tag"), F.lit(7).alias("extra")
        )
    )
    v = t.compact(target_file_bytes=1 << 30)
    assert v is not None
    got = {
        (r.id, r.tag, r.extra)
        for r in t.read(merge_schema=True).collect()
    }
    assert {(i, "b", 7) for i in range(10, 20)} <= got  # values kept
    assert {(i, "a", None) for i in range(10)} <= got  # old rows NULL


def test_time_travel_to_vacuumed_version_raises_documented_error(
    spark, tmp_path
):
    """Round-11 ask #5 boundary pin: after compact + vacuum, the CURRENT
    snapshot reads fine, but time travel to a version whose files were
    retired raises VacuumedSnapshotError — a documented loud failure,
    never a reader-dependent path error or silent partial read. The
    vacuum itself is auditable: its commit entry lists the retired
    files."""
    from pm25ml_spark.sources.txlog import VacuumedSnapshotError

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, "a"))
    t.append(_df(spark, 10, 20, "b"))
    pre = t.latest_version()
    total = sum(
        os.path.getsize(os.path.join(t.path, f)) for f in t.snapshot()[1]
    )
    t.compact(target_file_bytes=max(total * 2, 1 << 20))
    dead = t.vacuum()
    assert dead, "compact should have retired the small files"

    # audit trail: the retirement is a log entry listing exactly the dead files
    last = t.history()[-1]
    assert last["op"] == "vacuum" and sorted(last["vacuumed"]) == dead

    # current snapshot unaffected
    assert t.read().count() == 20

    # time travel behind the retention boundary: documented loud error
    with pytest.raises(VacuumedSnapshotError, match="vacuum retention"):
        t.read(version=pre)
    with pytest.raises(VacuumedSnapshotError, match="vacuum retention"):
        t.read_pruned("id", 0, 5, version=pre)

    # versions at/after the compact still time-travel fine
    compact_v = next(
        h["version"] for h in t.history() if h["op"] == "compact"
    )
    assert t.read(version=compact_v).count() == 20

    # and restore to the vacuumed version still refuses loudly
    with pytest.raises(ValueError, match="vacuumed"):
        t.restore(pre)


def test_vacuum_noop_records_no_entry(spark, tmp_path):
    """A vacuum with nothing to retire must not pollute the log."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, "a"))
    assert t.vacuum() == []
    assert [h["op"] for h in t.history()] == ["append"]


def test_read_pruned_multi_merge_schema_stable_under_predicate(
    spark, tmp_path
):
    """ADVICE r10 (medium): on an additively-evolved table the pruned
    read's schema must NOT depend on which files survive pruning.
    merge_schema=True pins it to the union schema — equal to
    read(merge_schema=True) + filters for every predicate, including
    ones that keep only old-schema or only new-schema files."""
    t = TxTable(spark, str(tmp_path / "t"))
    old = spark.range(0, 10).select(F.col("id"))
    t.append(old, stats_cols=["id"])
    new = spark.range(100, 110).select(
        F.col("id"), (F.col("id") * 2).alias("extra")
    )
    t.append(new, stats_cols=["id"])

    # keeps ONLY the old-schema file: without mergeSchema 'extra' would
    # silently vanish from the schema
    lo = t.read_pruned("id", 0, 5, merge_schema=True)
    assert set(lo.columns) == {"id", "extra"}
    assert all(r.extra is None for r in lo.collect())

    # keeps ONLY the new-schema file
    hi = t.read_pruned("id", 100, 105, merge_schema=True)
    assert set(hi.columns) == {"id", "extra"}
    assert all(r.extra is not None for r in hi.collect())

    # equals the unpruned merged read + filter, schema and rows
    for lo_b, hi_b in ((0, 5), (100, 105), (0, 200)):
        got = t.read_pruned("id", lo_b, hi_b, merge_schema=True)
        want = t.read(merge_schema=True).filter(
            F.col("id").between(lo_b, hi_b)
        )
        assert set(got.columns) == set(want.columns)
        key = lambda r: (r["id"], r["extra"])
        assert sorted(map(key, got.collect())) == sorted(
            map(key, want.collect())
        )


def test_date_stats_prune_and_filter(spark, tmp_path):
    """Date columns are first-class stats/prune dimensions: recorded as
    ISO strings (order-preserving), pruned against date bounds, and the
    exact row filter still applies typed date semantics."""
    import datetime as dt

    t = TxTable(spark, str(tmp_path / "t"))
    jan = spark.sql(
        "SELECT sequence(DATE '2024-01-01', DATE '2024-01-10') AS ds"
    ).select(F.explode("ds").alias("d"))
    feb = spark.sql(
        "SELECT sequence(DATE '2024-02-01', DATE '2024-02-10') AS ds"
    ).select(F.explode("ds").alias("d"))
    t.append(jan.coalesce(1), stats_cols=["d"])
    t.append(feb.coalesce(1), stats_cols=["d"])

    stats = t.file_stats()
    assert all(isinstance(s["d"][0], str) for s in stats.values())

    preds = {"d": (dt.date(2024, 1, 3), dt.date(2024, 1, 7))}
    # the feb file is provably excluded by its ISO-string stats
    _v, live = t.snapshot()
    kept = [
        f for f in live
        if not (
            stats[f]["d"][1] < "2024-01-03" or stats[f]["d"][0] > "2024-01-07"
        )
    ]
    assert len(kept) == 1 and len(live) == 2
    got = sorted(r.d for r in t.read_pruned_multi(preds).collect())
    assert got == [dt.date(2024, 1, 3 + i) for i in range(5)]


def test_vacuum_retention_window_keeps_time_travel_inside(spark, tmp_path):
    """vacuum(retain_last=K) is the Delta RETAIN/expire-snapshots
    contract: snapshots inside the window stay time-travelable after
    the vacuum, snapshots behind it raise the documented error, and
    the retention parameter is recorded in the vacuum log entry."""
    from pm25ml_spark.sources.txlog import VacuumedSnapshotError

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, "a"))           # v0
    t.overwrite(_df(spark, 0, 5, "b"))         # v1 retires v0's files
    t.overwrite(_df(spark, 0, 7, "c"))         # v2 retires v1's files
    t.append(_df(spark, 7, 9, "d"))            # v3

    dead = t.vacuum(retain_last=2)  # window = versions 1..3
    assert dead, "v0's files should be retired"
    assert t.history()[-1]["retain_last"] == 2

    # inside the window: still readable
    assert t.read(version=1).count() == 5
    assert t.read(version=2).count() == 7
    assert t.read().count() == 9
    # behind the window: loud documented failure
    with pytest.raises(VacuumedSnapshotError, match="vacuum retention"):
        t.read(version=0)

    # shrinking the window retires v1's files too
    dead2 = t.vacuum(retain_last=0)
    assert dead2
    with pytest.raises(VacuumedSnapshotError, match="vacuum retention"):
        t.read(version=1)
    assert t.read().count() == 9


def test_maybe_compact_threshold_gate(spark, tmp_path):
    """The per-drain maintenance policy: below the small-file threshold
    maybe_compact is a metadata-only no-op (no new commit — a quiet
    table is never churned); past it, one compact commit merges the
    accretion and the table converges back under the threshold."""
    t = TxTable(spark, str(tmp_path / "t"))
    for i in range(4):
        t.append(_df(spark, i * 5, i * 5 + 5, "x").coalesce(1))
    v_before = t.latest_version()

    assert t.maybe_compact(max_small_files=8) is None
    assert t.latest_version() == v_before  # no commit below threshold

    v = t.maybe_compact(max_small_files=2, target_file_bytes=1 << 20)
    assert v is not None and v > v_before
    assert t.read().count() == 20
    # converged: an immediate re-run is a no-op again
    assert t.maybe_compact(max_small_files=2, target_file_bytes=1 << 20) is None


def test_vacuum_orphan_sweep_reclaims_uncommitted_files(spark, tmp_path):
    """Round-12 ask #1: a writer that crashes between its parallel file
    write and its atomic commit leaves parquet on disk that NO log
    entry references — invisible to every snapshot (correct) but also
    to the retention vacuum (leak). vacuum(orphans=True) reclaims
    exactly those files under the Delta uncommitted-file age rule:
    older-than-grace orphans die, an in-flight writer's fresh files
    survive, live snapshots are untouched, and the sweep is recorded
    in the vacuum log entry."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, "a"))

    # crash mid-write: files written, commit never happened
    orphan_files, _n = t._write_files(_df(spark, 100, 105, "crash"))
    # a later healthy commit advances the log past the orphan's mtime
    t.append(_df(spark, 10, 14, "b"))
    orphan_abs = [os.path.join(t.path, f) for f in orphan_files]
    assert all(os.path.exists(p) for p in orphan_abs)

    # a second crash residue that is IN-FLIGHT-aged: newer than the
    # latest commit, so the age guard must spare it even at grace=0
    inflight_files, _n2 = t._write_files(_df(spark, 200, 202, "inflight"))
    inflight_abs = [os.path.join(t.path, f) for f in inflight_files]
    future = __import__("time").time() + 3600
    for p in inflight_abs:
        os.utime(p, (future, future))

    before_live = sorted(t.snapshot()[1])
    swept = t.vacuum(orphans=True, orphan_grace_sec=0.0)

    # the aged orphans are gone — parquet, crc sidecars, and their
    # emptied commit-private part dir
    assert sorted(swept) == sorted(orphan_files)
    assert all(not os.path.exists(p) for p in orphan_abs)
    assert not os.path.exists(os.path.dirname(orphan_abs[0]))
    # the in-flight writer's files survived the sweep
    assert all(os.path.exists(p) for p in inflight_abs)
    # live snapshot untouched: same file set, same rows
    assert sorted(t.snapshot()[1]) == before_live
    assert t.read().count() == 14
    # auditable from the log alone
    last = t.history()[-1]
    assert last["op"] == "vacuum"
    assert sorted(last["orphans_swept"]) == sorted(orphan_files)
    assert last["vacuumed"] == []  # retention pass had nothing to do

    # default vacuum (orphans=False) never touches never-referenced
    # files: the in-flight residue is still there afterwards
    t.vacuum()
    assert all(os.path.exists(p) for p in inflight_abs)


def test_vacuum_orphan_sweep_composes_with_retention(spark, tmp_path):
    """One vacuum call does both passes: retention retires the
    once-referenced out-of-window files, the orphan sweep reclaims the
    never-referenced residue, and the return value lists both."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 10, "a"))
    orphans, _ = t._write_files(_df(spark, 50, 53, "crash"))
    t.overwrite(_df(spark, 0, 4, "b"))  # retires v0's files

    gone = t.vacuum(orphans=True, orphan_grace_sec=0.0)
    assert set(orphans) <= set(gone)
    assert len(gone) > len(orphans)  # retention pass also retired files
    assert t.read().count() == 4
    last = t.history()[-1]
    assert sorted(last["orphans_swept"]) == sorted(orphans)
    assert last["vacuumed"] and set(last["vacuumed"]).isdisjoint(orphans)


@pytest.mark.slow
def test_concurrent_writer_stress_matches_serial_oracle(spark, tmp_path):
    """Round-12 ask #4: REAL thread concurrency on one table — the race
    arms (_commit's pinned claims, upsert's re-plan on conflict,
    compact's plan-rebuild, append's unpinned retry) exercised by
    actual interleavings instead of simulated ones. Each thread owns a
    disjoint id range, so the final table state is order-independent
    and comparable to a serial oracle; version numbers must be unique
    (no double-claim) and the log contiguous."""
    import threading

    path = str(tmp_path / "t")
    n_threads, base_stride = 3, 1000
    claimed: dict[int, list[int]] = {i: [] for i in range(n_threads)}
    errors: list[BaseException] = []

    def rows(lo, hi, tag):
        return spark.range(lo, hi).select(
            F.col("id"), F.lit(tag).alias("tag")
        )

    def work(i: int) -> None:
        try:
            t = TxTable(spark, path)  # own handle per writer
            b = i * base_stride
            claimed[i].append(
                t.append(rows(b, b + 50, f"t{i}a0"), max_retries=20)
            )
            claimed[i].append(
                t.upsert(rows(b, b + 10, f"t{i}u1"), "id", max_retries=20)
            )
            claimed[i].append(
                t.append(rows(b + 50, b + 80, f"t{i}a1"), max_retries=20)
            )
            v = t.maybe_compact(max_small_files=4, target_file_bytes=1 << 20)
            if v is not None:
                claimed[i].append(v)
            claimed[i].append(
                t.upsert(rows(b + 5, b + 15, f"t{i}u2"), "id", max_retries=20)
            )
        except BaseException as exc:  # surfaced after join
            errors.append(exc)

    threads = [
        threading.Thread(target=work, args=(i,)) for i in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    assert not errors, f"concurrent writer failed: {errors[:3]}"

    t = TxTable(spark, path)
    # no version was ever double-claimed across writers
    all_claimed = [v for vs in claimed.values() for v in vs]
    assert len(all_claimed) == len(set(all_claimed))
    # the log is contiguous from 0 (O_EXCL claims can't leave holes)
    vs = t.versions()
    assert vs == list(range(vs[-1] + 1))

    # serial oracle: each thread's ops are commutative across threads
    # (disjoint key ranges), sequential within a thread
    expected = set()
    for i in range(n_threads):
        b = i * base_stride
        for k in range(b, b + 5):
            expected.add((k, f"t{i}u1"))
        for k in range(b + 5, b + 15):
            expected.add((k, f"t{i}u2"))
        for k in range(b + 15, b + 50):
            expected.add((k, f"t{i}a0"))
        for k in range(b + 50, b + 80):
            expected.add((k, f"t{i}a1"))
    got = {(r.id, r.tag) for r in t.read().collect()}
    assert got == expected

    # maintenance after the melee stays row-invariant
    t.compact(target_file_bytes=1 << 20)
    t.vacuum(orphans=True, orphan_grace_sec=0.0)
    got2 = {(r.id, r.tag) for r in t.read().collect()}
    assert got2 == expected


@pytest.mark.slow
def test_vacuum_orphan_sweep_reclaims_bucketed_residue(spark, tmp_path):
    """The bucketed writer (upsert's layout) crashes the same way the
    flat one does, but its residue nests under part-*/__b=k/ — the
    sweep must find nested parquet, reclaim it, and prune the emptied
    bucket dirs bottom-up without touching the live bucketed layout."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.upsert(_df(spark, 0, 20, "live"), "id", n_buckets=4)

    # crash mid-upsert: bucketed files written, commit never happened
    batch = _df(spark, 100, 110, "crash").withColumn(
        "__b", F.pmod(F.xxhash64(F.col("id")), F.lit(4)).cast("int")
    )
    orphan_files, _n = t._write_files_bucketed(batch)
    assert orphan_files and all("__b=" in f for f in orphan_files)
    orphan_dir = os.path.join(t.path, orphan_files[0].split(os.sep)[0])
    t.append(_df(spark, 20, 25, "later"))  # advance the commit horizon

    swept = t.vacuum(orphans=True, orphan_grace_sec=0.0)
    assert sorted(swept) == sorted(orphan_files)
    assert not os.path.exists(orphan_dir)  # nested dirs pruned too
    # live bucketed layout untouched; upsert still bucket-scoped after
    assert t.read().count() == 25
    t.upsert(_df(spark, 0, 3, "upd"), "id", n_buckets=4)
    got = {(r.id, r.tag) for r in t.read().collect()}
    assert {(0, "upd"), (1, "upd"), (2, "upd")} <= got and len(got) == 25


def test_stream_crash_between_write_and_commit_then_orphan_reclaim(
    spark, tmp_path, monkeypatch
):
    """The exactly-once sink's documented crash window, end-to-end: a
    sink that dies AFTER its parallel file write but BEFORE its atomic
    commit leaves parquet no log entry references. On restart the epoch
    replays (the stamp was never written, so it must re-run), lands
    fresh files, and the table is exact; the first attempt's files are
    invisible to every snapshot and vacuum(orphans=True) reclaims
    exactly them."""
    import time as _time

    from pm25ml_spark.sources.txlog import sink_stream_exactly_once

    src = str(tmp_path / "src")
    docs = spark.range(24).select(
        F.col("id"), (F.col("id") % 2).alias("part")
    )
    docs.repartition("part").write.partitionBy("part").parquet(src)
    static = spark.read.parquet(src)
    t = TxTable(spark, str(tmp_path / "table"))

    crashed = {"n": 0}
    orig = TxTable._commit

    def crashing(self, entry, at_version=None):
        if entry.get("op") == "stream-append" and crashed["n"] == 0:
            crashed["n"] += 1  # files are already on disk at this point
            raise RuntimeError("simulated crash between write and commit")
        return orig(self, entry, at_version)

    monkeypatch.setattr(TxTable, "_commit", crashing)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = sink_stream_exactly_once(
        stream, t, "crashy", str(tmp_path / "ckpt")
    )
    with pytest.raises(Exception):
        q.awaitTermination(120)
        if q.exception() is not None:  # surfaced asynchronously
            raise RuntimeError(q.exception().desc)
    monkeypatch.setattr(TxTable, "_commit", orig)

    # crash residue exists on disk and no log entry references it
    def on_disk():
        out = set()
        for root, dirs, names in os.walk(t.path):
            dirs[:] = [d for d in dirs if d != "_txlog"]
            for f in names:
                if f.endswith(".parquet"):
                    out.add(os.path.relpath(os.path.join(root, f), t.path))
        return out

    referenced = set()
    for e in t.history():
        referenced |= set(e.get("added", []))
    residue = on_disk() - referenced
    assert residue, "the crash should have stranded written files"

    # restart on the same checkpoint: the unstamped epoch replays
    for _ in range(100):  # the old query deregisters asynchronously
        if not any(s.name == "crashy" for s in spark.streams.active):
            break
        _time.sleep(0.1)
    stream2 = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q2 = sink_stream_exactly_once(
        stream2, t, "crashy", str(tmp_path / "ckpt")
    )
    assert q2.awaitTermination(120)
    assert t.read().count() == 24  # exact: no loss, no duplication
    stamps = [tuple(e["stream_batch"]) for e in t.history()
              if e.get("stream_batch")]
    assert len(stamps) == len(set(stamps))

    # the residue is still invisible — and the orphan sweep takes it
    swept = t.vacuum(orphans=True, orphan_grace_sec=0.0)
    assert set(swept) >= residue, (swept, residue)
    assert t.read().count() == 24


# -- round-13: reader-vs-vacuum race (r12 ask #3) ---------------------------


def test_vacuum_retire_grace_keeps_recently_retired_files(spark, tmp_path):
    """Delta's deleted-file-retention rule: with retire_grace_sec set,
    a once-referenced file retired by a commit YOUNGER than the grace
    (relative to the newest commit) survives the vacuum — so a reader
    whose snapshot was resolved before the overwrite completes exactly.
    A later vacuum with grace 0 still reclaims the aged files."""
    from pm25ml_spark.sources.txlog import VacuumedSnapshotError

    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 100, "old"))
    pinned = t.read()  # resolves version 0's file list NOW
    t.overwrite(_df(spark, 0, 10, "new"))
    t.overwrite(_df(spark, 0, 5, "newer"))
    # in-grace: both retiring commits are younger than 1h → no deletion
    assert t.vacuum(retain_last=0, retire_grace_sec=3600.0) == []
    assert pinned.count() == 100  # the long-running reader completes
    assert t.read().count() == 5
    # aged out (grace 0): the same files die under a later vacuum
    dead = t.vacuum(retain_last=0)
    assert dead
    with pytest.raises(VacuumedSnapshotError):
        t.read(version=0)


def test_reader_behind_vacuum_fails_loud_never_partial(spark, tmp_path):
    """The hazard the read-consistency contract documents: a reader
    resolves a snapshot (lazy file list), a vacuum retires those files
    BEFORE the action runs — the action must fail with a loud missing-
    file error, never return a silently partial count (requires Spark's
    default ignoreMissingFiles=false, which TxTable relies on)."""
    t = TxTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, 0, 1000, "old").repartition(8))
    pinned = t.read()
    t.overwrite(_df(spark, 0, 10, "new"))
    assert t.vacuum(retain_last=0)  # retires version 0's files
    with pytest.raises(Exception) as ei:
        pinned.count()
    msg = str(ei.value)
    assert any(
        s in msg
        for s in ("FileNotFound", "does not exist", "No such file")
    ), f"expected a loud missing-file error, got: {msg[:500]}"


def _race_reader_vs_vacuum(spark, path, retire_grace_sec):
    """Shared harness: a REAL reader thread scanning version 0 through
    a deliberately slow per-row UDF while a writer thread overwrites
    twice and vacuums with the given grace. Returns ('ok', sum) or
    ('err', message)."""
    import threading
    import time as _time

    t = TxTable(spark, path)
    t.append(_df(spark, 0, 2000, "old").repartition(16))
    slow = F.udf(lambda x: (_time.sleep(0.002), x)[1], "long")
    results: list[tuple] = []

    def read_work():
        try:
            df = t.read()  # pins version 0's file list
            s = df.select(F.sum(slow(F.col("id"))).alias("s")).collect()
            results.append(("ok", s[0].s))
        except Exception as exc:  # surfaced after join
            results.append(("err", str(exc)))

    def vac_work():
        _time.sleep(0.1)  # let the scan start
        w = TxTable(spark, path)  # own handle, as a real writer would
        w.overwrite(_df(spark, 0, 10, "n1"))
        w.overwrite(_df(spark, 0, 5, "n2"))
        w.vacuum(retain_last=0, retire_grace_sec=retire_grace_sec)

    rt = threading.Thread(target=read_work)
    wt = threading.Thread(target=vac_work)
    rt.start(), wt.start()
    rt.join(timeout=300), wt.join(timeout=300)
    assert results, "reader thread never finished"
    return results[0]


def test_reader_vs_vacuum_race_complete_or_loud(spark, tmp_path):
    """Round-12 ask #3, grace 0: a mid-scan vacuum may win or lose the
    race, but the reader's outcome is binary — the EXACT pinned-
    snapshot result (files already open survive POSIX unlink) or a
    loud missing-file error. Silently partial rows are the one
    forbidden outcome."""
    kind, val = _race_reader_vs_vacuum(
        spark, str(tmp_path / "t"), retire_grace_sec=0.0
    )
    if kind == "ok":
        assert val == sum(range(2000)), f"PARTIAL read: {val}"
    else:
        assert any(
            s in val
            for s in ("FileNotFound", "does not exist", "No such file")
        ), f"unexpected error class: {val[:500]}"


def test_reader_vs_vacuum_race_with_grace_always_completes(spark, tmp_path):
    """Round-12 ask #3, graced: with retire_grace_sec above the read
    duration the racing vacuum cannot touch the reader's files, so the
    reader MUST complete with the exact pinned-snapshot sum — the
    documented production setting for long-running concurrent reads."""
    kind, val = _race_reader_vs_vacuum(
        spark, str(tmp_path / "t"), retire_grace_sec=3600.0
    )
    assert (kind, val) == ("ok", sum(range(2000)))
    # and the post-race latest snapshot is the writer's final overwrite
    t = TxTable(spark, str(tmp_path / "t"))
    assert t.read().count() == 5

