"""Transaction-log table tests (sources/txlog.py): atomic visibility,
optimistic-concurrency conflicts, time travel, checkpoint resolution,
and data skipping by per-file stats."""

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


def test_empty_table_read_raises(spark, tmp_path):
    t = TxTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError, match="empty"):
        t.read()


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
    # validation happens BEFORE any file is written: no orphan part
    # dirs under the table root
    import os

    debris = [
        d for d in os.listdir(t.path) if d.startswith("part-")
    ]
    assert debris == []


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
