"""Transaction-log tables: atomic commits, snapshot reads, time travel,
checkpoints and per-file min/max stats for data skipping.

No pipeline stage or catalog query reads a ``TxTable``; the pipeline
keeps completed months safe through ``StageStorage``'s validated stage
writes. The archive layer (``sources/archive.py``) gives validated idempotency —
a stage skips work whose output already validates. What it cannot give
is ATOMICITY under concurrent writers: a reader listing a directory
mid-overwrite sees half-written parquet, and two backfill jobs racing on
the same partition corrupt each other. At 100 TB with hundreds of
concurrent stage tasks this is the first operational failure mode, and
the lakehouse answer (Delta/Iceberg-style) is a commit log:

- data files are written ONCE under unique names and never mutated;
- a table's state is defined solely by an ordered log of JSON commit
  entries (``_txlog/{version:020d}.json``), each listing files added and
  removed plus row counts and the writer's intent;
- a commit is a single ATOMIC create-if-absent of the next version file
  (``os.open(O_CREAT|O_EXCL)`` locally — the same primitive object
  stores expose as if-none-match puts). Losing the race = retry against
  the new snapshot: optimistic concurrency, no locks;
- readers resolve a VERSION (latest or pinned) and read exactly that
  file set — a snapshot is immutable forever, so long queries never see
  torn writes, and time travel is just reading an old version.

Scale notes: the log is one tiny JSON per commit (listing paths, not
data); snapshot resolution is an O(versions) listing that a real
deployment checkpoints (``checkpoint()`` here writes a full-state entry
so resolution reads one file + the tail). Data-file writes stay fully
parallel Spark jobs; only the final rename-sized commit is serialized.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    """Another writer committed this version first — re-resolve and retry."""


_LOG_DIR = "_txlog"
# append/overwrite auto-checkpoint when the claimed version crosses this
# stride, so snapshot resolution stays O(tail) even for writers that
# never call checkpoint() themselves
_CHECKPOINT_EVERY = 10


def _log_dir(table_path: str) -> str:
    return os.path.join(table_path, _LOG_DIR)


def _version_file(table_path: str, version: int) -> str:
    return os.path.join(_log_dir(table_path), f"{version:020d}.json")


class TxTable:
    """A transaction-logged parquet table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(_log_dir(path), exist_ok=True)

    # -- snapshot resolution ------------------------------------------------

    def versions(self) -> list[int]:
        out = []
        for name in os.listdir(_log_dir(self.path)):
            if name.endswith(".json"):
                out.append(int(name[: -len(".json")]))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _entry(self, version: int) -> dict:
        with open(_version_file(self.path, version)) as f:
            return json.load(f)

    def snapshot(self, version: int | None = None) -> tuple[int, list[str]]:
        """Resolve (version, live data files). Replays from the newest
        checkpoint at or before ``version`` — older log entries need
        never be read, which is what keeps resolution O(tail)."""
        vs = self.versions()
        if not vs:
            return -1, []
        if version is None:
            version = vs[-1]
        elif version not in vs:
            raise ValueError(f"version {version} does not exist: {vs}")
        replay = [v for v in vs if v <= version]
        # walk backward caching parsed entries until the newest
        # checkpoint (or the log head), then fold forward over the
        # cached list — each tail entry is opened exactly once and
        # pre-checkpoint entries are never opened at all
        tail: list[dict] = []
        for v in reversed(replay):
            e = self._entry(v)
            tail.append(e)
            if e.get("checkpoint"):
                break
        live: set[str] = set()
        for e in reversed(tail):
            if e.get("checkpoint"):
                live = set(e["live"])
            else:
                live -= set(e.get("removed", []))
                live |= set(e.get("added", []))
        return version, sorted(live)

    # -- commits ------------------------------------------------------------

    def _commit(self, entry: dict, at_version: int | None = None) -> int:
        """Atomically claim a version number. O_CREAT|O_EXCL is the
        local spelling of an object store's if-none-match put; a loser
        raises :class:`CommitConflict` for the caller to retry.

        ``at_version`` pins the claim to the version the caller OBSERVED
        as next when it made its decision — if the log has advanced past
        it, the claim fails even though a later number would be free.
        That pin is what makes a decision taken from one snapshot (an
        overwrite's removal list, a checkpoint's live set) atomic with
        its commit: any interleaved commit invalidates the decision and
        forces a re-resolve."""
        if at_version is not None:
            version = at_version
        else:
            latest = self.latest_version()
            version = 0 if latest is None else latest + 1
        entry = {
            **entry,
            "version": version,
            "ts": time.time(),
        }
        payload = json.dumps(entry, indent=1).encode()
        # the claim must be atomic WITH ITS PAYLOAD: write the full entry
        # to a private temp file first, then os.link it into place —
        # link() fails with FileExistsError if the version is taken and
        # never exposes a partially-written entry (a bare O_CREAT|O_EXCL
        # + write would let a reader parse an empty file, and a crash
        # between open and write would poison the log forever)
        tmp = _version_file(self.path, version) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, _version_file(self.path, version))
        except FileExistsError as exc:
            raise CommitConflict(
                f"version {version} was committed concurrently"
            ) from exc
        finally:
            os.unlink(tmp)
        return version

    def _write_files(self, df: DataFrame) -> tuple[list[str], int]:
        """Write df's rows as uniquely-named parquet under the table dir
        (a fully parallel Spark job; nothing references the files until
        the commit lands). The committed ``n_rows`` is observed ON the
        write job itself (``DataFrame.observe`` — accumulator-backed,
        exact on the successful execution) instead of re-reading the
        just-written files with a second count job: one Spark job per
        commit, not two, at any scale."""
        from pyspark.sql import Observation

        sub = f"part-{uuid.uuid4().hex}"
        out_dir = os.path.join(self.path, sub)
        obs = Observation(f"txwrite_{sub}")
        df.observe(obs, F.count(F.lit(1)).alias("__txn")).write.mode(
            "errorifexists"
        ).parquet(out_dir)
        files = [
            os.path.join(sub, f)
            for f in os.listdir(out_dir)
            if f.endswith(".parquet")
        ]
        return sorted(files), int(obs.get["__txn"])

    def _maybe_checkpoint(self, version: int) -> None:
        """Auto-checkpoint on the stride so resolution stays O(tail)
        even for writers that never checkpoint explicitly. Best-effort:
        losing the race just means someone else committed — the next
        stride will try again."""
        if version > 0 and version % _CHECKPOINT_EVERY == 0:
            try:
                self.checkpoint()
            except CommitConflict:
                pass

    @staticmethod
    def _check_stats_cols(dtypes: dict[str, str], stats_cols: list[str]) -> None:
        ok = (
            "tinyint", "smallint", "int", "bigint", "float", "double",
            "string", "date", "timestamp",
        )
        for c in stats_cols:
            if dtypes.get(c) not in ok:
                raise ValueError(
                    f"stats_cols supports numeric/string/date/timestamp "
                    f"columns; '{c}' is {dtypes.get(c)}"
                )

    @staticmethod
    def _stat_value(v):
        """JSON-able, ORDER-PRESERVING encoding of a stat scalar.
        Dates/timestamps become ISO-8601 strings, whose lexicographic
        order equals temporal order (fixed-width prefix through seconds;
        a fractional suffix only extends, never reorders) — so the
        prune's string comparison against an encoded predicate bound is
        exactly the temporal comparison."""
        import datetime as _dt

        if isinstance(v, (_dt.date, _dt.datetime)):
            return v.isoformat()
        return v

    def _file_stats(
        self, files: list[str], stats_cols: list[str]
    ) -> dict[str, dict[str, list]]:
        """Per-file min/max of ``stats_cols`` for the just-written
        files — ONE Spark job over the new files only (never the
        table). Numeric, string and date/timestamp columns only: their
        min/max round-trip JSON exactly; anything else raises rather
        than storing lossy stats a prune would then trust."""
        paths = [os.path.join(self.path, f) for f in files]
        df = self.spark.read.parquet(*paths)
        self._check_stats_cols(dict(df.dtypes), stats_cols)
        aggs = []
        for c in stats_cols:
            aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
        rows = (
            df.withColumn("__f", F.input_file_name())
            .groupBy("__f")
            .agg(*aggs)
            .collect()
        )
        out: dict[str, dict[str, list]] = {}
        for r in rows:
            from urllib.parse import unquote, urlparse

            uri = r["__f"]
            local = unquote(urlparse(uri).path) if "://" in uri or uri.startswith("file:") else uri
            rel = os.path.relpath(local, self.path)
            out[rel] = {
                c: [
                    self._stat_value(r[f"mn_{c}"]),
                    self._stat_value(r[f"mx_{c}"]),
                ]
                for c in stats_cols
            }
        return out

    def append(
        self,
        df: DataFrame,
        max_retries: int = 5,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Atomic append: new files become visible all-or-nothing.
        ``stats_cols`` records per-file min/max in the commit entry so
        :meth:`read_pruned` can skip files at resolution time."""
        if stats_cols:
            self._check_stats_cols(dict(df.dtypes), stats_cols)
        files, n = self._write_files(df)
        entry: dict = {"op": "append", "added": files, "n_rows": n}
        if stats_cols:
            entry["stats"] = self._file_stats(files, stats_cols)
        for _ in range(max_retries):
            try:
                v = self._commit(entry)
                self._maybe_checkpoint(v)
                return v
            except CommitConflict:
                continue
        raise CommitConflict(f"append lost {max_retries} races")

    def file_stats(self, version: int | None = None) -> dict[str, dict]:
        """Stats for the snapshot's LIVE files (files committed without
        stats are absent — a prune must treat them as unknowable)."""
        v, live = self.snapshot(version)
        live_set = set(live)
        out: dict[str, dict] = {}
        for ver in self.versions():
            if ver > v:
                break
            for f, st in self._entry(ver).get("stats", {}).items():
                if f in live_set:
                    out[f] = st
        return out

    def read_pruned(
        self,
        col: str,
        lo,
        hi,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Snapshot read with DATA SKIPPING: live files whose recorded
        [min, max] of ``col`` cannot intersect [lo, hi] are never
        opened — the Delta-style stats prune that turns a 100 TB scan
        into the handful of files a selective predicate actually
        needs. Files without stats (or with a NULL-only min/max) are
        read unconditionally; the exact row filter is applied on top,
        so the result equals ``read().filter(lo <= col <= hi)``
        regardless of how much pruning was possible."""
        return self.read_pruned_multi(
            {col: (lo, hi)}, version=version, merge_schema=merge_schema
        )

    def read_pruned_multi(
        self,
        preds: dict[str, tuple],
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Multi-column data skip: a file survives only if EVERY
        predicate's [lo, hi] intersects that column's recorded min/max
        (AND-of-ranges). With a Z-ORDER file layout (files written in
        order of an interleaved-bit sort key over the predicate columns)
        each file covers a compact rectangle of the key space, so a box
        predicate on ANY subset of the z-columns skips files — the
        multi-dimensional clustering a linear range layout cannot give
        (its second column spans the full range in every file). Exact
        row filters are applied on top, so the result always equals
        ``read()`` + filters regardless of pruning.

        ``merge_schema=True`` mirrors :meth:`read` and goes one step
        further: on an additively-evolved table the kept-file set
        depends on the predicate, so even a mergeSchema read of the
        KEPT files would make the result schema vary with the predicate
        (a box that keeps only pre-evolution files cannot see the new
        column in any footer). The reader is therefore pinned to the
        SNAPSHOT's union schema — derived from the live files' footers,
        the same planning cost ``read(merge_schema=True)`` pays — so
        the result equals ``read(merge_schema=True)`` + filters for
        every predicate, absent columns reading as NULL.

        Date/timestamp predicate bounds are accepted directly: recorded
        stats for temporal columns are ISO-8601 strings (see
        ``_stat_value``), so bounds are encoded the same way before the
        min/max comparison while the exact row filter uses the original
        typed values."""
        v, live = self.snapshot(version)
        if not live:
            raise ValueError(f"table {self.path} is empty at version {v}")
        # pass the RESOLVED version: re-resolving with the caller's
        # (often None) would race a concurrent commit and mismatch the
        # stats set against the file list being pruned
        stats = self.file_stats(v)
        kept = []
        for f in live:
            keep = True
            for col, (lo, hi) in preds.items():
                st = stats.get(f, {}).get(col)
                if st is None or st[0] is None or st[1] is None:
                    continue  # unknowable for this column: can't exclude
                elo, ehi = self._stat_value(lo), self._stat_value(hi)
                if st[1] < elo or st[0] > ehi:
                    keep = False
                    break
            if keep:
                kept.append(f)
        if not kept:
            # every file provably excluded: empty frame, right schema —
            # read the RESOLVED version (re-resolving with the caller's
            # None would race a concurrent commit, same as the stats
            # comment above)
            full = self.read(v, merge_schema=merge_schema)
            return full.filter(F.lit(False))
        reader = self.spark.read
        if merge_schema:
            union = (
                self.spark.read.option("mergeSchema", "true")
                .parquet(*[os.path.join(self.path, f) for f in live])
                .schema
            )
            reader = reader.schema(union).option("mergeSchema", "true")
        df = reader.parquet(*[os.path.join(self.path, f) for f in kept])
        for col, (lo, hi) in preds.items():
            df = df.filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
        return df

    def overwrite(
        self,
        df: DataFrame,
        max_retries: int = 5,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Atomic replace: readers see the old snapshot until the single
        commit file lands, then the new one — never a mix.
        ``stats_cols`` mirrors :meth:`append` (a
        full-rewrite maintenance verb like RECLUSTER needs the new
        layout's file stats recorded in the same commit, or the rewrite
        would silently disable data skipping)."""
        if stats_cols:
            self._check_stats_cols(dict(df.dtypes), stats_cols)
        files, n = self._write_files(df)
        entry: dict = {"op": "overwrite", "added": files, "n_rows": n}
        if stats_cols:
            entry["stats"] = self._file_stats(files, stats_cols)
        for _ in range(max_retries):
            # the removed set is only valid for the snapshot it was read
            # from — pin the commit to that version so an interleaved
            # append forces a re-resolve instead of silently surviving a
            # stale removal list
            sv, live = self.snapshot()
            try:
                v = self._commit(
                    {**entry, "removed": live},
                    at_version=sv + 1,
                )
                self._maybe_checkpoint(v)
                return v
            except CommitConflict:
                continue
        raise CommitConflict(f"overwrite lost {max_retries} races")

    def checkpoint(self, max_retries: int = 5) -> int:
        """Write a full-state entry so future resolutions read one file
        plus the tail after it. The live set is only valid for the
        snapshot it was read from, so the commit is PINNED to that
        version — an interleaved append would otherwise be silently
        erased from every later snapshot by a stale checkpoint."""
        for _ in range(max_retries):
            sv, live = self.snapshot()
            entry = {"op": "checkpoint", "checkpoint": True, "live": live}
            try:
                return self._commit(entry, at_version=sv + 1)
            except CommitConflict:
                continue
        raise CommitConflict(f"checkpoint lost {max_retries} races")

    # -- reads --------------------------------------------------------------

    def read(
        self, version: int | None = None, merge_schema: bool = False
    ) -> DataFrame:
        """Read an immutable snapshot (latest by default).

        ``merge_schema=True`` unions the live files' schemas (additive
        column evolution: rows written before a column existed read as
        NULL — the Delta/Iceberg add-column semantics). It costs one
        footer read per live file at planning time, so the default
        stays single-schema; old snapshots read through time travel are
        unaffected either way (their file set pins their schema)."""
        v, live = self.snapshot(version)
        if not live:
            raise ValueError(f"table {self.path} is empty at version {v}")
        paths = [os.path.join(self.path, f) for f in live]
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    def history(self) -> list[dict]:
        """The commit log, oldest first — op, files, rows, timestamps."""
        return [self._entry(v) for v in self.versions()]
