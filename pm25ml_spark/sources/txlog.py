"""Transaction-log tables: snapshot isolation for the artifact store.

The archive layer (``sources/archive.py``) gives validated idempotency —
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
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    """Another writer committed this version first — re-resolve and retry."""


class VacuumedSnapshotError(ValueError):
    """Time travel requested a snapshot whose data files were vacuumed.

    Raised INSTEAD of letting the parquet reader fail file-by-file (or,
    worse, a partially-vacuumed snapshot silently reading fewer rows if
    a caller globbed): the version is resolvable from the log forever,
    but its bytes are gone past the retention boundary — the documented
    Delta/Iceberg contract for reads behind VACUUM."""


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
        That pin is what lets idempotence checks (the streaming sink's
        epoch stamp) be atomic with the commit: any interleaved commit
        invalidates the decision and forces a re-check."""
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

    # footer-stats fast path: above this many new files per commit the
    # one Spark job parallelizes better than serial driver footer reads
    _FOOTER_STATS_MAX_FILES = 64

    def _file_stats_footer(
        self, files: list[str], stats_cols: list[str]
    ) -> dict[str, dict[str, list]] | None:
        """Per-file min/max read from the just-written files' parquet
        FOOTERS — driver-side metadata reads instead of a Spark job.
        The footer statistics are the same bounds the Spark aggregate
        would compute (and the prune re-filters rows on top, so even a
        conservative bound can never change results — only skipping
        effectiveness). Returns None whenever exactness is not
        guaranteed, and the caller falls back to the Spark job:

        - more than ``_FOOTER_STATS_MAX_FILES`` files (a big commit's
          stats job parallelizes across executors; serial driver
          footer reads would not),
        - float/double columns (parquet stats omit NaN, Spark's
          min/max sort it greatest — bounds could disagree),
        - timestamp columns (tz rendering of the ISO encoding could
          diverge from the collected-row path),
        - long string bounds (>= 1 KiB: possible writer truncation),
        - any missing/NaN-tainted chunk statistic or read error.
        """
        if len(files) > self._FOOTER_STATS_MAX_FILES:
            return None
        try:
            import pyarrow.parquet as pq
            import pyarrow.types as pat

            out: dict[str, dict[str, list]] = {}
            for rel in files:
                md = pq.ParquetFile(
                    os.path.join(self.path, rel)
                ).metadata
                if md.num_rows == 0:
                    continue  # the Spark path emits no row for it either
                arrow_schema = md.schema.to_arrow_schema()
                col_paths = [
                    md.schema.column(i).path for i in range(md.num_columns)
                ]
                fstats: dict[str, list] = {}
                for c in stats_cols:
                    if c not in arrow_schema.names:
                        # additive evolution: this file predates the
                        # column — unknowable, same as the mergeSchema
                        # Spark aggregate's all-NULL min/max
                        fstats[c] = [None, None]
                        continue
                    t = arrow_schema.field(c).type
                    if not (
                        pat.is_integer(t)
                        or pat.is_string(t)
                        or pat.is_large_string(t)
                        or pat.is_date(t)
                    ):
                        return None
                    ci = col_paths.index(c)
                    mn = mx = None
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(ci).statistics
                        if st is None:
                            return None
                        if st.num_values == 0:
                            continue  # all-NULL chunk adds no bound
                        if not st.has_min_max:
                            return None
                        lo, hi = st.min, st.max
                        if isinstance(lo, bytes):
                            lo, hi = lo.decode(), hi.decode()
                        if isinstance(lo, str) and (
                            len(lo) >= 1024 or len(hi) >= 1024
                        ):
                            return None
                        mn = lo if mn is None or lo < mn else mn
                        mx = hi if mx is None or hi > mx else mx
                    fstats[c] = [self._stat_value(mn), self._stat_value(mx)]
                out[rel] = fstats
            return out
        except Exception:
            return None

    def _file_stats(
        self, files: list[str], stats_cols: list[str]
    ) -> dict[str, dict[str, list]]:
        """Per-file min/max of ``stats_cols`` for the just-written
        files — parquet-footer metadata reads when exactness is
        guaranteed (``_file_stats_footer``), else ONE Spark job over
        the new files only (never the table). Numeric and string
        columns only: their min/max round-trip JSON exactly; anything
        else raises rather than storing lossy stats a prune would then
        trust. mergeSchema: compact feeds this files from per-bucket
        groups that may diverge in schema (additive evolution) — a
        sampled-footer read could drop a tracked column and fail the
        dtype check."""
        fast = self._file_stats_footer(files, stats_cols)
        if fast is not None:
            return fast
        paths = [os.path.join(self.path, f) for f in files]
        df = self.spark.read.option("mergeSchema", "true").parquet(*paths)
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
        if version is not None:
            self._check_not_vacuumed(v, live)
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
            # propagate the upsert layout so _recorded_buckets stays
            # O(tail): without this a checkpoint would hide the last
            # upsert entry from the backward walk
            nb = self._recorded_buckets(sv)
            if nb is not None:
                entry["upsert_buckets"] = nb
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
        unaffected either way (their file set pins their schema).

        Time travel to a version whose files were vacuumed raises
        :class:`VacuumedSnapshotError` (checked only for EXPLICIT
        version requests — the latest snapshot's files are live by
        definition, and per-file existence probes against an object
        store are not free)."""
        v, live = self.snapshot(version)
        if not live:
            raise ValueError(f"table {self.path} is empty at version {v}")
        if version is not None:
            self._check_not_vacuumed(v, live)
        paths = [os.path.join(self.path, f) for f in live]
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    def history(self) -> list[dict]:
        """The commit log, oldest first — op, files, rows, timestamps."""
        return [self._entry(v) for v in self.versions()]

    def _write_files_bucketed(self, df: DataFrame) -> tuple[list[str], int]:
        """Like :meth:`_write_files` but lays files out under
        ``__b=<bucket>/`` subdirs (one partitionBy job). The bucket is
        LAYOUT metadata carried in the path, not a data column — reads
        of individual leaf files never see it."""
        from pyspark.sql import Observation

        sub = f"part-{uuid.uuid4().hex}"
        out_dir = os.path.join(self.path, sub)
        obs = Observation(f"txwriteb_{sub}")
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "errorifexists"
        ).partitionBy("__b").parquet(out_dir)
        files = []
        for root, _dirs, names in os.walk(out_dir):
            for f in names:
                if f.endswith(".parquet"):
                    files.append(
                        os.path.relpath(os.path.join(root, f), self.path)
                    )
        if not files:
            # an empty frame writes no leaf files (e.g. a delete that
            # empties every touched bucket) — reading the dir back
            # would fail schema inference
            return [], 0
        # observed on the write job itself (see _write_files): no
        # read-back count job per commit
        n = int(obs.get["n"])
        return sorted(files), n

    @staticmethod
    def _file_bucket(rel_path: str) -> int | None:
        """Bucket id encoded in a data file's path, or None for files
        written by the unbucketed writers (append/overwrite/compact)."""
        m = re.search(r"__b=(\d+)/", rel_path)
        return int(m.group(1)) if m else None

    def upsert(
        self,
        df: DataFrame,
        key_col: str,
        n_buckets: int = 16,
        max_retries: int = 5,
        _stamp: tuple | None = None,
        _stamp_floor: int = -1,
    ) -> int:
        """Keyed MERGE (the Delta/Hudi/Iceberg upsert core): rows in
        ``df`` REPLACE live rows with the same key; new keys insert.

        Scale shape: table files are laid out hash(key)-bucketed
        (``__b=<k>/`` path metadata), so a batch touching B of the
        ``n_buckets`` buckets reads and rewrites ONLY those buckets'
        files — cost is O(batch ∪ touched-bucket rows), never a full
        table rewrite. A table with unbucketed live files (from
        append/overwrite) is bootstrapped by one full rewrite into the
        bucketed layout; a different ``n_buckets`` than the LIVE
        bucketed layout raises rather than silently mixing bucket
        meanings (a fully-overwritten table has no bucketed live files
        and accepts any n_buckets — the bootstrap rewrites everything).
        Duplicate keys within one batch raise (which row wins would be
        shuffle-order-dependent). An EMPTY batch never rewrites files:
        it is a pure no-op, except that a stamped empty epoch still
        commits a zero-file entry so replays skip it.

        Commits are pinned like overwrite/compact: an interleaved
        commit forces a full re-plan, and non-committed rewrites are
        deleted immediately (vacuum never sees unreferenced files).
        ``_stamp`` is the streaming sink's (query, epoch) idempotence
        mark; the stamp check is ATOMIC with the commit because it is
        performed against the same snapshot version the commit is
        pinned to — a replay that lands in between fails the pin and
        re-checks. ``_stamp_floor`` is the version the CALLER already
        scanned for stamps, so in-upsert scans only open entries above
        it (O(new commits), not O(history))."""
        # ONE validation/planning job instead of three (count +
        # distinct-count + touched-bucket collect): a single aggregate
        # computes the row count, the distinct key count, the NULL-key
        # row count, and the ≤ n_buckets touched-bucket set. The
        # NULL-key term keeps the duplicate check exact without paying
        # count_distinct's ignores-NULLs semantics: DISTINCT treats all
        # NULL keys as one key, so n_keys = count_distinct + (nulls>0)
        # — and 2+ NULL rows therefore still raise, as before.
        bexpr = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast(
            "int"
        )
        stats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(key_col)).alias("k"),
            F.count(F.when(F.col(key_col).isNull(), 1)).alias("nulls"),
            F.collect_set(bexpr).alias("bs"),
        ).first()
        n_rows = int(stats["n"])
        n_keys = int(stats["k"]) + (1 if stats["nulls"] else 0)
        if n_keys != n_rows:
            raise ValueError(
                f"upsert batch has {n_rows - n_keys} duplicate '{key_col}' keys"
            )
        batch = df.withColumn("__b", bexpr)
        touched = sorted(int(b) for b in stats["bs"])

        def stamp_at(upto: int) -> int | None:
            """Version ≤ upto carrying _stamp, scanning only above the
            caller's floor."""
            if _stamp is None:
                return None
            for ev in self.versions():
                if _stamp_floor < ev <= upto:
                    sb = self._entry(ev).get("stream_batch")
                    if sb and tuple(sb) == _stamp:
                        return ev
            return None

        for _ in range(max_retries):
            sv, live = self.snapshot()
            # atomic idempotence: check the stamp against the SAME
            # version the commit below is pinned to
            won = stamp_at(sv)
            if won is not None:
                return won
            # layout check against the LIVE set: only live bucketed
            # files constrain n_buckets, and their bucket count is the
            # most recent upsert entry's (bucket paths only ever come
            # from upsert, or compact preserving upsert's)
            if any(self._file_bucket(f) is not None for f in live):
                recorded = self._recorded_buckets(sv)
                if recorded is not None and recorded != n_buckets:
                    raise ValueError(
                        f"table is laid out with {recorded} buckets; "
                        f"got n_buckets={n_buckets}"
                    )
            if n_rows == 0:
                if _stamp is None:
                    return sv  # pure no-op
                entry = {
                    "op": "upsert",
                    "added": [],
                    "removed": [],
                    "n_rows": 0,
                    "upsert_buckets": n_buckets,
                    "stream_batch": list(_stamp),
                }
                try:
                    v = self._commit(entry, at_version=sv + 1)
                    self._maybe_checkpoint(v)
                    return v
                except CommitConflict:
                    continue
            legacy = [f for f in live if self._file_bucket(f) is None]
            if legacy:
                # bootstrap: fold the WHOLE unbucketed table into the
                # bucketed layout in this one commit
                removed = list(live)
            else:
                removed = [
                    f for f in live if self._file_bucket(f) in set(touched)
                ]
            if removed:
                old = self.spark.read.parquet(
                    *[os.path.join(self.path, f) for f in removed]
                ).withColumn(
                    "__b",
                    F.pmod(
                        F.xxhash64(F.col(key_col)), F.lit(n_buckets)
                    ).cast("int"),
                )
                keep = old.join(
                    batch.select(key_col).distinct(), key_col, "left_anti"
                )
                merged = keep.unionByName(batch)
            else:
                merged = batch
            files, n = self._write_files_bucketed(merged)
            entry = {
                "op": "upsert",
                "added": files,
                "removed": sorted(removed),
                "n_rows": n,
                "upsert_buckets": n_buckets,
            }
            if _stamp is not None:
                entry["stream_batch"] = list(_stamp)
            try:
                try:
                    v = self._commit(entry, at_version=sv + 1)
                    # clear BEFORE checkpointing: once the commit landed the
                    # data files belong to the log — a checkpoint IO failure
                    # must not trigger the cleanup rmtree below
                    files = []
                    self._maybe_checkpoint(v)
                    return v
                except CommitConflict:
                    continue  # re-plan (and re-check the stamp) above
            finally:
                if files:
                    import shutil

                    shutil.rmtree(
                        os.path.join(
                            self.path, files[0].split(os.sep)[0]
                        ),
                        ignore_errors=True,
                    )
        raise CommitConflict(f"upsert lost {max_retries} races")

    def restore(self, version: int, max_retries: int = 5) -> int:
        """ROLL BACK the table to ``version`` as a NEW commit (the
        Delta/Iceberg RESTORE verb): the restored snapshot's file list
        becomes the live set again, history is preserved (the rollback
        is itself an entry — audits see both the mistake and the fix),
        and no data files are copied or rewritten — the old files are
        simply re-referenced, so restore is O(log entry), not O(data).

        Fails loudly if any file of the target snapshot has been
        vacuumed (the rollback would resurrect a dangling reference).
        Concurrency: pinned commit, standard retry — an interleaved
        writer forces re-pinning (the restored CONTENT does not change,
        only the claimed version)."""
        _, want = self.snapshot(version)
        missing = [
            f for f in want
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise ValueError(
                f"cannot restore version {version}: {len(missing)} of its "
                f"files were vacuumed (e.g. {missing[0]})"
            )
        for _ in range(max_retries):
            sv, live = self.snapshot()
            entry = {
                "op": "restore",
                "restore_of": version,
                "added": sorted(set(want) - set(live)),
                "removed": sorted(set(live) - set(want)),
                "n_rows": None,
            }
            # the restored snapshot's bucket layout governs future
            # upserts, not whatever a rolled-back upsert recorded after
            # it — carry the TARGET version's layout forward so
            # _recorded_buckets resolves against the restored state
            nb = self._recorded_buckets(version)
            if nb is not None:
                entry["upsert_buckets"] = nb
            try:
                v = self._commit(entry, at_version=sv + 1)
                self._maybe_checkpoint(v)
                return v
            except CommitConflict:
                continue
        raise CommitConflict(f"restore lost {max_retries} races")

    def delete_keys(
        self,
        keys_df: DataFrame,
        key_col: str,
        n_buckets: int = 16,
        max_retries: int = 5,
    ) -> int:
        """Keyed DELETE — the lakehouse verb the table lacked: rows
        whose ``key_col`` appears in ``keys_df`` are removed in one
        atomic commit. Same scale shape as :meth:`upsert`: on a
        bucketed table only the hash-buckets containing deleted keys
        are read and rewritten (cost O(keys ∪ touched-bucket rows),
        never a full-table rewrite); an unbucketed table is
        bootstrapped into the bucketed layout by one full rewrite,
        exactly like upsert's bootstrap. Keys absent from the table
        are no-ops (DELETE semantics — idempotent per key), duplicate
        keys in the batch are harmlessly deduplicated, and an empty
        key set commits nothing. Old versions still resolve to the
        pre-delete files (time travel shows the deleted rows;
        ``vacuum`` reclaims them once retired).

        Concurrency: the commit is pinned to the snapshot the rewrite
        was planned against; an interleaved commit forces a re-plan,
        and never-committed rewrites are deleted immediately.
        Returns the committed version (or the current snapshot
        version for an empty/no-op delete)."""
        keys = keys_df.select(key_col).distinct()
        tagged = keys.withColumn(
            "__b",
            F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int"),
        )
        touched = sorted(
            r[0] for r in tagged.select("__b").distinct().collect()
        )
        for _ in range(max_retries):
            sv, live = self.snapshot()
            if not touched or not live:
                return sv  # nothing to delete / empty table: pure no-op
            if any(self._file_bucket(f) is not None for f in live):
                recorded = self._recorded_buckets(sv)
                if recorded is not None and recorded != n_buckets:
                    raise ValueError(
                        f"table is laid out with {recorded} buckets; "
                        f"got n_buckets={n_buckets}"
                    )
            legacy = [f for f in live if self._file_bucket(f) is None]
            if legacy:
                removed = list(live)  # bootstrap into the bucketed layout
            else:
                removed = [
                    f for f in live if self._file_bucket(f) in set(touched)
                ]
            if not removed:
                return sv  # no live file can contain any of the keys
            old = self.spark.read.parquet(
                *[os.path.join(self.path, f) for f in removed]
            ).withColumn(
                "__b",
                F.pmod(
                    F.xxhash64(F.col(key_col)), F.lit(n_buckets)
                ).cast("int"),
            )
            keep = old.join(keys, key_col, "left_anti")
            files, n = self._write_files_bucketed(keep)
            entry = {
                "op": "delete",
                "added": files,
                "removed": sorted(removed),
                "n_rows": n,
                "upsert_buckets": n_buckets,
            }
            try:
                try:
                    v = self._commit(entry, at_version=sv + 1)
                    # clear BEFORE checkpointing (see upsert): a checkpoint
                    # failure after a successful commit must not delete the
                    # data files the committed entry references
                    files = []
                    self._maybe_checkpoint(v)
                    return v
                except CommitConflict:
                    continue
            finally:
                if files:
                    import shutil

                    shutil.rmtree(
                        os.path.join(self.path, files[0].split(os.sep)[0]),
                        ignore_errors=True,
                    )
        raise CommitConflict(f"delete lost {max_retries} races")

    def _recorded_buckets(self, upto: int) -> int | None:
        """Bucket count of the table's upsert layout: the most recent
        entry ≤ upto carrying ``upsert_buckets``. Scans BACKWARD and
        stops at the first carrier or checkpoint (checkpoints propagate
        the field — see :meth:`checkpoint`), so the walk is O(tail)."""
        for v in reversed(self.versions()):
            if v > upto:
                continue
            e = self._entry(v)
            if e.get("upsert_buckets"):
                return int(e["upsert_buckets"])
            if e.get("checkpoint"):
                return None
        return None

    def compact(
        self,
        target_file_bytes: int = 128 * 1024 * 1024,
        max_retries: int = 5,
        cluster_col: str | None = None,
    ) -> int | None:
        """Rewrite the snapshot's SMALL files into ~target-size files as
        one atomic commit — the small-files remedy every object-store
        table needs (a streaming sink or frequent small appends
        otherwise accrete thousands of tiny parquet files whose
        per-file open/footer cost dominates scans at scale).

        Files ≥ target_file_bytes/2 are already fine and are left
        untouched; the rest are read and rewritten as
        ``ceil(small_bytes / target)`` balanced files. The commit
        removes the small files and adds the merged ones — data
        identity is preserved by construction (same rows, new file
        boundaries), old versions still resolve to the original files
        (time travel unaffected; ``vacuum`` reclaims them when retired).

        BUCKET-AWARE: files carrying upsert bucket metadata
        (``__b=<k>/`` paths) are compacted within their bucket and the
        merged files keep the bucket path, so compaction never degrades
        an upserted table back to the full-rewrite bootstrap path —
        upserts after a compact stay touched-buckets-only. Unbucketed
        and bucketed small files may coexist (e.g. appends into an
        upsert table); each group compacts independently in the same
        single commit.

        DATA-SKIPPING-PRESERVING: compaction must not silently destroy
        the stats prune. The merged files' per-column min/max are
        recomputed and recorded in the compact commit for every column
        any removed file carried stats on — without this, merged files
        read as "unknowable" and every post-maintenance point lookup
        degrades to a full scan. Layout locality is preserved too: the
        rewrite range-partitions on ``cluster_col`` when given (pass
        the table's sort/z-key), else on the first inferred stats
        column, so merged files keep contiguous key ranges and the
        recomputed stats stay TIGHT (Delta's OPTIMIZE re-sorts for the
        same reason); with neither, it falls back to round-robin.

        Concurrency: the commit is PINNED to the snapshot the plan was
        made against. Any interleaved commit fails the pin; if every
        planned-removed file is still live the claim is simply retried
        at the advanced version, otherwise (an overwrite/compact won the
        race) the whole plan is rebuilt. Returns the new version, or
        None when there is nothing to compact (fewer than two small
        files)."""
        import math as _math

        for _ in range(max_retries):
            sv, live = self.snapshot()
            sized = [
                (f, os.path.getsize(os.path.join(self.path, f))) for f in live
            ]
            small = [
                (f, b) for f, b in sized if b < target_file_bytes // 2
            ]
            # group by bucket (None = unbucketed) and rewrite each group
            # under the SAME bucket path so upsert locality survives.
            # The <2 guard applies PER GROUP: a bucket already holding
            # one merged file is converged and must not be rewritten on
            # every maintenance call (that would commit a fresh version
            # and churn bytes forever on the periodic-compact loop).
            groups: dict[int | None, list[tuple[str, int]]] = {}
            for f, b in small:
                groups.setdefault(self._file_bucket(f), []).append((f, b))
            groups = {k: g for k, g in groups.items() if len(g) >= 2}
            small = [fb for g in groups.values() for fb in g]
            if not groups:
                return None
            # stats inheritance: recompute per-file min/max on the
            # merged output for every column any removed file tracked
            snap_stats = self.file_stats(sv)
            stat_cols = sorted(
                {
                    c
                    for f, _ in small
                    for c in snap_stats.get(f, {})
                }
            )
            part_col = cluster_col or (stat_cols[0] if stat_cols else None)
            sub = f"part-{uuid.uuid4().hex}"
            files, n = [], 0
            for bucket, grp in sorted(
                groups.items(), key=lambda kv: (kv[0] is None, kv[0])
            ):
                total = sum(b for _, b in grp)
                n_out = max(1, _math.ceil(total / target_file_bytes))
                paths = [os.path.join(self.path, f) for f, _ in grp]
                # the unbucketed group gets its own subdir ("u" — no
                # __b= so _file_bucket still reads None): writing to
                # `sub` itself would PATH_ALREADY_EXISTS once a bucketed
                # group has created it as a parent
                out_dir = os.path.join(
                    self.path,
                    sub,
                    "u" if bucket is None else f"__b={bucket}",
                )
                # mergeSchema: an additively-evolved table (add-column contract)
                # holds files with and without later columns — a plain
                # read samples ONE footer for the schema and would
                # silently rewrite the merged files WITHOUT the newer
                # columns (data loss disguised as maintenance)
                merged = self.spark.read.option(
                    "mergeSchema", "true"
                ).parquet(*paths)
                if part_col is not None and part_col in merged.columns:
                    merged = merged.repartitionByRange(
                        n_out, F.col(part_col)
                    )
                else:
                    merged = merged.repartition(n_out)
                # n_rows observed on the rewrite job itself (see
                # _write_files) — no per-group read-back count job
                from pyspark.sql import Observation

                obs = Observation(f"txcompact_{uuid.uuid4().hex}")
                merged.observe(
                    obs, F.count(F.lit(1)).alias("n")
                ).write.mode("errorifexists").parquet(out_dir)
                for name in os.listdir(out_dir):
                    if name.endswith(".parquet"):
                        files.append(
                            os.path.relpath(
                                os.path.join(out_dir, name), self.path
                            )
                        )
                n += int(obs.get["n"])
            files = sorted(files)
            removed = sorted(f for f, _ in small)
            pin = sv
            try:
                # inside the cleanup scope: a stats failure must drop
                # the uncommitted part- dir (it is referenced by no log
                # entry, so vacuum would never reclaim it)
                entry: dict = {
                    "op": "compact",
                    "added": files,
                    "removed": removed,
                    "n_rows": n,
                }
                if stat_cols:
                    entry["stats"] = self._file_stats(files, stat_cols)
                for _claim in range(max_retries):
                    try:
                        v = self._commit(entry, at_version=pin + 1)
                        files = []  # committed BEFORE checkpoint: nothing
                        # to clean up even if the checkpoint write fails
                        self._maybe_checkpoint(v)
                        return v
                    except CommitConflict:
                        pin, live_now = self.snapshot()
                        if set(removed) <= set(live_now):
                            # an append slid in: the plan is still valid,
                            # only the version number moved — retry claim
                            continue
                        # an overwrite/compact retired a planned file:
                        # the plan is stale, rebuild it from scratch
                        break
            finally:
                # any path that did not commit leaves the rewrite
                # unreferenced by every log entry — vacuum never sees
                # such files, so drop the whole private part- dir (ALL
                # bucket subdirs, not just the first file's parent)
                if files:
                    import shutil

                    shutil.rmtree(
                        os.path.join(self.path, sub), ignore_errors=True
                    )
        raise CommitConflict(f"compact lost {max_retries} races")

    def _check_not_vacuumed(self, version: int, live: list[str]) -> None:
        """Raise :class:`VacuumedSnapshotError` if any of the snapshot's
        files no longer exists on disk (retired by a later vacuum) —
        the loud failure the time-travel contract promises instead of
        a reader-dependent path error or partial read."""
        missing = [
            f for f in live
            if not os.path.exists(os.path.join(self.path, f))
        ]
        if missing:
            raise VacuumedSnapshotError(
                f"version {version} of {self.path} is behind the vacuum "
                f"retention boundary: {len(missing)} of its {len(live)} "
                f"files were deleted (e.g. {missing[0]}). Time travel is "
                f"only valid for versions whose files a vacuum has not "
                f"retired."
            )

    def maybe_compact(
        self,
        max_small_files: int = 16,
        target_file_bytes: int = 128 * 1024 * 1024,
        cluster_col: str | None = None,
    ) -> int | None:
        """THRESHOLD-GATED compaction — the maintenance policy a
        streaming sink runs after every drain: count the snapshot's
        small files (< target/2, one listing pass, no data read) and
        compact only past ``max_small_files``. Below the threshold the
        call is a metadata-only no-op (no commit, no bytes moved), so
        running it unconditionally per drain amortizes compaction to
        O(data ingested) instead of O(drains): a quiet table is never
        churned, and an accreting one is merged before per-file open
        cost dominates scans. Returns :meth:`compact`'s version, or
        None when the threshold was not crossed."""
        _, live = self.snapshot()
        n_small = sum(
            1
            for f in live
            if os.path.getsize(os.path.join(self.path, f))
            < target_file_bytes // 2
        )
        if n_small <= max_small_files:
            return None
        return self.compact(
            target_file_bytes=target_file_bytes, cluster_col=cluster_col
        )

    def _remove_data_file(self, rel: str) -> None:
        """Remove one data file plus its Hadoop ``.crc`` checksum
        sidecar (local-FS writes leave ``.{name}.crc`` next to every
        part file; a retired parquet must not strand its sidecar), then
        opportunistically drop the containing ``part-*`` dir once only
        write debris (``_SUCCESS`` + sidecars) remains — directories
        are commit-private by construction, so an emptied one is
        garbage, and an in-flight writer's dir still holds its parquet
        and is never touched."""
        p = os.path.join(self.path, rel)
        if os.path.exists(p):
            os.remove(p)
        crc = os.path.join(os.path.dirname(p), "." + os.path.basename(p) + ".crc")
        if os.path.exists(crc):
            os.remove(crc)
        d = os.path.dirname(p)
        # walk up to (but never including) the table root, pruning dirs
        # whose remaining entries are all non-data debris
        while os.path.realpath(d) != os.path.realpath(self.path):
            try:
                left = os.listdir(d)
            except FileNotFoundError:
                break
            debris = [
                f for f in left
                if f == "_SUCCESS" or (f.startswith(".") and f.endswith(".crc"))
            ]
            if len(debris) != len(left):
                break  # real content (parquet or a subdir) survives
            for f in debris:
                os.remove(os.path.join(d, f))
            os.rmdir(d)
            d = os.path.dirname(d)

    def _orphan_files(self, referenced: set[str], grace_sec: float) -> list[str]:
        """Data files ON DISK that NO log entry has ever referenced —
        the residue of a writer that crashed between its parallel file
        write and its atomic commit (or lost every commit retry). Such
        files are invisible to every snapshot (correct) but also to the
        retention vacuum, which only retires once-referenced files: a
        pure storage leak, and at 100 TB ingest rates with restarts a
        real one.

        The age guard is the Delta VACUUM uncommitted-file rule: a file
        is only an orphan candidate once its mtime is at least
        ``grace_sec`` OLDER than the newest commit's timestamp — an
        in-flight writer's freshly-written-but-not-yet-committed files
        are newer than that horizon and survive the sweep, PROVIDED
        the writer's write-to-commit window is shorter than
        ``grace_sec`` (see :meth:`vacuum` for the full contract)."""
        latest = self.latest_version()
        if latest is None:
            return []
        cutoff = float(self._entry(latest).get("ts", 0.0)) - float(grace_sec)
        orphans = []
        for root, dirs, names in os.walk(self.path):
            dirs[:] = [d for d in dirs if d != _LOG_DIR]
            for f in names:
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.relpath(full, self.path)
                if rel in referenced:
                    continue
                try:
                    if os.path.getmtime(full) <= cutoff:
                        orphans.append(rel)
                except FileNotFoundError:
                    pass  # a racing cleanup already got it
        return sorted(orphans)

    def vacuum(
        self,
        retain_last: int = 0,
        max_retries: int = 5,
        orphans: bool = False,
        orphan_grace_sec: float = 7 * 24 * 3600.0,
        retire_grace_sec: float = 0.0,
    ) -> list[str]:
        """Delete data files no RETAINED snapshot references. The
        retention window is ``retain_last`` versions behind the latest
        (0 = latest only): every file referenced by any snapshot inside
        the window survives, so time travel within the window keeps
        working after the vacuum — the Delta ``RETAIN n``/Iceberg
        expire-snapshots contract. Reads of versions BEHIND the window
        raise :class:`VacuumedSnapshotError`. Safe only once readers of
        out-of-window versions are done. Returns the deleted paths
        (relative).

        **Read-consistency contract.** A reader pins a snapshot's file
        list at plan time (:meth:`read`), and Spark's scan is lazy: a
        vacuum that retires those files while the scan is running makes
        the in-flight action fail LOUDLY with a file-not-found error
        from the scan (Spark's ``spark.sql.files.ignoreMissingFiles``
        defaults to false and must stay false for TxTable paths — with
        it set true a mid-scan vacuum silently drops the deleted files'
        rows). A mid-scan vacuum never yields a silently partial
        result; it yields either the complete pinned snapshot (files
        already opened by the OS survive unlink on POSIX) or an error
        (proven by the threaded reader-vs-vacuum test in
        ``tests/test_txlog.py``). To let long-running readers COMPLETE
        instead of erroring, pass ``retire_grace_sec`` > the maximum
        read duration: a once-referenced file is then only deleted when
        the commit that retired it from the live set is at least that
        many seconds older than the newest commit (the Delta
        deleted-file-retention rule; Delta defaults to 7 days). Files
        still inside the grace stay on disk, remain referenced by the
        log, and are reclaimed by a later vacuum once aged. The default
        0.0 keeps single-process lifecycles (e.g. the tests)
        deterministic; production multi-reader deployments should set
        hours-to-days.

        ``orphans=True`` additionally sweeps NEVER-referenced data
        files — the residue of writers that crashed between their
        parallel file write and their atomic commit, which no snapshot
        reads and the retention pass can never reclaim (it only retires
        once-referenced files). Candidates must be at least
        ``orphan_grace_sec`` older than the newest commit (mtime — the
        Delta VACUUM uncommitted-file rule; Delta's default is likewise
        7 days). The guard protects a concurrent writer ONLY while its
        write-to-commit window is shorter than the grace: a parallel
        write job that spends longer than ``orphan_grace_sec`` between
        writing its first part file and committing — while other
        commits keep advancing the newest-commit timestamp — can have
        its not-yet-committed files swept, and its eventual commit
        would then reference missing files. The operator contract is
        therefore: **grace must exceed the maximum write-to-commit
        duration of any concurrent writer**. The 7-day default makes
        that hold for any realistic batch job; pass ``0.0`` only in
        single-writer contexts (e.g. crash-residue cleanup in tests)
        where no write can be in flight.
        Live snapshots are untouched by construction: an orphan is by
        definition in no snapshot's file set.

        The deletion is RECORDED as a ``vacuum`` commit entry (no
        added/removed — the live set is untouched; orphans listed
        separately) so the retention boundary is auditable from the
        log alone: history shows which files died and when, and
        :class:`VacuumedSnapshotError` can point at a cause instead of
        a mystery."""
        vs = self.versions()
        if not vs:
            return []
        retained: set[str] = set()
        for v in vs[-(int(retain_last) + 1):]:
            retained |= set(self.snapshot(v)[1])
        referenced: set[str] = set()
        removal_ts: dict[str, float] = {}
        for e in self.history():
            referenced |= set(e.get("added", []))
            if e.get("checkpoint"):
                referenced |= set(e.get("live", []))
            ts = float(e.get("ts", 0.0))
            for rel in e.get("removed", []):
                removal_ts[rel] = max(removal_ts.get(rel, 0.0), ts)
        dead = sorted(referenced - retained)
        if retire_grace_sec > 0.0 and dead:
            # Delta's deleted-file-retention rule: only delete files
            # whose retiring commit is older than the grace relative to
            # the newest commit (same clock as the orphan guard — no
            # wall-clock dependence). A dead file with no recorded
            # removal (shouldn't happen; defensive) is treated as
            # just-retired and survives until a later vacuum.
            newest_ts = float(self._entry(vs[-1]).get("ts", 0.0))
            cutoff = newest_ts - float(retire_grace_sec)
            dead = [
                f for f in dead if removal_ts.get(f, newest_ts) <= cutoff
            ]
        stranded = (
            self._orphan_files(referenced, orphan_grace_sec)
            if orphans
            else []
        )
        for rel in dead + stranded:
            self._remove_data_file(rel)
        if dead or stranded:
            entry = {
                "op": "vacuum",
                "vacuumed": dead,
                "retain_last": int(retain_last),
            }
            if retire_grace_sec > 0.0:
                entry["retire_grace_sec"] = float(retire_grace_sec)
            if stranded:
                entry["orphans_swept"] = stranded
            for _ in range(max_retries):
                try:
                    self._commit(entry)
                    break
                except CommitConflict:
                    continue
            # a lost race beyond the retries leaves the deletion
            # unrecorded but the table state correct — the audit entry
            # is best-effort, the file removal is the operation
        return dead + stranded


class _StampCache:
    """Incremental (query, epoch) stamp index over a table's commit log
    — the shared idempotence bookkeeping for the streaming sinks. Log
    entries are opened once each across the stream's lifetime
    (O(new commits) per epoch, never O(history))."""

    def __init__(self, table: TxTable):
        self.table = table
        self.scanned = -1
        self.stamps: set[tuple] = set()

    def _refresh(self) -> None:
        for v in self.table.versions():
            if v > self.scanned:
                sb = self.table._entry(v).get("stream_batch")
                if sb:
                    self.stamps.add(tuple(sb))
                self.scanned = v

    def seen(self, stamp: tuple) -> bool:
        self._refresh()
        return stamp in self.stamps

    def record(self, stamp: tuple, version: int) -> None:
        self.stamps.add(stamp)
        self.scanned = max(self.scanned, version)


def sink_stream_exactly_once(
    stream_df: DataFrame,
    table: TxTable,
    query_name: str,
    checkpoint_dir: str,
    available_now: bool = True,
    transform=None,
    stats_cols: list[str] | None = None,
):
    """Exactly-once streaming sink into a TxTable via ``foreachBatch``.

    Structured Streaming's foreachBatch is at-least-once: after a crash
    the last epoch REPLAYS, and a plain parquet append would duplicate
    it. Stamping the (query, epoch id) into the commit entry makes the
    write idempotent — the Delta txn appId/version recipe — and the
    stamp check is made ATOMIC with the commit by pinning the commit to
    the exact version the check was performed against (``at_version``):
    if ANY other commit lands in between — including a concurrent
    replay of the same epoch claiming a DIFFERENT version number — the
    pinned claim fails and the stamp is re-checked against the advanced
    log. Without the pin, two replays interleaved as check/commit/
    check/commit would both land (the second sees a free version number
    and never conflicts).

    Stamp state is scanned incrementally (only log entries newer than
    the last scanned version are opened), so a long-lived stream pays
    O(new commits) per epoch, not O(history).

    ``transform`` (optional, ``batch_df -> DataFrame``) is applied to
    each micro-batch BEFORE the write — the hook that lets maintenance
    sinks (e.g. clustering-key derivation + range partitioning) reuse
    this stamp machinery instead of re-implementing it as
    at-least-once. It must be deterministic per batch: a replayed epoch
    re-runs it, and the stamp only guarantees the COMMIT is not
    duplicated, not that side effects inside transform are.

    ``stats_cols`` records per-file min/max in the stamped commit (same
    contract as :meth:`TxTable.append`), so data skipping survives the
    exactly-once path.

    Returns the StreamingQuery (caller awaits termination).
    """

    cache = _StampCache(table)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        stamp = (query_name, int(batch_id))
        if cache.seen(stamp):
            return
        out = transform(batch_df) if transform is not None else batch_df
        if stats_cols:
            table._check_stats_cols(dict(out.dtypes), stats_cols)
        files, n = table._write_files(out)
        entry = {
            "op": "stream-append",
            "added": files,
            "n_rows": n,
            "stream_batch": list(stamp),
        }
        if stats_cols:
            entry["stats"] = table._file_stats(files, stats_cols)
        while True:
            try:
                v = table._commit(entry, at_version=cache.scanned + 1)
                cache.record(stamp, v)
                return
            except CommitConflict:
                if cache.seen(stamp):  # the racer was our replay
                    return

    writer = (
        stream_df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sink_stream_upsert(
    stream_df: DataFrame,
    table: TxTable,
    key_col: str,
    order_col: str,
    query_name: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
    available_now: bool = True,
):
    """Exactly-once streaming MERGE into a TxTable — the CDC-apply
    topology: each micro-batch upserts by key (latest row per key wins
    within a batch, batch rows replace table rows), with the same
    (query, epoch) stamp idempotence as :func:`sink_stream_exactly_once`
    so a replayed epoch is skipped, and the stamp is re-checked inside
    :meth:`TxTable.upsert` against the same snapshot its commit is
    pinned to, so an interleaved replay of the SAME epoch can never
    double-apply. Per-batch cost is bounded by the touched buckets, not
    the table (see upsert's docstring)."""

    cache = _StampCache(table)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        stamp = (query_name, int(batch_id))
        if cache.seen(stamp):
            return
        # a CDC stream can carry several updates for one key in a batch;
        # keep the last by ``order_col``, whose uniqueness per key is
        # ENFORCED (a tie would make max_by pick shuffle-order-
        # dependently — silent nondeterministic table state). ONE
        # aggregate job instead of two (distinct-count + count):
        # count_distinct skips NULL-carrying rows, so the cheap check is
        # exact only when no (key, order) field is NULL — the rare
        # NULL-carrying batch falls back to the old exact two-job check.
        stats = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(F.col(key_col), F.col(order_col)).alias("k"),
            F.count(
                F.when(
                    F.col(key_col).isNull() | F.col(order_col).isNull(), 1
                )
            ).alias("nulls"),
        ).first()
        if int(stats["n"]) == 0:
            # empty micro-batch (e.g. a no-data watermark batch): an
            # upsert of zero keys touches zero buckets and commits
            # nothing — skip the whole merge plan. A replayed empty
            # batch is an identical no-op, so exactly-once holds
            # without recording a stamp for it.
            return
        if stats["nulls"]:
            n_pairs = batch_df.select(key_col, order_col).distinct().count()
        else:
            n_pairs = int(stats["k"])
        if int(stats["n"]) != n_pairs:
            raise ValueError(
                f"duplicate ({key_col}, {order_col}) rows in micro-batch "
                f"{batch_id}: latest-wins would be nondeterministic"
            )
        w_last = batch_df.groupBy(key_col).agg(
            F.max_by(
                F.struct([c for c in batch_df.columns if c != key_col]),
                F.col(order_col),
            ).alias("__rest")
        )
        deduped = w_last.select(key_col, "__rest.*")
        v = table.upsert(
            deduped,
            key_col,
            n_buckets=n_buckets,
            _stamp=stamp,
            _stamp_floor=cache.scanned,
        )
        cache.record(stamp, v)

    writer = (
        stream_df.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
