"""Spans around the calls into each layer, attributed from Spark's event log.

A span records a name, start, end and the span that caused it. Each span
runs in its own Spark job group; after the session stops, the event log is
read back and every job (with its tasks and task metrics) is attributed to
the innermost span that submitted it: by job group where the job carries
one, else by submission time. Jobs submitted from driver threads the span
did not start (the imputer fits folds from a thread pool, whose jobs carry
no group) are attributed by time, which is exact for a single client.

Per-span figures are inclusive of child spans except ``self_s``; every
figure is divided by the number of measured iterations.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_METRICS = (
    "wall_s",
    "self_s",
    "tasks",
    "task_run_s",
    "core_util",
    "driver_only_s",
    "shuffle_write_mb",
)

# Spans that run no Spark job report time only.
TIME_ONLY_SPANS = ("session.start", "sources.results.write_raster")

TASK_SPANS = (
    "session.warm",
    "pipeline.ingest",
    "pipeline.combine",
    "pipeline.interpolate",
    "pipeline.features",
    "pipeline.sample",
    "pipeline.train_and_impute",
    "pipeline.export",
    "ml.train_imputation_model",
    "sources.results.pivot_to_raster",
    "plans.relational",
    "plans.windows",
    "plans.domain",
    "plans.raster",
)

# The stages sink_stage writes, and each one's label in metric names, which
# hold at most 64 characters.
SINK_STAGES = {
    "ingested": "ingested",
    "combined_monthly": "combined_monthly",
    "combined_with_spatial_interpolation": "interpolated",
    "generated_features": "generated_features",
    "sampled": "sampled",
    "imputed": "imputed",
}
SINK_METRICS = ("rows", "written_mb", "files")


class Tracer:
    """Collects spans and sink counters in memory; inert when disabled."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self.sinks: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.measuring = False
        # seconds spent in span and sink bookkeeping while measuring
        self.own_s = 0.0

    def bind(self, spark) -> None:
        self.spark = spark

    def _set_group(self, group: str | None, name: str = "") -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-span-{len(self.spans)}",
            "measured": self.measuring,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec["group"], name)
        rec["start"] = time.time()
        self._charge(t0)
        try:
            yield
        finally:
            t0 = time.perf_counter()
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self._set_group(parent["group"], parent["name"])
            else:
                self._set_group(None)
            self._charge(t0)

    def _charge(self, t0: float) -> None:
        if self.measuring:
            self.own_s += time.perf_counter() - t0

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it in span ``name``."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self.patch(owner, attr, spanned)

    def patch(self, owner: object, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until :meth:`unwrap_all`."""
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def count_sink(self, stage: str, rows: int, path: str) -> None:
        """Record what one ``sink_stage`` call left under its stage dir."""
        if not (self.enabled and self.measuring):
            return
        t0 = time.perf_counter()
        nbytes, nfiles = 0, 0
        for d, _, files in os.walk(path):
            for f in files:
                if f.startswith("part-"):
                    nfiles += 1
                    nbytes += os.path.getsize(os.path.join(d, f))
        acc = self.sinks[stage]
        acc["rows"] += rows
        acc["written_mb"] += nbytes / 1e6
        acc["files"] += nfiles
        self._charge(t0)


def read_event_log(log_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """Jobs (id, group, submit, end, stages) and tasks per stage, in epoch
    seconds, from the single application log under ``log_dir``."""
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1e3,
                    "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks[ev["Stage ID"]].append(
                    {
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                    }
                )
    return sorted(jobs.values(), key=lambda j: j["id"]), tasks


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def span_metrics(
    tracer: Tracer, log_dir: str, cores: int, iterations: int
) -> dict[str, float]:
    """Per-span-name metrics over the measured spans, per iteration."""
    spans = [
        s
        for s in tracer.spans
        if "end" in s and (s["measured"] or s["name"].startswith("session."))
    ]
    by_id = {s["id"]: s for s in spans}
    by_group = {s["group"]: s for s in spans}
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] in by_id:
            children[s["parent"]].append(s)

    jobs, tasks = read_event_log(log_dir)
    # a stage id runs its tasks once, in the first job that lists it
    stage_owner: dict[int, int] = {}
    for j in jobs:
        for st in j["stages"]:
            stage_owner.setdefault(st, j["id"])
    job_tasks: dict[int, list[dict]] = defaultdict(list)
    for st, ts in tasks.items():
        if st in stage_owner:
            job_tasks[stage_owner[st]].extend(ts)

    def innermost_at(t: float) -> dict | None:
        best = None
        for s in spans:
            if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
                best = s
        return best

    own_jobs: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        owner = by_group.get(j["group"]) or innermost_at(j["submit"])
        if owner is not None:
            own_jobs[owner["id"]].append(j)

    def subtree(s: dict) -> list[dict]:
        out = [s]
        for c in children[s["id"]]:
            out.extend(subtree(c))
        return out

    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        wall = s["end"] - s["start"]
        a = acc[s["name"]]
        a["wall_s"] += wall
        a["self_s"] += wall - sum(c["end"] - c["start"] for c in children[s["id"]])
        sub_jobs = [j for t in subtree(s) for j in own_jobs[t["id"]]]
        busy = [
            (max(j["submit"], s["start"]), min(j["end"] or s["end"], s["end"]))
            for j in sub_jobs
        ]
        a["driver_only_s"] += wall - _union_len([b for b in busy if b[1] > b[0]])
        for j in sub_jobs:
            for t in job_tasks[j["id"]]:
                a["tasks"] += 1
                a["task_run_s"] += t["run_s"]
                a["shuffle_write_mb"] += t["shuffle_write_bytes"] / 1e6

    out: dict[str, float] = {}
    n = max(1, iterations)
    for name in TIME_ONLY_SPANS + TASK_SPANS:
        a = acc.get(name, {})
        # session spans run once per process, not once per iteration
        div = 1 if name.startswith("session.") else n
        for k in ("wall_s", "self_s") if name in TIME_ONLY_SPANS else SPAN_METRICS:
            if k == "core_util":
                wall = a.get("wall_s", 0.0)
                v = a.get("task_run_s", 0.0) / (wall * cores) if wall else 0.0
            else:
                v = a.get(k, 0.0) / div
            out[f"{name}.{k}"] = v
    for stage, label in SINK_STAGES.items():
        for k in SINK_METRICS:
            out[f"sources.archive.sink_stage.{label}.{k}"] = tracer.sinks[stage][k] / n
    return out
