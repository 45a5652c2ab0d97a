"""pm25ml_spark benchmark: one workload per invocation, result as one JSON line.

    python3 perfbench/run.py --workload month_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The environment the
program runs in is pinned here, before Spark starts, and recorded in
``perfbench/workloads.json``: ``local[<cores>]`` via ``SPARK_GRAFT_CPUS``,
a driver heap sized to the host, and every scratch file (Spark local dirs,
the JVM and Python temp dirs, the event log, generated inputs and stage
outputs) inside ``.perfbench_work/`` of the checkout, removed at exit.

A run: session start and Python-worker warm-up, input generation from the
seed, one untimed warm-up iteration (all inside ``setup_s``), then timed
iterations until ``--seconds`` have passed (at least one), then the output
checks. With ``--trace 1`` the timed iterations run traced and the run
prints the per-layer metrics instead: the spans, the traced iteration time
(to set beside the untraced runs') and the time the tracer itself spent per
iteration, which is the traced-minus-untraced difference on the client.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
``--smoke`` shrinks every size so the plumbing can be tested in seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def _host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(root: str, work: str, trace: bool) -> dict[str, str]:
    """Set the program's environment from outside it; returns what was set."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    submit = [
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)}",
        "--conf spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf {shlex.quote('spark.eventLog.dir=file://' + log_dir)}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        # a quarter of the host, at most 2 GiB: the sizes here need far
        # less, and the host is shared
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, _host_mem_mb() // 4)}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the Python workers import pm25ml_spark from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    }
    os.environ.update(env)
    return env


def _proc_tree(root_pid: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        if fields[0] != "Z":
            children[int(fields[1])].append(int(entry.name))
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children[pid])
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (the driver JVM and the Python workers); keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in _proc_tree(os.getpid()))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    tree = [p for p in _proc_tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    alive = [p for p in tree if _state(p) not in (None, "Z")]
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _state(p) not in (None, "Z")]
    for pid in alive:
        os.kill(pid, 9)


def _state(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rfind(")") + 2 :].split()[0]


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(args, work: str) -> dict:
    import spans as tr
    import workloads as wl

    tracer = tr.Tracer(enabled=bool(args.trace))
    ops_all: list = []
    t_setup = time.perf_counter()
    with tracer.span("session.start"):
        from pm25ml_spark.session import get_spark

        spark = get_spark("perfbench")
    tracer.bind(spark)
    _log(f"session start {time.perf_counter() - t_setup:.2f}s")
    try:
        with tracer.span("session.warm"):
            # start the Python workers: the first pandas stage otherwise
            # pays their fork and imports
            cores = int(os.environ["SPARK_GRAFT_CPUS"])
            spark.range(0, cores, 1, cores).mapInPandas(lambda it: it, "id long").count()
        workload = wl.WORKLOADS[args.workload](
            spark, tracer, os.path.join(work, "data"), args.seed, args.smoke
        )
        workload.prepare()
        _log(f"worker warm-up and inputs done at {time.perf_counter() - t_setup:.2f}s")
        if args.trace:
            _install_wrappers(tracer)
        ops_all += workload.warm_up()
        _log("warm-up: " + " ".join(f"{o.name}={o.seconds:.2f}" for o in ops_all))
        setup_s = time.perf_counter() - t_setup
        _log(f"warm-up iteration done, setup {setup_s:.2f}s")

        def timed_loop() -> tuple[list[float], list]:
            walls, ops = [], []
            t_end = time.perf_counter() + args.seconds
            while not walls or time.perf_counter() < t_end:
                t0 = time.perf_counter()
                it_ops = workload.iteration()
                walls.append((time.perf_counter() - t0, all(o.ok for o in it_ops)))
                _log(f"iteration {walls[-1][0]:.2f}s: " + " ".join(f"{o.name}={o.seconds:.2f}" for o in it_ops))
                ops += it_ops
            return walls, ops

        if args.trace:
            tracer.measuring = True
            walls, ops = timed_loop()
            tracer.measuring = False
            tracer.unwrap_all()
        else:
            with PeakRss() as rss:
                walls, ops = timed_loop()
        ops_all += ops
        try:
            bad = workload.check()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            bad = ["output check raised"]
        for b in bad:
            print(f"CHECK FAILED: {b}", file=sys.stderr)
        extra = {}
        if args.trace:
            extra = {
                "sources.archive.stored_bytes_per_cell_day": (
                    workload.stored_bytes() / workload.cell_days
                    if hasattr(workload, "stored_bytes")
                    else 0.0
                ),
                "ml.train_imputation_model.cv_r2": (
                    statistics.median(workload.cv_r2)
                    if getattr(workload, "cv_r2", None)
                    else 0.0
                ),
            }
    finally:
        stop_spark(spark)

    # an operation that raised, and each output check that failed, counts
    # as one failed operation
    failed = min(len(ops_all), sum(not o.ok for o in ops_all) + len(bad))
    # a failed iteration adds its time and no cell-days: failures never
    # make a run faster
    total_wall = sum(w for w, _ in walls)
    good_iters = sum(ok for _, ok in walls)
    result = {
        "correct": not bad and not failed,
        "attempted": len(ops_all),
        "failed": failed,
    }
    if not args.trace:
        result["metrics"] = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "cell_days_per_s": {
                "value": workload.cell_days * good_iters / total_wall,
                "unit": "1/s",
            },
            "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
        }
        return result
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    per_layer = tr.span_metrics(tracer, os.path.join(work, "eventlog"), cores, len(walls))
    per_layer.update(extra)
    iteration_s = statistics.median(w for w, _ in walls)
    per_layer["trace.iteration_s"] = iteration_s
    per_layer["trace.overhead_s"] = tracer.own_s / len(walls)
    per_layer["trace.overhead_share"] = per_layer["trace.overhead_s"] / iteration_s
    units = {}
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        for m in json.load(fh)["per_layer"]:
            units[m["name"]] = m["unit"]
    result["metrics"] = {k: {"value": per_layer[k], "unit": units[k]} for k in units}
    return result


def _install_wrappers(tracer) -> None:
    """Child spans around the module attributes ``pipeline.py`` imports,
    and the sink counters around ``StageStorage.sink_stage``."""
    import pm25ml_spark.pipeline as pipeline
    from pm25ml_spark.sources.archive import StageStorage

    tracer.wrap(pipeline, "train_imputation_model", "ml.train_imputation_model")
    tracer.wrap(pipeline, "pivot_to_raster", "sources.results.pivot_to_raster")
    tracer.wrap(pipeline, "write_raster", "sources.results.write_raster")

    orig = StageStorage.sink_stage

    def sink_stage(self, df, stage, *args, **kwargs):
        rows = orig(self, df, stage, *args, **kwargs)
        tracer.count_sink(stage, rows, self.stage_path(stage))
        return rows

    tracer.patch(StageStorage, "sink_stage", sink_stage)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("pm25ml_spark/pipeline.py", "tests/oracle_compare.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from a checkout root", file=sys.stderr)
            return 2
    sys.path[:0] = [root, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    # keep stdout for the result line alone: Spark and py4j write to fd 1
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    try:
        pin_environment(root, work, bool(args.trace))
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if not os.listdir(parent):
            os.rmdir(parent)
    sys.stderr.flush()
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
