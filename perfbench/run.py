"""End-to-end benchmark of the extraction engine.

    python3 perfbench/run.py --workload batch_extract --seed 1 --seconds 10 --trace 0

Workloads: batch_extract, stream_drain, curate_ops (see workloads.py). The
run starts one local[nproc] Spark session, generates the workload's inputs
from --seed, warms up, runs units of work for at least --seconds, checks
the outputs, deletes everything it wrote except the per-layer table, and
prints one JSON object as its last stdout line.

--trace 0 reports the end-to-end metrics. --trace 1 also enables Spark's
event log and a StreamingQueryListener, times the kernel layers
in-process, writes a per-layer table to .perfbench_out/ and reports the
per-layer metrics. Its trace.overhead_frac compares its wall_s with the
median wall_s of the untraced runs of the same workload and --seconds that
earlier runs in this checkout recorded; with none recorded, one is made
first in a child process with the same seed.

Run it from anywhere; all state lives under the checkout root in
.perfbench_work/ (deleted on exit) and .perfbench_out/.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _session(work: str, trace: bool):
    from htmlparser_spark.pipeline.job import build_session
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap is committed and touched up front, so peak_rss_mb moves
        # with off-heap and Python memory rather than with GC timing
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g "
            "-XX:+AlwaysPreTouch",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": ROOT,
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(app="perfbench", cpus=len(os.sched_getaffinity(0)),
                          extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def _wall_file(args) -> str:
    return os.path.join(OUT_DIR, f"untraced-{args.workload}-{args.seconds:g}s"
                                 f"-seed{args.seed}.json")


def _untraced_wall(args) -> float:
    """Median wall_s of the untraced runs of this workload and --seconds
    recorded in this checkout. With none recorded, one is run first in a
    child process, so that a traced run costs two runs only once."""
    prefix = os.path.basename(_wall_file(args)).rsplit("-seed", 1)[0] + "-"

    def recorded():
        if not os.path.isdir(OUT_DIR):
            return []
        return [os.path.join(OUT_DIR, n) for n in os.listdir(OUT_DIR)
                if n.startswith(prefix) and n.endswith(".json")]

    if not recorded():
        cmd = [sys.executable, os.path.abspath(__file__), "--workload",
               args.workload, "--seed", str(args.seed), "--seconds",
               str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, stdout=subprocess.DEVNULL, check=True)
    walls = []
    for path in recorded():
        with open(path) as f:
            walls.append(json.load(f)["wall_s"])
    return _median(walls)


def _end_processes() -> None:
    """End the JVM this run launched and every process below this one
    (the Python workers the JVM forks), and wait until each has ended.
    Left alone, the JVM notices only after the driver has exited that its
    stdin closed, so it outlives the run."""
    from pyspark import SparkContext

    from perfbench import procstat
    procs = procstat.descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        try:
            gateway.shutdown()
        except Exception:  # the JVM side may be gone already
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    procstat.end_all(procs)


def _remove_stale(base: str) -> None:
    """Delete work dirs left by runs that were killed before cleaning up."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def main() -> None:
    from perfbench import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    untraced_wall = _untraced_wall(args) if args.trace else None

    base = os.path.join(ROOT, ".perfbench_work")
    _remove_stale(base)
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # Spark, the JVM and the Python workers it forks keep temp files here
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result = _run(args, work, untraced_wall)
    finally:
        _end_processes()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    if not args.trace:
        os.makedirs(OUT_DIR, exist_ok=True)
        path = _wall_file(args)
        with open(path + ".tmp", "w") as f:  # a killed run leaves no stub
            json.dump({"wall_s": result["metrics"]["wall_s"]["value"]}, f)
        os.replace(path + ".tmp", path)
    for name, m in result["metrics"].items():
        note = result["notes"].get(name, "")
        print(f"{name:32s} {m['value']:.6g} {m['unit']} {note}".rstrip())
    del result["notes"]
    # fail_frac is always 0 on a correct program, so it travels as the
    # result's attempted/failed counts rather than as a metric
    print(f"{'fail_frac':32s} {result['failed'] / result['attempted']:.6g} "
          f"frac ({result['failed']}/{result['attempted']} outputs)")
    print(json.dumps(result))


def _run(args, work: str, untraced_wall: float | None) -> dict:
    from perfbench import procstat, workloads

    t0 = time.perf_counter()
    spark = _session(work, bool(args.trace))
    try:
        listener = _add_listener(spark) if args.trace else None
        w = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        t1 = time.perf_counter()
        w.make_inputs()
        t2 = time.perf_counter()
        w.warm_up()
        setup_s = time.perf_counter() - t0
        print(f"setup: session {t1 - t0:.2f} s, inputs {t2 - t1:.2f} s, "
              f"warm-up {t0 + setup_s - t2:.2f} s", file=sys.stderr)

        units = []
        root = os.getpid()
        with procstat.Window() as win:
            start = time.perf_counter()
            while (len(units) < w.n_units
                   or time.perf_counter() - start < args.seconds):
                cpu0, e0 = procstat.tree_cpu_s(root), time.time()
                u = w.unit(len(units))
                u["cpu_s"] = procstat.tree_cpu_s(root) - cpu0
                u["epoch_ms"] = (e0 * 1e3, time.time() * 1e3)
                units.append(u)
                if listener is not None and w.name == "stream_drain":
                    listener.wait_for(len(units) + 1)  # + the warm-up
        t3 = time.perf_counter()
        attempted, failed = w.check()
        print(f"check {time.perf_counter() - t3:.2f} s", file=sys.stderr)
        extra = _live_layers(w, listener) if args.trace else {}
    finally:
        spark.stop()

    wall_s = _median([u["wall_s"] for u in units])
    latencies = [x for u in units for x in u["latency_s"]]
    if args.trace:
        metrics = _layers(args, w, units, extra, win, wall_s, untraced_wall,
                          work)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "cpu_s": (_median([u["cpu_s"] for u in units]), "s"),
            "pages_per_s": (_median([u["pages"] for u in units]) / wall_s,
                            "1/s"),
            "drain_p50_s": (_median(latencies), "s"),
            "peak_rss_mb": (win.peak_rss_bytes / 2**20, "MB"),
        }
    return {
        "notes": {"wall_s": f"(median of {len(units)} units)",
                  "drain_p50_s": f"(n={len(latencies)})"},
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    metrics.items()},
    }


def _add_listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.runs: dict[str, dict] = {}
            self.order: list[str] = []

        def onQueryStarted(self, event):
            rid = str(event.runId)
            self.order.append(rid)
            self.runs[rid] = {"rows": 0, "done": False}

        def onQueryProgress(self, event):
            p = event.progress
            run = self.runs.setdefault(str(p.runId), {"rows": 0,
                                                      "done": False})
            run["rows"] += p.numInputRows
            for k, v in p.durationMs.items():
                run[k] = run.get(k, 0) + v

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.runs.setdefault(str(event.runId), {"rows": 0})["done"] = True

        def wait_for(self, n: int, timeout_s: float = 5.0) -> None:
            """Block until `n` queries have reported termination (events
            reach Python on the listener bus after the query returns)."""
            end = time.monotonic() + timeout_s
            while time.monotonic() < end and sum(
                    1 for r in list(self.runs.values()) if r.get("done")) < n:
                time.sleep(0.01)

        def drains(self) -> list[dict]:
            return [self.runs[r] for r in self.order]

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def _live_layers(w, listener) -> dict:
    """Per-layer figures that need the live session or the work dir."""
    out = {"drains": listener.drains()[1:]}  # [0] is the warm-up drain
    if w.name == "batch_extract":
        out["fixed_overhead_s"] = w.fixed_overhead_s()
    if w.name == "stream_drain":
        out["sink_files"] = w.sink_files()
    return out


KERNEL_KEYS = ("kernel.pages", "kernel.bytes", "kernel.decode_s",
               "kernel.tokenize_tree_s", "kernel.extract_s",
               "kernel.assemble_s", "kernel.err_pages", "kernel.parse_errors",
               "kernel.fallback_pages", "kernel_stage.self_s",
               "kernel_stage.to_arrow_s", "kernel_stage.bytes_in",
               "kernel_stage.bytes_out")


def _layers(args, w, units, extra, win, wall_s, untraced_wall, work) -> dict:
    from perfbench import eventlog, layers
    from perfbench.workloads import CURATE_OPS

    # kernel layers: one in-process pass over every timed unit's rows,
    # reported per unit
    unit_rows = w.kernel_rows()
    rows = [r for rs in unit_rows for r in rs]
    k = layers.kernel_layers(rows) if rows else dict.fromkeys(
        KERNEL_KEYS + ("kernel.fast_path_ratio",), 0)
    m = {key: k[key] / len(unit_rows) if unit_rows else 0
         for key in KERNEL_KEYS}
    m["kernel.fast_path_ratio"] = k["kernel.fast_path_ratio"]

    # Spark side: event-log stats of each unit, medians over units
    logdir = os.path.join(work, "eventlog")
    log = eventlog.EventLog(os.path.join(logdir, os.listdir(logdir)[0]))
    stats = [eventlog.run_stats(log, *u["epoch_ms"]) for u in units]

    def med(key):
        return _median([st[key] for st in stats])

    m.update({
        "arrow.py_boot_s": med("py_boot_ms") / 1e3,
        "arrow.py_init_s": med("py_init_ms") / 1e3,
        "arrow.py_run_s": med("py_run_ms") / 1e3,
        "arrow.bytes_to_py": med("bytes_to_py"),
        "arrow.bytes_from_py": med("bytes_from_py"),
        "arrow.tasks": med("py_tasks"),
    })
    for key in ("n_jobs", "n_tasks", "kernel_stage_s", "exchange_bytes",
                "sink_write_s", "sink_files", "sink_bytes", "readback_s",
                "lineage_s", "metrics_s", "driver_gap_s", "kernel_task_skew",
                "executor_cpu_s", "gc_s"):
        m[f"job.{key}"] = med(key)
    m["job.fixed_overhead_s"] = extra.get("fixed_overhead_s", 0.0)

    drains = extra["drains"]
    stream = w.name == "stream_drain" and drains
    for key, src in (("trigger_s", "triggerExecution"),
                     ("add_batch_s", "addBatch"),
                     ("planning_s", "queryPlanning"),
                     ("latest_offset_s", "latestOffset"),
                     ("wal_commit_s", "walCommit")):
        m[f"streaming.{key}"] = (_median([d.get(src, 0) for d in drains])
                                 / 1e3 if stream else 0.0)
    m["streaming.post_drain_s"] = (_median(
        [u["wall_s"] - d.get("triggerExecution", 0) / 1e3
         for u, d in zip(units, drains)]) if stream else 0.0)
    m["streaming.sink_files"] = extra.get("sink_files", 0)
    m["streaming.rows_per_drain"] = (_median([d["rows"] for d in drains])
                                     if stream else 0)

    curate = w.name == "curate_ops"
    for op in CURATE_OPS:
        m[f"ops.{op}_s"] = _median(w.op_walls[op]) if curate else 0.0
    for key, src in (("shuffle_bytes", "exchange_bytes"),
                     ("broadcast_bytes", "broadcast_bytes"),
                     ("n_broadcasts", "n_broadcasts"),
                     ("n_tasks", "n_tasks")):
        m[f"ops.{key}"] = med(src) if curate else 0

    m["host.cores"] = len(os.sched_getaffinity(0))
    m["host.steal_frac"] = win.steal_frac
    m["trace.overhead_frac"] = wall_s / untraced_wall - 1

    phase_sum = sum(m[f"kernel.{p}_s"] for p in
                    ("decode", "tokenize_tree", "extract", "assemble"))
    checks = {
        "kernel_phases_le_py_run": phase_sum <= m["arrow.py_run_s"],
        "job_walls_reconcile": all(
            abs(st["job_walls_s"] + st["driver_gap_s"] - st["wall_s"])
            <= 0.1 * st["wall_s"] for st in stats),
    }
    for name, ok in checks.items():
        print(f"check {name}: {'ok' if ok else 'FAILED'}", file=sys.stderr)
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"layers-{args.workload}-seed{args.seed}"
                                    ".json"),
              "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "layers": m, "checks": checks, "units": stats}, f,
                  indent=1)
    return {k: (v, _unit(k)) for k, v in m.items()}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "B"
    if name.endswith(("_ratio", "_frac", "_skew")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "htmlparser_spark")):
        _fail(f"no htmlparser_spark/ under {ROOT}: run from a full checkout")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # a terminated run still ends its JVM and workers (main's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
