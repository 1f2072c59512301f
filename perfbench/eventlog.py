"""Reader for Spark's plain JSON event log (uncompressed, non-rolling).

Jobs are attributed to pipeline phases by the plan nodes of their SQL
execution and by the operator scopes of their stages, never by call-site
line numbers, so the attribution survives edits to the program.
"""
from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

PY_NODE = "MapInPandas"
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"
PY_METRICS = {
    "time to start Python workers": "py_boot_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}


@dataclass
class Stage:
    sid: int
    submit_ms: int = 0
    done_ms: int = 0
    n_tasks: int = 0
    scopes: set = field(default_factory=set)
    acc: dict = field(default_factory=dict)       # accumulator id -> value
    named: dict = field(default_factory=dict)     # internal.metrics.* -> value
    task_ms: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(self.done_ms - self.submit_ms, 0) / 1e3


@dataclass
class Job:
    jid: int
    start_ms: int
    end_ms: int = 0
    exec_id: int | None = None
    stage_ids: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return max(self.end_ms - self.start_ms, 0) / 1e3


@dataclass
class Execution:
    nodes: set = field(default_factory=set)
    # (node name, metric name) -> accumulator ids, over every AQE re-plan
    metric_ids: dict = field(default_factory=dict)


def _walk(node):
    yield node
    for c in node.get("children", ()):
        yield from _walk(c)


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.execs: dict[int, Execution] = {}
        self.driver_acc: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            eid = e.get("Properties", {}).get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], e["Submission Time"],
                exec_id=int(eid) if eid is not None else None,
                stage_ids=[s["Stage ID"] for s in e["Stage Infos"]])
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = self.stages.setdefault(si["Stage ID"], Stage(si["Stage ID"]))
            st.submit_ms = si.get("Submission Time", 0)
            st.done_ms = si.get("Completion Time", 0)
            st.n_tasks = si["Number of Tasks"]
            st.scopes = {json.loads(r["Scope"])["name"]
                         for r in si["RDD Info"] if r.get("Scope")}
            for a in si.get("Accumulables", ()):
                try:
                    v = int(a["Value"])
                except (TypeError, ValueError):
                    continue
                st.acc[a["ID"]] = v
                if str(a.get("Name", "")).startswith("internal.metrics."):
                    st.named[a["Name"][17:]] = v
        elif kind == "SparkListenerTaskEnd":
            ti = e["Task Info"]
            st = self.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
            st.task_ms.append(ti["Finish Time"] - ti["Launch Time"])
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            ex = self.execs.setdefault(e["executionId"], Execution())
            for n in _walk(e["sparkPlanInfo"]):
                ex.nodes.add(n["nodeName"])
                for m in n.get("metrics", ()):
                    ex.metric_ids.setdefault(
                        (n["nodeName"], m["name"]), set()).add(
                            m["accumulatorId"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e["accumUpdates"]:
                self.driver_acc[aid] = self.driver_acc.get(aid, 0) + v

    # --- selection -----------------------------------------------------

    def jobs_between(self, t0_ms: float, t1_ms: float) -> list[Job]:
        # the bounds are driver-side wall clock and the job times are the
        # JVM's; 50 ms absorbs the listener bus stamping a job end late
        return sorted((j for j in self.jobs.values()
                       if t0_ms <= j.start_ms and j.end_ms <= t1_ms + 50),
                      key=lambda j: j.start_ms)

    def stages_of(self, jobs: list[Job]) -> list[Stage]:
        # a stage id can be listed by several jobs (AQE reuse, skipped
        # stages); count each completed stage once
        seen = {}
        for j in jobs:
            for sid in j.stage_ids:
                if sid in self.stages and self.stages[sid].done_ms:
                    seen[sid] = self.stages[sid]
        return list(seen.values())

    def metric_ids(self, jobs: list[Job], node: str, metric: str) -> set:
        ids = set()
        for eid in {j.exec_id for j in jobs}:
            if eid in self.execs:
                ids |= self.execs[eid].metric_ids.get((node, metric), set())
        return ids

    def node_metric(self, jobs: list[Job], node: str, metric: str) -> int:
        """Sum of a plan node's SQL metric over the stages of `jobs`."""
        ids = self.metric_ids(jobs, node, metric)
        return sum(v for st in self.stages_of(jobs)
                   for i, v in st.acc.items() if i in ids)

    def driver_metric(self, jobs: list[Job], node: str, metric: str
                      ) -> tuple[int, int]:
        """(sum, number of accumulators updated) of a driver-side SQL
        metric, e.g. the size of each broadcast actually built."""
        vals = [self.driver_acc[i]
                for i in self.metric_ids(jobs, node, metric)
                if self.driver_acc.get(i)]
        return sum(vals), len(vals)


def union_s(jobs: list[Job]) -> float:
    """Wall time covered by at least one job."""
    total, end = 0, None
    for j in sorted(jobs, key=lambda j: j.start_ms):
        if end is None or j.start_ms >= end:
            total += j.end_ms - j.start_ms
            end = j.end_ms
        elif j.end_ms > end:
            total += j.end_ms - end
            end = j.end_ms
    return total / 1e3


def job_phases(log: EventLog, jobs: list[Job]) -> dict:
    """Split one run_pipeline call's jobs into its phases by plan node:
    the MapInPandas stages are the kernel stage, the other stages of the
    same query are the sink write, jobs outside any SQL execution are the
    sink read-back (file listing and schema inference), other writes are
    the lineage manifest, and the remaining queries are the metrics read.
    A stream drain's micro-batch has the same kernel/sink split."""
    out = dict.fromkeys(("kernel_stage_s", "sink_write_s", "readback_s",
                         "lineage_s", "metrics_s"), 0.0)
    for j in jobs:
        ex = log.execs.get(j.exec_id) if j.exec_id is not None else None
        if ex is None:
            out["readback_s"] += j.wall_s
        elif PY_NODE in ex.nodes:
            for st in log.stages_of([j]):
                key = ("kernel_stage_s" if PY_NODE in st.scopes
                       else "sink_write_s")
                out[key] += st.wall_s
        elif WRITE_NODE in ex.nodes:
            out["lineage_s"] += j.wall_s
        else:
            out["metrics_s"] += j.wall_s
    return out


def run_stats(log: EventLog, t0_ms: float, t1_ms: float) -> dict:
    """Counters of every job started inside one unit of work."""
    jobs = log.jobs_between(t0_ms, t1_ms)
    stages = log.stages_of(jobs)
    py_stages = [st for st in stages if PY_NODE in st.scopes]
    py_tasks = [t for st in py_stages for t in st.task_ms]
    wall = (t1_ms - t0_ms) / 1e3
    out = {
        "wall_s": wall,
        "n_jobs": len(jobs),
        "n_tasks": sum(st.n_tasks for st in stages),
        "job_walls_s": sum(j.wall_s for j in jobs),
        "driver_gap_s": wall - union_s(jobs),
        "exchange_bytes": sum(st.named.get("shuffle.write.bytesWritten", 0)
                              for st in stages),
        "executor_cpu_s": sum(st.named.get("executorCpuTime", 0)
                              for st in stages) / 1e9,
        "gc_s": sum(st.named.get("jvmGCTime", 0) for st in stages) / 1e3,
        "kernel_task_skew": (max(py_tasks) / statistics.median(py_tasks)
                             if py_tasks and statistics.median(py_tasks)
                             else 0.0),
        "py_tasks": len(py_tasks),
    }
    # file-writer metrics are set on the driver at job commit; only the
    # kernel write counts as the sink (the lineage manifest is its own)
    kernel_jobs = [j for j in jobs if j.exec_id in log.execs
                   and PY_NODE in log.execs[j.exec_id].nodes]
    out["sink_files"] = log.driver_metric(
        kernel_jobs, WRITE_NODE, "number of written files")[0]
    out["sink_bytes"] = log.driver_metric(
        kernel_jobs, WRITE_NODE, "written output")[0]
    out["broadcast_bytes"], out["n_broadcasts"] = log.driver_metric(
        jobs, "BroadcastExchange", "data size")
    for metric, key in PY_METRICS.items():
        out[key] = log.node_metric(jobs, PY_NODE, metric)
    out.update(job_phases(log, jobs))
    return out
