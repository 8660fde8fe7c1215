"""Read a Spark event log (uncompressed JSON lines) into per-group totals.

Benchmark phases label their Spark jobs with ``setJobGroup``; every figure
here is summed over the jobs of one group.  SQL metrics (Python worker time,
Arrow bytes, scan time, commit time) are resolved to ``(plan node, metric,
SQL execution)`` through the accumulator ids in the SQL plan events, so two
nodes' "number of output rows", or the scans of two queries of one job
group, are never mixed up.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}  # SQL metric types -> seconds


def _number(v) -> float | None:
    """SQL metric updates are logged as strings, task metrics as numbers."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return v
    if isinstance(v, str):
        try:
            return int(v)
        except ValueError:
            return None
    return None


class EventLog:
    def __init__(self, log_dir: str) -> None:
        # rolling event log (the default): <dir>/eventlog_v2_<app>/events_<n>_<app>
        files = sorted(
            glob.glob(os.path.join(log_dir, "*", "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        if not files:
            raise FileNotFoundError(f"no Spark event log under {log_dir}")
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        # accumulator id -> (node, metric, type, SQL execution id)
        self.accum: dict[int, tuple[str, str, str, int]] = {}
        self.driver_updates: dict[int, list[tuple[int, int]]] = defaultdict(list)
        for path in files:
            with open(path) as fh:
                for line in fh:
                    self._event(json.loads(line))

    def _plan(self, node: dict, execution: int) -> None:
        for m in node.get("metrics", ()):
            self.accum[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"],
                                              execution)
        for child in node.get("children", ()):
            self._plan(child, execution)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "execution": props.get("spark.sql.execution.id"),
                "stages": set(e["Stage IDs"]),
                "start": e["Submission Time"] / 1e3,
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stages[info["Stage ID"]] = {
                "start": info.get("Submission Time", 0) / 1e3,
                "end": info.get("Completion Time", 0) / 1e3,
            }
        elif kind == "SparkListenerTaskEnd":
            info, metrics = e["Task Info"], e.get("Task Metrics") or {}
            self.tasks.append({
                "id": info["Task ID"],
                "stage": e["Stage ID"],
                "start": info["Launch Time"] / 1e3,
                "end": info["Finish Time"] / 1e3,
                "accums": [(a["ID"], _number(a.get("Update"))) for a in info.get("Accumulables", ())
                           if _number(a.get("Update")) is not None],
                "cpu_s": metrics.get("Executor CPU Time", 0) / 1e9,
                "gc_s": metrics.get("JVM GC Time", 0) / 1e3,
                "bytes_written": (metrics.get("Output Metrics") or {}).get("Bytes Written", 0),
            })
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"], int(e["executionId"]))
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            self.driver_updates[e["executionId"]].extend(
                (int(i), int(v)) for i, v in e["accumUpdates"])

    def group(self, name: str) -> "Group":
        return Group(self, [j for j in self.jobs.values() if j["group"] == name])


class Group:
    """Totals over the jobs of one job group."""

    def __init__(self, log: EventLog, jobs: list[dict]) -> None:
        self.log = log
        self.jobs = jobs
        stage_ids = set().union(*(j["stages"] for j in jobs)) if jobs else set()
        self.tasks = [t for t in log.tasks if t["stage"] in stage_ids]
        executions = {int(j["execution"]) for j in jobs if j["execution"] is not None}
        self.sql: dict[tuple[str, str, int], float] = defaultdict(float)
        for t in self.tasks:
            for acc_id, value in t["accums"]:
                self._add(acc_id, value)
        for ex in executions:
            for acc_id, value in log.driver_updates.get(ex, ()):
                self._add(acc_id, value)

    def _add(self, acc_id: int, value: float) -> None:
        meta = self.log.accum.get(acc_id)
        if meta is not None:
            node, metric, mtype, execution = meta
            self.sql[(node, metric, execution)] += value * _SCALE.get(mtype, 1)

    def sql_metric(self, metric: str, node: str | None = None,
                   executions: set[int] | None = None) -> float:
        return sum(v for (n, m, ex), v in self.sql.items()
                   if m == metric and (node is None or n == node)
                   and (executions is None or ex in executions))

    def kernel_executions(self) -> set[int]:
        """SQL executions whose plan runs the Python kernel (not, say, the
        lineage query that reads the written output back)."""
        return {ex for (n, m, ex) in self.sql if m == "time to run Python workers"}

    def task_sum(self, field: str) -> float:
        return sum(t[field] for t in self.tasks)

    def kernel_tasks(self) -> list[dict]:
        """Tasks that ran the Python kernel (they report Python worker time)."""
        ids = {i for i, (_, m, _, _) in self.log.accum.items()
               if m == "time to run Python workers"}
        return [t for t in self.tasks if any(a in ids for a, _ in t["accums"])]

    def spans(self, parent: str, run_id: str) -> list[dict]:
        """Jobs, stages and tasks as child spans of ``parent``."""
        out = []
        for j in sorted(self.jobs, key=lambda j: j["start"]):
            jname = f"{parent}/spark_job"
            jid = f"{jname}:{j['start']:.3f}"
            out.append({"name": jname, "id": jid, "parent": parent, "run_id": run_id,
                        "start": j["start"], "end": j.get("end", j["start"])})
            for sid in sorted(j["stages"]):
                st = self.log.stages.get(sid)
                if st is None:
                    continue  # skipped stage
                sname = f"{jname}/stage"
                spid = f"{sname}:{sid}"
                out.append({"name": sname, "id": spid, "parent": jid, "run_id": run_id,
                            "start": st["start"], "end": st["end"], "stage": sid})
                for t in self.tasks:
                    if t["stage"] == sid:
                        out.append({"name": f"{sname}/task", "id": f"task:{t['id']}",
                                    "parent": spid, "run_id": run_id,
                                    "start": t["start"], "end": t["end"]})
        return out
