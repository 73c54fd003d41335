"""Tracing from outside the engine: spans the benchmark records around its
own calls into each module, Spark job groups it sets around them, and the
Spark event log summed per job group.

Spans live in memory (name, start, end, parent, run id) and are written
out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict

# physical plan nodes where rows cross between the JVM and Python workers
PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")


class Tracer:
    """Collects spans and tagged per-layer metrics. Disabled, ``span`` is a
    plain timer with no job group, so untraced runs pay nothing else."""

    def __init__(self, enabled: bool, run_id: str, spark=None):
        self.enabled, self.run_id, self.spark = enabled, run_id, spark
        self.spans: list[dict] = []
        self.rows: list[dict] = []     # {"metric", "value", "unit", "tag"}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time a block; with tracing on, record it and tag the Spark jobs
        it starts with job group ``group``."""
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "group": group}
        sc = self.spark.sparkContext if (self.enabled and group and self.spark) else None
        if sc is not None:
            sc.setJobGroup(group, name)
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None:
                parent = self.spans[self._stack[-1]]["group"] if self._stack else None
                if parent:
                    sc.setJobGroup(parent, self.spans[self._stack[-1]]["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def add(self, metric: str, value, unit: str, tag: str = "run") -> None:
        self.rows.append({"metric": metric, "value": value, "unit": unit, "tag": tag})

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, "metrics": self.rows,
                       **extra}, f, indent=1, default=str)


def latest_event_log(directory: str) -> list[str]:
    """Files of the newest application's event log: a single file, or the
    ``events_<n>_*`` parts of a rolling (v2) log directory, in order."""
    entries = [f for f in glob.glob(os.path.join(directory, "*"))
               if not f.endswith(".inprogress")]
    if not entries:
        return []
    newest = max(entries, key=os.path.getmtime)
    if not os.path.isdir(newest):
        return [newest]
    parts = [f for f in os.listdir(newest) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(newest, f) for f in parts]


def _plan_nodes(info: dict):
    yield info.get("nodeName", "")
    for c in info.get("children", []):
        yield from _plan_nodes(c)


def _accumulators(info: dict, out: list) -> list:
    for m in info.get("metrics", []):
        out.append((info.get("nodeName", ""), m.get("name"), m.get("accumulatorId")))
    for c in info.get("children", []):
        _accumulators(c, out)
    return out


def _events(files: list[str]):
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    continue


def group_metrics(event_log: list[str]) -> dict[str, dict]:
    """Sum a Spark event log per job group: job intervals, stage and task
    counts, task/CPU/GC time, shuffle and spill bytes, fetch wait, Python
    plan nodes, and the row counts of join nodes (largest per group)."""
    jobs: dict[int, dict] = {}
    stage_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    exec_group: dict[int, str] = {}
    acc_total: dict[int, int] = defaultdict(int)
    g: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for e in _events(event_log):
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            grp = props.get("spark.jobGroup.id") or "(none)"
            jobs[e["Job ID"]] = {"group": grp, "start": e["Submission Time"], "end": None}
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                exec_group.setdefault(int(ex), grp)
            g[grp]["jobs"] += 1
            for s in e.get("Stage Infos", []):
                stage_group[s["Stage ID"]] = grp
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            grp = stage_group.get(si["Stage ID"], "(none)")
            g[grp]["stages"] += 1
            g[grp]["tasks"] += si.get("Number of Tasks", 0)
        elif ev == "SparkListenerTaskEnd":
            grp = stage_group.get(e["Stage ID"], "(none)")
            m = e.get("Task Metrics") or {}
            a = g[grp]
            a["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            a["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if isinstance(acc.get("Update"), (int, float)):
                    acc_total[acc["ID"]] += int(acc["Update"])
                elif isinstance(acc.get("Update"), str) and acc["Update"].lstrip("-").isdigit():
                    acc_total[acc["ID"]] += int(acc["Update"])
        elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            exec_plan[e["executionId"]] = e.get("sparkPlanInfo") or {}
    for ex, info in exec_plan.items():
        grp = exec_group.get(ex)
        if grp is None:
            continue
        nodes = list(_plan_nodes(info))
        g[grp]["python_crossings"] += sum(n in PYTHON_NODES for n in nodes)
        joins = [acc_total.get(aid, 0) for node, name, aid in _accumulators(info, [])
                 if "Join" in node and name == "number of output rows"]
        if joins:
            g[grp]["join_rows_max"] = max(g[grp]["join_rows_max"], max(joins))
    by_group: dict[str, list] = defaultdict(list)
    for j in jobs.values():
        if j["end"] is not None:
            by_group[j["group"]].append((j["start"] / 1000.0, j["end"] / 1000.0))
    out = {}
    for grp, a in g.items():
        d = dict(a)
        d["intervals"] = sorted(by_group.get(grp, []))
        out[grp] = d
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
