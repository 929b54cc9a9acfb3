"""Spans around every call into the library, Spark event-log parsing,
and the host-noise probes (hypervisor steal, canary query).

Each span runs under its own Spark job group, so jobs, stages, tasks and
SQL metrics in the event log map back to the span that caused them.
Spans live in memory and are written out once, at the end of a run.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# Session conf keys the traced run adds to get_spark()'s; nothing else
# differs from the shipped session.
EVENT_LOG_KEYS = ("spark.eventLog.enabled", "spark.eventLog.dir", "spark.eventLog.compress",
                  "spark.eventLog.rolling.enabled")


def event_log_conf(log_dir: str) -> dict:
    return dict(zip(EVENT_LOG_KEYS, ("true", "file://" + os.path.abspath(log_dir), "false", "false")))


class Tracer:
    """Nested spans: name, start, end, parent span and run id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.run = "setup"
        self.sc = None  # set once the session exists; spans before it have no job group

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run": self.run,
               "parent": parent["id"] if parent else None, "start": time.perf_counter()}
        if self.sc is not None:
            rec["group"] = f"{self.run}/{rec['id']}/{name}"
            self.sc.setJobGroup(rec["group"], name)
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if "group" in rec:
                if parent is not None and "group" in parent:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def attach_events(self, parsed: dict) -> None:
        """Give each span the event-log figures of its own job groups
        (a streaming query's jobs run under the query's run id)."""
        for s in self.spans:
            s["events"] = sum_events(parsed.get(g, {}) for g in (s.get("group"), s.get("stream_run")) if g)

    def self_times(self) -> None:
        """Add each span's self time: its duration minus the part of
        that interval its children cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append(s)
        for s in self.spans:
            covered = sum(c["end"] - c["start"] for c in kids[s["id"]])
            s["self_s"] = (s["end"] - s["start"]) - covered

    def dump(self, path: str, t0: float) -> None:
        self.self_times()
        out = [dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans]
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)


# --- event log ----------------------------------------------------------------

_TASK_KEYS = ("tasks", "executor_s", "cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "input_bytes", "input_rows", "python_s", "python_start_s",
              "python_bytes_sent", "refine_rows")


def _refine_inputs(plan: dict, out: set) -> None:
    """Accumulator ids of the shuffle 'records read' feeding each
    MapInPandas node: the rows that enter the Python kernel."""
    if plan["nodeName"] == "MapInPandas":
        todo = list(plan["children"])
        while todo:
            n = todo.pop()
            ids = [m["accumulatorId"] for m in n["metrics"] if m["name"] == "records read"]
            if ids:
                out.update(ids)
                continue
            todo.extend(n["children"])
    for c in plan["children"]:
        _refine_inputs(c, out)


def parse_event_log(log_dir: str) -> dict:
    """Per job group: jobs, stages and summed task metrics."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    groups: dict = defaultdict(lambda: dict.fromkeys(("jobs", "stages") + _TASK_KEYS, 0))
    stage_group: dict = {}
    refine_ids: set = set()
    with open(files[0]) as fh:
        for line in fh:
            if "SQLExecutionStart" in line[:120] or "SQLAdaptiveExecutionUpdate" in line[:120]:
                _refine_inputs(json.loads(line)["sparkPlanInfo"], refine_ids)
    with open(files[0]) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                groups[g]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                stage_group[e["Stage Info"]["Stage ID"]] = g
                groups[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m:
                    continue
                g = groups[stage_group.get(e["Stage ID"])]
                g["tasks"] += 1
                g["executor_s"] += m["Executor Run Time"] / 1e3
                g["cpu_s"] += m["Executor CPU Time"] / 1e9
                g["gc_s"] += m["JVM GC Time"] / 1e3
                sr = m["Shuffle Read Metrics"]
                g["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                g["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                g["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                g["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                g["input_rows"] += m["Input Metrics"]["Records Read"]
                for a in e["Task Info"].get("Accumulables", []):
                    name = a.get("Name")
                    try:  # SQL metric updates are logged as strings
                        upd = float(a.get("Update"))
                    except (TypeError, ValueError):
                        continue
                    if name == "time to run Python workers":
                        g["python_s"] += upd / 1e3
                    elif name == "time to start Python workers":
                        g["python_start_s"] += upd / 1e3
                    elif name == "data sent to Python workers":
                        g["python_bytes_sent"] += upd
                    elif a.get("ID") in refine_ids:
                        g["refine_rows"] += upd
    return dict(groups)


def sum_events(figures) -> dict:
    out = dict.fromkeys(("jobs", "stages") + _TASK_KEYS, 0)
    for f in figures:
        for k, v in f.items():
            out[k] += v
    return out


# --- host noise -----------------------------------------------------------------


def steal_s() -> float:
    """Hypervisor steal time of all cpus so far, in cpu-seconds."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / os.sysconf("SC_CLK_TCK")


def canary_s(spark) -> float:
    """A fixed codegen-only query; if it moved, the host moved."""
    t = time.perf_counter()
    spark.range(20_000_000).selectExpr("sum(id * 3 % 7)").collect()
    return time.perf_counter() - t


def py_canary_s() -> float:
    """A fixed pure-Python loop: the Python workers' share of the host."""
    t = time.perf_counter()
    s = 0
    for i in range(3_000_000):
        s += i
    return time.perf_counter() - t
