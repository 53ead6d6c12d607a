"""Spans around calls into the package, Spark event-log attribution and
process-tree memory, for the benchmark's traced runs.

A span records name, start, end, parent span and op id, in memory.
While a span is open its id is the thread's Spark job group, so every
job, stage and task the event log records can be attributed to the
innermost span that caused it.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_NO_SPAN = "perfbench-none"


class Tracer:
    """Span recorder; every method is a no-op while ``enabled`` is
    false, so the same workload code runs traced and untraced."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"span-{top['id']}", top["name"])
            else:
                self.sc.setJobGroup(_NO_SPAN, "")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover.
    Children of one span run one after another on one thread, so
    their intervals do not overlap and their durations add."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def read_event_log(log_dir: str) -> dict:
    """Per-job-group totals from a Spark event log directory:
    ``groups[g]`` holds jobs, stages, tasks, executor run/CPU/GC
    seconds, shuffle read/write and spill bytes; ``sql[g]`` lists the
    physical plan text of each SQL execution that ran a job in g."""
    files = glob.glob(os.path.join(log_dir, "*"))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    plans: dict[int, str] = {}
    sql_groups: dict[int, set] = defaultdict(set)
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or _NO_SPAN
                groups[g]["jobs"] += 1
                exec_id = props.get("spark.sql.execution.id")
                if exec_id is not None:
                    sql_groups[int(exec_id)].add(g)
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = props.get("spark.jobGroup.id") or _NO_SPAN
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                groups[stage_group.get(sid, _NO_SPAN)]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], _NO_SPAN)]
                m = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                g["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                g["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                plans[int(ev["executionId"])] = ev.get("physicalPlanDescription", "")
    sql: dict[str, list[str]] = defaultdict(list)
    for exec_id, gs in sql_groups.items():
        for g in gs:
            sql[g].append(plans.get(exec_id, ""))
    return {"groups": groups, "sql": sql}


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident set (VmHWM) of ``pid`` and every live
    descendant — the driver JVM, the PySpark daemon and its Python
    workers — read from /proc."""
    children = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process exited while we walked /proc
        children[int(fields[1])].append(int(stat.split("/")[2]))
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, ()))
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
