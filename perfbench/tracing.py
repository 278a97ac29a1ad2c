"""Spans, the Spark event-log parser, and the per-layer arithmetic.

Spans are recorded by the benchmark around each call it makes into the
engine; nothing inside the engine is instrumented. Each timed op runs
under its own Spark job group (its op id), so the jobs, stages and
tasks that the event log attributes to that group belong to that op's
span.
"""

from __future__ import annotations

import json
import math
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# task accumulable that carries the Python worker's run time, in ms
PY_WORKER_ACCUM = "time to run Python workers"
ROWS_METRIC = "number of output rows"


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent]["op_id"]
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent, "op_id": op_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def covered(start: float, end: float, intervals) -> float:
    """Part of [start, end] covered by ``intervals``."""
    return union_length((max(s, start), min(e, end)) for s, e in intervals if e > start and s < end)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part its child spans cover."""
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    return [
        (s["end"] - s["start"]) - covered(s["start"], s["end"], children.get(i, ()))
        for i, s in enumerate(spans)
    ]


def percentile(samples, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1] (numpy's default)."""
    xs = sorted(samples)
    if not xs:
        raise ValueError("no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(samples, q: float, min_beyond: int = 10) -> float | None:
    """The ``q`` percentile, or None when fewer than ``min_beyond``
    samples lie beyond it (a p90 needs at least 100 samples)."""
    n = len(samples)
    beyond = n - math.ceil(round(q * n, 9))
    if beyond < min_beyond:
        return None
    return percentile(samples, q)


@dataclass
class GroupStats:
    """Spark work attributed to one job group (one op)."""

    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    exec_cpu_s: float = 0.0
    py_worker_s: float = 0.0
    shuffle_bytes: int = 0
    gc_s: float = 0.0
    scan_rows: int = 0
    job_spans: list = field(default_factory=list)  # (start, end) epoch seconds


def scan_row_metrics(plan: dict, out: set) -> None:
    """Accumulator ids of the output-row counts of a SQL plan's table
    scans: cached-table scans and file or RDD scans. The plan a cached
    table was built from is not descended into."""
    name = plan.get("nodeName", "")
    if name == "InMemoryTableScan" or name.startswith("Scan "):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == ROWS_METRIC)
        if name == "InMemoryTableScan":
            return
    for child in plan.get("children", []):
        scan_row_metrics(child, out)


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Per-job-group totals from an uncompressed Spark event log.

    Jobs are attributed by the group id on their JobStart; stages and
    tasks by the group id on their StageSubmitted. Jobs without a group
    are not counted. ``scan_rows`` sums the rows the group's tasks read
    through table scans, found through the SQL plans the log carries.
    """
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    scan_ids: set = set()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if "sparkPlanInfo" in ev:
            scan_row_metrics(ev["sparkPlanInfo"], scan_ids)
        elif kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if gid is not None:
                job_group[ev["Job ID"]] = gid
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                groups[gid].jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                groups[job_group[jid]].job_spans.append(
                    (job_start[jid], ev["Completion Time"] / 1000.0)
                )
        elif kind == "SparkListenerStageSubmitted":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if gid is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = gid
        elif kind == "SparkListenerTaskEnd":
            gid = stage_group.get(ev["Stage ID"])
            if gid is None:
                continue
            g = groups[gid]
            g.stages.add(ev["Stage ID"])
            g.tasks += 1
            m = ev.get("Task Metrics") or {}
            g.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == PY_WORKER_ACCUM:
                    g.py_worker_s += float(acc.get("Update", 0)) / 1000.0
                elif acc.get("ID") in scan_ids:
                    g.scan_rows += int(acc.get("Update", 0))
    return dict(groups)


def op_layers(ops: list[dict], groups: dict[str, GroupStats]) -> dict[str, dict[str, float]]:
    """Per-op-type means of the Spark and driver layers.

    ``ops`` are the timed op records (``op``, ``op_id``, ``start``,
    ``end``, ``rows``). ``driver_s`` is the op's span minus the union of
    its jobs' spans; ``rows_examined_per_result`` is the rows its table
    scans read over the rows it returned.
    """
    by_type: dict[str, list] = defaultdict(list)
    for op in ops:
        by_type[op["op"]].append(op)
    out: dict[str, dict[str, float]] = {}
    for name, recs in sorted(by_type.items()):
        n = len(recs)
        acc = defaultdict(float)
        rows = 0
        for r in recs:
            g = groups.get(r["op_id"], GroupStats())
            acc["jobs"] += g.jobs
            acc["stages"] += len(g.stages)
            acc["tasks"] += g.tasks
            acc["exec_cpu_s"] += g.exec_cpu_s
            acc["py_worker_s"] += g.py_worker_s
            acc["shuffle_mb"] += g.shuffle_bytes / 1e6
            acc["gc_s"] += g.gc_s
            acc["driver_s"] += (r["end"] - r["start"]) - covered(r["start"], r["end"], g.job_spans)
            acc["scan_rows"] += g.scan_rows
            rows += r["rows"]
        stats = {k: v / n for k, v in acc.items() if k != "scan_rows"}
        stats["rows_examined_per_result"] = acc["scan_rows"] / max(rows, 1)
        stats["n"] = n
        out[name] = stats
    return out
