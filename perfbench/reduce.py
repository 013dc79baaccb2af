"""Pure reducers for the benchmark: timings, failure charge, span self time
and Spark event-log reduction.

Nothing here touches Spark or the file system, so every rule the
benchmark reports by is unit-tested in ``test_reduce.py``.
"""

from __future__ import annotations

import json
import re
import statistics
from collections.abc import Iterable
from dataclasses import dataclass

#: A percentile is reported as the tail only if at least this many samples
#: lie beyond it, so one slow sample cannot set it.
TAIL_BEYOND = 10


@dataclass
class Call:
    """One timed registry call: the entry call (build) plus the noop write
    (action). ``error`` is set when either raised."""

    query: str
    build_s: float
    action_s: float
    error: str | None = None

    @property
    def wall_s(self) -> float:
        return self.build_s + self.action_s


def charged_s(call: Call, limit_s: float) -> float:
    """Wall time of a call as the metrics count it: a failed call misses the
    workload's latency limit, so it is charged the limit whatever it took.
    Fixing a failure can therefore never read as a slowdown."""
    return limit_s if call.error is not None else call.wall_s


def tail(samples: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, beyond)``: the highest order statistic that has
    at least ``TAIL_BEYOND`` samples above it, its percentile rank and the
    number of samples beyond it. A tail is never below the median: when no
    rank from the (lower) median up has that many samples beyond it, the
    maximum is returned with percentile 100 and 0 beyond, so the record
    shows that the tail is really the worst case seen."""
    if not samples:
        raise ValueError("tail of no samples")
    xs = sorted(samples)
    n = len(xs)
    i = n - 1 - TAIL_BEYOND
    if i < (n - 1) // 2:
        return xs[-1], 100.0, 0
    return xs[i], 100.0 * (i + 1) / n, n - 1 - i


def summarize(passes: list[list[Call]], limit_s: float) -> dict:
    """End-to-end metrics of the measured passes of one run."""
    calls = [c for p in passes for c in p]
    if not calls:
        raise ValueError("no measured calls")
    samples = [charged_s(c, limit_s) for c in calls]
    failed = sum(c.error is not None for c in calls)
    tail_s, tail_pct, beyond = tail(samples)
    return {
        "pass_s": statistics.median(sum(charged_s(c, limit_s) for c in p) for p in passes),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": tail_s,
        "query_tail_percentile": tail_pct,
        "query_tail_beyond": beyond,
        "samples": len(samples),
        "passes": len(passes),
        "attempted": len(calls),
        "failed": failed,
        "failed_frac": failed / len(calls),
    }


# --------------------------------------------------------------------- spans


def union_s(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of its interval
    that its child spans cover (children clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is not None:
            children.setdefault(parent["id"], []).append(
                (max(s["start"], parent["start"]), min(s["end"], parent["end"]))
            )
    return {
        s["id"]: (s["end"] - s["start"])
        - union_s((a, b) for a, b in children.get(s["id"], []) if b > a)
        for s in spans
    }


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time summed per layer."""
    selfs = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + selfs[s["id"]]
    return out


def outermost_s(spans: list[dict], names: set[str]) -> tuple[int, float]:
    """``(calls, seconds)`` of the spans named in ``names``, counting only
    those not nested in another such span, so a call that reaches a second
    instrumented function of the same group is not counted twice."""
    by_id = {s["id"]: s for s in spans}

    def nested(s: dict) -> bool:
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] in names:
                return True
            p = by_id.get(p["parent"])
        return False

    mine = [s for s in spans if s["name"] in names and not nested(s)]
    return len(mine), sum(s["end"] - s["start"] for s in mine)


# ----------------------------------------------------------------- event log

#: RDD scopes of the physical operators that run Python workers.
PYTHON_SCOPE = re.compile(r"Python|InPandas|InArrow")

EVENT_COUNTERS = (
    "jobs", "stages", "tasks", "tasks_failed",
    "exec_run_s", "exec_cpu_s", "exec_gc_s",
    "input_rows", "input_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "output_bytes", "files", "python_stage_run_s", "busy_s",
)


def _window(windows: list[tuple[str, float, float]], t_ms: float) -> str | None:
    t = t_ms / 1000.0
    for key, start, end in windows:
        if start <= t <= end:
            return key
    return None


def _plan_metric_ids(plan: dict, name: str, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, out)


def reduce_event_log(
    lines: Iterable[str], windows: list[tuple[str, float, float]]
) -> dict[str, dict[str, float]]:
    """Per-window Spark counters from an event log (one JSON event a line).

    ``windows`` are ``(key, start, end)`` in epoch seconds, one per traced
    query call. A job, stage or SQL execution belongs to the window that
    holds its submission time, a task to the window of its stage (or of its
    launch time when the stage was submitted outside every window).
    ``busy_s`` is the time covered by at least one running task, clipped to
    the window; the driver gap is the rest."""
    out = {key: dict.fromkeys(EVENT_COUNTERS, 0.0) for key, _, _ in windows}
    bounds = {key: (start, end) for key, start, end in windows}
    stage_win: dict[int, str | None] = {}
    python_stages: set[int] = set()
    task_iv: dict[str, list[tuple[float, float]]] = {k: [] for k in out}
    exec_win: dict[int, str | None] = {}
    file_ids: set[int] = set()
    accum: list[tuple[str, int, float]] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            key = _window(windows, ev["Submission Time"])
            if key:
                out[key]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            key = _window(windows, info.get("Submission Time", 0))
            stage_win[sid] = key
            if key:
                out[key]["stages"] += 1
            scopes = " ".join(r.get("Scope", "") for r in info.get("RDD Info", []))
            if PYTHON_SCOPE.search(scopes):
                python_stages.add(sid)
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            key = stage_win.get(ev["Stage ID"]) or _window(windows, info["Launch Time"])
            if not key:
                continue
            c = out[key]
            c["tasks"] += 1
            if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
                c["tasks_failed"] += 1
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1e3
            c["exec_run_s"] += run_s
            c["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["exec_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            inp = m.get("Input Metrics", {})
            c["input_rows"] += inp.get("Records Read", 0)
            c["input_bytes"] += inp.get("Bytes Read", 0)
            c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            rd = m.get("Shuffle Read Metrics", {})
            c["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            c["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            if ev["Stage ID"] in python_stages:
                c["python_stage_run_s"] += run_s
            start, end = bounds[key]
            lo, hi = max(info["Launch Time"] / 1e3, start), min(info["Finish Time"] / 1e3, end)
            if hi > lo:
                task_iv[key].append((lo, hi))
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exec_win[ev["executionId"]] = _window(windows, ev["time"])
            _plan_metric_ids(ev.get("sparkPlanInfo", {}), "number of written files", file_ids)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_ids(ev.get("sparkPlanInfo", {}), "number of written files", file_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            key = exec_win.get(ev["executionId"])
            if key:
                accum.extend((key, aid, v) for aid, v in ev["accumUpdates"])
    # Plan updates that declare a metric may follow its first update.
    for key, aid, v in accum:
        if aid in file_ids:
            out[key]["files"] += v
    for key, iv in task_iv.items():
        out[key]["busy_s"] = union_s(iv)
    return out
