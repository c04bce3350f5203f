"""Spark event-log reader: jobs, stages and tasks, attributed to the
benchmark's time windows (a pass or a key) by timestamp.

Attribution is by time, not by job group: micro-batch jobs of a
streaming query carry the stream's run-id as their job group, not the
caller's, so a group-based split would lose them.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

PY_TIMES = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
}
PY_BYTES = {
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}
# Physical operators that hand rows to Python workers and read them back.
_PY_NODE_HINTS = ("Python", "Pandas", "Arrow")
_MB = 1024.0 * 1024.0


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int | None = None
    group: str | None = None


@dataclass
class Task:
    stage_id: int
    launch_ms: int
    finish_ms: int
    failed: bool
    metrics: dict
    accums: list = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    stages: list[tuple[int, int]] = field(default_factory=list)  # (stage id, submit ms)
    tasks: list[Task] = field(default_factory=list)
    python_row_ids: set[int] = field(default_factory=set)


def _python_row_accumulators(plan: dict, out: set[int]) -> None:
    if any(h in plan.get("nodeName", "") for h in _PY_NODE_HINTS):
        for m in plan.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _python_row_accumulators(child, out)


def parse(path: str) -> EventLog:
    log = EventLog()
    jobs: dict[int, Job] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], ev["Submission Time"], group=props.get("spark.jobGroup.id"))
                jobs[job.job_id] = job
                log.jobs.append(job)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                log.stages.append((info["Stage ID"], info.get("Submission Time") or 0))
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                log.tasks.append(Task(
                    stage_id=ev["Stage ID"],
                    launch_ms=info["Launch Time"],
                    finish_ms=info["Finish Time"],
                    failed=bool(info.get("Failed") or info.get("Killed")),
                    metrics=ev.get("Task Metrics") or {},
                    accums=info.get("Accumulables") or [],
                ))
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                _python_row_accumulators(ev.get("sparkPlanInfo") or {}, log.python_row_ids)
    return log


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _gaps_s(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Time in [t0, t1] not covered by any interval."""
    idle, cursor = 0.0, t0
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, t0), min(hi, t1)
        if lo > cursor:
            idle += lo - cursor
        cursor = max(cursor, hi)
    return idle + max(0.0, t1 - cursor)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def window_metrics(log: EventLog, t0: float, t1: float, cores: int) -> dict[str, float]:
    """Engine metrics for the jobs, stages and tasks that started in the
    wall-clock window [t0, t1] (seconds since the epoch)."""
    lo_ms, hi_ms = t0 * 1000.0, t1 * 1000.0
    jobs = [j for j in log.jobs if lo_ms <= j.start_ms <= hi_ms]
    spans = [(j.start_ms / 1000.0, (j.end_ms or j.start_ms) / 1000.0) for j in jobs]
    busy = _union_s(spans)
    tasks = [t for t in log.tasks if lo_ms <= t.launch_ms <= hi_ms]

    agg = {
        "run_ms": 0.0, "cpu_ns": 0.0, "gc_ms": 0.0, "deser_ms": 0.0,
        "sw_b": 0.0, "sr_b": 0.0, "fw_ms": 0.0, "spill_b": 0.0, "in_b": 0.0, "out_b": 0.0,
    }
    peak_mem = 0.0
    empty = 0
    failed = 0
    py = {name: 0.0 for name in list(PY_TIMES.values()) + list(PY_BYTES.values())}
    py_rows = 0.0
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        m = t.metrics
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        inp = m.get("Input Metrics") or {}
        out = m.get("Output Metrics") or {}
        agg["run_ms"] += _num(m.get("Executor Run Time"))
        agg["cpu_ns"] += _num(m.get("Executor CPU Time"))
        agg["gc_ms"] += _num(m.get("JVM GC Time"))
        agg["deser_ms"] += _num(m.get("Executor Deserialize Time"))
        agg["sw_b"] += _num(sw.get("Shuffle Bytes Written"))
        agg["sr_b"] += _num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read"))
        agg["fw_ms"] += _num(sr.get("Fetch Wait Time"))
        agg["spill_b"] += _num(m.get("Disk Bytes Spilled"))
        agg["in_b"] += _num(inp.get("Bytes Read"))
        agg["out_b"] += _num(out.get("Bytes Written"))
        peak_mem = max(peak_mem, _num(m.get("Peak Execution Memory")))
        records_in = _num(inp.get("Records Read")) + _num(sr.get("Total Records Read"))
        records_out = _num(out.get("Records Written")) + _num(sw.get("Shuffle Records Written"))
        if records_in == 0 and records_out == 0:
            empty += 1
        failed += t.failed
        by_stage.setdefault(t.stage_id, []).append(_num(m.get("Executor Run Time")))
        for a in t.accums:
            name = a.get("Name")
            upd = _num(a.get("Update"))
            if name in PY_TIMES:
                py[PY_TIMES[name]] += upd / 1000.0
            elif name in PY_BYTES:
                py[PY_BYTES[name]] += upd / _MB
            elif name == "number of output rows" and int(a.get("ID", -1)) in log.python_row_ids:
                py_rows += upd

    skew = 1.0
    for runs in by_stage.values():
        if len(runs) >= 2:
            skew = max(skew, max(runs) / max(statistics.median(runs), 1.0))

    run_s = agg["run_ms"] / 1000.0
    out = {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(sum(1 for _, s in log.stages if lo_ms <= s <= hi_ms)),
        "spark.tasks": float(len(tasks)),
        "spark.job_busy_s": busy,
        "driver.idle_s": _gaps_s(spans, t0, t1),
        "executor.run_s": run_s,
        "executor.cpu_s": agg["cpu_ns"] / 1e9,
        "executor.gc_s": agg["gc_ms"] / 1000.0,
        "executor.deser_s": agg["deser_ms"] / 1000.0,
        "slot.util": run_s / (busy * cores) if busy > 0 else 0.0,
        "task.skew": skew,
        "task.empty_frac": empty / len(tasks) if tasks else 0.0,
        "task.failed": float(failed),
        "shuffle.write_mb": agg["sw_b"] / _MB,
        "shuffle.read_mb": agg["sr_b"] / _MB,
        "shuffle.fetch_wait_s": agg["fw_ms"] / 1000.0,
        "spill.disk_mb": agg["spill_b"] / _MB,
        "scan.input_mb": agg["in_b"] / _MB,
        "output.mb": agg["out_b"] / _MB,
        "executor.peak_exec_mem_mb": peak_mem / _MB,
        "python.rows_recv": py_rows,
    }
    out.update(py)
    return out
