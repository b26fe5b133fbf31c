"""Measurement helpers read from outside the program: Structured
Streaming progress records, the Spark event log, /proc. Nothing here
imports Spark."""

from __future__ import annotations

import json
import os
import statistics

# StreamingQueryProgress.durationMs keys reported as pipeline.*
PROGRESS_KEYS = {
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
    "query_planning_ms": "queryPlanning",
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
}
TAIL_BEYOND = 10  # a tail percentile needs this many samples above it


def data_batches(progress: list) -> list[dict]:
    """Progress records of the batches that read input (an
    availableNow drain ends with an empty one)."""
    return [p for p in progress if p["numInputRows"] > 0]


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) of the highest percentile with at least
    TAIL_BEYOND samples above it; (0, 0, n) when there are too few."""
    n = len(values)
    k = n - TAIL_BEYOND  # 1-based rank with TAIL_BEYOND samples beyond it
    if k < 1:
        return 0.0, 0.0, n
    return float(sorted(values)[k - 1]), 100.0 * k / n, n


def progress_layers(batches: list[dict]) -> dict[str, float]:
    """The pipeline.* metrics: p50 per batch of each durationMs key,
    the trigger time not spent in addBatch, and the trigger tail."""
    out = {
        f"pipeline.{name}": float(statistics.median(p["durationMs"].get(key, 0) for p in batches))
        for name, key in PROGRESS_KEYS.items()
    }
    trig = [p["durationMs"]["triggerExecution"] for p in batches]
    out["pipeline.overhead_ms"] = float(
        statistics.median(t - p["durationMs"].get("addBatch", 0) for t, p in zip(trig, batches))
    )
    tail_ms, tail_pct, n = tail(trig)
    out.update({"pipeline.batch_tail_ms": tail_ms, "pipeline.batch_tail_pct": tail_pct, "pipeline.batch_samples": float(n)})
    return out


def read_event_log(log_dir: str) -> dict:
    """Jobs (submission time, stage ids, properties) and per-stage
    task metric sums from the uncompressed event log(s) in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "t_ms": ev["Submission Time"],
                        "stages": ev["Stage IDs"],
                        "props": ev.get("Properties") or {},
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    s = stages.setdefault(
                        ev["Stage ID"],
                        {"tasks": 0, "cpu_ns": 0, "run_ms": 0, "gc_ms": 0, "sr": 0, "sw": 0, "spill": 0, "peak": 0},
                    )
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    s["tasks"] += 1
                    s["cpu_ns"] += m.get("Executor CPU Time", 0)
                    s["run_ms"] += m.get("Executor Run Time", 0)
                    s["gc_ms"] += m.get("JVM GC Time", 0)
                    s["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    s["sw"] += sw.get("Shuffle Bytes Written", 0)
                    s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    s["peak"] = max(s["peak"], m.get("Peak Execution Memory", 0))
    return {"jobs": jobs, "stages": stages}


def job_totals(log: dict, job_ids: list[int]) -> dict[str, float]:
    """Spark's totals over ``job_ids``: jobs, stages, tasks, executor
    CPU/run/GC seconds, shuffle and spill bytes, and the peak execution
    memory of any task. A stage that several
    jobs list (a reused shuffle) is counted once, and only if it ran."""
    stage_ids = {s for j in job_ids for s in log["jobs"][j]["stages"] if s in log["stages"]}
    st = [log["stages"][s] for s in stage_ids]
    return {
        "jobs": float(len(job_ids)),
        "stages": float(len(st)),
        "tasks": float(sum(s["tasks"] for s in st)),
        "executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
        "executor_run_s": sum(s["run_ms"] for s in st) / 1e3,
        "gc_s": sum(s["gc_ms"] for s in st) / 1e3,
        "shuffle_read_bytes": float(sum(s["sr"] for s in st)),
        "shuffle_write_bytes": float(sum(s["sw"] for s in st)),
        "spill_bytes": float(sum(s["spill"] for s in st)),
        "peak_exec_mem_mb": max((s["peak"] for s in st), default=0) / 2**20,
    }


def jobs_between(log: dict, t0_ms: float, t1_ms: float) -> list[int]:
    """Jobs submitted inside a wall-clock window (the benchmark runs
    one phase at a time, so a window is a phase)."""
    return sorted(j for j, v in log["jobs"].items() if t0_ms <= v["t_ms"] <= t1_ms)


def jobs_by_batch(log: dict, query_id: str) -> dict[int, list[int]]:
    """A streaming query's jobs grouped by the batch id Spark stamps
    on each job's properties."""
    out: dict[int, list[int]] = {}
    for j, v in log["jobs"].items():
        p = v["props"]
        if p.get("sql.streaming.queryId") == query_id and "streaming.sql.batchId" in p:
            out.setdefault(int(p["streaming.sql.batchId"]), []).append(j)
    return out


# ---------------------------------------------------------------- host


def cpu_times() -> list[int]:
    """The aggregate cpu line of /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples
    (field 8 of the cpu line; guest time is already inside user)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out
