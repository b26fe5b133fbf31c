"""Benchmark of the weather ingest path and the entity-resolution chain.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``ingest_trickle`` and ``er_backfill``.
The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones (read from
Spark's event log and progress records, plus probes run after the
timed region). The line before it is a JSON record of the inputs and
the host (load average, CPU steal). Stores, checkpoints, event logs
and Spark's temporary files live in a temp dir under this directory,
removed at exit. Only the rows/s of each correct untraced run is kept,
in .tmp/untraced.jsonl, for the traced runs' trace.overhead_share.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

if __name__ == "__main__":
    sys.dont_write_bytecode = True  # a run writes nothing outside its temp dir
import gen  # noqa: E402
import meter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit) in the order BENCHMARK.json lists them
END_TO_END = (
    ("setup_s", "s"),
    ("rows_per_s", "1/s"),
    ("batch_p50_ms", "ms"),
    ("read_s", "s"),
    ("peak_rss_mb", "MiB"),
)
SPARK_PHASES = ("ingest", "rollup", "read")
SPARK_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "executor_run_s": "s",
    "gc_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "peak_exec_mem_mb": "MiB",
}
PER_LAYER = (
    ("pipeline.add_batch_ms", "ms"),
    ("pipeline.wal_commit_ms", "ms"),
    ("pipeline.commit_offsets_ms", "ms"),
    ("pipeline.query_planning_ms", "ms"),
    ("pipeline.latest_offset_ms", "ms"),
    ("pipeline.get_batch_ms", "ms"),
    ("pipeline.overhead_ms", "ms"),
    ("pipeline.batch_tail_ms", "ms"),
    ("pipeline.batch_tail_pct", "%"),
    ("pipeline.batch_samples", "count"),
    ("flatten.ms_per_krow", "ms"),
    ("flatten.corrupt_share", "ratio"),
    ("sink.write_ms_per_batch", "ms"),
    ("sink.files_per_batch", "count"),
    ("sink.bytes_per_row", "bytes"),
    ("rollup.batch_p50_ms", "ms"),
    ("rollup.add_batch_ms", "ms"),
    ("rollup.tasks_per_batch", "count"),
    ("er_ingest.batch_ms", "ms"),
    ("er_ingest.jobs_per_batch", "count"),
    ("er_ingest.tasks_per_batch", "count"),
    ("er_ingest.cpu_s_per_batch", "s"),
    ("er_ingest.match_share", "ratio"),
    *((f"spark.{p}.{k}", u) for p in SPARK_PHASES for k, u in SPARK_UNITS.items()),
    *(
        (f"operators.{q}.{k}", u)
        for q in gen.MIX_QUERIES
        for k, u in (("s", "s"), ("jobs", "count"), ("tasks", "count"), ("cpu_s", "s"),
                     ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"))
    ),
    ("operators.mix_s", "s"),
    ("trace.overhead_share", "ratio"),
)
# The Spark JVM's heap, set through the package's own driver-memory
# setting. The benchmark adds only -Xms at the same size: a heap that
# resizes itself made GC time and the resident peak swing by 20-35%.
HEAP = "1g"
# rows/s of this checkout's untraced runs, one JSON line per run, for
# trace.overhead_share; it outlives the run's temp dir
HISTORY = os.path.join(HERE, ".tmp", "untraced.jsonl")


def _args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest_trickle", "er_backfill"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _history(args: argparse.Namespace) -> list[float]:
    """rows/s of the untraced runs of this workload and --seconds
    recorded in this checkout."""
    if not os.path.exists(HISTORY):
        return []
    with open(HISTORY, encoding="utf-8") as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r["rows_per_s"] for r in rows if (r["workload"], r["seconds"]) == (args.workload, args.seconds)]


def _record_untraced(args: argparse.Namespace, rows_per_s: float) -> None:
    os.makedirs(os.path.dirname(HISTORY), exist_ok=True)
    with open(HISTORY, "a", encoding="utf-8") as f:
        f.write(json.dumps({"workload": args.workload, "seconds": args.seconds, "rows_per_s": rows_per_s}) + "\n")


def _untraced_rows_per_s(args: argparse.Namespace) -> tuple[float, int]:
    """The median rows/s of the untraced runs recorded in this
    checkout, and how many there were. With none recorded yet, one
    untraced run is made first, in a child process (the event log is
    fixed for a session's lifetime). Against the traced run's rows/s,
    it gives the tracing overhead on the timed region."""
    if not _history(args):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170, check=True)
    runs = _history(args)
    return statistics.median(runs), len(runs)


def _environment(work: str) -> None:
    """Make the package importable here and in Spark's Python workers,
    and keep every temporary file inside the run's temp dir."""
    sys.path.insert(0, ROOT)
    paths = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS"):
        os.environ[var] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None  # re-read TMPDIR


def _spark_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def _stop_spark(spark) -> None:
    """Stop the session, then the Spark JVM and everything under it
    (Python workers), and wait until all of it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    below = meter.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    for pid in below:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def run(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    """One run; returns (result line, detail record)."""
    t_start = time.perf_counter()
    _environment(work)
    # imported here: both need the package on sys.path
    from api_weather_kafka_clickhouse_spark.session import get_spark
    from workloads import WORKLOADS

    n_cpu = len(os.sched_getaffinity(0))
    spark = get_spark(
        "perfbench", cpus=n_cpu, shuffle_partitions=n_cpu, extra_conf=_spark_conf(work, bool(args.trace))
    )
    try:
        t_session = time.perf_counter() - t_start
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        t0 = time.perf_counter()
        wl.prepare()
        t_prepare = time.perf_counter() - t0
        t0 = time.perf_counter()
        attempted = wl.warm()
        t_warm = time.perf_counter() - t0
        measured = wl.measure(args.seconds)
        attempted += measured.pop("attempted")
        if args.trace:
            attempted += wl.probes()
        bad = wl.check()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss = meter.vm_hwm_mb(jvm_pid) + meter.vm_hwm_mb()
    finally:
        _stop_spark(spark)

    e2e = {
        "setup_s": t_session + t_prepare + t_warm,
        "peak_rss_mb": peak_rss,
        **measured,
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "setup_split_s": {"session": t_session, "prepare": t_prepare, "warm": t_warm},
        "inputs": wl.detail(),
        "check_failures": bad,
    }
    if args.trace:
        log = meter.read_event_log(os.path.join(work, "eventlog"))
        layers = wl.layers(log)
        for phase, (t0_ms, t1_ms) in wl.phases.items():
            totals = meter.job_totals(log, meter.jobs_between(log, t0_ms, t1_ms))
            layers.update({f"spark.{phase}.{k}": v for k, v in totals.items()})
        untraced, n_untraced = args.untraced
        layers["trace.overhead_share"] = untraced / e2e["rows_per_s"] - 1
        detail["end_to_end_traced"] = e2e
        detail["untraced_runs_compared"] = n_untraced
        # a layer this workload does not run did no work there: it reports 0
        layers.update({n: 0.0 for n, _ in PER_LAYER if n.startswith(wl.IDLE_LAYERS)})
        values, names = layers, PER_LAYER
    else:
        values, names = e2e, END_TO_END
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in names}
    result = {
        "correct": not bad,
        "attempted": attempted + 1,  # + the correctness check itself
        "failed": 1 if bad else 0,
        "metrics": metrics,
    }
    return result, detail


def main(argv: list[str] | None = None) -> int:
    args = _args(argv)
    load_start = os.getloadavg()[0]
    if args.trace:
        args.untraced = _untraced_rows_per_s(args)
    os.makedirs(os.path.join(HERE, ".tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, ".tmp"))
    try:
        cpu0 = meter.cpu_times()
        result, detail = run(args, work)
        detail["host"] = {
            "nproc": len(os.sched_getaffinity(0)),
            "load1_start": load_start,
            "load1_end": os.getloadavg()[0],
            "steal_share": meter.steal_share(cpu0, meter.cpu_times()),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass
    if not args.trace and result["correct"]:
        _record_untraced(args, result["metrics"]["rows_per_s"]["value"])
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
