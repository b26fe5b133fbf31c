"""The two workloads. run.py drives each through ``prepare`` (input
generation), ``warm`` (a pass through the same code, so the timed
region starts with a warm JVM), ``measure`` (the timed region, then
the read pass) and ``check`` (correctness, untimed); traced runs add
``probes`` (layers timed alone) and ``layers`` (the per-layer numbers).

A workload calls the package's public functions only, on inputs it
generated itself, from one thread: a closed loop with one client.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import json
import os
import random
import statistics
import time

from pyspark.sql import functions as F

from api_weather_kafka_clickhouse_spark import registry
from api_weather_kafka_clickhouse_spark.app import warehouse_summary
from api_weather_kafka_clickhouse_spark.sources.flatten import flatten_weather, parse_raw
from api_weather_kafka_clickhouse_spark.sources.sink import read_fact, read_fact_between, write_fact_batch
from api_weather_kafka_clickhouse_spark.streaming.er_ingest import resolve_golden, start_er_ingest
from api_weather_kafka_clickhouse_spark.streaming.pipeline import start_pipeline, transform
from api_weather_kafka_clickhouse_spark.streaming.rollup import read_rollup, start_rollup

import checks
import gen
import meter

READ_PASSES = 5
# operators.<query>.<key> per-layer metrics: key -> meter.job_totals field
OPERATOR_TOTALS = {
    "jobs": "jobs",
    "tasks": "tasks",
    "cpu_s": "executor_cpu_s",
    "shuffle_bytes": "shuffle_write_bytes",
    "spill_bytes": "spill_bytes",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _drain(query) -> list[dict]:
    """Wait for an availableNow query to finish and return the
    progress records of its data batches."""
    query.awaitTermination()
    if query.exception() is not None:
        raise RuntimeError(f"streaming query failed: {query.exception()}")
    return meter.data_batches([json.loads(p.json) for p in query.recentProgress])


def _repeats(seconds: float, unit_s: float) -> int:
    """How many whole units of work fill ``seconds``, from the time
    one unit takes on a 4-core host. The count depends on --seconds
    only, never on how fast this run goes, so every run of a workload
    times the same work."""
    return max(1, round(seconds / unit_s))


def _now_ms() -> float:
    return time.time() * 1000


class _Workload:
    """What run.py needs of a workload besides its four steps."""

    IDLE_LAYERS: tuple[str, ...] = ()  # per-layer prefixes this workload never runs
    mix: dict = {}  # the operator mix's timings, when a traced run ran it

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        # phase name -> (start, end) epoch ms, for the spark.<phase>.* totals
        self.phases: dict[str, tuple[float, float]] = {}

    @contextlib.contextmanager
    def _phase(self, name: str):
        """Record the wall-clock window of a phase in ``phases``."""
        t0 = _now_ms()
        yield
        self.phases[name] = (t0, _now_ms())


class Ingest(_Workload):
    """ingest_trickle: the reference's own shape. 90-message
    micro-batches, one file per trigger, over the 82-city dimension,
    drained by ``start_pipeline`` into a fresh warehouse; then
    ``start_rollup`` over the same backlog; then the read pass."""

    name = "ingest_trickle"
    IDLE_LAYERS = ("er_ingest.", "operators.")
    FILES = 12  # micro-batches per drain
    BATCH = 90  # messages per micro-batch (the reference consumer's trigger)
    SPARSE, CORRUPT = 0.06, 0.04
    DRAIN_S = 5.0
    WARM_ROLLUP_FILES = 4  # the rollup's first batches pay its compile cost
    SINK_PROBE_BATCHES = 6

    def _write_files(self, path: str, msgs: list[str]) -> None:
        os.makedirs(path)
        for i in range(0, len(msgs), self.BATCH):
            with open(os.path.join(path, f"part-{i // self.BATCH:05d}.json"), "w", encoding="utf-8") as f:
                f.write("\n".join(msgs[i : i + self.BATCH]) + "\n")

    def prepare(self) -> None:
        msgs, self.expected = gen.weather_messages(
            self.seed, self.FILES * self.BATCH, self.SPARSE, self.CORRUPT
        )
        self.src = os.path.join(self.work, "src")
        self._write_files(self.src, msgs)
        warm, _ = gen.weather_messages(~self.seed, self.FILES * self.BATCH, self.SPARSE, self.CORRUPT)
        self.warm_src = os.path.join(self.work, "warm_src")
        self._write_files(self.warm_src, warm)
        self.warm_rollup_src = os.path.join(self.work, "warm_rollup_src")
        self._write_files(self.warm_rollup_src, warm[: self.WARM_ROLLUP_FILES * self.BATCH])
        self.n_messages = len(msgs)

    def _stream(self, src: str):
        return (
            self.spark.readStream.schema("value string").option("maxFilesPerTrigger", 1).text(src)
        )

    def _run_pipeline(self, src: str, tag: str):
        wh = os.path.join(self.work, f"wh_{tag}")
        t0 = time.perf_counter()
        q = start_pipeline(self._stream(src), wh, os.path.join(self.work, f"ck_{tag}"))
        batches = _drain(q)
        return wh, time.perf_counter() - t0, batches

    def _run_rollup(self, src: str, tag: str):
        ru = os.path.join(self.work, f"ru_{tag}")
        q = start_rollup(transform(self._stream(src)), ru, os.path.join(self.work, f"rck_{tag}"))
        return ru, _drain(q), q.id

    def _read_pass(self, wh: str, ru: str) -> None:
        today = _dt.datetime.now(_dt.timezone.utc).date()
        _noop(warehouse_summary(self.spark, wh))
        _noop(read_rollup(self.spark, ru))
        _noop(
            read_fact_between(
                self.spark, wh, str(today - _dt.timedelta(days=1)), str(today + _dt.timedelta(days=1))
            )
        )

    def warm(self) -> int:
        """A drain over a backlog of the timed size, a short rollup, a
        read pass, then a second drain: pipeline batch times fall for
        about 24 batches as the JIT compiles, then level off."""
        wh, _, batches = self._run_pipeline(self.warm_src, "warm0")
        ru, rbatches, _ = self._run_rollup(self.warm_rollup_src, "warm0")
        self._read_pass(wh, ru)
        _, _, more = self._run_pipeline(self.warm_src, "warm1")
        return len(batches) + len(rbatches) + 3 + len(more)

    def measure(self, seconds: float) -> dict:
        self.drains, self.batches = [], []
        with self._phase("ingest"):
            for i in range(_repeats(seconds, self.DRAIN_S)):
                wh, wall, batches = self._run_pipeline(self.src, f"d{i}")
                self.drains.append((wh, wall, len(batches)))
                self.batches += batches

        with self._phase("rollup"):
            self.ru, self.rbatches, self.rollup_id = self._run_rollup(self.src, "timed")

        read_times = []
        with self._phase("read"):
            for _ in range(READ_PASSES):
                t0 = time.perf_counter()
                self._read_pass(self.drains[-1][0], self.ru)
                read_times.append(time.perf_counter() - t0)

        trig = [p["durationMs"]["triggerExecution"] for p in self.batches]
        # each drain's warehouse is checked to hold exactly the
        # expected rows, so the committed total is known exactly
        rows = self.expected["rows"] * len(self.drains)
        return {
            "rows_per_s": rows / sum(w for _, w, _ in self.drains),
            "batch_p50_ms": float(statistics.median(trig)),
            "read_s": statistics.median(read_times),
            "attempted": len(self.batches) + len(self.rbatches) + 3 * READ_PASSES,
        }

    def check(self) -> list[str]:
        bad = []
        for i, (wh, _, _) in enumerate(self.drains):
            summary = [r.asDict() for r in warehouse_summary(self.spark, wh).collect()]
            n = read_fact(self.spark, wh).count()
            bad += checks.check_weather(self.expected, n, summary, f"drain {i} warehouse_summary")
        rollup = [r.asDict() for r in read_rollup(self.spark, self.ru).collect()]
        bad += checks.check_weather(self.expected, sum(r["n_obs"] for r in rollup), rollup, "read_rollup")
        return bad

    def layers(self, log: dict) -> dict[str, float]:
        """Per-layer numbers; ``log`` is the parsed event log."""
        out = meter.progress_layers(self.batches)
        obs = [p["observedMetrics"]["ingest"] for p in self.batches]
        out["flatten.corrupt_share"] = sum(o["n_corrupt"] for o in obs) / sum(o["n_messages"] for o in obs)
        out["flatten.ms_per_krow"] = self.flatten_ms / (self.n_messages / 1000)
        out.update(self.sink)
        out["rollup.batch_p50_ms"] = float(statistics.median(p["durationMs"]["triggerExecution"] for p in self.rbatches))
        out["rollup.add_batch_ms"] = float(statistics.median(p["durationMs"]["addBatch"] for p in self.rbatches))
        by_batch = meter.jobs_by_batch(log, self.rollup_id)
        out["rollup.tasks_per_batch"] = statistics.median(
            meter.job_totals(log, jobs)["tasks"] for jobs in by_batch.values()
        )
        return out

    def probes(self) -> int:
        """Traced runs only, after the timed region: the flatten and
        sink layers timed alone on batch frames. Returns the number of
        operations it ran."""
        msgs = self.spark.read.text(self.src)
        times = []
        for _ in range(READ_PASSES):
            t0 = time.perf_counter()
            _noop(flatten_weather(parse_raw(msgs, "value")))
            times.append(time.perf_counter() - t0)
        self.flatten_ms = statistics.median(times) * 1000

        # a one-file micro-batch is one partition, as in the pipeline
        one = self.spark.read.text(os.path.join(self.src, "part-00000.json"))
        frame = flatten_weather(parse_raw(one, "value").filter(F.col("raw").isNotNull())).localCheckpoint()
        path = os.path.join(self.work, "sink_probe")
        times = []
        for b in range(self.SINK_PROBE_BATCHES):
            t0 = time.perf_counter()
            write_fact_batch(frame, path, b)
            times.append(time.perf_counter() - t0)
        # file count and size from the timed drain's own warehouse
        wh, _, n_batches = self.drains[-1]
        files = [os.path.join(d, f) for d, _, fs in os.walk(wh) for f in fs if f.endswith(".parquet")]
        self.sink = {
            "sink.write_ms_per_batch": statistics.median(times) * 1000,
            "sink.files_per_batch": len(files) / n_batches,
            "sink.bytes_per_row": sum(os.path.getsize(f) for f in files) / self.expected["rows"],
        }
        return READ_PASSES + self.SINK_PROBE_BATCHES

    def detail(self) -> dict:
        return {
            "messages_per_drain": self.n_messages,
            "fact_rows_per_drain": self.expected["rows"],
            "drains": len(self.drains),
            "batch_ms": [p["durationMs"]["triggerExecution"] for p in self.batches],
            "sparse_share": self.SPARSE,
            "corrupt_share": self.CORRUPT,
        }


class EntityResolution(_Workload):
    """er_backfill: customer-like records shaped like the customer
    fixture, ingested in four micro-batches by ``start_er_ingest``
    (whose foreachBatch body is ``er_ingest_batch``) into a fresh
    store, then read with ``resolve_golden``. Traced runs add the
    operator mix over tables generated from the same records."""

    name = "er_backfill"
    IDLE_LAYERS = ("flatten.", "sink.", "rollup.", "spark.rollup.")
    N_RECORDS = 2400
    BATCHES = 4
    BACKFILL_S = 15.0
    WARM_RECORDS = 72
    WARM_BATCHES = 2
    SCHEMA = "rec_id bigint, name string, nation bigint, bal_cents bigint"
    MIX_PASSES = 3

    def _write_batches(self, path: str, recs: list, n: int) -> None:
        os.makedirs(path)
        for b in range(n):
            with open(os.path.join(path, f"part-{b:05d}.json"), "w", encoding="utf-8") as f:
                for rec_id, name, nation, bal in recs[b::n]:
                    f.write(json.dumps({"rec_id": rec_id, "name": name, "nation": nation, "bal_cents": bal}) + "\n")

    def prepare(self) -> None:
        self.records = gen.er_records(self.seed, self.N_RECORDS)
        self.expected, self.ref_matches = gen.er_reference(self.records)
        self.src = os.path.join(self.work, "src")
        self._write_batches(self.src, self.records, self.BATCHES)
        self.warm_src = os.path.join(self.work, "warm_src")
        self._write_batches(self.warm_src, gen.er_records(~self.seed, self.WARM_RECORDS), self.WARM_BATCHES)

    def _backfill(self, src: str, tag: str):
        dirs = {k: os.path.join(self.work, f"{k}_{tag}") for k in ("store", "pairs", "labels", "ck")}
        stream = self.spark.readStream.schema(self.SCHEMA).option("maxFilesPerTrigger", 1).json(src)
        t0 = time.perf_counter()
        q = start_er_ingest(stream, dirs["store"], dirs["pairs"], dirs["labels"], dirs["ck"])
        batches = _drain(q)
        return dirs, time.perf_counter() - t0, batches, q.id

    def warm(self) -> int:
        dirs, _, batches, _ = self._backfill(self.warm_src, "warm")
        _noop(resolve_golden(self.spark, dirs["store"], dirs["labels"]))
        return len(batches) + 1

    def measure(self, seconds: float) -> dict:
        self.fills, self.batches, self.query_ids = [], [], []
        with self._phase("ingest"):
            for i in range(_repeats(seconds, self.BACKFILL_S)):
                dirs, wall, batches, query_id = self._backfill(self.src, f"b{i}")
                self.fills.append((dirs, wall))
                self.query_ids.append(query_id)
                self.batches += batches

        dirs = self.fills[-1][0]
        read_times = []
        with self._phase("read"):
            for _ in range(READ_PASSES):
                t0 = time.perf_counter()
                _noop(resolve_golden(self.spark, dirs["store"], dirs["labels"]))
                read_times.append(time.perf_counter() - t0)

        trig = [p["durationMs"]["triggerExecution"] for p in self.batches]
        return {
            "rows_per_s": len(self.records) * len(self.fills) / sum(w for _, w in self.fills),
            "batch_p50_ms": float(statistics.median(trig)),
            "read_s": statistics.median(read_times),
            "attempted": len(self.batches) + READ_PASSES,
        }

    def check(self) -> list[str]:
        bad = []
        for i, (dirs, _) in enumerate(self.fills):
            golden = [r.asDict() for r in resolve_golden(self.spark, dirs["store"], dirs["labels"]).collect()]
            bad += [f"backfill {i}: {m}" for m in checks.check_entities(self.expected, len(self.records), golden)]
        if self.mix:
            con = checks.duckdb_views(self.sf_dir, gen.MIX_TABLES)
            for name in gen.MIX_QUERIES:
                got = registry.queries()[name](self.spark, self.sf_dir).toPandas()
                want = con.sql(registry.oracle_sql()[name]).df(date_as_object=True)
                bad += checks.check_query(name, got, want)
        return bad

    def probes(self) -> int:
        """Traced runs only, after the timed region: the pairs count,
        then the operator mix over tables generated from this run's
        records. Returns the number of operations it ran."""
        pairs = self.fills[-1][0]["pairs"]
        self.n_pairs = self.spark.read.parquet(pairs).count() if os.path.isdir(pairs) else 0

        self.sf_dir = os.path.join(self.work, "sf")
        os.makedirs(self.sf_dir)
        gen.write_tables(self.sf_dir, gen.tpch_tables(self.seed, self.records))
        order = list(gen.MIX_QUERIES)
        random.Random(f"mix-{self.seed}").shuffle(order)
        run_query = registry.queries()
        for name in order:  # warm-up pass, untimed
            _noop(run_query[name](self.spark, self.sf_dir))
        self.mix = {name: [] for name in gen.MIX_QUERIES}  # name -> [(seconds, epoch ms window)]
        for _ in range(self.MIX_PASSES):
            for name in order:
                w0, t0 = _now_ms(), time.perf_counter()
                _noop(run_query[name](self.spark, self.sf_dir))
                self.mix[name].append((time.perf_counter() - t0, (w0, _now_ms())))
        return 1 + len(order) * (1 + self.MIX_PASSES)

    def layers(self, log: dict) -> dict[str, float]:
        out = meter.progress_layers(self.batches)
        per_batch = [
            meter.job_totals(log, jobs)
            for qid in self.query_ids
            for jobs in meter.jobs_by_batch(log, qid).values()
        ]
        out["er_ingest.batch_ms"] = float(statistics.median(p["durationMs"]["addBatch"] for p in self.batches))
        out["er_ingest.jobs_per_batch"] = statistics.median(t["jobs"] for t in per_batch)
        out["er_ingest.tasks_per_batch"] = statistics.median(t["tasks"] for t in per_batch)
        out["er_ingest.cpu_s_per_batch"] = statistics.median(t["executor_cpu_s"] for t in per_batch)
        out["er_ingest.match_share"] = self.n_pairs / len(self.records)
        for name, runs in self.mix.items():
            totals = [meter.job_totals(log, meter.jobs_between(log, *window)) for _, window in runs]
            out[f"operators.{name}.s"] = statistics.median(t for t, _ in runs)
            for key, field in OPERATOR_TOTALS.items():
                out[f"operators.{name}.{key}"] = statistics.median(t[field] for t in totals)
        out["operators.mix_s"] = statistics.median(
            sum(runs[i][0] for runs in self.mix.values()) for i in range(self.MIX_PASSES)
        )
        return out

    def detail(self) -> dict:
        return {
            "records": len(self.records),
            "reference_matches": self.ref_matches,
            "reference_match_share": self.ref_matches / len(self.records),
            "reference_entities": len(self.expected),
            "backfills": len(self.fills),
            "batch_ms": [p["durationMs"]["triggerExecution"] for p in self.batches],
        }


WORKLOADS = {w.name: w for w in (Ingest, EntityResolution)}
