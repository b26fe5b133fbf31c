"""The shared store plumbing: marker overwrite without a delete
window, the per-batch stage clock, and the logged fan-out fallback."""

from __future__ import annotations

import logging
import os
from types import SimpleNamespace

from api_weather_kafka_clickhouse_spark.plans.partitioning import fanout_partitions
from api_weather_kafka_clickhouse_spark.streaming import store as store_mod
from api_weather_kafka_clickhouse_spark.streaming.store import (
    StageClock,
    read_small_text,
    write_small_text,
)


def test_write_small_text_plain_marker_issues_no_delete(spark, tmp_path, monkeypatch):
    """Overwriting a plain-file marker is one overwrite rename: no
    delete-then-rename window in which a crash leaves no marker."""
    p = os.path.join(str(tmp_path), "_MAX_BATCH")
    write_small_text(spark, p, "7")

    calls: list[str] = []
    real_hadoop_fs = store_mod.hadoop_fs

    class RecordingFs:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            calls.append(name)
            return getattr(self._fs, name)

    def recording_hadoop_fs(spark_, path):
        fs, hp = real_hadoop_fs(spark_, path)
        return RecordingFs(fs), hp

    monkeypatch.setattr(store_mod, "hadoop_fs", recording_hadoop_fs)
    write_small_text(spark, p, "8")
    assert "create" in calls
    assert "delete" not in calls
    assert read_small_text(spark, p) == "8"
    assert not os.path.exists(p + ".__tmp")


def test_stage_clock_accumulates_per_key(monkeypatch):
    ticks = iter([10.0, 10.5, 12.0, 20.0, 21.0, 30.0, 31.0])
    monkeypatch.setattr(store_mod, "time", SimpleNamespace(perf_counter=lambda: next(ticks)))
    times: dict[str, float] = {"index_write": 1.0}
    clock = StageClock(times)  # t=10.0
    clock.mark("write")  # +0.5
    clock.mark("index_write")  # +1.5 onto the earlier 1.0
    clock = StageClock(times)  # next batch, t=20.0
    clock.mark("write")  # +1.0
    assert times == {"index_write": 2.5, "write": 1.5}
    # no dict: nothing recorded, nothing raised
    StageClock(None).mark("write")


def test_fanout_partitions_logs_estimate_fallback(spark, caplog):
    """A frame without a JVM plan (Spark Connect) falls back to the
    core count — and says so in the log instead of silently."""

    class NoPlan:
        sparkSession = spark

        @property
        def _jdf(self):
            raise AttributeError("no JVM plan")

    with caplog.at_level(logging.WARNING, logger="api_weather_kafka_clickhouse_spark.plans.partitioning"):
        assert fanout_partitions(NoPlan()) == spark.sparkContext.defaultParallelism
    assert "size estimate unavailable" in caplog.text
