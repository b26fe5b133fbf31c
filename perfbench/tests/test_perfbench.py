"""Self-tests of the benchmark: generator determinism, metric names
against BENCHMARK.json, and every correctness check failing on a
planted error. No Spark session needed; run with

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]  # the benchmark, and the package it checks

import checks  # noqa: E402
import gen  # noqa: E402
import meter  # noqa: E402
import run  # noqa: E402


def test_generators_are_deterministic_per_seed():
    assert gen.weather_messages(5, 500, 0.1, 0.1) == gen.weather_messages(5, 500, 0.1, 0.1)
    assert gen.weather_messages(5, 500, 0.1, 0.1)[0] != gen.weather_messages(6, 500, 0.1, 0.1)[0]
    assert gen.er_records(5, 300) == gen.er_records(5, 300)
    assert gen.er_records(5, 300) != gen.er_records(6, 300)
    records = gen.er_records(5, 300)
    assert gen.tpch_tables(5, records) == gen.tpch_tables(5, records)
    assert gen.tpch_tables(5, records) != gen.tpch_tables(6, records)


def test_weather_shares_and_dimension():
    msgs, expected = gen.weather_messages(3, 4000, 0.1, 0.05)
    parsed = []
    for m in msgs:
        try:
            parsed.append(json.loads(m))
        except json.JSONDecodeError:
            pass
    assert expected["rows"] == len(parsed)
    assert 0.03 < 1 - len(parsed) / len(msgs) < 0.07
    sparse = [p for p in parsed if "main" not in p]
    assert 0.07 < len(sparse) / len(msgs) < 0.13
    countries = {c["country"] for c in gen.cities(3)}
    assert len(gen.cities(3)) == 82 and countries == {"RU", "UA"}


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    name = re.compile(r"[A-Za-z0-9_.-]+")
    for declared, emitted in ((spec["end_to_end"], run.END_TO_END), (spec["per_layer"], run.PER_LAYER)):
        assert [(m["name"], m["unit"]) for m in declared] == list(emitted)
        assert all(name.fullmatch(n) for n, _ in emitted)
    assert [w["name"] for w in spec["workloads"]] == ["ingest_trickle", "er_backfill"]


def _summary_rows(expected: dict) -> list[dict]:
    """What warehouse_summary returns for a correct warehouse, with
    one city split across two months."""
    rows = []
    for i, (city, a) in enumerate(sorted(expected["cities"].items())):
        if i == 0 and a["n_obs"] > 1:
            # split: the first observation alone in an earlier month
            first = a["t_min"]
            rest_n, rest_sum = a["n_obs"] - 1, a["t_sum"] - first
            rows.append({"city_name": city, "n_obs": 1, "t_min": first, "t_max": first, "t_avg": float(first)})
            rows.append({"city_name": city, "n_obs": rest_n, "t_min": a["t_min"], "t_max": a["t_max"],
                         "t_avg": float(rest_sum) / rest_n})
            continue
        rows.append({"city_name": city, "n_obs": a["n_obs"], "t_min": a["t_min"], "t_max": a["t_max"],
                     "t_avg": float(a["t_sum"]) / a["n_obs"]})
    return rows


def test_weather_check_passes_on_correct_output_and_fails_on_dropped_row():
    _, expected = gen.weather_messages(9, 1080, 0.06, 0.04)
    rows = _summary_rows(expected)
    assert checks.check_weather(expected, expected["rows"], rows, "t") == []

    # one fact row dropped: its city loses one observation
    dropped = [dict(r) for r in rows]
    victim = dropped[-1]
    temp = victim["t_max"]
    victim["t_avg"] = (victim["t_avg"] * victim["n_obs"] - float(temp)) / (victim["n_obs"] - 1)
    victim["n_obs"] -= 1
    assert checks.check_weather(expected, expected["rows"] - 1, dropped, "t")
    # the per-city check alone catches it, even with a right row count
    assert checks.check_weather(expected, expected["rows"], dropped, "t")


def test_weather_check_fails_on_one_cent():
    _, expected = gen.weather_messages(9, 1080, 0.06, 0.04)
    rows = _summary_rows(expected)
    rows[-1]["t_avg"] += 0.01 / rows[-1]["n_obs"]
    assert checks.check_weather(expected, expected["rows"], rows, "t")


def test_er_check_passes_on_reference_and_fails_on_split_entity():
    records = gen.er_records(4, 400)
    entities, matches = gen.er_reference(records)
    assert matches > 0 and len(entities) < len(records)
    golden = [{"entity_id": e, "canonical_key": e, "n_sources": len(m)} for e, m in entities.items()]
    assert checks.check_entities(entities, len(records), golden) == []

    # split one multi-record entity: its last record becomes its own entity
    root, members = next((e, m) for e, m in entities.items() if len(m) > 1)
    split = [dict(g, n_sources=g["n_sources"] - (g["entity_id"] == root)) for g in golden]
    split.append({"entity_id": members[-1], "canonical_key": members[-1], "n_sources": 1})
    assert checks.check_entities(entities, len(records), split)

    # merged entities are caught too: one entity absorbs another
    other = next(e for e, m in entities.items() if e != root)
    merged = [dict(g, n_sources=g["n_sources"] + len(entities[other]) * (g["entity_id"] == root))
              for g in golden if g["entity_id"] != other]
    assert checks.check_entities(entities, len(records), merged)


def test_damerau_levenshtein_is_unrestricted():
    assert gen.damerau_levenshtein("abcdef", "abdcef") == 1  # transposition
    assert gen.damerau_levenshtein("ca", "abc") == 2  # 3 under the restricted (OSA) variant
    assert gen.damerau_levenshtein("kitten", "sitting") == 3
    assert gen.damerau_levenshtein("", "abc") == 3


def test_er_records_have_the_customer_fixture_shape():
    # sf0.1 customer fixture under the match rule: 4.09 records per
    # block (at most 14) and 0.182 matched pairs per record
    records = gen.er_records(8, 2400)
    blocks: dict[str, int] = {}
    for r in records:
        key = f"{r[2]}|{r[1][:16]}"
        blocks[key] = blocks.get(key, 0) + 1
    assert 3.8 < len(records) / len(blocks) < 4.4
    assert max(blocks.values()) < 64  # under er_ingest's candidate cap
    _, matches = gen.er_reference(records)
    assert 0.15 < matches / len(records) < 0.21
    assert sorted(r[0] for r in records) == list(range(2400))
    assert all((r[3] - 3) % 7 == 0 for r in records)  # no gap of exactly 50 000
    assert all(-99_999 <= r[3] <= 999_999 for r in records)


def test_operator_tables_have_the_fixture_columns():
    records = gen.er_records(2, 300)
    tables = gen.tpch_tables(2, records)
    assert tuple(tables) == gen.MIX_TABLES
    assert list(tables["lineitem"]) == [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    ]
    assert tables["customer"]["c_custkey"] == list(range(300))
    lengths = {name: {len(v) for v in cols.values()} for name, cols in tables.items()}
    assert all(len(n) == 1 for n in lengths.values())  # every column of a table is full length


def test_query_check_fails_on_an_altered_row():
    import pandas as pd

    want = pd.DataFrame({"flag": ["A", "N", "R"], "n": [3, 1, 2], "total": [10.5, 2.25, 7.0]})
    got = want.iloc[::-1].reset_index(drop=True)  # order does not matter
    assert checks.check_query("q", got, want) == []
    altered = got.copy()
    altered.loc[1, "total"] = 2.26
    assert checks.check_query("q", altered, want)
    assert checks.check_query("q", got.iloc[:2], want)  # a dropped row
    assert checks.check_query("q", got.rename(columns={"n": "count"}), want)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert meter.tail(list(range(24))) == (13.0, 100 * 14 / 24, 24)
    assert meter.tail(list(range(10))) == (0.0, 0.0, 10)


def test_event_log_totals_count_a_shared_stage_once(tmp_path):
    metrics = {"Executor CPU Time": 2_000_000_000, "Executor Run Time": 3000, "JVM GC Time": 100,
               "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 10},
               "Shuffle Write Metrics": {"Shuffle Bytes Written": 20},
               "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 5, "Peak Execution Memory": 2**20}
    props = {"sql.streaming.queryId": "q", "streaming.sql.batchId": "3"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10, "Stage IDs": [0, 1]},
        # stage 1 is reused from job 0; stage 2 is skipped and never runs
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 20, "Stage IDs": [1, 2],
         "Properties": props},
        *({"Event": "SparkListenerTaskEnd", "Stage ID": st, "Task Metrics": metrics} for st in (0, 1, 1)),
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = meter.read_event_log(str(tmp_path))
    totals = meter.job_totals(log, meter.jobs_between(log, 0, 30))
    assert set(totals) == set(run.SPARK_UNITS)
    assert (totals["jobs"], totals["stages"], totals["tasks"]) == (2, 2, 3)
    assert (totals["executor_cpu_s"], totals["gc_s"], totals["spill_bytes"]) == (6.0, 0.3, 15)
    assert (totals["shuffle_read_bytes"], totals["shuffle_write_bytes"], totals["peak_exec_mem_mb"]) == (30, 60, 1.0)
    assert meter.jobs_between(log, 15, 30) == [1]
    assert meter.jobs_by_batch(log, "q") == {3: [1]}


def test_steal_share():
    before = [100, 0, 100, 700, 0, 0, 0, 0, 0, 0]
    after = [200, 0, 200, 1400, 0, 0, 0, 100, 50, 0]
    assert meter.steal_share(before, after) == 100 / 1000
