"""Correctness checks: compare what the program returned, already
collected into plain Python values or pandas frames, with the
expected result. Each check returns a list of mismatch descriptions;
an empty list is a pass. No check needs a Spark session."""

from __future__ import annotations

from decimal import Decimal

import duckdb

from api_weather_kafka_clickhouse_spark.oracle import canon_pandas


def _per_city(rows: list[dict]) -> dict[str, dict]:
    """Fold (group…, city_name, n_obs, t_min, t_max, t_avg) rows into
    one entry per city. Groups split by month or day are merged, since
    event_time is the ingest instant and a run can straddle either."""
    out: dict[str, dict] = {}
    for r in rows:
        a = out.setdefault(
            r["city_name"], {"n_obs": 0, "t_min": r["t_min"], "t_max": r["t_max"], "t_sum": 0.0}
        )
        a["n_obs"] += r["n_obs"]
        a["t_min"] = min(a["t_min"], r["t_min"])
        a["t_max"] = max(a["t_max"], r["t_max"])
        a["t_sum"] += r["t_avg"] * r["n_obs"]
    return out


def check_weather(expected: dict, fact_rows: int, groups: list[dict], source: str) -> list[str]:
    """Row count and per-city n_obs, min, max and exact decimal sum.

    ``groups`` are the rows of ``warehouse_summary`` or
    ``read_rollup``. Their ``t_avg`` is a double, so the per-city sum
    is rebuilt as sum(t_avg * n_obs) and rounded to cents; the double
    error of that product is far below half a cent at these sizes."""
    bad = []
    if fact_rows != expected["rows"]:
        bad.append(f"{source}: {fact_rows} fact rows, expected {expected['rows']}")
    got = _per_city(groups)
    want = expected["cities"]
    for city in sorted(set(got) | set(want)):
        g, w = got.get(city), want.get(city)
        if g is None or w is None:
            bad.append(f"{source}: city {city!r} {'missing' if g is None else 'unexpected'}")
            continue
        t_sum = Decimal(repr(g["t_sum"])).quantize(Decimal("0.01"))
        if (g["n_obs"], g["t_min"], g["t_max"], t_sum) != (w["n_obs"], w["t_min"], w["t_max"], w["t_sum"]):
            bad.append(
                f"{source}: city {city!r} got n={g['n_obs']} min={g['t_min']} max={g['t_max']} "
                f"sum={t_sum}, expected n={w['n_obs']} min={w['t_min']} max={w['t_max']} sum={w['t_sum']}"
            )
    return bad


def check_entities(expected: dict[int, list[int]], n_records: int, golden: list[dict]) -> list[str]:
    """resolve_golden's entity ids against the reference entity set
    (min rec_id of every component), each entity's source count
    against its component's size, and every record accounted for
    exactly once."""
    bad = []
    got = {r["entity_id"]: r for r in golden}
    if len(got) != len(golden):
        bad.append(f"golden: {len(golden) - len(got)} duplicate entity ids")
    missing, extra = set(expected) - set(got), set(got) - set(expected)
    if missing or extra:
        bad.append(
            f"golden: {len(missing)} reference entities missing (e.g. {sorted(missing)[:5]}), "
            f"{len(extra)} unexpected (e.g. {sorted(extra)[:5]})"
        )
    sized = [e for e in set(got) & set(expected) if got[e]["n_sources"] != len(expected[e])]
    if sized:
        bad.append(f"golden: {len(sized)} entities with the wrong source count (e.g. {sorted(sized)[:5]})")
    keyed = [r for r in golden if r["canonical_key"] != r["entity_id"]]
    if keyed:
        bad.append(f"golden: {len(keyed)} entities whose canonical_key is not their entity id")
    n_sources = sum(r["n_sources"] for r in golden)
    if n_sources != n_records:
        bad.append(f"golden: entities cover {n_sources} records, expected {n_records}")
    return bad


def duckdb_views(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table, for the
    registered oracle SQL."""
    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')")
    return con


def check_query(name: str, got, want) -> list[str]:
    """A mix query's result (pandas) against its DuckDB oracle's, by
    the package's own driver-replica fingerprint: column names, row
    count and an order-insensitive hash of the stringified values."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)}, oracle has {sorted(want.columns)}"]
    (n_got, h_got), (n_want, h_want) = canon_pandas(got), canon_pandas(want)
    if n_got != n_want:
        return [f"{name}: {n_got} rows, oracle has {n_want}"]
    if h_got != h_want:
        return [f"{name}: values differ from the oracle's ({n_got} rows)"]
    return []
