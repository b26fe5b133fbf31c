"""Seeded inputs and their plain-Python expected results.

Nothing here imports Spark: the generators, the expected results and
the reference match rule run in any Python, so the self-tests can
exercise them without a JVM. The operator tables are written with
pyarrow.
"""

from __future__ import annotations

import json
import random
import string
from decimal import Decimal

# 82-city dimension of the reference deployment: 81 RU cities, 1 UA.
N_RU_CITIES = 81
WEATHER_KINDS = (
    ("Clear", "clear sky"),
    ("Clouds", "overcast clouds"),
    ("Rain", "light rain"),
    ("Snow", "light snow"),
    ("Mist", "mist"),
)


def cities(seed: int) -> list[dict]:
    """(name, country, lon, lat, timezone) rows for the 82 cities."""
    rng = random.Random(f"cities-{seed}")
    out = []
    for i in range(N_RU_CITIES + 1):
        ru = i < N_RU_CITIES
        out.append(
            {
                "name": f"{'Gorod' if ru else 'Misto'}-{i:02d}-"
                + "".join(rng.choice(string.ascii_lowercase) for _ in range(5)),
                "country": "RU" if ru else "UA",
                "lon": round(rng.uniform(20.0, 170.0), 4),
                "lat": round(rng.uniform(42.0, 70.0), 4),
                "timezone": rng.choice((7200, 10800, 14400, 18000, 25200, 36000)),
            }
        )
    return out


def _full_payload(rng: random.Random, city: dict, temp_cents: int) -> dict:
    main, desc = rng.choice(WEATHER_KINDS)
    dt = 1_760_000_000 + rng.randrange(86_400 * 30)
    return {
        "coord": {"lon": city["lon"], "lat": city["lat"]},
        "weather": [{"main": main, "description": desc}],
        "main": {
            "temp": temp_cents / 100,
            "feels_like": (temp_cents - rng.randrange(300)) / 100,
            "temp_min": (temp_cents - rng.randrange(200)) / 100,
            "temp_max": (temp_cents + rng.randrange(200)) / 100,
            "pressure": rng.randrange(960, 1050),
            "humidity": rng.randrange(10, 101),
        },
        "visibility": rng.randrange(100, 10_001),
        "wind": {
            "speed": rng.randrange(0, 2500) / 100,
            "deg": rng.randrange(360),
            "gust": rng.randrange(0, 3500) / 100,
        },
        "clouds": {"all": rng.randrange(101)},
        "dt": dt,
        "sys": {"country": city["country"], "sunrise": dt - 20_000, "sunset": dt + 20_000},
        "timezone": city["timezone"],
        "name": city["name"],
    }


def weather_messages(
    seed: int, n: int, sparse_share: float, corrupt_share: float
) -> tuple[list[str], dict]:
    """``n`` OpenWeatherMap-shaped Kafka message values and the result
    the pipeline must produce from them.

    Full payloads carry every field. Sparse ones carry only the city
    name and an empty weather array, so every other column takes its
    default (temperature 0.00). Corrupt ones are syntactically
    invalid JSON, which the pipeline drops.

    The expected result is ``{"rows": non-corrupt count, "cities":
    {name: {"n_obs", "t_min", "t_max", "t_sum"}}}`` with exact
    ``Decimal`` temperatures: the fact table's decimal(5,2) of each
    payload's two-decimal JSON number.
    """
    rng = random.Random(f"weather-{seed}")
    dim = cities(seed)
    msgs: list[str] = []
    per_city: dict[str, dict] = {}
    for _ in range(n):
        city = rng.choice(dim)
        kind = rng.random()
        if kind < corrupt_share:
            text = json.dumps(_full_payload(rng, city, 0))
            msgs.append(text[: rng.randrange(1, len(text) - 1)])
            continue
        if kind < corrupt_share + sparse_share:
            msgs.append(json.dumps({"name": city["name"], "weather": []}))
            temp = Decimal("0.00")
        else:
            temp_cents = rng.randrange(-4000, 4000)
            msgs.append(json.dumps(_full_payload(rng, city, temp_cents)))
            temp = Decimal(temp_cents).scaleb(-2)
        agg = per_city.setdefault(
            city["name"], {"n_obs": 0, "t_min": temp, "t_max": temp, "t_sum": Decimal("0.00")}
        )
        agg["n_obs"] += 1
        agg["t_min"] = min(agg["t_min"], temp)
        agg["t_max"] = max(agg["t_max"], temp)
        agg["t_sum"] += temp
    rows = sum(a["n_obs"] for a in per_city.values())
    return msgs, {"rows": rows, "cities": per_city}


# ---------------------------------------------------------------- ER

BLOCK_PREFIX = 16  # er_ingest's block key: nation | name[:16]
N_NATIONS = 25
# Every balance is 7k + 3 cents, so no two differ by exactly the
# 50 000-cent match limit and "<" and "<=" read the same.
BAL_STEP = 7
BAL_LIMIT = 50_000
DL_MAX = 2
# c_acctbal's range in the customer fixture, in cents (-999.99 .. 9999.99)
BAL_MIN, BAL_MAX = -99_999, 999_999
GROUP = 100  # ids per name stem: Customer#<9 digits>[:16] fixes id // 100


def er_records(seed: int, n: int) -> list[tuple[int, str, int, int]]:
    """Customer-like ``(rec_id, name, nation, bal_cents)`` records with
    the shape of the customer fixture that bench.py's er_backfill folds
    (sf0.1: 15 000 records).

    There, ``c_name`` is ``Customer#`` plus the 9-digit id, so the
    name's first 16 characters fix id // 100 and names inside one block
    differ only in their last two characters (DL <= 2). Nation and
    balance are uniform. Whether two records of a block match is then
    decided by the balance gap alone. Here, each group of 100 ids gets
    one random 16-letter stem and each name two random trailing
    letters; nation and balance are drawn as in the fixture. On the
    fixture, blocks hold 4.09 records on average (at most 14), and the
    match rule finds 0.182 matched pairs per record; this generator
    gives the same within sampling noise. Records come back shuffled,
    ready to split into batches.
    """
    rng = random.Random(f"er-{seed}")
    letters = string.ascii_lowercase
    stems = [
        "".join(rng.choice(letters) for _ in range(BLOCK_PREFIX)) for _ in range((n + GROUP - 1) // GROUP)
    ]
    recs = [
        (
            rec_id,
            stems[rec_id // GROUP] + rng.choice(letters) + rng.choice(letters),
            rng.randrange(N_NATIONS),
            BAL_STEP * rng.randrange(-(-BAL_MIN // BAL_STEP), BAL_MAX // BAL_STEP) + 3,
        )
        for rec_id in range(n)
    ]
    rng.shuffle(recs)
    return recs


def damerau_levenshtein(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein distance (Lowrance-Wagner)."""
    inf = len(a) + len(b)
    last_row: dict[str, int] = {}
    d = [[inf] * (len(b) + 2) for _ in range(len(a) + 2)]
    for i in range(len(a) + 1):
        d[i + 1][0] = inf
        d[i + 1][1] = i
    for j in range(len(b) + 1):
        d[0][j + 1] = inf
        d[1][j + 1] = j
    for i in range(1, len(a) + 1):
        last_col = 0
        for j in range(1, len(b) + 1):
            i1 = last_row.get(b[j - 1], 0)
            j1 = last_col
            cost = 0 if a[i - 1] == b[j - 1] else 1
            if cost == 0:
                last_col = j
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[i1][j1] + (i - i1 - 1) + 1 + (j - j1 - 1),
            )
        last_row[a[i - 1]] = i
    return d[len(a) + 1][len(b) + 1]


def er_reference(records: list[tuple[int, str, int, int]]) -> tuple[dict[int, list[int]], int]:
    """The match rule in plain Python: pairs inside one block key
    (nation | name[:16]) with the same nation, a balance gap under the
    limit and DL distance <= 2, closed by union-find. Returns the
    entities (min rec_id of every component -> its rec_ids) and the
    match count."""
    parent = {r[0]: r[0] for r in records}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    blocks: dict[str, list[tuple[int, str, int, int]]] = {}
    for r in records:
        blocks.setdefault(f"{r[2]}|{r[1][:BLOCK_PREFIX]}", []).append(r)
    matches = 0
    for members in blocks.values():
        for i, (ida, na, nata, bala) in enumerate(members):
            for idb, nb, natb, balb in members[i + 1 :]:
                if nata == natb and abs(bala - balb) < BAL_LIMIT and damerau_levenshtein(na, nb) <= DL_MAX:
                    matches += 1
                    ra, rb = find(ida), find(idb)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
    entities: dict[int, list[int]] = {}
    for x in sorted(parent):
        entities.setdefault(find(x), []).append(x)
    return entities, matches


# ------------------------------------------------------ operator tables

# registered, oracle-checked queries the operator mix runs over these
# tables: a relational aggregate, a four-table join, and the batch ER
# funnel (SNM window, DL verify, connected components)
MIX_QUERIES = ("q1_pricing_summary", "join_flagship_revenue", "er_funnel")
MIX_TABLES = ("nation", "customer", "orders", "lineitem")
MIX_ORDERS = 3000
MIX_PARTS, MIX_SUPPLIERS = 400, 40
_DAY_US = 86_400_000_000
_EPOCH_1992_US = 694_224_000_000_000  # 1992-01-01T00:00:00
_ORDER_DAYS = 3652  # order dates span ten years, as in the fixture


def tpch_tables(seed: int, customers: list[tuple[int, str, int, int]]) -> dict[str, dict[str, list]]:
    """Columns of the ``nation customer orders lineitem`` tables the
    operator mix reads, with the fixture's column names and types.

    ``customers`` are er_records rows, so the customer table has the
    fixture's name, nation and balance shape. Orders pick a customer
    at random and carry one to seven line items, as in TPC-H; money
    columns have two decimals and discount and tax are whole percents.
    """
    rng = random.Random(f"tables-{seed}")
    nation = {
        "n_nationkey": list(range(N_NATIONS)),
        "n_name": [f"NATION_{i}" for i in range(N_NATIONS)],
        "n_regionkey": [i % 5 for i in range(N_NATIONS)],
    }
    by_id = sorted(customers)
    customer = {
        "c_custkey": [r[0] for r in by_id],
        "c_name": [r[1] for r in by_id],
        "c_nationkey": [r[2] for r in by_id],
        "c_acctbal": [r[3] / 100 for r in by_id],
        "c_mktsegment": [rng.choice(("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")) for _ in by_id],
    }
    orders: dict[str, list] = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")}
    items: dict[str, list] = {
        k: []
        for k in (
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
            "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        )
    }
    for key in range(MIX_ORDERS):
        day = rng.randrange(_ORDER_DAYS)
        total = 0
        for line in range(1, rng.randrange(2, 9)):
            qty = rng.randrange(1, 51)
            price_cents = qty * rng.randrange(90_000, 200_000)
            total += price_cents
            items["l_orderkey"].append(key)
            items["l_partkey"].append(rng.randrange(MIX_PARTS))
            items["l_suppkey"].append(rng.randrange(MIX_SUPPLIERS))
            items["l_linenumber"].append(line)
            items["l_quantity"].append(float(qty))
            items["l_extendedprice"].append(price_cents / 100)
            items["l_discount"].append(rng.randrange(11) / 100)
            items["l_tax"].append(rng.randrange(9) / 100)
            items["l_returnflag"].append(rng.choice("ANR"))
            items["l_linestatus"].append(rng.choice("OF"))
            items["l_shipdate"].append(_EPOCH_1992_US + (day + rng.randrange(1, 122)) * _DAY_US)
        orders["o_orderkey"].append(key)
        orders["o_custkey"].append(rng.choice(by_id)[0])
        orders["o_orderstatus"].append(rng.choice("OFP"))
        orders["o_totalprice"].append(total / 100)
        orders["o_orderdate"].append(_EPOCH_1992_US + day * _DAY_US)
        orders["o_orderpriority"].append(rng.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))
    return {"nation": nation, "customer": customer, "orders": orders, "lineitem": items}


# parquet types of the fixture's columns; the rest are int64, double or string
_INT32 = {"n_nationkey", "n_regionkey", "c_nationkey", "l_linenumber"}
_TIMESTAMP = {"o_orderdate", "l_shipdate"}


def write_tables(path: str, tables: dict[str, dict[str, list]]) -> None:
    """One ``<name>.parquet`` per table under ``path``, the layout the
    package's table loader and the DuckDB oracle read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for name, cols in tables.items():
        arrays = {}
        for col, values in cols.items():
            if col in _INT32:
                arrays[col] = pa.array(values, pa.int32())
            elif col in _TIMESTAMP:
                arrays[col] = pa.array(values, pa.timestamp("us"))
            else:
                arrays[col] = pa.array(values)
        pq.write_table(pa.table(arrays), f"{path}/{name}.parquet")
