"""Seeded input generator for the benchmark.

Writes the star schema, events, documents and embeddings in the shape the
engine's query corpus reads (one parquet file per table, same column names
and physical types as the graded test data), plus the YouBike station
snapshots that the ingest workload replays. The same ``seed`` always gives
byte-identical tables; the engine only ever sees the written files.

Row counts follow the graded data's scale factors (``table_rows``): at scale
0.1 the star schema has 600k lineitems, 150k orders, 15k customers, 20k
parts, 1k suppliers, 100k events, 5k documents and 2k embeddings.

The edge rows of the repo's reseed parity suites are kept on purpose
(empty / whitespace / CJK / accented / NULL documents, duplicate documents,
.5 rounding boundaries and NULL event values, zero / tiny / NULL / duplicate
embeddings): the benchmark must exercise the same inputs a regenerated data
set can contain, never a cleaned-up subset.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]  # en ~40%, the rest ~15% each
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DISTRICTS = [
    "大安區", "信義區", "中正區", "中山區", "松山區", "萬華區",
    "大同區", "內湖區", "南港區", "士林區", "北投區", "文山區",
]

#: Rows per table at scale factor 1; every count scales linearly except
#: the documents/embeddings floors, which match the graded small scales.
_ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_FLOORS = {"documents": (50_000, 500), "embeddings": (20_000, 500)}
EMBED_DIM = 64
N_STATIONS = 1400  # stations in the first YouBike tick
STALE_FRAC = 0.1  # share of stations per tick that repeat their last reading


def table_rows(scale: float) -> dict[str, int]:
    """Row count per table at ``scale`` (0.1 → the graded sf0.1 counts)."""
    rows = {"region": 5, "nation": 25}
    rows.update({t: int(round(n * scale)) for t, n in _ROWS_AT_SF1.items()})
    for t, (per_sf1, floor) in _FLOORS.items():
        rows[t] = max(floor, int(round(per_sf1 * scale)))
    return rows


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _write(out: str, name: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), os.path.join(out, f"{name}.parquet"))


def _star(out: str, rng: np.random.Generator, rows: dict[str, int]) -> None:
    n_cust, n_supp, n_part = rows["customer"], rows["supplier"], rows["part"]
    n_ord, n_li = rows["orders"], rows["lineitem"]
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -1000, 10000, n_cust), pa.float64()),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -1000, 10000, n_supp), pa.float64()),
    })
    names = np.char.add(
        np.char.add(np.asarray(ADJ)[rng.integers(0, len(ADJ), n_part)], " "),
        np.asarray(NOUN)[rng.integers(0, len(NOUN), n_part)],
    )
    brands = np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(names.astype(object), pa.string()),
        "p_brand": pa.array(brands.astype(object), pa.string()),
        "p_type": _pick(PTYPES, rng.integers(0, len(PTYPES), n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + 0.1 * (np.arange(n_part) % 1000), 2), pa.float64()),
    })
    base_us = 788_918_400_000_000  # 1995-01-01 in microseconds
    day_us = 86_400_000_000
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(STATUSES, rng.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord), pa.float64()),
        "o_orderdate": pa.array(base_us + rng.integers(0, 2400, n_ord) * day_us, pa.timestamp("us")),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord)),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li), pa.float64()),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2), pa.float64()),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2), pa.float64()),
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_li)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_li)),
        "l_shipdate": pa.array(base_us + rng.integers(1, 2500, n_li) * day_us, pa.timestamp("us")),
    })


def _events(out: str, rng: np.random.Generator, n: int, n_users: int) -> None:
    base_us = 1_704_067_200_000_000  # 2024-01-01
    span_us = 30 * 86_400_000_000
    ts = base_us + np.sort(rng.integers(0, span_us, n))
    values = np.round(rng.exponential(50.0, n), 2).astype(object)
    values[::37] = np.floor(values[::37].astype(float)) + 0.5  # .5 rounding boundaries
    values[30::31] = None  # NULL values: count(col) vs count(*), null ordering
    props = [None if i % 37 == 36 else json.dumps({"k": int(k)})
             for i, k in enumerate(rng.integers(0, 100, n))]
    _write(out, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, len(EVENT_TYPES), n)),
        "value": pa.array(list(values), pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def _documents(out: str, rng: np.random.Generator, n: int) -> None:
    texts: list[str | None] = []
    for i in range(n):
        text: str | None = " ".join(rng.choice(WORDS, size=int(rng.integers(10, 100))))
        if i >= 17 and i % 17 == 0 and texts[i - 17]:
            text = texts[i - 17]  # exact duplicates for the dedup queries
        if i % 41 == 0:
            text = ""
        elif i % 43 == 0:
            text = "   "
        elif i % 47 == 0:
            text = "中文內容沒有空白 nor ascii words 中文"
        elif i % 53 == 0:
            text = "café déjà vu " + text
        elif i % 59 == 58:
            text = None
        texts.append(text)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(LANGS, rng.integers(0, len(LANGS), n)),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([0 if t is None else len(t) for t in texts], pa.int64()),
    })


def _embeddings(out: str, rng: np.random.Generator, n: int) -> None:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows: list[list[float] | None] = []
    for i in range(n):
        if i >= 17 and i % 17 == 0:
            vecs[i] = vecs[i - 17]  # exact duplicate: the near-dup signal
        elif i % 29 == 13:
            vecs[i] = 0.0  # zero norm: cosine undefined, must be excluded
        elif i % 31 == 30:
            vecs[i] *= 1e-6  # tiny but non-zero norm
        rows.append(None if i % 59 == 44 else vecs[i].tolist())
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(rows, pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_tables(out: str, seed: int, scale: float) -> dict[str, int]:
    """Write every analytics table for ``seed`` at ``scale``; returns the
    row count per table."""
    os.makedirs(out, exist_ok=True)
    rows = table_rows(scale)
    rng = np.random.default_rng([seed, 1])
    _star(out, rng, rows)
    _events(out, np.random.default_rng([seed, 2]), rows["events"], max(15, rows["customer"] // 10))
    _documents(out, np.random.default_rng([seed, 3]), rows["documents"])
    _embeddings(out, np.random.default_rng([seed, 4]), rows["embeddings"])
    return rows


def youbike_ticks(seed: int, n_ticks: int) -> tuple[list[list[dict]], dict]:
    """Seeded YouBike API snapshots, one list of raw station records per
    10-minute tick, plus the counts a correct ingest must end with.

    About ``STALE_FRAC`` of the stations in each tick repeat their previous
    ``srcUpdateTime`` (the API's stale readings, which the fact dedup must
    drop), and every third tick adds a few stations that were never seen
    (the dimension upsert path).
    """
    rng = np.random.default_rng([seed, 5])
    total = N_STATIONS + 4 * (n_ticks // 3)
    sno = [f"5001{i:05d}" for i in range(total)]
    names = [f"YouBike2.0_站點{i:05d}" for i in range(total)]
    district = rng.integers(0, len(DISTRICTS), total)
    lat = np.round(25.0 + rng.uniform(0, 0.2, total), 7)
    lng = np.round(121.45 + rng.uniform(0, 0.2, total), 7)
    capacity = rng.integers(10, 81, total)
    jitter = rng.integers(0, 60, total)
    base = dt.datetime(2024, 3, 1, 8, 0, 0)
    last_update: dict[int, str] = {}
    keys: set[tuple[str, str]] = set()
    ticks = []
    for t in range(n_ticks):
        live = N_STATIONS + 4 * (t // 3)
        stale = rng.random(live) < STALE_FRAC
        rent = rng.integers(0, capacity[:live] + 1)
        records = []
        for i in range(live):
            if t == 0 or not stale[i] or i not in last_update:
                when = base + dt.timedelta(minutes=10 * t, seconds=int(jitter[i]))
                last_update[i] = when.strftime("%Y-%m-%d %H:%M:%S")
            keys.add((sno[i], last_update[i]))
            records.append({
                "sno": sno[i],
                "sna": names[i],
                "sarea": DISTRICTS[district[i]],
                "latitude": float(lat[i]),
                "longitude": float(lng[i]),
                "Quantity": int(capacity[i]),
                "available_rent_bikes": int(rent[i]),
                "available_return_bikes": int(capacity[i] - rent[i]),
                "srcUpdateTime": last_update[i],
            })
        ticks.append(records)
    expected = {
        "stations": N_STATIONS + 4 * ((n_ticks - 1) // 3),
        "status_rows": len(keys),
        "records_offered": sum(len(r) for r in ticks),
    }
    return ticks, expected


def hourly_weather(n_ticks: int) -> dict[str, list]:
    """Open-Meteo-shaped hourly payload covering every tick (deterministic:
    the gold merge only needs a weather row per hour)."""
    base = dt.datetime(2024, 3, 1, 0, 0)
    hours = 24 + n_ticks // 6 + 1
    return {
        "time": [(base + dt.timedelta(hours=h)).strftime("%Y-%m-%dT%H:%M") for h in range(hours)],
        "temperature_2m": [round(18.0 + 0.25 * (h % 24), 2) for h in range(hours)],
        "precipitation": [round(0.5 * (h % 5 == 0), 2) for h in range(hours)],
    }

