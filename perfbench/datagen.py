"""Seeded input generators for the benchmark.

``write_star`` writes the star-schema lake the registered queries read,
one parquet file per table. It follows the fixture the DuckDB oracles
were written against: ``fixture_check.py`` compares the two, table by
table and column by column.
``write_raw_trips`` writes raw taxi trips in ``year=/month=`` partitions
under mixed-case TLC column spellings, the input of the ETL pipeline.
Both are pure functions of their seed and size, so a seed names one
input set exactly.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()

_DAY_MS = 86_400_000
_EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> pa.Array:
    days = rng.integers(first_day, first_day + n_days, n)
    return pa.array((_EPOCH_1995_MS + days * _DAY_MS) * 1000, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n_words))


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All catalog tables at scale factor ``sf`` (lineitem = 6M x sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(200, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = 500

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(_SEGMENTS).take(rng.integers(0, len(_SEGMENTS), n_cust)),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(part_names).take(rng.integers(0, len(part_names), n_part)),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": pa.array(_PART_TYPES).take(rng.integers(0, len(_PART_TYPES), n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(["F", "O", "P"]).take(rng.integers(0, 3, n_ord)),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, 0, 2404, n_ord),
            "o_orderpriority": pa.array(_PRIORITIES).take(rng.integers(0, 5, n_ord)),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(["A", "N", "R"]).take(rng.integers(0, 3, n_li)),
            "l_linestatus": pa.array(["F", "O"]).take(rng.integers(0, 2, n_li)),
            "l_shipdate": _days(rng, 1, 2499, n_li),
        }
    )
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(_EPOCH_2024_US + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(_EVENT_TYPES).take(rng.integers(0, 5, n_ev)),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [_text(rng, int(k)) for k in rng.integers(10, 104, n_docs)]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": pa.array(_LANGS).take(rng.integers(0, len(_LANGS), n_docs)),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    vec = rng.normal(0.0, 1.0, (n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.field("element", pa.float32()))),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return t


def write_star(root: str, seed: int, sf: float) -> dict[str, int]:
    """Write every catalog table under ``root``; returns rows per table."""
    os.makedirs(root, exist_ok=True)
    rows = {}
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# Mixed-case TLC spellings: canonicalization matches them case-insensitively.
_SPELLING = {
    "pickup": "Tpep_Pickup_Datetime", "dropoff": "Tpep_Dropoff_Datetime",
    "pu": "PULocationID", "do": "DOLocationID", "vendor": "VendorID", "rate": "RatecodeID",
}


def raw_trip_month(rng: np.random.Generator, year: int, month: int, n: int) -> pa.Table:
    """One month of raw trips. About 2% of rows are invalid (zero
    distance, non-positive fare or dropoff before pickup) so the
    validity filter has work to do."""
    start = np.datetime64(f"{year}-{month:02d}-01", "us").astype(np.int64)
    pickup = start + rng.integers(0, 28 * 86_400_000_000, n)
    duration_us = (rng.gamma(2.0, 7.0, n) * 60e6).astype(np.int64) + 30_000_000
    bad = rng.random(n)
    distance = np.round(rng.gamma(1.6, 2.0, n), 2)
    distance[bad < 0.01] = 0.0
    fare = np.round(2.5 + distance * 2.5 + rng.normal(0.0, 1.0, n).clip(-2, 2), 2)
    fare[(bad >= 0.01) & (bad < 0.015)] = -1.0
    duration_us[(bad >= 0.015) & (bad < 0.02)] *= -1
    s = _SPELLING
    return pa.table(
        {
            s["pickup"]: pa.array(pickup, pa.timestamp("us")),
            s["dropoff"]: pa.array(pickup + duration_us, pa.timestamp("us")),
            "passenger_count": pa.array(rng.integers(1, 7, n), pa.int32()),
            "trip_distance": distance,
            "fare_amount": fare,
            "total_amount": np.round(fare * 1.2, 2),
            "payment_type": pa.array([str(v) for v in rng.integers(1, 7, n)]),
            s["pu"]: pa.array([str(v) for v in rng.integers(1, 60, n)]),
            s["do"]: pa.array([str(v) for v in rng.integers(1, 60, n)]),
            s["vendor"]: pa.array([str(v) for v in rng.integers(1, 3, n)]),
            s["rate"]: pa.array([str(v) for v in rng.integers(1, 4, n)]),
        }
    )


YEAR = 2023
MONTHS = ("01", "02", "03")
FILES_PER_MONTH = 4


def write_raw_trips(root: str, seed: int, rows_per_month: int) -> int:
    """Write ``year=/month=`` partitions of raw trips under ``root``,
    ``FILES_PER_MONTH`` files each (a fragmented landing zone for the
    compaction step); returns the total row count."""
    rng = np.random.default_rng(seed)
    step = -(-rows_per_month // FILES_PER_MONTH)
    for month in MONTHS:
        table = raw_trip_month(rng, YEAR, int(month), rows_per_month)
        part_dir = os.path.join(root, f"year={YEAR}", f"month={month}")
        os.makedirs(part_dir, exist_ok=True)
        for k in range(FILES_PER_MONTH):
            pq.write_table(table.slice(k * step, step), os.path.join(part_dir, f"part-{k:05d}.parquet"))
    return rows_per_month * len(MONTHS)
