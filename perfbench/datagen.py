"""Seeded input tables for the benchmark.

Writes the ten tables the engine's battery and plans read (TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``), one parquet file
each, with the same column names, types and value grids as the project's
reference test data.  The same ``(seed, sf)`` always gives byte-identical
tables; sizes follow the scale factor (``lineitem`` has 6M x sf rows).

Value grids matter for correctness, not just realism: money columns carry
two decimals and dates fall on midnight, which is what the battery's
decimal-cast aggregates and the DuckDB oracles are written against.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "big", "red", "blue", "cold", "hot", "shiny", "dull"]
_PART_NOUN = ["widget", "bolt", "ring", "gear", "valve", "spring", "nut", "pin"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EMB_DIM = 64
_N_LABELS = 10


def _us(ts: dt.datetime) -> int:
    return int(ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def _days_us(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> np.ndarray:
    """Midnight timestamps (µs) drawn uniformly from [lo, hi]."""
    days = rng.integers(0, (hi - lo).days + 1, n)
    base = _us(dt.datetime.combine(lo, dt.time()))
    return base + days.astype(np.int64) * 86_400_000_000


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ids(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 20)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 40)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = max(int(6_000_000 * sf), 800)
    n_ev = max(int(1_000_000 * sf), 500)
    n_users = max(int(15_000 * sf), 15)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)
    ts = pa.timestamp("us")

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
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
            "c_name": _ids("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": _ids("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": rng.choice(names, n_part),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": (9000 + pk % 1000) / 10.0,
        }
    )
    odate = _days_us(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1))
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": pa.array(odate, ts),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    lok = rng.integers(0, n_ord, n_line)
    ship = odate[lok] + rng.integers(1, 122, n_line) * 86_400_000_000
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 901.0, 104999.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(ship, ts),
        }
    )
    ev_lo = _us(dt.datetime(2024, 1, 1))
    ev_ts = np.sort(rng.integers(ev_lo, ev_lo + 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ev_ts, ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.gamma(2.0, 50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, n_words)))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    centers = rng.normal(size=(_N_LABELS, _EMB_DIM))
    labels = rng.integers(0, _N_LABELS, n_vecs)
    vecs = rng.normal(size=(n_vecs, _EMB_DIM)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, pa.Table]:
    """Generate and write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = build_tables(seed, sf)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return tables
