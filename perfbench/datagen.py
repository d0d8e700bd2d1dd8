"""Seeded generator for the engine's ten input tables.

Same schemas and value shapes as the engine's testdata (a TPC-H-like
star plus `events`, `documents` and `embeddings`): money and rates
with two decimals, naive microsecond timestamps, user ids below
15000 * sf.  The same (seed, sf) always writes the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"]
ADJECTIVES = ["cold", "small", "large", "blue", "old", "new"]
NOUNS = ["widget", "bolt", "rod", "anvil", "ring"]
WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.38, 0.16, 0.16, 0.15, 0.15]

EVENTS_EPOCH_US = 1704067200 * 10**6  # 2024-01-01 00:00:00
EVENTS_SPAN_US = 30 * 86400 * 10**6
ORDERS_EPOCH_DAY = 9131  # 1995-01-01
ORDERS_SPAN_DAYS = 2404  # through 2001-08-01
DAY_US = 86400 * 10**6

ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def n_users(sf: float) -> int:
    """Distinct user ids in `events` (customers are ten times more)."""
    return max(150, int(round(15000 * sf)))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build(seed: int, sf: float, names=ALL_TABLES) -> dict[str, pa.Table]:
    """The named tables; each table draws from its own stream of the seed, so a table's content does
    not depend on which others are built."""
    sizes = {
        "seed": seed,
        "users": n_users(sf),
        "customer": max(150, int(150000 * sf)),
        "supplier": max(10, int(10000 * sf)),
        "part": max(200, int(200000 * sf)),
        "orders": max(1500, int(1500000 * sf)),
        "events": max(1000, int(1000000 * sf)),
        "documents": max(500, int(50000 * sf)),
        "embeddings": max(500, int(20000 * sf)),
    }
    out: dict[str, pa.Table] = {}
    for name in names:
        rng = np.random.default_rng([seed, ALL_TABLES.index(name)])
        out[name] = _BUILDERS[name](rng, sizes)
    return out


def _region(rng, sz):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })


def _nation(rng, sz):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, sz):
    n = sz["customer"]
    return pa.table({
        "c_custkey": np.arange(n, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })


def _supplier(rng, sz):
    n = sz["supplier"]
    return pa.table({
        "s_suppkey": np.arange(n, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(rng, sz):
    n = sz["part"]
    return pa.table({
        "p_partkey": np.arange(n, dtype="int64"),
        "p_name": [
            f"{ADJECTIVES[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 6, n), rng.integers(0, 5, n))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 2),
    })


def _order_days(sz):
    rng = np.random.default_rng([sz["seed"], 99])
    return ORDERS_EPOCH_DAY + rng.integers(0, ORDERS_SPAN_DAYS + 1, sz["orders"])


def _orders(rng, sz):
    n = sz["orders"]
    return pa.table({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, sz["customer"], n).astype("int64"),
        "o_orderstatus": rng.choice(["O", "F", "P"], n),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _ts(_order_days(sz) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def _lineitem(rng, sz):
    order_day = _order_days(sz)
    lines = rng.integers(0, 8, sz["orders"])  # some orders have no lines
    l_order = np.repeat(np.arange(sz["orders"]), lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines if k]).astype("int32")
    n = len(l_order)
    return pa.table({
        "l_orderkey": l_order.astype("int64"),
        "l_partkey": rng.integers(0, sz["part"], n).astype("int64"),
        "l_suppkey": rng.integers(0, sz["supplier"], n).astype("int64"),
        "l_linenumber": pa.array(l_num, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _ts((order_day[l_order] + rng.integers(1, 122, n)) * DAY_US),
    })


def _events(rng, sz):
    n = sz["events"]
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(np.sort(EVENTS_EPOCH_US + rng.integers(0, EVENTS_SPAN_US, n))),
        "user_id": rng.integers(0, sz["users"], n).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng, sz):
    n = sz["documents"]
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:  # a near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 90)))))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })


def _embeddings(rng, sz):
    n = sz["embeddings"]
    emb = rng.normal(0.0, 0.1, (n, 64)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


_BUILDERS = {
    "region": _region, "nation": _nation, "customer": _customer,
    "supplier": _supplier, "part": _part, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def write(out_dir: str, seed: int, sf: float, names=ALL_TABLES) -> str:
    """Write the named tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = build(seed, sf, names)
    for name in names:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
