"""Seeded generator for the query workload's tables.

Writes the star schema the operator catalog reads (``region nation
customer supplier part orders lineitem events documents embeddings``),
one Parquet file per table with the column names and types of the
catalog's test data, so ``load_table`` and the DuckDB oracles read them
unchanged. Timestamps are microsecond precision without a time zone.
About one document in twenty is a near duplicate (an earlier text with
" dup" appended, from another source), so the dedup keys find pairs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "old"]
_NOUN = ["ring", "widget", "bolt", "gear", "pipe", "valve", "nut", "spring"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, lineitems: int) -> dict[str, pa.Table]:
    """Build every table; row counts scale with ``lineitems`` in the
    catalog's ratios (orders = lineitems/4, customer = orders/10,
    part = lineitems/30, supplier = lineitems/600, events = lineitems/6).
    Documents and embeddings keep 500 rows at every size, as in the
    catalog's test data."""
    rng = np.random.default_rng(seed)
    n_ord = lineitems // 4
    n_cust = max(10, n_ord // 10)
    n_part = max(10, lineitems // 30)
    n_supp = max(5, lineitems // 600)
    n_evt = max(100, lineitems // 6)
    n_docs = n_vecs = 500
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pkeys = np.arange(n_part)
    retail = np.round(900 + (pkeys % 1000) / 10, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(pkeys, pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    l_order = rng.integers(0, n_ord, lineitems)
    l_part = rng.integers(0, n_part, lineitems)
    qty = rng.integers(1, 51, lineitems).astype(np.float64)
    ship = odate[l_order] + rng.integers(1, 122, lineitems) * _DAY_US
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, lineitems), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitems), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.9, 2.3, lineitems), 2),
        "l_discount": np.round(rng.integers(0, 11, lineitems) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, lineitems) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], lineitems),
        "l_linestatus": rng.choice(["F", "O"], lineitems),
        "l_shipdate": _ts(ship),
    })
    # Event times increase with event_id over thirty days.
    gaps = rng.exponential(30 * _DAY_US / n_evt, n_evt).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, max(15, n_evt // 66), n_evt), pa.int64()),
        "event_type": rng.choice(_EVENTS, n_evt),
        "value": np.round(rng.exponential(20, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(8, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=[0.14, 0.44, 0.14, 0.13, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    # Ten clusters of unit vectors in 64 dimensions.
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_vecs)
    vecs = centers[label] + rng.normal(0, 1.2, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return t


def write_tables(seed: int, lineitems: int, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns
    ``out_dir``, the ``sf_dir`` the catalog's query functions take."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, lineitems).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
