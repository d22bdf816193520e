"""Seeded, vectorised generator of a small star-schema sample.

The query registry (``huracan_spark/queries``) reads ten tables:
``region nation customer supplier part orders lineitem events documents
embeddings``.  This module writes them from a seed, with the column
names, parquet types and value domains of the repository's TESTDATA
star schema at its smallest scale factor (6,000 lineitem rows), so the
queries run on a sample that a checkout can build by itself.

Timestamps are naive microseconds, as in TESTDATA.  About 6 % of the
documents repeat an earlier one with `` dup`` appended, so the
near-duplicate queries have something to find.

This module imports no Spark, so it runs before the measured process.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table (the TESTDATA sizes at its smallest scale factor)
ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "new", "old", "small", "large"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.39, 0.16, 0.16, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    np_ = n["part"]
    price = np.round(900.0 + np.arange(np_) * 0.1, 2)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(PART_ADJ, np_), " "),
                              rng.choice(PART_NOUN, np_)),
        "p_brand": [f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (np_, 2))],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": price,
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _dates(rng, no, 2404),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    orderkey = np.sort(rng.integers(0, no, nl))
    first = np.r_[True, orderkey[1:] != orderkey[:-1]]
    start = np.maximum.accumulate(np.where(first, np.arange(nl), 0))
    partkey = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - start + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _dates(rng, nl, 2500),
    })
    ne = n["events"]
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    lens = rng.integers(8, 100, nd)
    words = rng.choice(WORDS, int(lens.sum()))
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    copies: dict[int, int] = {}
    for i in np.flatnonzero(rng.random(nd) < 0.06):
        if i:  # a near-duplicate of an earlier original; texts stay distinct
            src = int(rng.integers(0, i))
            while texts[src].endswith(" dup"):
                src -= 1
            copies[src] = copies.get(src, 0) + 1
            texts[i] = texts[src] + " dup" * copies[src]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.normal(size=(nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def write_tables(seed: int, out_dir: str) -> str:
    """Write the sample as ``<name>.parquet`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
