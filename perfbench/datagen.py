"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (``<dir>/<name>.parquet``)
with the schemas and value ranges of the package's fixture tables: a
TPC-H-shaped star schema (``region`` .. ``lineitem``), an ``events`` stream
with a JSON ``props`` column, ``documents`` over a small vocabulary and
unit-norm 64-d ``embeddings``.  The same ``(sf, seed)`` always yields the
same bytes of data, so every run of a workload reads identical inputs.

``write_fact_copies`` builds the ``transfer`` source: the fact tables
replicated with shifted keys into multi-file parquet directories.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.43, 0.14, 0.15, 0.14, 0.14]
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_ORDER_EPOCH = dt.datetime(1995, 1, 1)
_EVENT_EPOCH = dt.datetime(2024, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, span_days: int, epoch: dt.datetime) -> pa.Array:
    return _ts(_us(epoch) + rng.integers(0, span_days, n) * _DAY_US)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, as in the fixture tables
    pq.write_table(table, path, row_group_size=max(1, table.num_rows), compression="snappy")


def _counts(sf: float) -> dict[str, int]:
    # the fixture tables floor documents and embeddings at 500 rows from
    # sf0.001 up; below sf0.01 a 50-row floor keeps smoke runs small
    floor = 500 if sf >= 0.01 else 50
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(10, int(6_000_000 * sf)),
        "events": max(10, int(1_000_000 * sf)),
        "users": max(15, int(15_000 * sf)),
        "documents": max(floor, int(50_000 * sf)),
        "embeddings": max(floor, int(20_000 * sf)),
    }


def lineitem(rng: np.random.Generator, n: int, n_orders: int, n_part: int,
             n_supp: int, key_offset: int = 0) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n) + key_offset, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, n, 900.0, 105_000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _days(rng, n, 2499, _ORDER_EPOCH + dt.timedelta(days=1)),
    })


def orders(rng: np.random.Generator, n: int, n_cust: int, key_offset: int = 0) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype="int64") + key_offset),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(rng, n, 1_000.0, 500_000.0)),
        "o_orderdate": _days(rng, n, 2404, _ORDER_EPOCH),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def events(rng: np.random.Generator, n: int, n_users: int, id_offset: int = 0) -> pa.Table:
    span_us = 30 * _DAY_US
    ts = np.sort(rng.integers(0, span_us, n)) + _us(_EVENT_EPOCH)
    ks = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype="int64") + id_offset),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))),
        "props": pa.array([json.dumps({"k": int(k)}) for k in ks]),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write all ten tables at scale ``sf``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    c = _counts(sf)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = c["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    n = c["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, n, -999.99, 9999.99)),
    })
    n = c["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype="int64")),
        "p_name": _pick(rng, names, n),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)),
    })
    tables["orders"] = orders(rng, c["orders"], c["customer"])
    tables["lineitem"] = lineitem(rng, c["lineitem"], c["orders"], c["part"], c["supplier"])
    tables["events"] = events(rng, c["events"], c["users"])
    n = c["documents"]
    lens = rng.integers(10, 100, n)
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)]) for k in lens]
    for i in rng.choice(n, max(1, n // 600), replace=False):  # a few exact duplicates
        texts[i] = texts[(i + 1) % n]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n, dtype="int64")),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n = c["embeddings"]
    vecs = rng.standard_normal((n, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


def write_fact_copies(out_dir: str, sf: float, copies: int, seed: int) -> dict[str, int]:
    """The ``transfer`` source: ``lineitem``, ``orders`` and ``events`` at
    scale ``sf``, each replicated ``copies`` times with keys shifted per
    copy, one parquet file per copy under ``<out_dir>/<name>.parquet/``."""
    rng = np.random.default_rng(seed)
    c = _counts(sf)
    rows = {"lineitem": 0, "orders": 0, "events": 0}
    for name in rows:
        os.makedirs(os.path.join(out_dir, f"{name}.parquet"), exist_ok=True)
    for i in range(copies):
        shift = i * c["orders"]
        parts = {
            "lineitem": lineitem(rng, c["lineitem"], c["orders"], c["part"], c["supplier"], shift),
            "orders": orders(rng, c["orders"], c["customer"], shift),
            "events": events(rng, c["events"], c["users"], i * c["events"]),
        }
        for name, table in parts.items():
            _write(table, os.path.join(out_dir, f"{name}.parquet", f"part-{i:05d}.parquet"))
            rows[name] += table.num_rows
    return rows
