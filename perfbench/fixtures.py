"""Deterministic synthetic fixtures in the shape of the engine's test tables.

Writes one parquet file per table (TPC-H-like star schema plus the events,
documents and embeddings tables) with the schemas and value distributions
of the engine's reference fixtures. The data seed is fixed, so every run of
the benchmark reads byte-identical inputs; the workload seed only chooses
operation order and call parameters.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
_DAY_US = 86_400_000_000

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


@dataclass(frozen=True)
class Scale:
    """Row counts; `lineitem` follows from orders (1 to 7 lines each)."""

    customer: int
    supplier: int
    part: int
    orders: int
    events: int
    documents: int
    embeddings: int


def _days_us(start: str) -> int:
    return int(np.datetime64(start, "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, scale: Scale) -> None:
    """Write every table under `out_dir` as `<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(
        out_dir,
        "region",
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS},
        pa.schema([("r_regionkey", i32), ("r_name", s)]),
    )
    nk = np.arange(25, dtype=np.int32)
    _write(
        out_dir,
        "nation",
        {
            "n_nationkey": nk,
            "n_name": [f"NATION_{k}" for k in nk],
            "n_regionkey": (nk % 5).astype(np.int32),
        },
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]),
    )

    n = scale.customer
    _write(
        out_dir,
        "customer",
        {
            "c_custkey": np.arange(n, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n)],
            "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": rng.choice(_SEGMENTS, n),
        },
        pa.schema(
            [
                ("c_custkey", i64),
                ("c_name", s),
                ("c_nationkey", i32),
                ("c_acctbal", f64),
                ("c_mktsegment", s),
            ]
        ),
    )

    n = scale.supplier
    _write(
        out_dir,
        "supplier",
        {
            "s_suppkey": np.arange(n, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n)],
            "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        },
        pa.schema(
            [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]
        ),
    )

    n = scale.part
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    retail = np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)
    _write(
        out_dir,
        "part",
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": rng.choice(names, n),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(_PART_TYPES, n),
            "p_size": rng.integers(1, 51, n, dtype=np.int32),
            "p_retailprice": retail,
        },
        pa.schema(
            [
                ("p_partkey", i64),
                ("p_name", s),
                ("p_brand", s),
                ("p_type", s),
                ("p_size", i32),
                ("p_retailprice", f64),
            ]
        ),
    )

    n = scale.orders
    d0, d1 = _days_us("1995-01-01"), _days_us("2001-08-01")
    odate = d0 + rng.integers(0, (d1 - d0) // _DAY_US + 1, n) * _DAY_US
    _write(
        out_dir,
        "orders",
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, scale.customer, n, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": odate,
            "o_orderpriority": rng.choice(_PRIORITIES, n),
        },
        pa.schema(
            [
                ("o_orderkey", i64),
                ("o_custkey", i64),
                ("o_orderstatus", s),
                ("o_totalprice", f64),
                ("o_orderdate", ts),
                ("o_orderpriority", s),
            ]
        ),
    )

    # lineitem: 1..7 lines per order, (l_orderkey, l_linenumber) unique,
    # rows shuffled so files carry no key clustering of their own
    per_order = rng.integers(1, 8, scale.orders)
    lk = np.repeat(np.arange(scale.orders, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    ln = (np.arange(len(lk)) - starts + 1).astype(np.int32)
    order = rng.permutation(len(lk))
    lk, ln = lk[order], ln[order]
    n = len(lk)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = _days_us("1995-01-02") + rng.integers(0, 2499, n) * _DAY_US
    _write(
        out_dir,
        "lineitem",
        {
            "l_orderkey": lk,
            "l_partkey": rng.integers(0, scale.part, n, dtype=np.int64),
            "l_suppkey": rng.integers(0, scale.supplier, n, dtype=np.int64),
            "l_linenumber": ln,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": ship,
        },
        pa.schema(
            [
                ("l_orderkey", i64),
                ("l_partkey", i64),
                ("l_suppkey", i64),
                ("l_linenumber", i32),
                ("l_quantity", f64),
                ("l_extendedprice", f64),
                ("l_discount", f64),
                ("l_tax", f64),
                ("l_returnflag", s),
                ("l_linestatus", s),
                ("l_shipdate", ts),
            ]
        ),
    )

    n = scale.events
    t0 = _days_us("2024-01-01")
    gaps = rng.exponential(30 * _DAY_US / n, n)
    tss = t0 + np.minimum(np.cumsum(gaps), 30 * _DAY_US - 1).astype(np.int64)
    _write(
        out_dir,
        "events",
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": tss,
            "user_id": rng.integers(0, max(1, scale.customer // 10), n, dtype=np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        },
        pa.schema(
            [
                ("event_id", i64),
                ("ts", ts),
                ("user_id", i64),
                ("event_type", s),
                ("value", f64),
                ("props", s),
            ]
        ),
    )

    n = scale.documents
    texts = [
        " ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))) for _ in range(n)
    ]
    # one document in twenty is a near-duplicate: another document's
    # text plus a marker word (chains happen, as in the reference data)
    for t in rng.choice(n, n // 20, replace=False):
        src = (t + int(rng.integers(1, n))) % n
        texts[t] = texts[src] + " dup"
    _write(
        out_dir,
        "documents",
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n, p=_LANG_P),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        pa.schema(
            [
                ("doc_id", i64),
                ("text", s),
                ("lang", s),
                ("source", s),
                ("n_chars", i64),
            ]
        ),
    )

    n = scale.embeddings
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        out_dir,
        "embeddings",
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n, dtype=np.int32),
        },
        pa.schema(
            [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]
        ),
    )


def digest(out_dir: str) -> str:
    """Content hash of the generated files (keys the oracle cache)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(out_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]
