"""Seeded generator for the analytics workload's input tables.

Writes the ten tables the operator battery reads (``region`` .. ``embeddings``,
one ``<name>.parquet`` file each) with the schemas and value distributions of
the repository's TPC-H-like test data, at a size given by ``scale`` (1.0 =
the 60k-row lineitem tier). The same seed always yields byte-identical
tables; the program only ever sees the generated files.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _rng(seed: str, table: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{seed}|{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, int((hi_d - lo_d).astype(int)) + 1, n)
    return (lo_d + off).astype("datetime64[us]")


def _cents(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: str, scale: float) -> dict[str, pa.Table]:
    n_cust = max(50, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(100, int(2000 * scale))
    n_ord = max(500, int(15000 * scale))
    n_line = 4 * n_ord
    n_ev = max(500, int(10000 * scale))
    n_doc = max(200, int(500 * scale))
    n_emb = max(200, int(500 * scale))
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })

    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), i32),
        "c_acctbal": _cents(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": r.choice(SEGMENTS, n_cust),
    })

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), i32),
        "s_acctbal": _cents(r, n_supp, -999.99, 9999.99),
    })

    r = _rng(seed, "part")
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(PTYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })

    # as in TPC-H, every third customer places no orders (the anti-join
    # query's answer set)
    r = _rng(seed, "orders")
    ordering_custs = np.arange(n_cust)[np.arange(n_cust) % 3 != 0]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(r.choice(ordering_custs, n_ord), i64),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _cents(r, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": r.choice(PRIORITIES, n_ord),
    })

    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), i32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(r, n_line, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04"),
    })

    r = _rng(seed, "events")
    gaps = r.exponential(260.0, n_ev) * 1e6
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": ts,
        "user_id": pa.array(r.integers(0, max(20, n_cust // 10), n_ev), i64),
        "event_type": r.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    # documents: random word streams over a small vocabulary, ~5% of them a
    # near-duplicate (an earlier document plus one token) for the dedup ops
    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(VOCAB, int(r.integers(10, 101)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": r.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    r = _rng(seed, "embeddings")
    vecs = r.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), i32),
    })
    return out


def write_tables(seed: str, scale: float, out_dir: str) -> None:
    """Generate and land every table under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
