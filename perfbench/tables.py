"""Seeded stand-in for the engine's sf0.1 star schema.

The relational and LLM-pipeline queries read ten parquet tables
(``geoparquet_python_spark.io.TABLES``). The benchmark may only read
files inside its own checkout, so it generates tables with the same
names, column types, row counts and value distributions as the sf0.1
test tables (independent uniform draws, TPC-H-like domains, sorted
event timestamps, a document corpus over a 30-word vocabulary with 5 %
near-duplicates, unit-norm 64-d embeddings).

Generation is pure numpy/pyarrow and takes a few seconds, so it runs
once per checkout; ``ensure_tables`` reuses a complete earlier copy.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generator changes, so a stale cached copy is rebuilt.
VERSION = "1"
TABLE_SEED = 42

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> np.ndarray:
    start, stop = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    off = rng.integers(0, (stop - start).astype(int) + 1, n)
    return (start + off).astype("datetime64[us]")


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: list[str], n: int, rng: np.random.Generator, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).dictionary_decode()


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator) -> pa.Table:
    n_tok = rng.integers(10, 101, N_DOCUMENTS)
    words = rng.integers(0, len(VOCAB), int(n_tok.sum()))
    ends = np.cumsum(n_tok)
    texts = [
        " ".join(VOCAB[w] for w in words[e - k : e]) for e, k in zip(ends, n_tok)
    ]
    # 5 % near-duplicates: an earlier document's text plus one token.
    dup = rng.choice(N_DOCUMENTS, N_DOCUMENTS // 20, replace=False)
    base = rng.integers(0, N_DOCUMENTS, dup.size)
    for d, b in zip(dup, base):
        texts[d] = texts[b] + " dup"
    ids = np.arange(N_DOCUMENTS, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(LANGS, N_DOCUMENTS, rng, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    v = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, v.size + 1, EMBED_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32),
    })


def _events(rng: np.random.Generator) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, N_EVENTS)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1_500, N_EVENTS).astype(np.int64),
        "event_type": _pick(EVENT_TYPES, N_EVENTS, rng),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })


def generate(rng: np.random.Generator) -> dict[str, pa.Table]:
    """Every table of the schema, drawn from ``rng`` in a fixed order."""
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": _names("Customer", N_CUSTOMER),
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(-999.99, 9999.99, N_CUSTOMER, rng),
        "c_mktsegment": _pick(SEGMENTS, N_CUSTOMER, rng),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": _names("Supplier", N_SUPPLIER),
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(-999.99, 9999.99, N_SUPPLIER, rng),
    })
    pk = np.arange(N_PART, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": _pick(PART_TYPES, N_PART, rng),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": _pick(["F", "O", "P"], N_ORDERS, rng),
        "o_totalprice": _money(1000.0, 500000.0, N_ORDERS, rng),
        "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", N_ORDERS, rng)),
        "o_orderpriority": _pick(PRIORITIES, N_ORDERS, rng),
    })
    n = N_LINEITEM
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, n).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, n, rng),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], n, rng),
        "l_linestatus": _pick(["F", "O"], n, rng),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n, rng)),
    })
    t["events"] = _events(rng)
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def ensure_tables(root: str) -> str:
    """Directory holding the generated tables, built under ``root`` on
    first use. The copy is written to a temporary name and renamed, so
    an interrupted build is never mistaken for a complete one."""
    out = os.path.join(root, f"sf0.1-v{VERSION}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in generate(np.random.default_rng(TABLE_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out)
    return out
