"""Seeded generator of the analytics workload's input tables.

The registry queries read ten parquet tables: a TPC-H-like star schema
(region nation customer supplier part orders lineitem), an ``events``
stream, a ``documents`` text corpus and an ``embeddings`` table. This
module writes tables of the same names, column types and value domains,
at the row counts of scale factor 0.01, from a seed. Only the values
depend on the seed; row counts and domains are fixed.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EVENT_USERS = 150
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["big", "blue", "green", "red", "small", "steel", "tiny", "wooden"]
PART_NOUN = ["bolt", "gear", "nut", "pipe", "ring", "screw", "valve", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
EMBED_CLUSTERS = 10


def _write(out: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), out / f"{name}.parquet", compression="snappy")


def _days(rng, n: int, start: str, span: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng) -> dict:
    n = ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near duplicate of an earlier document: same text, one word appended
            texts.append(texts[int(rng.integers(0, i))] + " " + VOCAB[int(rng.integers(len(VOCAB)))])
            continue
        length = int(rng.integers(48, 554))
        words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), length // 3)]
        text = " ".join(words)[:length]
        if rng.random() < 0.05:
            text = text[: max(0, length - 4)] + " dup"
        texts.append(text)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng) -> dict:
    n = ROWS["embeddings"]
    centers = rng.normal(0, 1, (EMBED_CLUSTERS, EMBED_DIM))
    label = rng.integers(0, EMBED_CLUSTERS, n).astype(np.int32)
    x = rng.normal(0, 1, (n, EMBED_DIM)) + 0.5 * centers[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": label,
    }


def write_tables(out: Path, seed: int) -> None:
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    n = ROWS["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })
    n = ROWS["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, n, -999.99, 9999.99),
    })
    n = ROWS["part"]
    _write(out, "part", {
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
    })
    n = ROWS["orders"]
    _write(out, "orders", {
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": _days(rng, n, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })
    n = ROWS["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, ROWS["orders"], n),
        "l_partkey": rng.integers(0, ROWS["part"], n),
        "l_suppkey": rng.integers(0, ROWS["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", 2500),
    })
    n = ROWS["events"]
    # microsecond timestamps, as in the repository's sf tables (parquet
    # TIMESTAMP(MICROS), not adjusted to UTC)
    gaps = rng.exponential(30 * 86400e6 / n, n).astype(np.int64) + 1
    _write(out, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, EVENT_USERS, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    _write(out, "documents", _documents(rng))
    _write(out, "embeddings", _embeddings(rng))
