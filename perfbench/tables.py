"""Seeded generator for the TPC-H-shaped tables the registry queries read.

Schemas and value domains follow the repository's testdata tier sf0.01
(TESTDATA.md): the same column names and physical types, the same
categorical values and ranges, one ``<table>.parquet`` file per table.
The documents include exact and near duplicates so the dedup operators
find groups, and embeddings are unit vectors clustered by label.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table: the sf0.01 tier. At the sf0.1 tier a run took 80 s on a
#: 4-core VM (a 45 s set-up with a cold first pass, a 23 s timed pass),
#: which the benchmark's run budget cannot hold (perfbench/README.md).
SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
EMBED_DIM = 64


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = SIZES
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS}),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": i32([k % 5 for k in range(25)]),
        }),
    }
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
        "c_nationkey": i32(rng.integers(0, 25, n["customer"])),
        "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
        "s_nationkey": i32(rng.integers(0, 25, n["supplier"])),
        "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
    })
    keys = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n["part"]),
                                              rng.choice(NOUNS, n["part"]))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(PART_TYPES, n["part"]),
        "p_size": i32(rng.integers(1, 51, n["part"])),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(rng, n["orders"], 1000.0, 500000.0),
        "o_orderdate": _days(rng, n["orders"], "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n["orders"]),
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": i32(rng.integers(1, 8, m)),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, m, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["F", "O"], m),
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    gaps = rng.exponential(30 * 86400e6 / e, e).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 150, e),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for k in range(n):
        r = rng.random()
        if texts and r < 0.08:  # exact duplicate of an earlier document
            texts.append(texts[rng.integers(len(texts))])
        elif texts and r < 0.16:  # near duplicate: a few words replaced
            words = texts[rng.integers(len(texts))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[rng.integers(len(VOCAB))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(10, 100))))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(seed: int, out_dir: str) -> int:
    """Generate every table into ``out_dir``; returns the bytes written."""
    os.makedirs(out_dir)
    size = 0
    for name, table in _tables(np.random.default_rng(seed)).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        size += os.path.getsize(path)
    return size
