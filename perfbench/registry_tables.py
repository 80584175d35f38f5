"""Seeded generator for the query-registry tables (TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``).

``entry_queries`` reads ``<sf_dir>/<table>.parquet``, one file per table. This
module writes that layout from a seed with numpy + pyarrow, so the benchmark
needs no input from outside its checkout. Column names and types match what
the registry's Spark plans and DuckDB oracles read; value domains follow the
usual TPC-H shapes (row counts scale with ``sf`` like TPC-H: 6M lineitem rows
per unit). The same (seed, sf) always writes the same values.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "shiny"]
_PART_NOUN = ["ring", "widget", "plate", "rod", "bolt", "gizmo", "gear", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EMBED_DIM = 64
_EMBED_CLUSTERS = 10


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _tables(seed: int, sf: float) -> dict[str, dict[str, pa.Array]]:
    rng = np.random.default_rng((seed, 0x7AB1E5))
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_event = max(1_000, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    n_vec = max(50, int(50_000 * sf))

    out: dict[str, dict[str, pa.Array]] = {}
    out["region"] = {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }
    nk = np.arange(25, dtype=np.int32)
    out["nation"] = {
        "n_nationkey": pa.array(nk),
        "n_name": pa.array([f"NATION_{i}" for i in nk]),
        "n_regionkey": pa.array(nk % 5),
    }
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = {
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = {
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    out["part"] = {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(_PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
    }
    # as in TPC-H, a third of the customers never order (custkey % 3 == 0),
    # so the anti-join query has rows to return
    ordering = ck[ck % 3 != 0]
    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(ordering[rng.integers(0, len(ordering), n_ord)]),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }
    out["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n_line)),
    }
    # one month of events with microsecond timestamps, in time order
    micros = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_event))
    out["events"] = {
        "event_id": pa.array(np.arange(n_event, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + micros),
        "user_id": pa.array(rng.integers(0, max(20, n_event // 66), n_event)),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(0, 5, n_event)]),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_event), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_event)]),
    }
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_vec)
    return out


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Bag-of-words texts over a 30-word vocabulary; 5% of them are near
    duplicates (an earlier text with ``dup`` appended) for the dedup family."""
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(k))])
        for k in rng.integers(10, 100, n)
    ]
    for i in rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, size=n, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    """Unit vectors around ``_EMBED_CLUSTERS`` centroids, labelled by centroid."""
    centers = rng.normal(0.0, 1.0, (_EMBED_CLUSTERS, _EMBED_DIM))
    label = rng.integers(0, _EMBED_CLUSTERS, n).astype(np.int32)
    vecs = centers[label] + rng.normal(0.0, 0.8, (n, _EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in _tables(seed, sf).items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
