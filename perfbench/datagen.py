"""Seeded generator for the star-schema tables the registry queries read.

The benchmark may read nothing outside its checkout, so it builds its own
inputs. The tables follow the shape of the sf0.1 test data described in
TESTDATA.md: the same names, columns, Arrow types, key ranges and
cardinalities, with every attribute drawn independently and uniformly
(documents carry 5 % near-duplicates that end in `` dup``, as there).
The same seed always writes the same bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
EMBED_DIM = 64


def _date_us(start: dt.date, days: np.ndarray) -> pa.Array:
    base = int(dt.datetime(start.year, start.month, start.day, tzinfo=dt.timezone.utc)
               .timestamp() * 1_000_000)
    return pa.array(base + days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(seed: int) -> dict[str, pa.Table]:
    """Build every table in memory; row counts scale linearly with ``SF``."""
    rng = np.random.default_rng(seed)
    sf = SF
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_vec = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _date_us(dt.date(1995, 1, 1), rng.integers(0, 2404, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _date_us(dt.date(1995, 1, 2), rng.integers(0, 2499, n_line)),
    })
    month_us = 30 * 86_400_000_000
    base_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(base_us + np.sort(rng.integers(0, month_us, n_ev)), pa.timestamp("us")),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, n_doc)]
    n_dup = n_doc // 20
    dup_src = rng.choice(n_doc, n_dup, replace=False)
    dup_dst = rng.choice(n_doc, n_dup, replace=False)
    for src, dst in zip(dup_src, dup_dst):
        if src != dst:
            texts[dst] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM).cast(
            pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return out


def write(seed: int, dest: str) -> str:
    """Write one ``<table>.parquet`` per table under ``dest``; return ``dest``."""
    os.makedirs(dest, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"))
    return dest
