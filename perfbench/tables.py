"""Deterministic generator of the engine's synthetic input tables.

The registry queries read ten parquet tables (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``; schemas in the repo's
FIXTURES.md). The benchmark may read only inside its own checkout, so it
generates them at scale factor ``sf`` from one fixed seed: every run, on
every commit, reads byte-identical inputs. The ``--seed`` of a run never
reaches this module; it only reorders operations or shapes journey CSVs.

Column distributions follow the tables the engine's tests use at the
same scale (uniform keys and dates, exponential event values, a 30-word
document vocabulary with ~5% near-duplicate documents, unit-norm 64-d
embeddings).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Fixed data seed. Changing it changes every expected output digest.
DATA_SEED = 20240101

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ("large", "hot", "blue", "red", "new", "small", "cold", "old")
_NOUN = ("ring", "bolt", "anvil", "rod", "plate", "gear", "widget", "gizmo")


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document, marked like the
            # reference corpus; one in eight is copied verbatim
            words = texts[int(rng.integers(0, i))].split()
            if words[-1] == "dup":
                words = words[:-1]
            if rng.random() >= 0.125:
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, 30))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, 30, k)))
    langs = np.array(["en", "fr", "es", "zh", "de"])[
        rng.choice(5, n, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    ]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (sf0.1: 600k lineitem rows)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
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
    segments = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)].tolist(),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)].tolist(),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04"), pa.timestamp("us")),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400_000_000
    ts = np.sort(t0 + rng.integers(0, span_us, n_ev)).astype("datetime64[us]")
    kinds = np.array(["signup", "click", "error", "view", "purchase"])
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": kinds[rng.integers(0, 5, n_ev)].tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n_doc)
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return out


def ensure_tables(sf_dir: str, sf: float) -> str:
    """Write the tables under ``sf_dir`` unless a complete set is there.

    Files are written beside their final name and renamed, so a run cut
    short never leaves a partial table that a later run would trust."""
    if all(os.path.exists(os.path.join(sf_dir, f"{t}.parquet")) for t in TABLES):
        return sf_dir
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in build_tables(sf).items():
        final = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, final + ".tmp")
        os.replace(final + ".tmp", final)
    return sf_dir
