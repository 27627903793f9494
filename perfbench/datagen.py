"""Deterministic test tables for the ``queries`` workload.

Writes the ten tables the query registry reads (``region`` ...
``embeddings``, one parquet file each) with the schemas and value
distributions of the engine's synthetic star schema, at a chosen scale
factor. The same ``seed`` and ``sf`` always give the same bytes, so a
run never depends on data outside its own directory.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "green", "big", "shiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "panel", "valve", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
_EMBED_DIM = 64  # the committed PQ/IVF fixtures are trained for 64 dims


def _days(rng, n, start, stop):
    """n random midnights in [start, stop) as timestamp[us]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(stop, "D").astype(np.int64)
    return (rng.integers(lo, hi, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    pk = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-05"),
        }
    )
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64) + 1
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array((t0 + np.cumsum(gaps)).astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_VOCAB, n_tok)))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_emb, _EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return out


def write(out_dir: str, sf: float = 0.01, seed: int = 42) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir

