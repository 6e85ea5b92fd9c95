"""Synthetic catalog tables for the benchmark.

Writes the ten tables the package's catalog reads (``region`` ...
``embeddings``, one parquet file each) with the schemas and value domains
listed in FIXTURES.md: a TPC-H-ish star schema, an ``events`` table, a
``documents`` table whose texts come from a 30-word vocabulary with about
5% exact copies marked by a trailing ``dup`` word, and 64-dimensional
unit ``embeddings``. Row counts scale with ``sf`` as in FIXTURES.md.

The tables depend only on ``sf`` and the generator seed, never on a run's
``--seed``: the run seed orders the work, the tables stay fixed, so the
DuckDB oracle results can be computed once per data directory.

Usage: python3 perfbench/datagen.py <out_dir> [sf]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_ADJ = "blue old red small new large hot cold".split()
_NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
_SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
_PTYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n)).astype("datetime64[D]").astype("datetime64[ms]")


def _money(rng, n, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(sf: float, seed: int = GEN_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = (5000, 2000) if sf >= 0.1 else (500, 500)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array(
            np.char.add(
                np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
                np.array(_NOUN)[rng.integers(0, 8, n_part)],
            ).astype(object)
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["N", "A", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.unique(rng.integers(0, span_us, n_ev + n_ev // 100))[:n_ev]
    n_ev = len(ts)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (start_us + ts).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(int(15_000 * sf), 100), n_ev).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]))
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    })
    return out


def write(out_dir: str, sf: float) -> None:
    """Write every table to ``out_dir`` atomically (tmp file + rename)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path + ".tmp")
        os.replace(path + ".tmp", path)


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
