"""Deterministic synthetic corpus for the benchmark.

Writes the TPC-H-like star schema plus the ``events`` and ``documents``
tables the engine's catalog reads (``<dir>/<table>.parquet``), with the
column names, types and value ranges of the engine's test corpus.  Row
counts scale with ``sf`` the same way (lineitem = 6M x sf).

The corpus depends only on ``sf``: a workload's seed picks the operations
it runs, never the data, so the result hashes in ``expected.json`` stay
valid for every seed.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20_240_101
VERSION = 1  # bump when the generated values change; invalidates caches

WORDS = (
    "a the data table row column key value query filter join sort group agg "
    "hash scan merge batch stream window spark fast slow big small order part "
    "line customer vector index cache commit file page block schema delta "
    "iceberg snapshot manifest"
).split()


def _ts(start: dt.datetime, micros: np.ndarray) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(base + micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word texts; every tenth document is a near copy of an earlier
    one (one word changed in a long text, or an exact copy), so the dedup
    operators find real pairs and clusters."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            src = texts[int(rng.integers(0, i))].split()
            if len(src) >= 50 and rng.random() < 0.7:
                src[int(rng.integers(0, len(src)))] = str(rng.choice(vocab))
            texts.append(" ".join(src))
        else:
            k = int(rng.integers(15, 65))
            texts.append(" ".join(rng.choice(vocab, k)))
    langs = np.array(["en", "en", "de", "fr", "es", "zh"])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs[rng.integers(0, len(langs), n)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(CORPUS_SEED)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(10, int(150_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(20, int(50_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array([f"REGION_{i}" for i in range(5)]),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)]),
        }
    )
    day = 86_400_000_000
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 900.0, 500_000.0, n_ord)),
            "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2500, n_ord) * day),
            "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)]),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 100_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_li) * day),
        }
    )
    etypes = np.array(["view", "click", "purchase", "signup", "error"])
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(
                dt.datetime(2024, 1, 1),
                np.sort(rng.integers(0, 30 * day, n_ev)),
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
            "event_type": pa.array(etypes[rng.integers(0, 5, n_ev)]),
            "value": pa.array(_money(rng, 0.0, 200.0, n_ev)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, n_docs)
    return out


def ensure_corpus(root: str, sf: float) -> str:
    """Generate the corpus for ``sf`` under ``root`` once; return its dir.

    A ``_DONE`` marker written last makes a half-written corpus (killed
    run) regenerate instead of being read."""
    out = os.path.join(root, f"v{VERSION}_sf{sf:g}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"), row_group_size=1 << 22)
    with open(os.path.join(out, "_DONE"), "w") as fh:
        fh.write("ok\n")
    return out
