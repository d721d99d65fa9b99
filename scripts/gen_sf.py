"""Generate a larger scale factor of the driver-testdata star schema for
LOCAL measurement only (the driver's own escalated-sf bench generates its
own data; this replica exists so optimization A/Bs can run at a scale where
the heavy queries take seconds — see OPTIMIZATION_r07.md).

Distributions are modeled from the observed read-only sf0.1 tables
(value ranges, category weights, near-dup clone rate, exponential event
values, unit-norm embeddings). Deterministic (numpy seed). NOT driver
data — never used for correctness oracles.

Usage: python scripts/gen_sf.py /root/sfdata/sf1.0 10
  (second arg = multiplier over sf0.1 row counts; default 10)
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUSES = ["O", "P", "F"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
    print(f"  {name}: {table.num_rows} rows")


def _ts_us(spans_days, rng, n, base="2024-01-01"):
    base_us = np.datetime64(base, "us").astype(np.int64)
    offs = np.sort(rng.uniform(0, spans_days * 86400e6, n).astype(np.int64))
    return pa.array(base_us + offs, type=pa.timestamp("us"))


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/sfdata/sf1.0"
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    rng = np.random.default_rng(4242)
    os.makedirs(out_dir, exist_ok=True)
    for small in ("region", "nation"):
        shutil.copy(os.path.join(SRC, f"{small}.parquet"), os.path.join(out_dir, f"{small}.parquet"))
        print(f"  {small}: copied from sf0.1")

    n_cust, n_supp, n_part = 15000 * mult, 1000 * mult, 20000 * mult
    n_orders, n_li, n_events = 150000 * mult, 600000 * mult, 100000 * mult
    n_docs, n_emb = 5000 * mult, 2000 * mult

    # customer ----------------------------------------------------------------
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }))

    # supplier ----------------------------------------------------------------
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
    }))

    # part --------------------------------------------------------------------
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{ADJS[a]} {NOUNS[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(0, 25, n_part)]),
        "p_type": pa.array(np.array(TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }))

    # orders ------------------------------------------------------------------
    ok = np.arange(n_orders, dtype=np.int64)
    base_d = np.datetime64("1995-01-01").astype("datetime64[D]").astype(np.int64)
    odate_days = base_d + rng.integers(0, 2405, n_orders)  # 1995-01-01..2001-08-01
    odate = pa.array((odate_days * 86400_000_000).astype("datetime64[us]"))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n_orders)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": odate,
        "o_orderpriority": pa.array(np.array(PRIOS)[rng.integers(0, 5, n_orders)]),
    }))

    # lineitem ----------------------------------------------------------------
    sdate_days = base_d + rng.integers(0, 2405, n_li) + rng.integers(1, 96, n_li)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array((sdate_days * 86400_000_000).astype("datetime64[us]")),
    }))

    # events ------------------------------------------------------------------
    n_users = max(150, n_events // 67)
    _write(out_dir, "events", pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts_us(30, rng, n_events),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }))

    # documents (5% near-dup clones of an earlier doc, ~0.2% exact clones) ----
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.uniform()
        if i > 10 and r < 0.052:
            src_i = int(rng.integers(0, i))
            words = texts[src_i].split(" ")
            if r > 0.002:  # near clone: substitute 1-2 words
                for _ in range(int(rng.integers(1, 3))):
                    words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
        else:
            ln = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), ln)]))
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))

    # embeddings (unit-norm random float32, dim 64) ---------------------------
    V = rng.standard_normal((n_emb, 64)).astype(np.float32)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(V), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    }))
    # bench.py treats a _DONE marker dir as complete testdata layout
    open(os.path.join(out_dir, "_DONE"), "w").close()
    print(f"wrote {out_dir} (x{mult} of sf0.1)")


if __name__ == "__main__":
    main()
