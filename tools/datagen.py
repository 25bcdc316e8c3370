"""Local synthetic-data generator for scale-stress sweeps.

Mimics the driver-generated tables at /root/testdata/sf* (schemas, value
domains, and distributions reverse-engineered from the sf0.01/sf0.1 parquet)
so the full oracle sweep and bench can run one or two notches above the
largest given scale factor.  Output lives under ``.localdata/`` at the
checkout root (gitignored); the given test data is never touched.

Deterministic under a fixed seed.  Usage:

    python tools/datagen.py 0.5 [outdir]

Row counts scale linearly with sf (matching the driver's observed ratios):
customer 150k*sf, supplier 10k*sf, part 200k*sf, orders 1.5M*sf,
lineitem ~4 lines/order, events 1M*sf over 15k*sf users, documents 50k*sf,
embeddings 20k*sf.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
MKTSEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
OPRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
OSTATUS = ["O", "F", "P"]
ADJ = ["small", "red", "blue", "hot", "large", "green", "cold", "dark"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "tube", "cog"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "zh", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "big query small row part stream scan vector value slow hash line a "
    "table sort key agg fast merge batch spark the window join group filter "
    "index page block column cache"
).split()

DAY_US = 86_400_000_000


def _ts_us(base_iso: str, us: np.ndarray) -> pa.Array:
    base = np.datetime64(base_iso, "us")
    return pa.array(base + us.astype("timedelta64[us]"))


def gen(sf: float, out: str) -> None:
    rng = np.random.default_rng(SEED)
    os.makedirs(out, exist_ok=True)

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        print(f"  {name}: {table.num_rows} rows")

    # region / nation (fixed)
    write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    # events scale at 1M*sf with 15k*sf users (measured on the driver's
    # sf0.01/0.1 parquet: 10k/100k events over 150/1500 users — a constant
    # ~67 events/user).  The original 10M*sf with 1.5k*sf users made the
    # per-user series 66x longer than the driver's, which is quadratic
    # death for the sequential-walk recursive-CTE oracles (rate limiter,
    # EWMA) at sf0.5.
    n_evt = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)

    write("customer", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10_000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(MKTSEGS)[rng.integers(0, 5, n_cust)]),
    }))

    write("supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 10_000, n_supp), 2),
    }))

    adj = np.array(ADJ)[rng.integers(0, len(ADJ), n_part)]
    noun = np.array(NOUN)[rng.integers(0, len(NOUN), n_part)]
    write("part", pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([f"{a} {n}" for a, n in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + 0.1 * np.arange(n_part) % 99_000, 2),
    }))

    odate_us = rng.integers(0, 2404, n_ord) * DAY_US  # 1995-01-01 .. 2001-08-01
    write("orders", pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(OSTATUS)[rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])]),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
        "o_orderdate": _ts_us("1995-01-01T00:00:00", odate_us),
        "o_orderpriority": pa.array(np.array(OPRIO)[rng.integers(0, 5, n_ord)]),
    }))

    lines_per = rng.integers(1, 8, n_ord)  # mean ~4, max 7 (driver max 13)
    n_li = int(lines_per.sum())
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    linenum = (np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship_us = np.repeat(odate_us, lines_per) + rng.integers(1, 121, n_li) * DAY_US
    rf = np.where(rng.random(n_li) < 0.5, "N", np.where(rng.random(n_li) < 0.5, "A", "R"))
    write("lineitem", pa.table({
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(rf),
        "l_linestatus": pa.array(np.where(rng.random(n_li) < 0.5, "O", "F")),
        "l_shipdate": _ts_us("1995-01-01T00:00:00", ship_us),
    }))

    n_users = max(int(15_000 * sf), 10)
    evt_us = np.sort(rng.integers(0, 30 * DAY_US, n_evt))
    write("events", pa.table({
        "event_id": pa.array(range(n_evt), pa.int64()),
        "ts": _ts_us("2024-01-01T00:00:00", evt_us),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)]),
        "value": np.round(rng.uniform(0, 1000, n_evt), 3),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    }))

    # documents: bag-of-words over a 31-word vocab, 10-100 words, with a small
    # exact-duplicate fraction (~0.16%, matching sf0.1's 8/5000) plus a few
    # near-duplicates so the Jaccard/MinHash/SimHash paths have real work.
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), ln)]) for ln in lengths]
    n_dup = max(2, n_doc // 600)
    for i in rng.choice(n_doc, n_dup, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    n_near = max(2, n_doc // 400)
    for i in rng.choice(n_doc, n_near, replace=False):
        src = texts[int(rng.integers(0, n_doc))].split()
        if len(src) > 3:
            src[int(rng.integers(0, len(src)))] = vocab[int(rng.integers(0, len(vocab)))]
        texts[i] = " ".join(src)
    write("documents", pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))

    # embeddings: unit-norm 64-dim with a weak label-cluster bias (same-label
    # mean cosine ~0.025, matching the driver data).
    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0, 1, (n_emb, 64)) + 0.18 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array([v for v in vecs.astype(np.float32)],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))


if __name__ == "__main__":
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.5
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        repo, ".localdata", f"sf{sf}"
    )
    print(f"generating sf={sf} -> {out}")
    gen(sf, out)
