"""Deterministic sf0.1 fixture tables for the benchmark.

The engine's queries read ten parquet tables (``tables.TABLES``). The
benchmark may read only its own checkout, so it writes its inputs
itself: the same schemas, row counts and value distributions as the
sf0.1 fixture set, one parquet file with one row group per table, from
a fixed data seed. The CLI ``--seed`` does not change the data (it
permutes query order, see ``run.py``), so every run of every seed
measures the same bytes.

Shape notes, taken from the sf0.1 fixture footers and value profile:

- TPC-H-ish star: lineitem 600k rows over 150k orders (uniform FKs, so
  ~2% of orders have no lines), 15k customers, 20k parts, 1k suppliers,
  25 nations, 5 regions;
- events: 100k rows, event_id in ts order, exponential inter-arrival
  gaps over 30 days from 2024-01-01, 1,500 users, 5 event types,
  exponential ``value`` (mean 50, 2 dp), ``props`` = ``{"k": 0..99}``;
- documents: 5k docs of 10-100 tokens from a 30-word vocabulary;
  8 exact-duplicate texts and 250 near-duplicates (a copy of an
  earlier doc with `` dup`` appended), so the dedup operators have work;
- embeddings: 2k unit-norm float32 vectors of dim 64, labels 0-9.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
FORMAT_VERSION = 1

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = "red new hot small large blue green old".split()
_NOUN = "bolt anvil ring rod plate nut gear pipe".split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; pure function of ``seed``."""
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    out["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), p)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, p)],
        "p_type": np.array(_TYPES)[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, o)],
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _days(rng, li, "1995-01-02", "2001-11-04"),
    })
    ev = n["events"]
    gaps_us = np.maximum(1, (rng.exponential(25.9, ev) * 1e6).astype(np.int64))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us)
    out["events"] = pa.table({
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, 1500, ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, ev)],
        "value": np.round(rng.exponential(50.0, ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ev)],
    })
    out["documents"] = _documents(rng, n["documents"])
    e = n["embeddings"]
    x = rng.standard_normal((e, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(e, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, e).astype(np.int32)),
    })
    return out


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # Near-duplicates first, then exact duplicates that overwrite only
    # plain docs, so both populations survive intact.
    ids = rng.permutation(n)
    for src, dst in zip(ids[:250], ids[250:500]):
        texts[dst] = texts[src] + " dup"
    for src, dst in zip(ids[500:508], ids[508:516]):
        texts[dst] = texts[src]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def ensure(root: str) -> str:
    """Write the tables under ``root/sf0.1-v<N>`` once; return that dir.

    A stamp file written last marks a complete set, so a run killed
    mid-write regenerates instead of reading a torn table.
    """
    out = os.path.join(root, f"sf0.1-v{FORMAT_VERSION}")
    stamp = os.path.join(out, "_COMPLETE")
    if os.path.exists(stamp):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in build_tables().items():
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, row_group_size=table.num_rows)
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(dt.datetime.now(dt.timezone.utc).isoformat() + "\n")
    return out

