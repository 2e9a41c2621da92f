"""Benchmark inputs, generated from a seed.

Two kinds of input live here:

- ``write_tables``: the ten catalog tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) in the schemas of
  FIXTURES.md §3-§5, at sf0.1 row counts.  The catalog workload's seed
  only permutes query order, so the tables use one fixed seed and are
  written once per checkout.
- ``write_backlog``: a closed backlog of JSON-lines files of
  ``bank_account`` records (FIXTURES.md §1, about 172 B per record).

Everything is numpy/pyarrow on the driver: the program under test
receives only the files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
# sf0.1 row counts of the catalog's fact and dimension tables.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old"]
PART_NOUN = ["bolt", "gear", "plate", "ring", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.datetime, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _documents(rng) -> dict:
    n = ROWS["documents"]
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    # Plant exact and near duplicates for the dedup operators.
    for i in range(0, n, 500):
        texts[i + 1] = texts[i]
        words = texts[i].split()
        words[len(words) // 2] = "dup"
        texts[i + 2] = " ".join(words)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng) -> pa.Table:
    n = ROWS["embeddings"]
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    centres = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    vecs = centres[labels] + rng.normal(0.0, 0.8, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def build_tables(seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    nc, ns, npart, no, nl, ne = (
        ROWS[t] for t in ("customer", "supplier", "part", "orders", "lineitem", "events")
    )
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    t = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": i64(range(nc)),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": i32(rng.integers(0, 25, nc)),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": i64(range(ns)),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": i64(range(npart)),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": rng.choice(PART_TYPES, npart),
            "p_size": i32(rng.integers(1, 51, npart)),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    orderdate = _days(rng, dt.datetime(1995, 1, 1), 2404, no)
    t["orders"] = pa.table(
        {
            "o_orderkey": i64(range(no)),
            "o_custkey": i64(rng.integers(0, nc, no)),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": pa.array(orderdate),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    l_order = rng.integers(0, no, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": i64(l_order),
            "l_partkey": i64(rng.integers(0, npart, nl)),
            "l_suppkey": i64(rng.integers(0, ns, nl)),
            "l_linenumber": i32(rng.integers(1, 8, nl)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": pa.array(
                orderdate[l_order] + rng.integers(1, 122, nl).astype("timedelta64[D]")
            ),
        }
    )
    ts = np.datetime64(dt.datetime(2024, 1, 1), "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, ne)
    ).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": i64(range(ne)),
            "ts": pa.array(ts),
            "user_id": i64(rng.integers(0, 1500, ne)),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = pa.table(_documents(rng))
    t["embeddings"] = _embeddings(rng)
    return t


def write_tables(out_dir: str, seed: int = TABLE_SEED) -> str:
    """Write the catalog tables under ``out_dir`` once; later calls
    reuse them.  The directory appears atomically, so an interrupted
    write is never mistaken for a finished one."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = f"{out_dir}.partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out_dir)
    return out_dir


def write_backlog(out_dir: str, seed: int, n_files: int, records_per_file: int) -> dict:
    """Land ``n_files`` JSON-lines files of ``bank_account`` records and
    return them keyed by id.  Same seed, same bytes."""
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    records = {}
    for f in range(n_files):
        lines = []
        for _ in range(records_per_file):
            rec = {
                "id": str(uuid.UUID(int=rnd.getrandbits(128), version=4)),
                "firstname": rnd.choice(VOCAB).title(),
                "lastname": rnd.choice(VOCAB).title(),
                "description": " ".join(rnd.choices(VOCAB, k=10)),
                "balance": rnd.randrange(10_000),
            }
            records[rec["id"]] = rec
            lines.append(json.dumps(rec, ensure_ascii=False))
        with open(os.path.join(out_dir, f"part-{f:05d}.json"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
    return records
