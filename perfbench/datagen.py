"""Seeded input generators for the benchmark.

Everything the benchmark reads is made here from ``--seed``, inside the
benchmark's work directory: the same seed always gives byte-identical
inputs, and no file outside the checkout is read.

* ``write_tables`` writes the registry's ten tables (one single-row-group
  parquet file each) with the schemas and value ranges of the project's
  TPC-H-ish test tables at roughly sf0.01 (lineitem ~60k rows).
* ``write_lines`` writes a line file whose minimal unique prefix length is
  planted: every line starts with a distinct ``depth``-character key, and two
  keys share their first ``depth - 1`` characters, so the answer is exactly
  ``depth`` for every seed and the prefix loop always runs the same number of
  iterations.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# Row counts at the benchmark's scale (the test tables' sf0.01 shape).
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 1500, 100, 2000, 15000
N_EVENTS, N_USERS, N_DOCS, N_VECS, DIM = 10000, 150, 500, 500, 64


def _days(rng, n, start: dt.date, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30
    )


def _documents(rng) -> dict:
    texts = []
    for _ in range(N_DOCS):
        words = rng.choice(VOCAB, int(rng.integers(10, 100)))
        texts.append(" ".join(words))
    # Plant near-duplicates (one word changed) so the dedup operators have
    # pairs to find, as a real crawl would.
    for i in range(0, N_DOCS, 10):
        words = texts[i].split()
        words[int(rng.integers(len(words)))] = str(rng.choice(VOCAB))
        texts[i + 1] = " ".join(words)
    return {
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [str(x) for x in rng.choice(LANGS, N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng) -> dict:
    labels = rng.integers(0, 10, N_VECS)
    centroids = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centroids[labels] * 0.15 + rng.normal(0.0, 1.0, (N_VECS, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def write_tables(out_dir: str, seed: int) -> str:
    """Write the ten registry tables under ``out_dir``; returns ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": [str(x) for x in rng.choice(SEGMENTS, N_CUSTOMER)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(N_PART), i64),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(PART_ADJ, N_PART), rng.choice(PART_NOUN, N_PART))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [str(x) for x in rng.choice(PART_TYPES, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS), i64),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
        "o_orderstatus": [str(x) for x in rng.choice(["F", "O", "P"], N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _days(rng, N_ORDERS, dt.date(1995, 1, 1), 2404),
        "o_orderpriority": [str(x) for x in rng.choice(PRIORITIES, N_ORDERS)],
    })
    lines_per_order = np.clip(rng.poisson(4.0, N_ORDERS), 0, 13)
    n_li = int(lines_per_order.sum())
    order_of = np.repeat(np.arange(N_ORDERS), lines_per_order)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per_order if k])
    perm = rng.permutation(n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(order_of[perm], i64),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), i64),
        "l_linenumber": pa.array(linenumber[perm], i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [str(x) for x in rng.choice(["A", "N", "R"], n_li)],
        "l_linestatus": [str(x) for x in rng.choice(["F", "O"], n_li)],
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), 2498),
    })
    gaps_us = rng.exponential(259e6, N_EVENTS).astype(np.int64) + 1000
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(N_EVENTS), i64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), i64),
        "event_type": [str(x) for x in rng.choice(EVENT_TYPES, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    _write(out_dir, "documents", _documents(rng))
    _write(out_dir, "embeddings", _embeddings(rng))
    return out_dir


def planted_keys(seed: int, n: int, depth: int) -> list[str]:
    """``n`` distinct ``depth``-letter keys; keys 0 and 1 agree on their first
    ``depth - 1`` letters, so no shorter prefix is unique."""
    rng = np.random.default_rng(seed)
    space = 26**depth
    if n > space // 4:
        raise ValueError("too many lines for the planted depth")
    codes = np.unique(rng.integers(0, space, 2 * n))
    codes = rng.permutation(codes)[:n]
    digits = np.stack([(codes // 26**k) % 26 for k in range(depth - 1, -1, -1)], axis=1)
    keys = ["".join(row) for row in ALPHABET[digits]]
    twin = keys[0][:-1] + ALPHABET[(ALPHABET.tolist().index(keys[0][-1]) + 1) % 26]
    if twin in keys:  # keep the keys distinct: swap the twin into slot 1
        keys[keys.index(twin)] = keys[1]
    keys[1] = twin
    return keys


def write_lines(path: str, seed: int, n: int, depth: int) -> str:
    """Write ``n`` email-like lines whose minimal unique prefix is ``depth``."""
    rng = np.random.default_rng(seed + 1)
    keys = planted_keys(seed, n, depth)
    tails = rng.integers(0, 10**6, n)
    domains = rng.choice(["example.com", "mail.test", "corp.example.org"], n)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for k, t, d in zip(keys, tails, domains):
            f.write(f"{k}.{t}@{d}\n")
    return path
