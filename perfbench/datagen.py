"""Input generation for the benchmark.

Two layers of data:

- The *base tables* are an sf0.1-shaped synthetic star schema plus the
  ``events``, ``documents`` and ``embeddings`` tables, generated from a
  fixed seed and written once per checkout (``ensure_base``). Row counts,
  column types and value domains follow the sf0.1 test set the catalog is
  written against; the catalog workload reads these tables as they are.
- The *pipeline inputs* (``write_landing``) are derived from the base
  ``events`` per workload seed. The seed moves values and row order; it
  never moves the row count or the per-date counts.

Everything is numpy + pyarrow, so generating inputs starts no Spark job.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_SEED = 42
# Bump when the generator changes: a checkout's cached base tables are
# rebuilt when the stamp they were written with differs.
BASE_VERSION = "2"

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENT_DAYS = 30
EVENT_START = _dt.datetime(2024, 1, 1)
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days_since_epoch(d: _dt.date) -> int:
    return (d - _dt.date(1970, 1, 1)).days


def _timestamps_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
        text = " ".join(words)
        if i % 20 == 11:
            # a repetition marker like the sf0.1 corpus' "dup" documents
            text += " dup"
        texts.append(text)
    # a handful of exact duplicates for the dedup queries
    for i in range(8):
        texts[3 * i + 1] = texts[3 * i]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    span_us = EVENT_DAYS * 86_400_000_000
    offsets = np.sort(rng.integers(0, span_us, size=n))
    start_us = _days_since_epoch(EVENT_START.date()) * 86_400_000_000
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": pa.array(start_us + offsets, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, size=n, dtype="int64")),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n)),
            "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
        }
    )


def build_base(dst: str, seed: int = BASE_SEED) -> None:
    """Write the base tables (one parquet file per table) into ``dst``."""
    rng = np.random.default_rng(seed)
    os.makedirs(dst, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_line = 15_000, 1_000, 20_000, 150_000, 600_000

    _write(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype="int32")),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        f"{dst}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype="int32")),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5),
            }
        ),
        f"{dst}/nation.parquet",
    )
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype="int32")),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
                "c_mktsegment": pa.array(
                    rng.choice(
                        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                        n_cust,
                    )
                ),
            }
        ),
        f"{dst}/customer.parquet",
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype="int32")),
                "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
            }
        ),
        f"{dst}/supplier.parquet",
    )
    adjectives = ["large", "hot", "small", "cold", "shiny", "dark", "light", "green"]
    nouns = ["ring", "bolt", "nut", "screw", "gear", "valve", "pipe", "spring"]
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
                "p_name": pa.array(
                    [
                        f"{adjectives[a]} {nouns[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": pa.array(
                    rng.choice(
                        ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"], n_part
                    )
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part, dtype="int32")),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
                ),
            }
        ),
        f"{dst}/part.parquet",
    )
    first_day = _days_since_epoch(_dt.date(1995, 1, 1))
    order_days = first_day + rng.integers(0, 2405, n_ord)
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype="int64")),
                "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
                "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
                "o_orderdate": _timestamps_us(order_days),
                "o_orderpriority": pa.array(
                    rng.choice(
                        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                    )
                ),
            }
        ),
        f"{dst}/orders.parquet",
    )
    l_order = rng.integers(0, n_ord, n_line, dtype="int64")
    quantity = rng.integers(1, 51, n_line).astype("float64")
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(l_order),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype="int64")),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype="int64")),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype="int32")),
                "l_quantity": pa.array(quantity),
                "l_extendedprice": pa.array(
                    np.round(quantity * rng.uniform(900.0, 2100.0, n_line), 2)
                ),
                "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
                "l_returnflag": pa.array(rng.choice(["N", "A", "R"], n_line)),
                "l_linestatus": pa.array(rng.choice(["O", "F"], n_line)),
                "l_shipdate": _timestamps_us(order_days[l_order] + rng.integers(1, 122, n_line)),
            }
        ),
        f"{dst}/lineitem.parquet",
    )
    _write(_events(rng, 100_000), f"{dst}/events.parquet")
    _write(_documents(rng, 5_000), f"{dst}/documents.parquet")
    n_emb, dim = 2_000, 64
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, dim)) * 0.5
    vecs = rng.normal(0.0, 1.0, (n_emb, dim)) + centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb, dtype="int64")),
                "embedding": pa.array(
                    [row.tolist() for row in vecs.astype("float32")],
                    type=pa.list_(pa.float32()),
                ),
                "label": pa.array(labels.astype("int32")),
            }
        ),
        f"{dst}/embeddings.parquet",
    )


def ensure_base(work_dir: str) -> str:
    """Return the base-table directory, building it on first use."""
    dst = os.path.join(work_dir, "base")
    stamp = os.path.join(dst, "_VERSION")
    if os.path.exists(stamp) and open(stamp).read() == BASE_VERSION:
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    build_base(tmp)
    with open(os.path.join(tmp, "_VERSION"), "w") as f:
        f.write(BASE_VERSION)
    os.replace(tmp, dst)
    return dst


def write_landing(base_dir: str, dst: str, seed: int) -> dict:
    """Landing files for the backfill: one parquet file per day of the base
    ``events``. The seed redraws time of day, user, value and the order of
    ``event_type`` within each day; every day keeps its row count and its
    count of each event type.

    Returns ``{"rows": n, "bytes": b, "per_date": {iso: (rows, kept)}}``
    where ``kept`` is the number of rows whose ``event_type`` is not
    ``'error'``."""
    rng = np.random.default_rng(seed)
    events = pq.read_table(f"{base_dir}/events.parquet")
    day_us = 86_400_000_000
    ts = events["ts"].cast(pa.int64()).to_numpy()
    days = ts // day_us
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    per_date = {}
    total_bytes = 0
    for day in np.unique(days):
        idx = np.flatnonzero(days == day)
        n = len(idx)
        part = events.take(pa.array(idx))
        event_type = pc.take(part["event_type"], pa.array(rng.permutation(n)))
        new_ts = day * day_us + np.sort(rng.integers(0, day_us, n))
        table = pa.table(
            {
                "event_id": part["event_id"],
                "ts": pa.array(new_ts, type=pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 1500, n, dtype="int64")),
                "event_type": event_type,
                "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
                "props": part["props"],
            }
        )
        iso = (_dt.date(1970, 1, 1) + _dt.timedelta(days=int(day))).isoformat()
        path = f"{dst}/events_{iso}.parquet"
        _write(table, path)
        total_bytes += os.path.getsize(path)
        kept = n - int(pc.sum(pc.equal(event_type, "error")).as_py() or 0)
        per_date[iso] = (n, kept)
    return {"rows": events.num_rows, "bytes": total_bytes, "per_date": per_date}
