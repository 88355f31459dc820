"""Deterministic source tables for the benchmark.

The corpus has the shape of the project's synthetic test data (a
``documents`` text table, an ``events`` stream table and TPC-H-style
``orders``), generated here so a run reads nothing outside its own
checkout.  Row counts scale with ``sf`` the way the test data does
(sf0.1 = 5,000 documents, 100,000 events, 150,000 orders).

The corpus is a fixed dataset, not a per-run input: it is always
generated from ``CORPUS_SEED``, so every run and every seed measure the
same index.  The per-run seed drives the requests and ingest batches
(``workload.py``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20240101

# The documents vocabulary of the test data (30 words, near-uniform).
DOC_WORDS = (
    "a agg batch column customer data fast filter group hash index join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
ORDER_STATUS = ("O", "P", "F")
ORDER_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
N_SOURCES = 20
N_PROPS = 100

# 2024-01-01 00:00:00 UTC in microseconds; events span 30 days.
EVENT_T0_US = 1704067200 * 1_000_000
EVENT_SPAN_US = 30 * 86400 * 1_000_000
# orders span 1995-01-01 .. 2001-08-01, at midnight
ORDER_D0 = np.datetime64("1995-01-01")
ORDER_DAYS = int((np.datetime64("2001-08-01") - ORDER_D0).astype(int))


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "documents": max(1, round(50_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(DOC_WORDS)
    lens = rng.integers(8, 100, size=n)
    texts = []
    for i in range(n):
        toks = list(words[rng.integers(0, len(words), size=lens[i])])
        if i % 20 == 7:  # a rare word, as in the test data
            toks.append("dup")
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, size=n)) + EVENT_T0_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, size=n)),
            "event_type": pa.array(
                [EVENT_TYPES[j] for j in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.uniform(0, 200, size=n), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, N_PROPS, size=n)]
            ),
        }
    )


def _orders(rng: np.random.Generator, n: int) -> pa.Table:
    days = rng.integers(0, ORDER_DAYS + 1, size=n)
    dates = (ORDER_D0 + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, 10_000, size=n)),
            "o_orderstatus": pa.array(
                [ORDER_STATUS[j] for j in rng.integers(0, 3, n)]
            ),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 450_000, n), 2)),
            "o_orderdate": pa.array(dates, pa.timestamp("us")),
            "o_orderpriority": pa.array(
                [ORDER_PRIORITY[j] for j in rng.integers(0, 5, n)]
            ),
        }
    )


def write_corpus(out_dir: str, sf: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for the three source tables; returns
    the row count of each.  Same ``sf`` → byte-identical tables."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = table_sizes(sf)
    makers = {"documents": _documents, "events": _events, "orders": _orders}
    for name, make in makers.items():
        rng = np.random.default_rng([CORPUS_SEED, len(name)])
        pq.write_table(make(rng, sizes[name]), os.path.join(out_dir, f"{name}.parquet"))
    return sizes
