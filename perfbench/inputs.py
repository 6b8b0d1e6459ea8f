"""Seeded input generators. The same seed gives byte-identical tables.

Each table is written as one parquet file ``{dir}/{name}.parquet``, the
layout ``polars_numba_spark.sources.load_table`` reads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# fold_scan: a ledger of purchases and refunds.
LEDGER_ROWS = 100_000
LEDGER_USERS = 20_000
LEDGER_ZIPF = 1.2  # hottest user holds ~18% of the rows
LEDGER_NULL_SHARE = 0.01

# streaming_ingest: the events and documents tables the streaming faces
# read, at the row counts of the 0.01 scale factor of the engine's catalog.
EVENT_ROWS = 10_000
EVENT_USERS = 150
EVENT_DAYS = 30
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
DOC_ROWS = 500
_VOCAB = (
    "a the data spark scan fold join sort hash key value row column table "
    "query group agg filter window stream batch merge order line part "
    "customer vector fast slow big small"
).split()


def ledger(seed: int) -> pa.Table:
    """``seq`` (the order), a Zipf-skewed ``user_id`` and ``amount``: two
    decimal places, 10% refunds (negative), ~1% nulls."""
    rng = np.random.default_rng(seed)
    n = LEDGER_ROWS
    # The user id is the Zipf rank, so the same users are hot under every
    # seed and land in the same shuffle partitions: the skew a grouped op
    # meets does not change with the seed.
    user_id = ((rng.zipf(LEDGER_ZIPF, n) - 1) % LEDGER_USERS).astype(np.int64)
    cents = np.round(rng.lognormal(3.5, 1.0, n) * 100).astype(np.int64)
    refund = rng.random(n) < 0.10
    cents[refund] = -cents[refund]
    null = rng.random(n) < LEDGER_NULL_SHARE
    return pa.table(
        {
            "seq": pa.array(np.arange(n, dtype=np.int64)),
            "user_id": pa.array(user_id),
            "amount": pa.array(cents / 100.0, mask=null),
        }
    )


def events(seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    n = EVENT_ROWS
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    offsets = np.sort(rng.integers(0, EVENT_DAYS * 86_400_000_000, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(start + offsets, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, n).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents(seed: int) -> pa.Table:
    """Short word-salad documents; ~8% exact copies and ~12% one-word edits
    of an earlier document, so exact and near-duplicate dedup have work."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(DOC_ROWS):
        roll = rng.random()
        if i and roll < 0.08:
            texts.append(texts[rng.integers(0, i)])
        elif i and roll < 0.20:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = str(rng.choice(_VOCAB))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_VOCAB, rng.integers(8, 70))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(DOC_ROWS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], DOC_ROWS)),
            "source": pa.array([f"src{i % 20}" for i in range(DOC_ROWS)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


GENERATORS = {"ledger": ledger, "events": events, "documents": documents}


def write_tables(names: list[str], seed: int, out_dir: str) -> dict[str, pa.Table]:
    """Generate and write the named tables; return them for the checks."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    for name in names:
        table = GENERATORS[name](seed)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        tables[name] = table
    return tables
