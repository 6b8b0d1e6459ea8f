"""Streaming stateful operators: the fold accumulator as keyed state.

The reference's fold is a batch concept; its streaming analog keeps the
accumulator as per-key state across micro-batches
(``applyInPandasWithState``): each micro-batch's rows for a key are sorted
by the declared order column and folded on top of the stored accumulator —
the exact accumulator-threading of ``collect_scan``'s batch loop
(ref `__init__.py:710,725-727`), with micro-batches playing the role of
Arrow batches and the state store carrying ``acc`` across them.

Caveat vs batch semantics: streaming order is arrival order across
micro-batches (late rows fold late). For time-correct results, pair with a
watermark and tolerate reordering only within a micro-batch, or use the
windowed rollup below for event-time-correct aggregation.

Every state operator runs on :func:`_keyed_state`, which hands its update
function a key's micro-batch rows as one exact Arrow batch and takes an
Arrow batch back. ``applyInPandasWithState`` speaks pandas, where int64 has
no null and NaN reads as null, so the rows cross it encoded:

- **In**: each non-key integral or floating column arrives null-filled with
  0 (its type kept) beside a ``__null_<c>`` flag computed on the JVM, and
  is rebuilt in Arrow with that flag as its null mask — NaN stays a value
  and a bigint stays exact.
- **Out**: numeric columns leave as pandas masked arrays, which PySpark
  converts through Arrow without its ``isnull()`` mask.

So the streaming fold and scan keep the batch operators' null rule: a fold
drops null rows only, a scan emits null for null rows only, and NaN is a
value (ref `__init__.py:339,718-736`).
"""

from __future__ import annotations

import hashlib
import pickle
from operator import itemgetter
from typing import Any, Callable, Iterable, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from polars_numba_spark.kernels import get_folder, get_scanner
from polars_numba_spark.operators._prep import as_list, ensure_event_time
from polars_numba_spark.operators._segmented import kernel_spec, result_batch

# Arrow type -> the pandas masked dtype a numeric column leaves as
_MASKED = {
    getattr(pa, t)(): pd.api.types.pandas_dtype(t.capitalize())
    for t in ("int8", "int16", "int32", "int64", "float32", "float64")
}


def _keyed_state(
    df: DataFrame,
    keys: list[str],
    out_schema: T.StructType | str,
    state_schema: T.StructType | str,
    mode: str,
    update: Callable[..., tuple[pa.RecordBatch, tuple]],
) -> DataFrame:
    """``df`` grouped by ``keys``, each key's micro-batch run through
    ``update(key, rows, stored)`` with the in/out encoding the module
    docstring describes: the module's one ``applyInPandasWithState`` call.

    ``key`` maps each key column to its one-row array, ``rows`` holds every
    row the key has in the micro-batch and ``stored`` is its state tuple,
    None on the key's first micro-batch. ``update`` returns the rows to
    emit, in ``out_schema`` order, and the new state tuple."""
    names = df.columns
    flagged = [
        f.name for f in df.schema.fields if f.name not in keys
        and isinstance(f.dataType, (T.IntegralType, T.FloatType, T.DoubleType))
    ]
    encoded = df.select(
        *[
            F.coalesce(F.col(c), F.lit(0).cast(df.schema[c].dataType)).alias(c)
            if c in flagged else F.col(c)
            for c in names
        ],
        *[F.col(c).isNull().alias(f"__null_{c}") for c in flagged],
    )

    def run(
        _: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        # Spark may deliver a key's micro-batch rows as several chunks in
        # arbitrary order; an order is only meaningful over all of them.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        rows = pa.RecordBatch.from_arrays(
            [
                pa.array(pdf[c].to_numpy(), mask=pdf[f"__null_{c}"].to_numpy())
                if c in flagged else pa.Array.from_pandas(pdf[c])
                for c in names
            ],
            names=names,
        )
        key = {k: rows.column(k).slice(0, 1) for k in keys}
        out, new_state = update(key, rows, state.get if state.exists else None)
        state.update(new_state)
        yield out.to_pandas(types_mapper=_MASKED.get)

    return encoded.groupBy(*keys).applyInPandasWithState(
        run,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _ascending(rows: pa.RecordBatch, order_cols: list[str]) -> pa.RecordBatch:
    """``rows`` stably sorted as the batch operators' Spark ``asc`` sorts
    them: nulls first and NaN after every number (Arrow alone puts NaN
    beside the nulls)."""
    if not order_cols:
        return rows
    sort_keys: dict[str, pa.Array] = {}
    for c in order_cols:
        col = rows.column(c)
        if pa.types.is_floating(col.type):
            sort_keys[f"__nan_{c}"] = pc.is_nan(col)
        sort_keys[c] = col
    order = pc.sort_indices(
        pa.RecordBatch.from_pydict(sort_keys),
        sort_keys=[(k, "ascending") for k in sort_keys],
        null_placement="at_start",
    )
    return rows.take(order)


def streaming_grouped_fold(
    df: DataFrame,
    group_by: str | Sequence[str],
    function: Callable,
    initial_accumulator: Any,
    return_dtype: Any,
    columns: Sequence[str],
    order_by: str | Sequence[str] | None = None,
    extra_args: Sequence[Any] = (),
    result_name: str = "fold",
) -> DataFrame:
    """Per-key running fold over a stream; emits (keys, result) each
    micro-batch with the accumulator persisted in the state store.

    Output mode: use ``update`` (each batch emits keys that changed).
    """
    keys = as_list(group_by)
    order_cols = as_list(order_by)
    spec = kernel_spec(
        df, result_name, function, initial_accumulator, return_dtype,
        list(columns), extra_args, get_folder,
    )
    used = {*keys, *order_cols, *spec.cols}
    out_schema = T.StructType([df.schema[k] for k in keys] + [spec.field])

    # State holds the PICKLED accumulator: arbitrary Python accumulators
    # (tuples, dicts, ints without float degradation) survive micro-batches
    # exactly as the batch operators allow.
    def update(key, rows, stored):
        acc = pickle.loads(stored[0]) if stored else spec.acc0
        acc = spec.fold(acc, _ascending(rows, order_cols))
        buf = spec.buffer(1)  # the return-dtype cast of batch grouped_fold
        buf[0] = acc
        no_null = np.zeros(1, dtype=bool)
        out = result_batch(keys, list(key.values()), [spec], [buf], [no_null])
        return out, (pickle.dumps(acc),)

    return _keyed_state(
        df.select(*[c for c in df.columns if c in used]),
        keys, out_schema, "acc binary", "update", update,
    )


def streaming_grouped_scan(
    df: DataFrame,
    group_by: str | Sequence[str],
    function: Callable,
    initial_accumulator: Any,
    return_dtype: Any,
    columns: Sequence[str],
    order_by: str | Sequence[str] | None = None,
    extra_args: Sequence[Any] = (),
    result_name: str = "scan",
) -> DataFrame:
    """Per-key running scan over a stream: every input row is emitted with
    its post-update accumulator; the accumulator persists in the state store
    across micro-batches (the streaming face of ``grouped_scan``; output
    mode ``append``).

    Null rule: rows with a null in any selected column emit a null scan
    value and do not advance the accumulator.
    """
    keys = as_list(group_by)
    order_cols = as_list(order_by)
    spec = kernel_spec(
        df, result_name, function, initial_accumulator, return_dtype,
        list(columns), extra_args, get_scanner,
    )
    used = {*keys, *order_cols, *spec.cols}
    passthrough = [f for f in df.schema.fields if f.name in used]
    out_schema = T.StructType(passthrough + [spec.field])

    def update(key, rows, stored):  # state as in streaming_grouped_fold
        acc = pickle.loads(stored[0]) if stored else spec.acc0
        rows = _ascending(rows, order_cols)
        mask, arrays = spec.inputs(rows)
        result = spec.buffer(rows.num_rows)
        acc = spec.kernel(spec.step, acc, spec.extra, result, mask, *arrays)
        names = rows.schema.names
        out = result_batch(names, rows.columns, [spec], [result], [mask])
        return out, (pickle.dumps(acc),)

    return _keyed_state(
        df.select(*[f.name for f in passthrough]),
        keys, out_schema, "acc binary", "append", update,
    )


def windowed_rollup(
    df: DataFrame,
    time_col: str,
    window_duration: str = "1 hour",
    watermark: str = "1 hour",
    group_by: Sequence[str] = (),
    aggs: dict[str, Any] | None = None,
) -> DataFrame:
    """Event-time tumbling-window rollup with late-data handling.

    The streaming analog of the batch group-aggregate surface: watermark
    bounds state, tumbling windows partition event time, and the same
    expression works identically on a batch DataFrame (Spark's unified
    semantics) — which is how tests pin its correctness.
    """
    aggs = aggs or {"n_events": F.count(F.lit(1))}
    keys = [F.window(F.col(time_col), window_duration).alias("window"), *as_list(group_by)]
    out = ensure_event_time(df, time_col)
    if df.isStreaming:
        out = out.withWatermark(time_col, watermark)
    return out.groupBy(*keys).agg(
        *[expr.alias(name) for name, expr in aggs.items()]
    )


def streaming_exact_dedup(
    df: DataFrame,
    content_col: str,
    time_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: keep the first arrival per content
    digest. With ``time_col``, state is bounded by the watermark (digests
    older than the watermark are dropped from state — the standard
    duplicates-arrive-close-together assumption); without it, state grows
    with distinct content forever (documented, batch-equivalent).

    Works identically on batch DataFrames (Spark's unified semantics), where
    it degenerates to dropDuplicates on the digest.
    """
    out = df.withColumn("__digest", F.md5(F.col(content_col).cast("string")))
    if df.isStreaming and time_col is not None:
        out = ensure_event_time(out, time_col)
        out = out.withWatermark(time_col, watermark)
        return out.dropDuplicatesWithinWatermark(["__digest"]).drop("__digest")
    return out.dropDuplicates(["__digest"]).drop("__digest")


def streaming_kmv_distinct(
    df: DataFrame,
    value_col: str,
    keys: str | Sequence[str],
    k: int = 64,
) -> DataFrame:
    """Streaming K-Minimum-Values distinct-count estimate per key: the
    stateful face of :mod:`polars_numba_spark.operators.sketch`.

    State per key is the k smallest DISTINCT md5-derived 60-bit hashes
    seen so far — a BOUNDED accumulator (≤ k longs, unlike exact
    streaming COUNT(DISTINCT) whose state grows with cardinality), and
    the merge (union → keep k smallest) is associative and commutative,
    so the final state is independent of how the stream was micro-batched
    (pinned by a forced multi-batch test). Each batch emits the key's
    current ``(kmv_estimate, batches_seen)``; readers take the row with
    the highest ``batches_seen`` per key (``max_by``) for the final
    estimate.

    Hashing matches ``operators/dedup.py::md5_long`` (first 15 hex chars
    of md5 of the value's string form) so the estimate reproduces in any
    engine with md5 — the catalog entry's DuckDB oracle rebuilds it.
    Nulls are excluded (COUNT(DISTINCT) semantics). State dedups at HASH
    level (values are not retained), identical to the oracle's
    hash-distinct spelling; under md5-60bit collisions this undercounts
    by the collision count, same as the batch sketch.
    """
    # md5_long hashes the value's string form as Spark casts it (a double
    # as '1.0E10', where Python's str gives '10000000000.0'), so cast on
    # the JVM, exactly the batch sketch's spelling.
    key_list = as_list(keys)
    df = df.select(*key_list, F.col(value_col).cast("string").alias(value_col))
    dtypes = dict(df.dtypes)
    key_schema = ", ".join(f"{c} {dtypes[c]}" for c in key_list)
    out_schema = f"{key_schema}, kmv_estimate double, batches_seen long"
    space = float(1 << 60)

    def update(key, rows, stored):
        hashes, batches = (set(stored[0]), stored[1]) if stored else (set(), 0)
        for v in set(rows.column(value_col).drop_null().to_pylist()):
            hashes.add(int(hashlib.md5(v.encode()).hexdigest()[:15], 16))
        top = sorted(hashes)[:k]
        batches += 1
        est = float(len(top)) if len(top) < k else (k - 1) * space / float(top[-1])
        out = pa.RecordBatch.from_pydict(
            {**key, "kmv_estimate": [est], "batches_seen": [batches]}
        )
        return out, (top, batches)

    return _keyed_state(
        df, key_list, out_schema, "hashes array<long>, batches long", "append", update
    )


def streaming_hll_distinct(
    df: DataFrame,
    value_col: str,
    keys: str | Sequence[str],
    p: int = 12,
) -> DataFrame:
    """Streaming HyperLogLog registers per key: the stateful face of
    ``operators/sketch.py::hll_distinct``, and like it FULLY
    ORACLE-REPRODUCIBLE — the state is the sparse register set (bucket →
    max rho over md5-derived 60-bit hashes, ≤ 2^p ints per key however
    many rows stream through), the register merge (elementwise max) is
    associative, commutative and idempotent, so the final registers — and
    the estimate — are independent of micro-batch boundaries AND of
    duplicate replay (max absorbs re-delivery; stronger than KMV's
    set-union there, which shares only the first two properties).

    Each batch emits the key's current EXACT integers ``(n_registers,
    z_present = sum(2^(rho_max - rho)), batches_seen)``; the estimate
    itself is computed JVM-side by the reader via
    ``sketch.hll_estimate_expr`` — no Python float touches the reported
    value, so the streaming estimate is bit-identical to the batch face
    and to the DuckDB oracle. Readers take ``max_by(..., batches_seen)``
    per key (the streaming_kmv_distinct read protocol)."""
    # the JVM string cast: see streaming_kmv_distinct
    key_list = as_list(keys)
    df = df.select(*key_list, F.col(value_col).cast("string").alias(value_col))
    dtypes = dict(df.dtypes)
    key_schema = ", ".join(f"{c} {dtypes[c]}" for c in key_list)
    out_schema = (
        f"{key_schema}, n_registers int, z_present long, batches_seen long"
    )
    state_schema = "buckets array<int>, rhos array<int>, batches long"
    w_bits = 60 - p
    rho_max = w_bits + 1
    w_mask = (1 << w_bits) - 1

    def update(key, rows, stored):
        regs, batches = (dict(zip(*stored[:2])), stored[2]) if stored else ({}, 0)
        for v in set(rows.column(value_col).drop_null().to_pylist()):
            h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
            bucket = h >> w_bits
            w = h & w_mask
            rho = rho_max if w == 0 else w_bits - w.bit_length() + 1
            if regs.get(bucket, 0) < rho:
                regs[bucket] = rho
        batches += 1
        z_present = sum(1 << (rho_max - r) for r in regs.values())
        out = pa.RecordBatch.from_pydict({
            **key,
            "n_registers": [len(regs)],
            "z_present": [z_present],
            "batches_seen": [batches],
        })
        return out, (list(regs.keys()), list(regs.values()), batches)

    return _keyed_state(df, key_list, out_schema, state_schema, "append", update)


def streaming_latest_snapshot(
    df: DataFrame,
    keys: str | Sequence[str],
    seq_col: str,
    tiebreak: str | Sequence[str] = (),
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Streaming last-write-wins snapshot: the CDC face of
    :mod:`polars_numba_spark.operators.cdc` as keyed state. Per key, state
    is ONE row — the current winner under ``(seq_col, *tiebreak)`` — so
    state is bounded at one row per live key regardless of changelog
    volume, and the winner-merge (newer beats older) is associative and
    commutative: the final snapshot is independent of how the stream was
    micro-batched.

    Each batch emits the key's current winning row plus ``batches_seen``;
    readers take ``max_by(..., batches_seen)`` per key for the final
    snapshot (the streaming_kmv_distinct read protocol). ``seq_col`` and
    ``tiebreak`` must be non-null and are compared with Python ``>`` on
    tuples — same total order as the batch operator's
    ``desc_nulls_last`` when no nulls are present.
    """
    key_list = as_list(keys)
    tb_list = as_list(tiebreak)
    if value_cols is None:
        value_cols = [c for c in df.columns if c not in key_list]
    vals = list(value_cols)
    for c in (seq_col, *tb_list):
        if c not in vals:
            vals.append(c)
    df = df.select(*key_list, *vals)
    dtypes = dict(df.dtypes)
    key_schema = ", ".join(f"{c} {dtypes[c]}" for c in key_list)
    val_schema = ", ".join(f"{c} {dtypes[c]}" for c in vals)
    out_schema = f"{key_schema}, {val_schema}, batches_seen long"
    order_cols = [seq_col, *tb_list]
    seq = itemgetter(*[vals.index(c) for c in order_cols])
    newest_first = [(c, "descending") for c in order_cols]

    def update(key, rows, stored):
        best, batches = (tuple(stored[:-1]), stored[-1]) if stored else (None, 0)
        top = pc.sort_indices(rows, sort_keys=newest_first)[0].as_py()
        cand = tuple(rows.column(c)[top].as_py() for c in vals)
        if best is None or seq(cand) > seq(best):
            best = cand
        batches += 1
        out = pa.RecordBatch.from_pydict({
            **key,
            **{c: pa.array([v], rows.schema.field(c).type) for c, v in zip(vals, best)},
            "batches_seen": [batches],
        })
        return out, (*best, batches)

    return _keyed_state(
        df, key_list, out_schema, f"{val_schema}, batches long", "append", update
    )
