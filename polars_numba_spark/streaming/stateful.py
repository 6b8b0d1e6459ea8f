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
Arrow batch back.

- **Buckets**: Spark groups on ``pmod(xxhash64(*keys), 16)``, not on the
  keys, so PySpark's per-group work (its pandas conversion, ``GroupState``
  and Arrow output) runs once per touched bucket and micro-batch, not once
  per key. Inside a bucket the rows are sorted stably by the keys and cut
  where a key changes (a null key equals a null key, NaN equals NaN, -0.0
  equals 0.0: ``groupBy``'s equality, which the hash shares), and each
  key's update runs on its run of rows. A bucket's state is one pickled
  dict, key → that key's state.
- **In**: ``applyInPandasWithState`` speaks pandas, where int64 has no null
  and NaN reads as null, so each integral or floating column, keys
  included, arrives null-filled with 0 (its type kept) beside a
  ``__null_<c>`` flag computed on the JVM, and is rebuilt in Arrow with
  that flag as its null mask — NaN stays a value and a bigint stays exact.
- **Out**: the bucket's per-key outputs leave as one pandas frame whose
  numeric columns are masked arrays, which PySpark converts through Arrow
  without its ``isnull()`` mask.

The bucket count is fixed: a restarted checkpoint must find every key in
the bucket that holds its state, so each bucket's state records the count
and a different one raises. Its costs: a touched bucket's dict is
unpickled and pickled whole each micro-batch, O(keys / 16) however few of
its keys the batch touches, and at most 16 state partitions hold a bucket,
so at most 16 tasks per micro-batch run Python (SCALE.md, "Keyed state in
hash buckets").

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
from polars_numba_spark.operators._segmented import (
    _key_changes,
    group_key,
    kernel_spec,
    result_batch,
)

# Arrow type -> the pandas masked dtype a numeric column leaves as
_MASKED = {
    getattr(pa, t)(): pd.api.types.pandas_dtype(t.capitalize())
    for t in ("int8", "int16", "int32", "int64", "float32", "float64")
}


# The keyed state's hash buckets. Fixed, not a setting: a checkpoint
# restarted under another count would look for its keys in other buckets.
_BUCKETS = 16

# A NaN key's name in a bucket's state dict (NaN != NaN, so NaN itself
# would never find its entry); a floating key column holds no strings.
_NAN = "NaN"


def _keyed_state(
    df: DataFrame,
    keys: list[str],
    out_schema: T.StructType | str,
    mode: str,
    update: Callable[..., tuple[pa.RecordBatch, Any]],
) -> DataFrame:
    """``df`` grouped by ``keys``, each key's micro-batch run through
    ``update(key, rows, stored)`` in hash buckets with the in/out encoding
    the module docstring describes: the module's one
    ``applyInPandasWithState`` call.

    ``key`` maps each key column to its one-row array, as ``groupBy`` emits
    it (-0.0 as 0.0), ``rows`` holds every row the key has in the
    micro-batch, in arrival order, and ``stored`` is the key's state, None
    on its first micro-batch. ``update`` returns the rows to emit, in
    ``out_schema`` order, and the key's new state: any picklable value
    but None."""
    names = df.columns
    flagged = [
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (T.IntegralType, T.FloatType, T.DoubleType))
    ]
    buckets = _BUCKETS  # the workers run with the count this query was built with
    encoded = df.select(
        *[
            F.coalesce(F.col(c), F.lit(0).cast(df.schema[c].dataType)).alias(c)
            if c in flagged else F.col(c)
            for c in names
        ],
        *[F.col(c).isNull().alias(f"__null_{c}") for c in flagged],
        F.pmod(F.xxhash64(*keys), F.lit(buckets)).alias("__bucket"),
    )

    def run(
        bucket: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        table: dict[tuple, Any] = {}
        if state.exists:
            written, pickled = state.get
            if written != buckets:
                raise RuntimeError(
                    f"keyed state bucket {bucket[0]} was written with {written} "
                    f"buckets, but this query hashes keys into {buckets}"
                )
            table = pickle.loads(pickled)
        # Spark may deliver a bucket's micro-batch rows as several chunks in
        # arbitrary order; an order is only meaningful over all of them.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        rows = _ascending(
            pa.RecordBatch.from_arrays(
                [
                    pa.array(pdf[c].to_numpy(), mask=pdf[f"__null_{c}"].to_numpy())
                    if c in flagged else pa.Array.from_pandas(pdf[c])
                    for c in names
                ],
                names=names,
            ),
            keys,
        )
        key_cols = [rows.column(k) for k in keys]
        n = rows.num_rows
        bounds = np.flatnonzero(_key_changes(key_cols, n)) + 1
        starts, ends = np.concatenate(([0], bounds)), np.concatenate((bounds, [n]))
        firsts = [group_key(c.take(starts)) for c in key_cols]
        outs = []
        for g, (s, e) in enumerate(zip(starts.tolist(), ends.tolist())):
            key = {k: c.slice(g, 1) for k, c in zip(keys, firsts)}
            name = tuple(_NAN if v != v else v for v in (c[g].as_py() for c in firsts))
            out, table[name] = update(key, rows.slice(s, e - s), table.get(name))
            outs.append(out)
        state.update((buckets, pickle.dumps(table)))
        yield pa.Table.from_batches(outs).to_pandas(types_mapper=_MASKED.get)

    return encoded.groupBy("__bucket").applyInPandasWithState(
        run,
        outputStructType=out_schema,
        stateStructType="buckets int, keys binary",
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
    micro-batch with the accumulator persisted in its hash bucket's state
    (module docstring). A floating key is emitted as ``groupBy`` emits
    it: -0.0 as 0.0.

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

    # State holds the accumulator as is, in a 1-tuple (an accumulator may
    # be None): arbitrary Python accumulators (tuples, dicts, ints without
    # float degradation) survive micro-batches exactly as the batch
    # operators allow.
    def update(key, rows, stored):
        acc = stored[0] if stored else spec.acc0
        acc = spec.fold(acc, _ascending(rows, order_cols))
        buf = spec.buffer(1)  # the return-dtype cast of batch grouped_fold
        buf[0] = acc
        no_null = np.zeros(1, dtype=bool)
        out = result_batch(keys, list(key.values()), [spec], [buf], [no_null])
        return out, (acc,)

    return _keyed_state(
        df.select(*[c for c in df.columns if c in used]),
        keys, out_schema, "update", update,
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
    its post-update accumulator and its own key; the accumulator persists
    in its hash bucket's state across micro-batches (the streaming face of
    ``grouped_scan``; output mode ``append``).

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
        acc = stored[0] if stored else spec.acc0
        rows = _ascending(rows, order_cols)
        mask, arrays = spec.inputs(rows)
        result = spec.buffer(rows.num_rows)
        acc = spec.kernel(spec.step, acc, spec.extra, result, mask, *arrays)
        names = rows.schema.names
        out = result_batch(names, rows.columns, [spec], [result], [mask])
        return out, (acc,)

    return _keyed_state(
        df.select(*[f.name for f in passthrough]),
        keys, out_schema, "append", update,
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

    State per key, in its hash bucket's dict (module docstring), is the
    k smallest DISTINCT md5-derived 60-bit hashes
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

    return _keyed_state(df, key_list, out_schema, "append", update)


def streaming_hll_distinct(
    df: DataFrame,
    value_col: str,
    keys: str | Sequence[str],
    p: int = 12,
) -> DataFrame:
    """Streaming HyperLogLog registers per key: the stateful face of
    ``operators/sketch.py::hll_distinct``, and like it FULLY
    ORACLE-REPRODUCIBLE — a key's state, in its hash bucket's dict, is the
    sparse register set (register → max rho over md5-derived 60-bit hashes, ≤ 2^p ints per key however
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
    w_bits = 60 - p
    rho_max = w_bits + 1
    w_mask = (1 << w_bits) - 1

    def update(key, rows, stored):
        regs, batches = stored if stored else ({}, 0)
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
        return out, (regs, batches)

    return _keyed_state(df, key_list, out_schema, "append", update)


def streaming_latest_snapshot(
    df: DataFrame,
    keys: str | Sequence[str],
    seq_col: str,
    tiebreak: str | Sequence[str] = (),
    value_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Streaming last-write-wins snapshot: the CDC face of
    :mod:`polars_numba_spark.operators.cdc` as keyed state. Per key, state
    is ONE winner tuple — the current winner under ``(seq_col, *tiebreak)``,
    held in the key's hash bucket's dict — so state is bounded at one
    winner per live key regardless of changelog volume, and the winner-merge (newer beats older) is associative and
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
        best, batches = stored if stored else (None, 0)
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
        return out, (best, batches)

    return _keyed_state(df, key_list, out_schema, "append", update)
