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

Caveat vs the batch null rule: ``applyInPandasWithState`` converts through
pandas both ways. On the way in NaN and null both become NaN and a
nullable bigint becomes float64; on the way out the ``isnull()`` mask turns
NaN into null. So the streaming fold and scan treat NaN as null (the batch
operators treat it as a value), and a bigint input with nulls loses
precision past 2^53 — in the input passthrough too. Fixing it needs an
Arrow state API; a strict xfail in tests/test_streaming.py pins it.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from polars_numba_spark.kernels import get_folder, get_scanner
from polars_numba_spark.operators._prep import as_list, ensure_event_time
from polars_numba_spark.operators._segmented import kernel_spec


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
    NaN counts as null here (see the module caveat).
    """
    keys = as_list(group_by)
    order_cols = as_list(order_by)
    spec = kernel_spec(
        df, result_name, function, initial_accumulator, return_dtype,
        list(columns), extra_args, get_folder,
    )
    cols = spec.cols
    out_schema = T.StructType([df.schema[k] for k in keys] + [spec.field])
    # State holds the PICKLED accumulator: arbitrary Python accumulators
    # (tuples, dicts, ints without float degradation) survive micro-batches
    # exactly as the batch operators allow.
    state_schema = T.StructType([T.StructField("acc", T.BinaryType())])

    def fold_with_state(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        import pickle

        acc = pickle.loads(bytes(state.get[0])) if state.exists else spec.acc0
        # Spark may deliver a key's micro-batch rows as SEVERAL pandas
        # chunks in arbitrary order — order_by is only meaningful over the
        # concatenation, so gather first, sort once, fold once. Memory is
        # bounded by the key's per-micro-batch volume (watermarks bound it
        # further in production).
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            if order_cols:
                pdf = pdf.sort_values(order_cols, kind="mergesort")
            pdf = pdf.dropna(subset=cols)
            if len(pdf):
                arrays = [
                    pdf[c].to_numpy().astype(d, copy=False)
                    for c, d in zip(cols, spec.dtypes)
                ]
                acc = spec.kernel(spec.step, acc, spec.extra, *arrays)
        state.update((pickle.dumps(acc),))
        # return-dtype cast, same numpy-buffer semantics as batch grouped_fold
        buf = spec.buffer(1)
        buf[0] = acc
        value = buf[0].tolist() if spec.res_shape else (
            buf[0].item() if spec.res_np.kind in "biuf" else buf[0]
        )
        data = {k: [v] for k, v in zip(keys, key)}
        data[result_name] = [value]
        yield pd.DataFrame(data)

    return df.groupBy(*keys).applyInPandasWithState(
        fold_with_state,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
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
    value and do not advance the accumulator. Unlike the batch operator, a
    NaN counts as null (see the module caveat).
    """
    keys = as_list(group_by)
    order_cols = as_list(order_by)
    spec = kernel_spec(
        df, result_name, function, initial_accumulator, return_dtype,
        list(columns), extra_args, get_scanner,
    )
    cols = spec.cols
    passthrough = [f for f in df.schema.fields if f.name in {*keys, *order_cols, *cols}]
    out_schema = T.StructType(passthrough + [spec.field])
    state_schema = T.StructType([T.StructField("acc", T.BinaryType())])

    def scan_with_state(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        import pickle

        acc = pickle.loads(bytes(state.get[0])) if state.exists else spec.acc0
        # concatenate the micro-batch's chunks before sorting (see fold)
        gathered = [pdf[[f.name for f in passthrough]] for pdf in pdfs if len(pdf)]
        for pdf in (
            [pd.concat(gathered, ignore_index=True)] if len(gathered) > 1 else gathered
        ):
            if order_cols:
                pdf = pdf.sort_values(order_cols, kind="mergesort")
            mask = pdf[cols].isna().any(axis=1).to_numpy()
            np_cols = [
                pdf[c].fillna(0).to_numpy().astype(d, copy=False)
                for c, d in zip(cols, spec.dtypes)
            ]
            result = spec.buffer(len(pdf))
            acc = spec.kernel(spec.step, acc, spec.extra, result, mask, *np_cols)
            out = pdf.copy()
            if spec.res_shape:
                out[result_name] = [
                    None if m else row.tolist() for m, row in zip(mask, result)
                ]
            else:
                series = pd.Series(result, index=out.index)
                if mask.any():
                    series = series.astype(object)
                    series[mask] = None
                out[result_name] = series
            yield out
        state.update((pickle.dumps(acc),))

    return df.groupBy(*keys).applyInPandasWithState(
        scan_with_state,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
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
    import hashlib

    from polars_numba_spark.operators._prep import as_list

    # Cast to string JVM-side (exactly the batch sketch's spelling): a null
    # in an integral pandas column would coerce it to float64 and stringify
    # survivors as '123.0', silently diverging from md5_long's '123'.
    df = df.withColumn(value_col, F.col(value_col).cast("string"))
    key_list = as_list(keys)
    dtypes = dict(df.dtypes)
    key_schema = ", ".join(f"{c} {dtypes[c]}" for c in key_list)
    out_schema = f"{key_schema}, kmv_estimate double, batches_seen long"
    state_schema = "hashes array<long>, batches long"
    space = float(1 << 60)

    def update(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        hashes: set = set()
        batches = 0
        if state.exists:
            stored, batches = state.get
            hashes = set(stored)
        fresh = set()
        for pdf in pdfs:
            col = pdf[value_col].dropna()
            fresh.update(col.astype(str).tolist())
        for v in fresh:
            hashes.add(int(hashlib.md5(v.encode()).hexdigest()[:15], 16))
        top = sorted(hashes)[:k]
        batches += 1
        state.update((top, batches))
        if len(top) < k:
            est = float(len(top))
        else:
            est = (k - 1) * space / float(top[-1])
        data = {c: [kv] for c, kv in zip(key_list, key)}
        data["kmv_estimate"] = [est]
        data["batches_seen"] = [batches]
        yield pd.DataFrame(data)

    return df.groupBy(*key_list).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
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
    import hashlib

    from polars_numba_spark.operators._prep import as_list

    # Cast to string JVM-side (the batch sketch's spelling): a null in an
    # integral pandas column would coerce it to float64 and stringify
    # survivors as '123.0', silently diverging from md5_long's '123'.
    df = df.withColumn(value_col, F.col(value_col).cast("string"))
    key_list = as_list(keys)
    dtypes = dict(df.dtypes)
    key_schema = ", ".join(f"{c} {dtypes[c]}" for c in key_list)
    out_schema = (
        f"{key_schema}, n_registers int, z_present long, batches_seen long"
    )
    state_schema = "buckets array<int>, rhos array<int>, batches long"
    w_bits = 60 - p
    rho_max = w_bits + 1
    w_mask = (1 << w_bits) - 1

    def update(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        regs: dict[int, int] = {}
        batches = 0
        if state.exists:
            buckets, rhos, batches = state.get
            regs = dict(zip(buckets, rhos))
        fresh = set()
        for pdf in pdfs:
            col = pdf[value_col].dropna()
            fresh.update(col.astype(str).tolist())
        for v in fresh:
            h = int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
            bucket = h >> w_bits
            w = h & w_mask
            rho = rho_max if w == 0 else w_bits - w.bit_length() + 1
            if regs.get(bucket, 0) < rho:
                regs[bucket] = rho
        batches += 1
        state.update((list(regs.keys()), list(regs.values()), batches))
        z_present = sum(1 << (rho_max - r) for r in regs.values())
        data = {c: [kv] for c, kv in zip(key_list, key)}
        data["n_registers"] = [len(regs)]
        data["z_present"] = [z_present]
        data["batches_seen"] = [batches]
        yield pd.DataFrame(data)

    return df.groupBy(*key_list).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


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
    state_schema = f"{val_schema}, batches long"
    order_cols = [seq_col, *tb_list]

    def update(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        best: tuple | None = None
        batches = 0
        if state.exists:
            stored = state.get
            best, batches = tuple(stored[:-1]), stored[-1]
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            top = pdf.sort_values(order_cols, ascending=False).iloc[0]
            cand = tuple(top[c] for c in vals)
            if best is None or tuple(
                cand[vals.index(c)] for c in order_cols
            ) > tuple(best[vals.index(c)] for c in order_cols):
                best = cand
        batches += 1
        state.update((*best, batches))
        data = {c: [kv] for c, kv in zip(key_list, key)}
        for c, v in zip(vals, best):
            data[c] = [v]
        data["batches_seen"] = [batches]
        yield pd.DataFrame(data)

    return df.groupBy(*key_list).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
