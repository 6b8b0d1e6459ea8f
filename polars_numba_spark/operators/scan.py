"""Scan operators: running-accumulator column (prefix fold).

Reference semantics being reproduced
(``/root/reference/src/polars_numba/__init__.py``):

- ``collect_scan`` (`:682-740`): every row's post-update accumulator becomes
  that row's output value; the accumulator flows ACROSS batch boundaries
  (`:710,725-727`).
- Null rule (`:441`, docstring `:697-700`, tested
  ``tests/test_collect_scan.py:53-72``): a row with any null in the selected
  columns produces a NULL output row, the step function is NOT called, and
  the accumulator carries over unchanged to the next non-null row.
  Mechanism (same as ref `:718-736`): precompute the null mask, zero-fill the
  data (NumPy has no nulls), run the kernel writing ``result[i] = acc`` for
  every row, then re-mask the output.
- Output is cast to the declared ``return_dtype`` (`:733`; float accumulator
  → Int32 truncates, `tests/test_collect_scan.py:75-92`); tuple accumulators
  declared as ``SizedArray(t, k)`` emit one k-vector per row (`:673-679`,
  `tests/test_collect_scan.py:190-208`).

Physical strategy mirrors fold.py: grouped scans are hash-partitioned
``applyInPandas`` (parallel across groups, `examples_scan.py:72-82`); the
global scan is a single ordered Arrow stream (``mapInArrow``), accumulator
threaded through the generator. Associative scans (running max/sum) should
use :func:`polars_numba_spark.operators.window.assoc_scan` — a pure window
frame that never leaves the JVM.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from polars_numba_spark._arrow import (
    column_to_numpy,
    fill_zero,
    null_mask,
    scan_result_to_arrow,
)
from polars_numba_spark.dtypes import (
    SizedArray,
    normalize_spark_type,
    result_dtype_and_shape,
)
from polars_numba_spark.kernels import compile_step_function, get_scanner
from polars_numba_spark.operators._prep import (
    as_list,
    frame_order_select,
    group_boundaries,
    input_numpy_dtypes,
    key_tuple,
    named_fields,
    resolve_input_columns,
)
from polars_numba_spark.operators.fold import _single_ordered_stream


def collect_scan(
    df: DataFrame,
    function: Callable,
    initial_accumulator: Any,
    return_dtype: Any,
    extra_args: Sequence[Any] = (),
    column_names: Sequence[str] | None = None,
    order_by: str | Sequence[str] | None = None,
    result_name: str = "scan",
    combine: Callable[[Any, Any], Any] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Whole-frame running scan → the input columns plus a ``result_name``
    column, computed over one ordered stream.

    Parity: ref ``collect_scan`` `__init__.py:682-740` (which returns a bare
    Series; here the scan column rides along with its input columns so the
    result is a composable DataFrame — select ``result_name`` for the Series
    shape). ``order_by`` declares row order; omit to inherit source order.

    Scale note: the result is NOT collected — it stays distributed. By
    default it is a single ordered partition (the sequential dependency).
    Supplying ``combine`` runs the classic **two-pass parallel prefix scan**
    instead: range-partition on the order key, pass 1 folds per-partition
    partials, the driver prefix-combines them into per-partition seeds
    (O(#partitions) tiny values), pass 2 scans each partition seeded with
    its prefix — fully parallel, exact. ``combine`` must satisfy
    ``fold(a, rows) == combine(a, fold(acc0, rows))``; ``order_by`` is
    required and should be a total order (ties make range partitioning
    nondeterministic at partition edges).
    """
    if combine is not None:
        return _parallel_prefix_scan(
            df, function, initial_accumulator, return_dtype, extra_args,
            column_names, order_by, result_name, combine, num_partitions,
        )
    step = compile_step_function(function)
    order_cols = as_list(order_by)
    cols = resolve_input_columns(df, column_names, exclude=order_cols)
    np_dtypes = input_numpy_dtypes(df, cols)
    scanner = get_scanner(len(cols))
    extra = tuple(extra_args)
    acc0 = initial_accumulator
    dtype_list = [np_dtypes[c] for c in cols]
    res_np_dtype, res_shape = result_dtype_and_shape(return_dtype)
    res_spark_type = (
        return_dtype.spark_type()
        if isinstance(return_dtype, SizedArray)
        else normalize_spark_type(return_dtype)
    )

    prepared = _single_ordered_stream(
        frame_order_select(df, cols, order_cols), order_cols
    )
    out_names = [*cols, *order_cols]
    out_schema = T.StructType(
        named_fields(df, out_names) + [T.StructField(result_name, res_spark_type)]
    )

    def scan_stream(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = acc0
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            in_arrays = [batch.column(c) for c in cols]
            mask = null_mask(in_arrays)
            np_cols = [
                column_to_numpy(fill_zero(arr), dtype_list[i])
                for i, arr in enumerate(in_arrays)
            ]
            result = np.empty((n,) + res_shape, dtype=res_np_dtype)
            acc = scanner(step, acc, extra, result, mask, *np_cols)
            scan_col = scan_result_to_arrow(result, mask, res_shape)
            yield pa.RecordBatch.from_arrays(
                [*(batch.column(c) for c in out_names), scan_col],
                names=[*out_names, result_name],
            )

    return prepared.mapInArrow(scan_stream, schema=out_schema)


def _parallel_prefix_scan(
    df: DataFrame,
    function: Callable,
    initial_accumulator: Any,
    return_dtype: Any,
    extra_args: Sequence[Any],
    column_names: Sequence[str] | None,
    order_by: str | Sequence[str] | None,
    result_name: str,
    combine: Callable[[Any, Any], Any],
    num_partitions: int | None,
) -> DataFrame:
    """Two-pass parallel prefix scan (see collect_scan docstring)."""
    import pickle

    from pyspark import TaskContext

    step = compile_step_function(function)
    order_cols = as_list(order_by)
    if not order_cols:
        raise ValueError("the parallel (combine) scan requires order_by")
    cols = resolve_input_columns(df, column_names, exclude=order_cols)
    np_dtypes = input_numpy_dtypes(df, cols)
    scanner = get_scanner(len(cols))
    folder_extra = tuple(extra_args)
    acc0 = initial_accumulator
    dtype_list = [np_dtypes[c] for c in cols]
    res_np_dtype, res_shape = result_dtype_and_shape(return_dtype)
    res_spark_type = (
        return_dtype.spark_type()
        if isinstance(return_dtype, SizedArray)
        else normalize_spark_type(return_dtype)
    )

    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    prepared = (
        frame_order_select(df, cols, order_cols)
        .repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
    )
    # Both passes MUST see byte-identical partitions, but repartitionByRange
    # samples its boundaries per job — materialize once (executor-local
    # storage) so pass 1's partials line up with pass 2's partitions. At
    # cluster scale this is one extra write of the working set, the price of
    # turning a one-task scan into an n-task scan. The blocks are read
    # lazily by the RETURNED DataFrame, so they are registered session-
    # scoped and swept between queries by the bench/gate harness instead of
    # leaking for the session's lifetime (round-2 verdict hygiene item).
    from polars_numba_spark.plans.checkpoint import (
        register_session_scoped,
        tracked_local_checkpoint,
    )

    prepared, _ckpt_ids = tracked_local_checkpoint(prepared)
    register_session_scoped(_ckpt_ids)
    out_names = [*cols, *order_cols]

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pid = TaskContext.get().partitionId()
        acc = acc0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            in_arrays = [batch.column(c) for c in cols]
            mask = null_mask(in_arrays)
            np_cols = [
                column_to_numpy(fill_zero(arr), dtype_list[i])
                for i, arr in enumerate(in_arrays)
            ]
            # scan null rule during the partial fold too: null rows don't
            # advance the accumulator
            buf = np.empty((batch.num_rows,) + res_shape, dtype=res_np_dtype)
            acc = scanner(step, acc, folder_extra, buf, mask, *np_cols)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([pid], type=pa.int32()),
                pa.array([pickle.dumps(acc)], type=pa.binary()),
            ],
            names=["pid", "acc"],
        )

    rows = prepared.mapInArrow(partials, schema="pid int, acc binary").collect()
    part_accs = {r["pid"]: pickle.loads(bytes(r["acc"])) for r in rows}
    # The contract `fold(a, rows) == combine(a, fold(acc0, rows))` gives the
    # prefix recurrence: seed_{i+1} = combine(seed_i, partial_i), seed_0=acc0.
    seeds: dict[int, Any] = {}
    seed = acc0
    for pid in range(n_parts):
        seeds[pid] = seed
        if pid in part_accs:
            seed = combine(seed, part_accs[pid])

    out_schema = T.StructType(
        named_fields(df, out_names) + [T.StructField(result_name, res_spark_type)]
    )

    def seeded_scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = seeds[TaskContext.get().partitionId()]
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            in_arrays = [batch.column(c) for c in cols]
            mask = null_mask(in_arrays)
            np_cols = [
                column_to_numpy(fill_zero(arr), dtype_list[i])
                for i, arr in enumerate(in_arrays)
            ]
            result = np.empty((n,) + res_shape, dtype=res_np_dtype)
            acc = scanner(step, acc, folder_extra, result, mask, *np_cols)
            scan_col = scan_result_to_arrow(result, mask, res_shape)
            yield pa.RecordBatch.from_arrays(
                [*(batch.column(c) for c in out_names), scan_col],
                names=[*out_names, result_name],
            )

    return prepared.mapInArrow(seeded_scan, schema=out_schema)


def grouped_scan(
    df: DataFrame,
    group_by: str | Sequence[str],
    function: Callable,
    initial_accumulator: Any,
    return_dtype: Any,
    columns: Sequence[str] | None = None,
    order_by: str | Sequence[str] | None = None,
    extra_args: Sequence[Any] = (),
    result_name: str = "scan",
    skew_check: bool | float = False,
) -> DataFrame:
    """Per-group running scan → one output row per input row (all input
    columns plus ``result_name``), parallel across groups.

    ``skew_check`` (round 6): ``True`` (one fair reducer share) or an
    explicit share runs the sampled hottest-key sketch and WARNS when a
    group exceeds it — a scan emits one output per input row in order, so
    salting cannot help a non-associative step; the parallel escape
    hatches are ``assoc_scan`` (JVM window) and ``collect_scan(combine=)``
    (two-pass parallel prefix), both pointed at in the warning.

    Parity: ref expression ``scan`` `__init__.py:743-799` used per group
    (`examples_scan.py:72-82`). In Polars, ``group_by().agg(scan)`` yields a
    list column per group; the idiomatic Spark shape is flat — one row per
    input row — and ``F.collect_list`` over the result reproduces the nested
    shape when needed.

    Null rule per reference: null input row → null output row, accumulator
    unchanged, within each group's declared order.
    """
    step = compile_step_function(function)
    keys = as_list(group_by)
    if not keys:
        raise ValueError("group_by must name at least one column")
    order_cols = as_list(order_by)
    cols = resolve_input_columns(df, columns, exclude=[*keys, *order_cols])

    if skew_check:
        from polars_numba_spark.operators.skew import (
            fair_share_threshold,
            hot_key_share,
        )

        threshold = (
            skew_check
            if isinstance(skew_check, float) and not isinstance(skew_check, bool)
            else fair_share_threshold(df)
        )
        share, hot = hot_key_share(df, keys)
        if share > threshold:
            import warnings

            warnings.warn(
                f"grouped_scan skew: sampled hottest group {hot} holds "
                f"~{share:.0%} of rows (threshold {threshold:.1%}); one "
                "Python worker scans it sequentially. For associative "
                "steps use window.assoc_scan (JVM window); for "
                "decomposable steps collect_scan(combine=) runs a two-pass "
                "parallel prefix; otherwise hot-key state is inherent to "
                "the declared semantics.",
                stacklevel=2,
            )

    np_dtypes = input_numpy_dtypes(df, cols)
    scanner = get_scanner(len(cols))
    extra = tuple(extra_args)
    acc0 = initial_accumulator
    dtype_list = [np_dtypes[c] for c in cols]
    res_np_dtype, res_shape = result_dtype_and_shape(return_dtype)
    res_spark_type = (
        return_dtype.spark_type()
        if isinstance(return_dtype, SizedArray)
        else normalize_spark_type(return_dtype)
    )

    prepared = (
        frame_order_select(df, keys, cols, order_cols)
        .repartition(*keys)
        .sortWithinPartitions(*keys, *order_cols)
    )
    # mapInPandas assigns the returned frame's columns by name
    out_schema = T.StructType(
        named_fields(df, [*keys, *cols, *order_cols])
        + [T.StructField(result_name, res_spark_type)]
    )

    _NULLABLE_PANDAS = {
        "int8": "Int8", "int16": "Int16", "int32": "Int32", "int64": "Int64",
        "bool": "boolean", "float32": "Float32", "float64": "Float64",
    }

    def attach_result(pdf: pd.DataFrame, result: np.ndarray, mask: np.ndarray) -> pd.DataFrame:
        out = pdf.copy()
        if res_shape:
            out[result_name] = [
                None if m else row.tolist() for m, row in zip(mask, result)
            ]
        else:
            name = _NULLABLE_PANDAS.get(res_np_dtype.name)
            if mask.any() and name:
                arr = pd.array(result, dtype=name)
                arr[mask] = pd.NA
                out[result_name] = arr
            else:
                series = pd.Series(result, index=out.index)
                if mask.any():
                    series[mask] = None
                out[result_name] = series
        return out

    def scan_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Rows arrive grouped and ordered (partitioned by keys, sorted by
        # keys+order); only the LAST group of a batch can continue into the
        # next batch, so its accumulator is carried (ref `:710,725-727` —
        # the same batch-boundary threading, here per group).
        open_key: tuple | None = None
        open_acc = acc0
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            mask = np.zeros(n, dtype=bool)
            for c in cols:
                mask |= pdf[c].isna().to_numpy()
            np_cols = [
                pdf[c].fillna(0).to_numpy().astype(dtype_list[i], copy=False)
                for i, c in enumerate(cols)
            ]
            result = np.empty((n,) + res_shape, dtype=res_np_dtype)
            starts, ends = group_boundaries(pdf, keys)
            for s, e in zip(starts, ends):
                key = key_tuple(pdf, keys, s)
                acc = open_acc if key == open_key else acc0
                acc = scanner(
                    step, acc, extra,
                    result[s:e],
                    mask[s:e],
                    *[a[s:e] for a in np_cols],
                )
                open_key, open_acc = key, acc
            yield attach_result(pdf, result, mask)

    return prepared.mapInPandas(scan_partition, schema=out_schema)


def grouped_multi_scan(
    df: DataFrame,
    group_by: str | Sequence[str],
    specs: dict[str, dict],
    order_by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Several independent running scans over the SAME keys and ordering in
    ONE shuffle + sort + ``mapInPandas`` pass — every input row comes back
    with one result column per spec.

    Closes the multi-expression parity gap for scans (the reference
    evaluates several scan ``Expr``s in one ``select``/``with_columns``;
    separate :func:`grouped_scan` calls would need a join on (keys, row)
    per extra scan). Specs are ``name → {function, initial_accumulator,
    return_dtype, columns, extra_args}`` with a shared ``order_by``; each
    spec keeps its own null rule (ITS null rows yield null for ITS column,
    accumulator unchanged), accumulator carry, and result dtype.
    """
    keys = as_list(group_by)
    if not keys:
        raise ValueError("group_by must name at least one column")
    if not specs:
        raise ValueError("specs must contain at least one scan")
    order_cols = as_list(order_by)
    names = list(specs)

    compiled: dict[str, dict] = {}
    all_cols: list[str] = []
    for name, spec in specs.items():
        cols = resolve_input_columns(
            df, spec.get("columns"), exclude=[*keys, *order_cols]
        )
        np_dtypes = input_numpy_dtypes(df, cols)
        rd = spec["return_dtype"]
        res_np, res_shape = result_dtype_and_shape(rd)
        compiled[name] = dict(
            step=compile_step_function(spec["function"]),
            cols=cols,
            dtypes=[np_dtypes[c] for c in cols],
            scanner=get_scanner(len(cols)),
            extra=tuple(spec.get("extra_args", ())),
            acc0=spec["initial_accumulator"],
            res_np=res_np,
            res_shape=res_shape,
            res_spark_type=(
                rd.spark_type()
                if isinstance(rd, SizedArray)
                else normalize_spark_type(rd)
            ),
        )
        for c in cols:
            if c not in all_cols:
                all_cols.append(c)

    reserved = set(keys) | set(order_cols) | set(all_cols)
    colliding = sorted(set(names) & reserved)
    if colliding:
        raise ValueError(
            f"scan result names collide with key/order/input columns: {colliding}"
        )

    prepared = (
        frame_order_select(df, keys, all_cols, order_cols)
        .repartition(*keys)
        .sortWithinPartitions(*keys, *order_cols)
    )
    out_schema = T.StructType(
        named_fields(df, [*keys, *all_cols, *order_cols])
        + [T.StructField(n, compiled[n]["res_spark_type"]) for n in names]
    )

    _NULLABLE_PANDAS = {
        "int8": "Int8", "int16": "Int16", "int32": "Int32", "int64": "Int64",
        "bool": "boolean", "float32": "Float32", "float64": "Float64",
    }

    def result_column(meta: dict, result: np.ndarray, mask: np.ndarray, index):
        if meta["res_shape"]:
            return [None if m else row.tolist() for m, row in zip(mask, result)]
        name = _NULLABLE_PANDAS.get(meta["res_np"].name)
        if mask.any() and name:
            arr = pd.array(result, dtype=name)
            arr[mask] = pd.NA
            return arr
        series = pd.Series(result, index=index)
        if mask.any():
            series = series.astype(object)
            series[mask] = None
        return series

    def scan_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        open_key: tuple | None = None
        open_accs: dict[str, Any] = {n: compiled[n]["acc0"] for n in names}
        for pdf in batches:
            n_rows = len(pdf)
            if not n_rows:
                continue
            per_spec: dict[str, tuple] = {}
            for name in names:
                meta = compiled[name]
                mask = np.zeros(n_rows, dtype=bool)
                for c in meta["cols"]:
                    mask |= pdf[c].isna().to_numpy()
                np_cols = [
                    pdf[c].fillna(0).to_numpy().astype(meta["dtypes"][i], copy=False)
                    for i, c in enumerate(meta["cols"])
                ]
                result = np.empty((n_rows,) + meta["res_shape"], dtype=meta["res_np"])
                per_spec[name] = (mask, np_cols, result)
            starts, ends = group_boundaries(pdf, keys)
            for s, e in zip(starts, ends):
                key = key_tuple(pdf, keys, s)
                continuing = key == open_key
                new_accs: dict[str, Any] = {}
                for name in names:
                    meta = compiled[name]
                    mask, np_cols, result = per_spec[name]
                    acc = open_accs[name] if continuing else meta["acc0"]
                    new_accs[name] = meta["scanner"](
                        meta["step"], acc, meta["extra"],
                        result[s:e], mask[s:e], *[a[s:e] for a in np_cols],
                    )
                open_key, open_accs = key, new_accs
            out = pdf.copy()
            for name in names:
                mask, _, result = per_spec[name]
                out[name] = result_column(compiled[name], result, mask, out.index)
            yield out

    return prepared.mapInPandas(scan_partition, schema=out_schema)
