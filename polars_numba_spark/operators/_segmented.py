"""The segmented Arrow driver behind every fold/scan operator.

``grouped_fold``, ``grouped_scan``, their multi-spec forms and
``agg_with_fold`` all run one pass: shuffle on the group keys, sort within
partitions by keys + order, then one ``mapInArrow`` over the sorted record
batches. Within a batch a group is a contiguous run of equal keys (a
segment); each spec's kernel runs on its slice of every segment.

The whole-frame ``collect_fold``/``collect_scan`` are its one-group case:
:func:`ordered_partitions` makes the single partitioning decision (one
ordered partition, or range partitions for a declared ``combine``; an
input that is already one partition, by :func:`one_partition`, is sorted
where it stands with no exchange), :func:`fold_partitions` folds each
partition to one driver-side partial and :func:`scan_partitions` runs the
driver with no key columns, each partition seeded with its own starting
accumulator.

- **Boundaries**: change detection over the Arrow key columns. A null key
  equals a null key and, for floating keys, NaN equals NaN — one group each,
  as in Spark's ``groupBy``.
- **Carry**: the previous batch's last key row is prepended before the
  detection, so "the first segment continues the open group" is the same
  test as every other boundary; the open group's accumulators carry over.
- **Kernel input**: per spec, the null mask over its columns and the
  zero-filled NumPy columns (``_arrow``). NaN is a value, not null (the
  reference's Polars rule): a fold drops only null rows, a scan emits null
  only for null rows.
- **Output**: a fold emits one row per group — keys taken at the segment
  starts, a floating -0.0 as 0.0 (``groupBy``'s key), each result written
  into one buffer of its declared dtype; a scan emits every input row with
  one result column per spec.
"""

from __future__ import annotations

import pickle
from dataclasses import dataclass, replace
from functools import partial
from typing import Any, Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from py4j.protocol import Py4JError
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from polars_numba_spark._arrow import (
    column_to_numpy,
    fill_zero,
    null_mask,
    scan_result_to_arrow,
)
from polars_numba_spark.dtypes import normalize_spark_type, result_dtype_and_shape
from polars_numba_spark.kernels import compile_step_function, get_folder, get_scanner
from polars_numba_spark.operators._prep import (
    as_list,
    frame_order_select,
    input_numpy_dtypes,
    named_fields,
    resolve_input_columns,
)


@dataclass(frozen=True)
class KernelSpec:
    """One fold or scan: its compiled step, kernel, input columns and
    declared result (none for a whole-frame fold, which returns its
    accumulator as is)."""

    field: T.StructField | None
    step: Callable
    kernel: Callable
    cols: list[str]
    dtypes: list[np.dtype]
    extra: tuple
    acc0: Any
    res_np: np.dtype | None
    res_shape: tuple[int, ...]

    def inputs(self, batch: pa.RecordBatch) -> tuple[np.ndarray, list[np.ndarray]]:
        """The batch's null mask over this spec's columns and its zero-filled
        kernel columns."""
        arrays = [batch.column(c) for c in self.cols]
        filled = [column_to_numpy(fill_zero(a), d) for a, d in zip(arrays, self.dtypes)]
        return null_mask(arrays), filled

    def buffer(self, n: int) -> np.ndarray:
        return np.empty((n,) + self.res_shape, dtype=self.res_np)

    def fold(self, acc: Any, batch: pa.RecordBatch) -> Any:
        """Fold a whole batch from ``acc``, null rows dropped (ref `:339`)."""
        mask, arrays = self.inputs(batch)
        if mask.any():
            arrays = [a[~mask] for a in arrays]
        return self.kernel(self.step, acc, self.extra, *arrays)


def kernel_spec(
    df: DataFrame,
    name: str,
    function: Callable,
    initial_accumulator: Any,
    return_dtype: Any,
    cols: list[str],
    extra_args: Sequence[Any],
    get_kernel: Callable[[int], Callable],
) -> KernelSpec:
    step = compile_step_function(function)
    np_dtypes = input_numpy_dtypes(df, cols)
    declared = return_dtype is not None
    res_np, res_shape = result_dtype_and_shape(return_dtype) if declared else (None, ())
    return KernelSpec(
        field=T.StructField(name, normalize_spark_type(return_dtype)) if declared else None,
        step=step,
        kernel=get_kernel(len(cols)),
        cols=cols,
        dtypes=[np_dtypes[c] for c in cols],
        extra=tuple(extra_args),
        acc0=initial_accumulator,
        res_np=res_np,
        res_shape=res_shape,
    )


def grouped_pass(
    df: DataFrame,
    group_by: str | Sequence[str],
    specs: dict[str, dict],
    order_by: str | Sequence[str] | None,
    fold: bool,
) -> DataFrame:
    """Run ``specs`` (name → {function, initial_accumulator, return_dtype,
    columns, extra_args}) as folds or scans in one shuffle + sort +
    ``mapInArrow`` pass."""
    kind = "fold" if fold else "scan"
    keys = as_list(group_by)
    if not keys:
        raise ValueError("group_by must name at least one column")
    if not specs:
        raise ValueError(f"specs must contain at least one {kind}")
    order_cols = as_list(order_by)

    compiled: list[KernelSpec] = []
    all_cols: list[str] = []
    for name, spec in specs.items():
        cols = resolve_input_columns(df, spec.get("columns"), exclude=[*keys, *order_cols])
        compiled.append(kernel_spec(
            df, name, spec["function"], spec["initial_accumulator"],
            spec["return_dtype"], cols, spec.get("extra_args", ()),
            get_folder if fold else get_scanner,
        ))
        all_cols += [c for c in cols if c not in all_cols]

    colliding = sorted(set(specs) & {*keys, *order_cols, *all_cols})
    if colliding:
        raise ValueError(
            f"{kind} result names collide with key/order/input columns: {colliding}"
        )

    # a fold keeps the keys (in frame order); a scan keeps every input column
    passthrough = (
        [c for c in df.columns if c in keys] if fold else [*keys, *all_cols, *order_cols]
    )
    out_schema = T.StructType(
        named_fields(df, passthrough) + [spec.field for spec in compiled]
    )
    prepared = (
        frame_order_select(df, keys, all_cols, order_cols)
        .repartition(*keys)
        .sortWithinPartitions(*keys, *order_cols)
    )
    run = partial(_segmented, keys, compiled, passthrough, fold)
    return prepared.mapInArrow(run, schema=out_schema)


def one_partition(df: DataFrame) -> bool:
    """True when ``df`` runs as exactly one partition, decided on the
    driver without a job: its physical plan is one chain of single-child
    nodes with no exchange and no subquery, down to a file scan or an
    existing-RDD scan (a checkpoint, ``createDataFrame``) whose RDD has one
    partition. Any other leaf (a cached relation, a local table, a range)
    is not inspected and answers False, so nothing is materialized to
    decide.

    The check plans the frame and computes its scan's file splits from
    the file index the frame already holds: 13-23 ms a call on a warm
    session (SCALE.md, "Whole-frame fold and scan at the input's width").
    The exchange it can save costs a stage and a shuffle write. A Spark
    upgrade that changes the plan surface read here raises at this site."""
    try:
        node = df._jdf.queryExecution().executedPlan()
        if node.nodeName() == "AdaptiveSparkPlan":
            node = node.executedPlan()  # the initial plan; nothing has run
        if not node.subqueriesAll().isEmpty():
            return False
        children = node.children()
        while children.size() == 1:
            if "Exchange" in node.nodeName():
                return False
            node = children.head()
            children = node.children()
        if children.size():  # a join or a union: more than one input
            return False
        leaf = node.getClass().getSimpleName()
        if leaf == "FileSourceScanExec":
            rdd = node.inputRDD()
        elif leaf == "RDDScanExec":
            rdd = node.rdd()
        else:
            return False
        return rdd.getNumPartitions() == 1
    except Py4JError as e:
        raise RuntimeError(
            "operators/_segmented.py::one_partition: the physical plan is not "
            f"walkable ({e!r})"
        ) from e


def ordered_partitions(
    df: DataFrame, order_cols: list[str], parallel: bool
) -> tuple[DataFrame, bool]:
    """The whole-frame operators' partitioning: the prepared frame, and
    whether it is split into partitions whose partials must be combined.

    One partition (:func:`one_partition`, asked only when there is an
    order): ``coalesce(1).sortWithinPartitions`` at the input's own width,
    with or without ``combine``. One partition is one range, so there is
    nothing to combine; an exchange in front of an O(1)-per-row kernel
    costs more than it saves.

    Sequential (no ``combine``): one ordered partition. A non-associative
    fold or scan is inherently one stream (SURVEY.md §7 hard-part 2); with
    an order it is a single-shuffle ``repartition(1).sortWithinPartitions``,
    without one ``coalesce(1)`` keeps the source's file/row-group order with
    no shuffle at all.

    Parallel (a declared ``combine``): with an order, one range partition
    per task slot, each a CONTIGUOUS run of the declared order (hash
    partitions would interleave it, and a non-commutative combine would
    merge slices out of order); without one, the frame's own partitioning
    (a scan's native splits): nothing here widens it, for the same reason.
    """
    if not order_cols:
        return (df, True) if parallel else (df.coalesce(1), False)
    if one_partition(df):
        return df.coalesce(1).sortWithinPartitions(*order_cols), False
    if not parallel:
        return df.repartition(1).sortWithinPartitions(*order_cols), False
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartitionByRange(n, *order_cols).sortWithinPartitions(*order_cols), True


def fold_partitions(prepared: DataFrame, spec: KernelSpec) -> list[tuple[int, Any]]:
    """``(pid, acc)`` for each partition of ``prepared`` that holds rows, in
    partition order: ``spec`` folded over the partition's batches, the
    accumulator threaded across them. Only the pickled accumulators reach
    the driver."""

    def partial_fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc, saw_rows = spec.acc0, False
        for batch in batches:
            if batch.num_rows:
                acc, saw_rows = spec.fold(acc, batch), True
        if saw_rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array([TaskContext.get().partitionId()], type=pa.int32()),
                 pa.array([pickle.dumps(acc)], type=pa.binary())],
                names=["pid", "acc"],
            )

    rows = prepared.mapInArrow(partial_fold, schema="pid int, acc binary").collect()
    return [(pid, pickle.loads(acc)) for pid, acc in sorted(rows)]


def scan_partitions(
    prepared: DataFrame, spec: KernelSpec, names: list[str], seeds: dict[int, Any]
) -> DataFrame:
    """``names`` plus ``spec``'s scan column: the segmented driver with no
    key columns, so each partition is one group, seeded with
    ``seeds[pid]``. A partition missing from ``seeds`` holds no rows or
    starts at ``spec.acc0``."""

    def seeded_scan(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        seed = seeds.get(TaskContext.get().partitionId(), spec.acc0)
        return _segmented([], [replace(spec, acc0=seed)], names, False, batches)

    schema = T.StructType(named_fields(prepared, names) + [spec.field])
    return prepared.mapInArrow(seeded_scan, schema=schema)


def _key_changes(columns: Sequence[pa.Array], m: int) -> np.ndarray:
    """``out[i]`` is True where row ``i + 1`` of ``m`` starts a new group;
    with no key columns the rows are one group. ``pc.not_equal`` gives null
    for a null side and true for NaN vs NaN, so both are decided
    explicitly."""
    out = np.zeros(m - 1, dtype=bool)
    for col in columns:
        cur, prev = col.slice(1), col.slice(0, m - 1)
        neq = pc.not_equal(cur, prev)
        if pa.types.is_floating(col.type):
            neq = pc.and_not(neq, pc.and_(pc.is_nan(cur), pc.is_nan(prev)))
        neq = pc.fill_null(neq, False)
        if col.null_count:
            neq = pc.or_(neq, pc.not_equal(pc.is_null(cur), pc.is_null(prev)))
        out |= neq.to_numpy(zero_copy_only=False)
    return out


def result_batch(
    names: list[str],
    columns: list[pa.Array],
    specs: list[KernelSpec],
    results: list[np.ndarray],
    masks: list[np.ndarray],
) -> pa.RecordBatch:
    """``columns`` plus one result column per spec, null where its mask is
    set (ref `:733-736`)."""
    return pa.RecordBatch.from_arrays(
        [*columns, *(scan_result_to_arrow(r, m, s.res_shape)
                     for s, r, m in zip(specs, results, masks))],
        names=[*names, *(s.field.name for s in specs)],
    )


def group_key(col: pa.Array) -> pa.Array:
    """``col`` as Spark's ``groupBy`` emits a key: a floating -0.0 becomes
    0.0 (``x + 0.0`` is ``x`` for every other value, NaN and null
    included), so a fold's key does not depend on which row came first."""
    if pa.types.is_floating(col.type):
        return pc.add(col, pa.scalar(0.0, col.type))
    return col


def _fold_rows(
    keys: list[str],
    key_cols: list[pa.Array],
    rows: Sequence[int],
    passthrough: list[str],
    specs: list[KernelSpec],
    results: list[np.ndarray],
) -> pa.RecordBatch:
    """One output row per folded group: its keys at ``rows`` as ``groupBy``
    gives them (:func:`group_key`), its results."""
    by_name = dict(zip(keys, key_cols))
    no_nulls = [np.zeros(len(rows), dtype=bool)] * len(specs)
    columns = [group_key(by_name[k].take(rows)) for k in passthrough]
    return result_batch(passthrough, columns, specs, results, no_nulls)


def _segmented(
    keys: list[str],
    specs: list[KernelSpec],
    passthrough: list[str],
    fold: bool,
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    prev: list[pa.Array] | None = None  # the previous batch's last key row
    accs: list[Any] = []  # the open group's accumulators, one per spec
    for batch in batches:
        n = batch.num_rows
        if not n:
            continue
        key_cols = [batch.column(k) for k in keys]
        off = 0  # key rows ahead of the batch's first row
        if prev is not None:
            key_cols = [pa.concat_arrays([p, c]) for p, c in zip(prev, key_cols)]
            off = 1
        # segment g is key rows [bounds[g], bounds[g + 1]), batch rows
        # [starts[g], ends[g]); the last segment stays open
        changes = np.flatnonzero(_key_changes(key_cols, n + off)) + 1
        bounds = np.concatenate(([0], changes, [n + off]))
        starts, ends = np.maximum(bounds[:-1] - off, 0), bounds[1:] - off
        closed = len(starts) - 1  # groups that end inside this batch
        inputs = [spec.inputs(batch) for spec in specs]
        results = [spec.buffer(closed if fold else n) for spec in specs]
        has_nulls = []  # a fold drops null rows (ref `:339`): per spec, per segment
        if fold:
            for mask, _ in inputs:
                before = np.concatenate(([0], np.cumsum(mask)))
                has_nulls.append((before[ends] > before[starts]).tolist())
        for g, (s, e) in enumerate(zip(starts.tolist(), ends.tolist())):
            if g or not off:
                accs = [spec.acc0 for spec in specs]
            for i, spec in enumerate(specs):
                mask, arrays = inputs[i]
                rows = [a[s:e] for a in arrays]
                if not fold:
                    accs[i] = spec.kernel(
                        spec.step, accs[i], spec.extra, results[i][s:e], mask[s:e], *rows
                    )
                    continue
                if has_nulls[i][g]:
                    keep = ~mask[s:e]
                    rows = [r[keep] for r in rows]
                accs[i] = spec.kernel(spec.step, accs[i], spec.extra, *rows)
                if g < closed:
                    results[i][g] = accs[i]
        prev = [c.slice(len(c) - 1) for c in key_cols]
        if not fold:
            columns = [batch.column(c) for c in passthrough]
            masks = [m for m, _ in inputs]
            yield result_batch(passthrough, columns, specs, results, masks)
        elif closed:
            yield _fold_rows(keys, key_cols, bounds[:-2], passthrough, specs, results)
    if fold and prev is not None:
        results = [spec.buffer(1) for spec in specs]
        for r, acc in zip(results, accs):
            r[0] = acc
        yield _fold_rows(keys, prev, [0], passthrough, specs, results)
