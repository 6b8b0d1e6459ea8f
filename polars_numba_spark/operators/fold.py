"""Fold operators: sequential, order-dependent reduction of rows to a value.

Reference semantics being reproduced
(``/root/reference/src/polars_numba/__init__.py``):

- ``collect_fold`` (`:312-355`): fold the whole frame to ONE Python value,
  streaming in batches, accumulator threaded across batch boundaries. Rows
  with a null in any selected column are dropped *before* folding (`:339`,
  docstring `:332`, tested `tests/test_collect_fold.py:41-56`).
- ``fold`` expression (`:358-405`): the same reduction usable per-group
  inside an aggregation context (`examples_fold.py:87-97`). Here that is
  :func:`grouped_fold` — a hash-partitioned ``applyInPandas`` with an
  explicit intra-group sort (Polars frames are ordered; Spark DataFrames are
  not, so order is a parameter, not an assumption).

The step function need NOT be associative (the credit-card example,
`examples_fold.py:47-75`, rejects purchases based on running state — no
partial-aggregation plan can compute it), which dictates the physical
strategy:

- **grouped fold**: parallel across groups (shuffle on keys, Catalyst-planned),
  sequential within each group — exactly the per-group callback structure of
  the reference's expression fold.
- **global fold**: logically a single ordered stream. We run it as ONE
  executor task over Arrow batches (``mapInArrow`` on a single partition),
  accumulator threaded across batches inside the generator — the Spark
  analog of the reference's driver batch loop (`:341-355`) that keeps data
  off the driver. For associative steps use
  :func:`polars_numba_spark.operators.window.assoc_fold` instead, which
  stays fully parallel and JVM-side.
"""

from __future__ import annotations

import pickle
from typing import Any, Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from polars_numba_spark._arrow import column_to_numpy
from polars_numba_spark.dtypes import (
    SizedArray,
    normalize_spark_type,
    result_dtype_and_shape,
)
from polars_numba_spark.kernels import compile_step_function, get_folder
from polars_numba_spark.operators._prep import (
    as_list,
    frame_order_select,
    group_boundaries,
    input_numpy_dtypes,
    key_tuple,
    resolve_input_columns,
)


def _single_ordered_stream(df: DataFrame, order_by: list[str]) -> DataFrame:
    """Collapse to one ordered partition.

    Scale note: a non-associative global fold is inherently sequential — one
    stream is the *correct* plan, not a missed optimization (SURVEY.md §7
    hard-part 2). With ``order_by`` this is a single-shuffle
    ``repartition(1).sortWithinPartitions`` (no global range partitioning
    step); without it, ``coalesce(1)`` preserves the source's file/row-group
    order with no shuffle at all.
    """
    if order_by:
        return df.repartition(1).sortWithinPartitions(*order_by)
    return df.coalesce(1)


def collect_fold(
    df: DataFrame,
    function: Callable,
    initial_accumulator: Any,
    extra_args: Sequence[Any] = (),
    column_names: Sequence[str] | None = None,
    order_by: str | Sequence[str] | None = None,
    combine: Callable[[Any, Any], Any] | None = None,
) -> Any:
    """Fold the frame to a single driver-side Python value.

    Parity: ref ``collect_fold`` `__init__.py:312-355`. Differences forced by
    Spark's model: DataFrames are unordered, so ``order_by`` declares row
    order (omit it to inherit the source's natural order — deterministic for
    a fresh file scan); the fold itself runs on an executor, only the final
    accumulator (pickled, one row) reaches the driver.

    - Null rows (any selected column) are dropped before folding (ref `:339`).
    - ``extra_args`` are passed positionally between the accumulator and the
      column values (ref `:316,376-379`).
    - ``column_names=None`` binds ALL frame columns positionally
      (ref `:346-348`; tested `tests/test_collect_fold.py:75-85`).
    - ``combine=None`` (default) preserves the reference's sequential
      semantics exactly (single ordered stream). Supplying ``combine(a, b)``
      DECLARES that partition partial folds merge correctly — the fold then
      runs partition-parallel (one partial per partition, combined on the
      driver), which is the scale path for decomposable reductions that the
      named-kind ``assoc_fold`` can't express (custom states, tuples).
    """
    step = compile_step_function(function)
    order_cols = as_list(order_by)
    cols = resolve_input_columns(df, column_names, exclude=order_cols)
    np_dtypes = input_numpy_dtypes(df, cols)
    folder = get_folder(len(cols))
    extra = tuple(extra_args)
    acc0 = initial_accumulator
    dtype_list = [np_dtypes[c] for c in cols]

    prepared = frame_order_select(df, cols, order_cols).na.drop(subset=cols)
    if combine is None:
        prepared = _single_ordered_stream(prepared, order_cols)
    elif order_cols:
        # Partition-parallel path with a declared order: range-partition on
        # the order columns so each partition is a CONTIGUOUS run of the
        # declared order (hash partitions would be arbitrary interleavings —
        # an associative-but-non-commutative combine would silently merge
        # out-of-order slices). collect() preserves partition order, so the
        # driver-side combine below merges partials in true sequence.
        prepared = prepared.repartitionByRange(*order_cols).sortWithinPartitions(
            *order_cols
        )
    # Catalyst still sees select + na.drop declaratively → column pruning and
    # IsNotNull pushdown reach the parquet scan before the stream collapses.

    def fold_stream(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        acc = acc0
        saw_rows = False
        for batch in batches:
            if batch.num_rows == 0:
                continue
            saw_rows = True
            arrays = [
                column_to_numpy(batch.column(c), dtype_list[i])
                for i, c in enumerate(cols)
            ]
            acc = folder(step, acc, extra, *arrays)
        if combine is None or saw_rows:
            yield pa.RecordBatch.from_arrays(
                [pa.array([pickle.dumps(acc)], type=pa.binary())], names=["acc"]
            )

    result = prepared.mapInArrow(fold_stream, schema="acc binary").collect()
    if not result:
        return acc0
    if combine is None:
        return pickle.loads(bytes(result[0][0]))
    # Partition partials combine on the driver — O(#partitions) tiny values.
    # NOTE: requires f(f(a0, xs), f(a0, ys)) == f(a0, xs ++ ys) under
    # `combine`. With order_by, partitions are contiguous ranges of the
    # declared order (repartitionByRange above) and arrive in partition
    # order, so a non-commutative (but decomposable) combine is safe;
    # without order_by, partition contents are arbitrary and `combine`
    # must be order-insensitive.
    partials = [pickle.loads(bytes(row[0])) for row in result]
    acc = partials[0]
    for p in partials[1:]:
        acc = combine(acc, p)
    return acc


def grouped_fold(
    df: DataFrame,
    group_by: str | Sequence[str],
    function: Callable,
    initial_accumulator: Any,
    return_dtype: Any,
    columns: Sequence[str] | None = None,
    order_by: str | Sequence[str] | None = None,
    extra_args: Sequence[Any] = (),
    result_name: str = "fold",
    skew_check: bool | float = False,
    combine: Callable | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Per-group sequential fold → one row per group (keys + result).

    Parity: ref expression ``fold`` `__init__.py:358-405` used inside
    ``group_by().agg(...)`` (`examples_fold.py:87-97`). Multi-column input is
    explicit here (``columns=[...]``) instead of the reference's
    ``pl.struct()`` packing (`:370-372`) — inside ``applyInPandas`` the
    columns arrive separately anyway.

    - Null rows (any selected column) are dropped per group before folding
      (ref `:391`, tested `tests/test_expr_fold.py:32-46`).
    - The result is cast to ``return_dtype`` (ref `:400-405`); a tuple
      accumulator with ``return_dtype=SizedArray(t, k)`` yields an
      ``array<t>`` of length k (ref `:673-679`).

    Scale notes: the shuffle is on the group keys (Catalyst hash partition);
    each group must fit one Python worker's memory — inherent to
    ``applyInPandas``. For skewed keys, pre-salt + two-level fold only works
    for decomposable steps — declare one with ``combine=``; for
    non-associative steps skew is a data-model problem, documented, not
    hidden.

    ``skew_check`` (round 6): ``True`` or a share in (0, 1) runs a sampled
    hottest-key sketch at plan-construction time (one sample-sized job —
    the ``_choose_shingle_via`` pattern; ``True`` means one fair reducer
    share, ``1/shuffle.partitions``). If the hottest group exceeds the
    threshold: with ``combine=`` declared the fold AUTO-SALTS — a
    two-level fold over ``(keys, salt)`` partials merged by folding
    ``combine`` over each key's partials — otherwise it warns, pointing at
    the escape hatches. The salted path requires ``combine`` to be
    insensitive to how the group's rows were split (with ``order_by``:
    each salted subset folds in the declared order, but subsets interleave
    arbitrarily), ``initial_accumulator`` to be ``combine``'s identity,
    and the accumulator to survive the cast to ``return_dtype`` between
    levels (numeric/array accumulators do).
    """
    from pyspark.sql import functions as F

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
            if combine is None:
                import warnings

                warnings.warn(
                    f"grouped_fold skew: sampled hottest group {hot} holds "
                    f"~{share:.0%} of rows (threshold {threshold:.1%}); one "
                    "Python worker folds it sequentially. If the step is "
                    "decomposable, pass combine= to auto-salt; if it is "
                    "associative, window.assoc_fold / skew.salted_agg stay "
                    "JVM-side; otherwise hot-key state is inherent to the "
                    "declared semantics.",
                    stacklevel=2,
                )
            else:
                salt_src = [F.col(c) for c in (order_cols or cols)]
                salted = df.withColumn(
                    "__fold_salt",
                    F.pmod(F.xxhash64(*salt_src), F.lit(salt_buckets)).cast(
                        "int"
                    ),
                )
                partials = grouped_fold(
                    salted,
                    [*keys, "__fold_salt"],
                    function,
                    initial_accumulator,
                    return_dtype,
                    columns=cols,
                    order_by=order_by,
                    extra_args=extra_args,
                    result_name="__p",
                )
                return grouped_fold(
                    partials,
                    keys,
                    combine,
                    initial_accumulator,
                    return_dtype,
                    columns=["__p"],
                    result_name=result_name,
                )
    np_dtypes = input_numpy_dtypes(df, cols)
    folder = get_folder(len(cols))
    extra = tuple(extra_args)
    acc0 = initial_accumulator
    dtype_list = [np_dtypes[c] for c in cols]
    res_np_dtype, res_shape = result_dtype_and_shape(return_dtype)

    key_fields = [f for f in df.schema.fields if f.name in keys]
    if isinstance(return_dtype, SizedArray):
        res_field = T.StructField(result_name, return_dtype.spark_type())
    else:
        res_field = T.StructField(result_name, normalize_spark_type(return_dtype))
    out_schema = T.StructType(key_fields + [res_field])

    def cast_result(acc: Any) -> Any:
        # Cast via a NumPy buffer in the declared dtype — assignment performs
        # the same cast the reference applies when building the result Series
        # with dtype=return_dtype (ref `:733`, test `test_collect_scan.py:75-92`).
        buf = np.empty((1,) + res_shape, dtype=res_np_dtype)
        buf[0] = acc
        if res_shape:
            return buf[0].tolist()
        return buf[0].item() if res_np_dtype.kind in "biuf" else buf[0]

    def fold_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Rows arrive grouped (partitioned by keys, sorted by keys+order), so
        # groups are contiguous. Group boundaries are found with NumPy change
        # detection on the key columns — no pandas groupby, no per-group
        # frames; the kernel runs on array slices. Only the LAST group of a
        # batch can continue into the next batch — its accumulator is carried
        # instead of emitted.
        open_key: tuple | None = None
        open_acc: Any = None
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            # fold null rule (ref `:339`): rows with a null in any selected
            # column are dropped — but only the ROWS, not their group: a
            # group that is entirely null still yields acc0. So boundaries
            # are detected on the full batch and nulls filtered per slice.
            mask = np.zeros(n, dtype=bool)
            for c in cols:
                mask |= pdf[c].isna().to_numpy()
            valid = ~mask
            data_arrays = [
                pdf[c].fillna(0).to_numpy().astype(dtype_list[i], copy=False)
                for i, c in enumerate(cols)
            ]
            starts, ends = group_boundaries(pdf, keys)
            out_keys: list[tuple] = []
            out_vals: list[Any] = []
            for s, e in zip(starts, ends):
                key = key_tuple(pdf, keys, s)
                acc = open_acc if key == open_key else acc0
                v = valid[s:e]
                if v.all():
                    acc = folder(step, acc, extra, *[a[s:e] for a in data_arrays])
                elif v.any():
                    acc = folder(step, acc, extra, *[a[s:e][v] for a in data_arrays])
                if open_key is not None and key != open_key:
                    out_keys.append(open_key)
                    out_vals.append(cast_result(open_acc))
                open_key, open_acc = key, acc
            if out_keys:
                data = {k: [kk[i] for kk in out_keys] for i, k in enumerate(keys)}
                data[result_name] = out_vals
                yield pd.DataFrame(data)
        if open_key is not None:
            data = {k: [open_key[i]] for i, k in enumerate(keys)}
            data[result_name] = [cast_result(open_acc)]
            yield pd.DataFrame(data)

    # One shuffle on the keys + partition-local sort; Python is crossed once
    # per Arrow batch (not once per group — with millions of small groups the
    # per-group applyInPandas overhead dominates the kernel cost).
    prepared = (
        frame_order_select(df, keys, cols, order_cols)
        .repartition(*keys)
        .sortWithinPartitions(*keys, *order_cols)
    )
    return prepared.mapInPandas(fold_partition, schema=out_schema)


def grouped_multi_fold(
    df: DataFrame,
    group_by: str | Sequence[str],
    specs: dict[str, dict],
    order_by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Several independent folds over the SAME keys and ordering, executed
    in ONE shuffle + partition-local sort + ``mapInPandas`` pass — one row
    per group carrying every fold's result.

    The fused form of N :func:`grouped_fold` calls: data is shuffled and
    sorted once and each Arrow batch is scanned once, with every spec's
    kernel folding its own column slice (its own null mask — the per-spec
    null rule is preserved exactly). Specs are ``name → {function,
    initial_accumulator, return_dtype, columns, extra_args}``; ``order_by``
    is shared (folds needing different orderings need different sorts —
    use separate :func:`grouped_fold` calls).
    """
    keys = as_list(group_by)
    if not keys:
        raise ValueError("group_by must name at least one column")
    if not specs:
        raise ValueError("specs must contain at least one fold")
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
            folder=get_folder(len(cols)),
            extra=tuple(spec.get("extra_args", ())),
            acc0=spec["initial_accumulator"],
            res_np=res_np,
            res_shape=res_shape,
        )
        for c in cols:
            if c not in all_cols:
                all_cols.append(c)

    reserved = set(keys) | set(order_cols) | set(all_cols)
    colliding = sorted(set(names) & reserved)
    if colliding:
        raise ValueError(
            f"fold result names collide with key/order/input columns: {colliding}"
        )

    key_fields = [f for f in df.schema.fields if f.name in keys]
    res_fields = []
    for name, spec in specs.items():
        rd = spec["return_dtype"]
        if isinstance(rd, SizedArray):
            res_fields.append(T.StructField(name, rd.spark_type()))
        else:
            res_fields.append(T.StructField(name, normalize_spark_type(rd)))
    out_schema = T.StructType(key_fields + res_fields)

    def cast_result(meta: dict, acc: Any) -> Any:
        buf = np.empty((1,) + meta["res_shape"], dtype=meta["res_np"])
        buf[0] = acc
        if meta["res_shape"]:
            return buf[0].tolist()
        return buf[0].item() if meta["res_np"].kind in "biuf" else buf[0]

    def fold_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Same carry protocol as grouped_fold: only the LAST group of a
        # batch can continue into the next; its accumulators (one per spec)
        # are carried instead of emitted.
        open_key: tuple | None = None
        open_accs: dict[str, Any] = {}
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            per_spec: dict[str, tuple] = {}
            for name in names:
                meta = compiled[name]
                mask = np.zeros(n, dtype=bool)
                for c in meta["cols"]:
                    mask |= pdf[c].isna().to_numpy()
                arrays = [
                    pdf[c].fillna(0).to_numpy().astype(meta["dtypes"][i], copy=False)
                    for i, c in enumerate(meta["cols"])
                ]
                per_spec[name] = (~mask, arrays)
            starts, ends = group_boundaries(pdf, keys)
            out_keys: list[tuple] = []
            out_vals: dict[str, list] = {name: [] for name in names}
            for s, e in zip(starts, ends):
                key = key_tuple(pdf, keys, s)
                continuing = key == open_key
                new_accs: dict[str, Any] = {}
                for name in names:
                    meta = compiled[name]
                    acc = open_accs[name] if continuing else meta["acc0"]
                    valid, arrays = per_spec[name]
                    v = valid[s:e]
                    if v.all():
                        acc = meta["folder"](
                            meta["step"], acc, meta["extra"], *[a[s:e] for a in arrays]
                        )
                    elif v.any():
                        acc = meta["folder"](
                            meta["step"], acc, meta["extra"], *[a[s:e][v] for a in arrays]
                        )
                    new_accs[name] = acc
                if open_key is not None and not continuing:
                    out_keys.append(open_key)
                    for name in names:
                        out_vals[name].append(cast_result(compiled[name], open_accs[name]))
                open_key, open_accs = key, new_accs
            if out_keys:
                data = {k: [kk[i] for kk in out_keys] for i, k in enumerate(keys)}
                data.update(out_vals)
                yield pd.DataFrame(data)
        if open_key is not None:
            data = {k: [open_key[i]] for i, k in enumerate(keys)}
            for name in names:
                data[name] = [cast_result(compiled[name], open_accs[name])]
            yield pd.DataFrame(data)

    prepared = (
        frame_order_select(df, keys, all_cols, order_cols)
        .repartition(*keys)
        .sortWithinPartitions(*keys, *order_cols)
    )
    return prepared.mapInPandas(fold_partition, schema=out_schema)


def agg_with_fold(
    df: DataFrame,
    group_by: str | Sequence[str],
    native_aggs: dict[str, Any],
    folds: dict[str, dict],
) -> DataFrame:
    """One grouped result mixing native Spark aggregates with kernel folds.

    Closes the expression-context gap vs the reference, whose fold is an
    ``Expr`` usable INSIDE ``group_by().agg(...)`` alongside other
    expressions (ref `examples_fold.py:87-97` — a fold and native aggs in
    one ``agg`` call). Spark aggregate expressions can't host an arbitrary
    sequential kernel, so the equivalent surface is this helper: it runs the
    native aggregates as one Catalyst ``groupBy().agg`` and each fold spec
    through :func:`grouped_fold`, then null-safe-joins the per-key results
    (null is one group in both paths, matching groupBy semantics).

    ``native_aggs`` maps result name → aggregate Column;
    ``folds`` maps result name → kwargs for :func:`grouped_fold`
    (``function, initial_accumulator, return_dtype, columns, order_by,
    extra_args``).

    Scale notes: each component shuffles once on the SAME keys and the
    joins are key-equi — at cluster scale co-partitioned joins of
    already-aggregated (one-row-per-key) sides, far smaller than the input.
    Folds sharing an ``order_by`` are FUSED into one
    :func:`grouped_multi_fold` pass (one shuffle + sort + scan for all of
    them), so the typical many-folds-one-ordering call costs one kernel
    pass and one join regardless of fold count.
    """
    keys = as_list(group_by)
    if not keys:
        raise ValueError("group_by must name at least one column")
    names = list(native_aggs) + list(folds)
    dupes = {n for n in names if names.count(n) > 1} | (set(names) & set(keys))
    if dupes:
        raise ValueError(f"duplicate result/key names: {sorted(dupes)}")

    if native_aggs:
        out = df.groupBy(*keys).agg(
            *[expr.alias(name) for name, expr in native_aggs.items()]
        )
    elif not folds:
        raise ValueError("agg_with_fold needs at least one native agg or fold")
    else:
        # folds-only call: GroupedData.agg() requires >=1 expression, so the
        # first fold result seeds `out` and the rest join onto it below.
        out = None

    # fuse folds by shared ordering: one kernel pass per distinct order_by
    by_order: dict[tuple, dict[str, dict]] = {}
    for name, spec in folds.items():
        ob = tuple(as_list(spec.get("order_by")))
        by_order.setdefault(ob, {})[name] = spec

    def join_on_keys(left: DataFrame, right: DataFrame) -> DataFrame:
        renames = {k: f"__fk_{k}" for k in keys}
        for old, new in renames.items():
            right = right.withColumnRenamed(old, new)
        cond = None
        for k in keys:
            c = left[k].eqNullSafe(right[renames[k]])
            cond = c if cond is None else (cond & c)
        return left.join(right, cond, "inner").drop(*renames.values())

    for ob, group in by_order.items():
        if len(group) == 1:
            name, spec = next(iter(group.items()))
            folded = grouped_fold(df, keys, result_name=name, **spec)
        else:
            specs = {
                n: {k: v for k, v in s.items() if k != "order_by"}
                for n, s in group.items()
            }
            folded = grouped_multi_fold(df, keys, specs, order_by=list(ob))
        out = folded if out is None else join_on_keys(out, folded)
    return out
