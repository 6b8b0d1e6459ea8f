"""Fold operators: sequential, order-dependent reduction of rows to a value.

Reference semantics being reproduced
(``/root/reference/src/polars_numba/__init__.py``):

- ``collect_fold`` (`:312-355`): fold the whole frame to ONE Python value,
  streaming in batches, accumulator threaded across batch boundaries. Rows
  with a null in any selected column are dropped *before* folding (`:339`,
  docstring `:332`, tested `tests/test_collect_fold.py:41-56`). NaN is a
  value, not null: a NaN row is folded (the Polars rule).
- ``fold`` expression (`:358-405`): the same reduction usable per-group
  inside an aggregation context (`examples_fold.py:87-97`). Here that is
  :func:`grouped_fold` — a hash partition on the keys, an explicit
  intra-group sort (Polars frames are ordered; Spark DataFrames are not, so
  order is a parameter, not an assumption) and the segmented Arrow driver
  of ``_segmented``.

The step function need NOT be associative (the credit-card example,
`examples_fold.py:47-75`, rejects purchases based on running state — no
partial-aggregation plan can compute it), which dictates the physical
strategy:

- **grouped fold**: parallel across groups (shuffle on keys, Catalyst-planned),
  sequential within each group. One ``mapInArrow`` pass walks the sorted
  batches, finds group boundaries by change detection over the Arrow key
  columns and carries the open group's accumulator across batches; the
  single-spec, multi-spec and ``agg_with_fold`` forms all run it.
- **global fold**: the one-group case of the same driver, logically a
  single ordered stream. ``ordered_partitions`` collapses the frame to ONE
  ordered partition and ``fold_partitions`` folds its Arrow batches in one
  executor task, accumulator threaded across batches — the Spark analog of
  the reference's driver batch loop (`:341-355`) that keeps data off the
  driver. An ordered input that is already one partition is sorted where
  it stands (no exchange). A declared ``combine=`` folds range (or source)
  partitions in parallel instead and merges their partials on the driver;
  over a one-partition ordered input it takes the sequential plan, since
  one partition is one range. For
  associative steps use
  :func:`polars_numba_spark.operators.window.assoc_fold` instead, which
  stays fully parallel and JVM-side.
"""

from __future__ import annotations

import operator
import warnings
from functools import reduce
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_numba_spark.kernels import get_folder
from polars_numba_spark.operators._prep import (
    as_list,
    frame_order_select,
    resolve_input_columns,
)
from polars_numba_spark.operators._segmented import (
    fold_partitions,
    grouped_pass,
    kernel_spec,
    ordered_partitions,
)
from polars_numba_spark.operators.skew import skewed_group


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

    - Null rows (any selected column) are dropped before folding (ref `:339`);
      NaN rows are folded.
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

    Plan: with ``order_by``, an input whose plan reads one partition with
    no exchange (``_segmented.one_partition``, a driver-side check) is
    sorted in place — ``coalesce(1).sortWithinPartitions``, no exchange —
    with or without ``combine``, and folds to the sequential result. Any
    other ordered input is one ``repartition(1)`` partition, or with
    ``combine`` range partitions. Without ``order_by`` nothing is checked:
    ``coalesce(1)``, or with ``combine`` the input's own partitions.
    """
    order_cols = as_list(order_by)
    cols = resolve_input_columns(df, column_names, exclude=order_cols)
    spec = kernel_spec(df, "fold", function, initial_accumulator, None, cols,
                       extra_args, get_folder)
    # NaN is a value: only nulls drop (``na.drop`` would drop NaN too). The
    # filter stays declarative, so column pruning and IsNotNull pushdown
    # reach the parquet scan before the partitioning.
    prepared = frame_order_select(df, cols, order_cols).where(
        reduce(operator.and_, [F.col(c).isNotNull() for c in cols])
    )
    prepared, _ = ordered_partitions(prepared, order_cols, combine is not None)
    partials = [acc for _, acc in fold_partitions(prepared, spec)]
    if not partials:
        return spec.acc0
    if combine is None:
        return partials[0]
    # Partition partials combine on the driver: O(#partitions) tiny values.
    # NOTE: requires f(f(a0, xs), f(a0, ys)) == f(a0, xs ++ ys) under
    # `combine`. With order_by, partitions are contiguous ranges of the
    # declared order and arrive in partition order, so a non-commutative
    # (but decomposable) combine is safe; without order_by, partition
    # contents are arbitrary and `combine` must be order-insensitive.
    return reduce(combine, partials)


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
) -> DataFrame:
    """Per-group sequential fold → one row per group (keys + result).

    Parity: ref expression ``fold`` `__init__.py:358-405` used inside
    ``group_by().agg(...)`` (`examples_fold.py:87-97`). Multi-column input is
    explicit here (``columns=[...]``) instead of the reference's
    ``pl.struct()`` packing (`:370-372`) — in an Arrow batch the columns
    arrive separately anyway. This is the one-spec call of
    :func:`grouped_multi_fold`, so ``result_name`` may not name a key, order
    or input column.

    - Null rows (any selected column) are dropped per group before folding
      (ref `:391`, tested `tests/test_expr_fold.py:32-46`); NaN rows are
      folded. A NaN key and a null key are two groups, as in ``groupBy``.
    - The result is cast to ``return_dtype`` (ref `:400-405`); a tuple
      accumulator with ``return_dtype=SizedArray(t, k)`` yields an
      ``array<t>`` of length k (ref `:673-679`).

    Scale notes: the shuffle is on the group keys (Catalyst hash partition);
    a group streams through its worker batch by batch, but one worker folds
    it sequentially. For skewed keys, pre-salt + two-level fold only works
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
    keys = as_list(group_by)
    if not keys:
        raise ValueError("group_by must name at least one column")
    order_cols = as_list(order_by)
    cols = resolve_input_columns(df, columns, exclude=[*keys, *order_cols])

    skew = skewed_group(df, keys, skew_check)
    if skew and combine is not None:
        # 16 salt buckets spread a hot group over 16 partial folds
        salt_src = [F.col(c) for c in (order_cols or cols)]
        salted = df.withColumn(
            "__fold_salt", F.pmod(F.xxhash64(*salt_src), F.lit(16)).cast("int")
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
    if skew:
        share, threshold, hot = skew
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
    spec = dict(function=function, initial_accumulator=initial_accumulator,
                return_dtype=return_dtype, columns=cols, extra_args=extra_args)
    return grouped_multi_fold(df, keys, {result_name: spec}, order_by=order_by)


def grouped_multi_fold(
    df: DataFrame,
    group_by: str | Sequence[str],
    specs: dict[str, dict],
    order_by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Several independent folds over the SAME keys and ordering, executed
    in ONE shuffle + partition-local sort + ``mapInArrow`` pass — one row
    per group carrying every fold's result.

    The fused form of N :func:`grouped_fold` calls: data is shuffled and
    sorted once and each Arrow batch is scanned once, with every spec's
    kernel folding its own column slice (its own null mask — the per-spec
    null rule is preserved exactly). Specs are ``name → {function,
    initial_accumulator, return_dtype, columns, extra_args}``; ``order_by``
    is shared (folds needing different orderings need different sorts —
    use separate :func:`grouped_fold` calls). A result name may not name a
    key, order or input column.
    """
    return grouped_pass(df, group_by, specs, order_by, fold=True)


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
    native aggregates as one Catalyst ``groupBy().agg`` and the folds as one
    :func:`grouped_multi_fold` pass per distinct ``order_by``, then
    null-safe-joins the per-key results (null is one group in both paths,
    matching groupBy semantics).

    ``native_aggs`` maps result name → aggregate Column;
    ``folds`` maps result name → a :func:`grouped_multi_fold` spec plus its
    ``order_by`` (``function, initial_accumulator, return_dtype, columns,
    order_by, extra_args``).

    Scale notes: each component shuffles once on the SAME keys and the
    joins are key-equi — at cluster scale co-partitioned joins of
    already-aggregated (one-row-per-key) sides, far smaller than the input.
    Folds sharing an ``order_by`` are FUSED into one pass (one shuffle +
    sort + scan for all of them), so the typical many-folds-one-ordering
    call costs one kernel pass and one join regardless of fold count.
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
        specs = {
            n: {k: v for k, v in s.items() if k != "order_by"}
            for n, s in group.items()
        }
        folded = grouped_multi_fold(df, keys, specs, order_by=list(ob))
        out = folded if out is None else join_on_keys(out, folded)
    return out
