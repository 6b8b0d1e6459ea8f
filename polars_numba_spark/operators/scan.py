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
- NaN is a value, not null: a NaN input is passed to the step and a NaN
  accumulator is emitted as NaN, never as null (the Polars rule).

Physical strategy mirrors fold.py: grouped scans shuffle on the keys, sort
within partitions and run the segmented Arrow driver of ``_segmented``
(parallel across groups, `examples_scan.py:72-82`), which carries each
group's accumulator across batches. The global scan is the driver's
one-group case (``scan_partitions``: no key columns): a single ordered
partition, or with ``combine=`` range partitions each seeded with the
prefix of the partials ``fold_partitions`` folded before them. An input
that is already one partition is sorted where it stands (no exchange),
with or without ``combine=``: one partition is one range, so there is
nothing to combine.
Associative scans (running max/sum) should use
:func:`polars_numba_spark.operators.window.assoc_scan` — a pure window
frame that never leaves the JVM.
"""

from __future__ import annotations

import warnings
from dataclasses import replace
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame

from polars_numba_spark.kernels import get_folder, get_scanner
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
    scan_partitions,
)
from polars_numba_spark.operators.skew import skewed_group
from polars_numba_spark.plans.checkpoint import session_scoped_checkpoint


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
    instead: range-partition on the order key (one partition per task
    slot), pass 1 folds per-partition partials, the driver prefix-combines
    them into per-partition seeds (O(#partitions) tiny values), pass 2 scans
    each partition seeded with its prefix — fully parallel, exact.
    ``combine`` must satisfy ``fold(a, rows) == combine(a, fold(acc0,
    rows))``; ``order_by`` is required and should be a total order (ties
    make range partitioning nondeterministic at partition edges).

    One-partition rule: when ``order_by`` is given and the input's plan
    reads one partition with no exchange (``_segmented.one_partition``, a
    driver-side check that runs no job), the scan sorts that partition in
    place — ``coalesce(1).sortWithinPartitions``, no exchange — and
    ``combine`` is not used: one partition is one range, so there is no
    range sample, no checkpoint and no partials job, and the result is the
    sequential one. A multi-partition input keeps the plans above.
    """
    order_cols = as_list(order_by)
    if combine is not None and not order_cols:
        raise ValueError("the parallel (combine) scan requires order_by")
    cols = resolve_input_columns(df, column_names, exclude=order_cols)
    spec = kernel_spec(df, result_name, function, initial_accumulator,
                       return_dtype, cols, extra_args, get_scanner)
    prepared, ranges = ordered_partitions(
        frame_order_select(df, cols, order_cols), order_cols, combine is not None
    )
    seeds: dict[int, Any] = {}
    if ranges:
        # Both passes MUST see byte-identical partitions, but
        # repartitionByRange samples its boundaries per job — materialize
        # once (executor-local storage) so pass 1's partials line up with
        # pass 2's partitions. At cluster scale this is one extra write of
        # the working set, the price of turning a one-task scan into an
        # n-task scan. The returned DataFrame reads the blocks lazily, so
        # they are registered session-scoped and swept between queries by
        # the bench/gate harness instead of leaking for the session's life.
        prepared = session_scoped_checkpoint(prepared)
        # A scan partial skips null rows, which is the fold rule. The
        # contract gives the prefix recurrence
        # seed_{i+1} = combine(seed_i, partial_i), seed_0 = acc0.
        seed = spec.acc0
        folder = replace(spec, kernel=get_folder(len(cols)))
        for pid, partial in fold_partitions(prepared, folder):
            seeds[pid] = seed
            seed = combine(seed, partial)
    return scan_partitions(prepared, spec, [*cols, *order_cols], seeds)


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
    unchanged, within each group's declared order; NaN is a value. This is
    the one-spec call of :func:`grouped_multi_scan`, so ``result_name`` may
    not name a key, order or input column.
    """
    keys = as_list(group_by)
    if not keys:
        raise ValueError("group_by must name at least one column")
    order_cols = as_list(order_by)
    cols = resolve_input_columns(df, columns, exclude=[*keys, *order_cols])

    skew = skewed_group(df, keys, skew_check)
    if skew:
        share, threshold, hot = skew
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

    spec = dict(function=function, initial_accumulator=initial_accumulator,
                return_dtype=return_dtype, columns=cols, extra_args=extra_args)
    return grouped_multi_scan(df, keys, {result_name: spec}, order_by=order_by)


def grouped_multi_scan(
    df: DataFrame,
    group_by: str | Sequence[str],
    specs: dict[str, dict],
    order_by: str | Sequence[str] | None = None,
) -> DataFrame:
    """Several independent running scans over the SAME keys and ordering in
    ONE shuffle + sort + ``mapInArrow`` pass — every input row comes back
    with one result column per spec.

    Closes the multi-expression parity gap for scans (the reference
    evaluates several scan ``Expr``s in one ``select``/``with_columns``;
    separate :func:`grouped_scan` calls would need a join on (keys, row)
    per extra scan). Specs are ``name → {function, initial_accumulator,
    return_dtype, columns, extra_args}`` with a shared ``order_by``; each
    spec keeps its own null rule (ITS null rows yield null for ITS column,
    accumulator unchanged), accumulator carry, and result dtype. A result
    name may not name a key, order or input column.
    """
    return grouped_pass(df, group_by, specs, order_by, fold=False)
