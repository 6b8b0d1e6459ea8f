"""collect_fold tests — mirror of the reference suite
(`/root/reference/tests/test_collect_fold.py`), adapted to the Spark API:
Spark frames are unordered, so fixtures carry an explicit ``ord`` column.
"""

from __future__ import annotations

import pytest

from polars_numba_spark import HAVE_NUMBA, collect_fold
from polars_numba_spark.kernels import (
    _CAPTURED_VARS_HASHES,
    MAX_ARITY,
    compile_step_function,
    get_folder,
    get_scanner,
)

pytestmark = pytest.mark.usefixtures("spark")


def wide_df(spark, n):
    """Arity fixture: columns "1".."n", single row with value 10**i
    (ref `tests/test_collect_fold.py:20-29` parametrization)."""
    data = [tuple(float(10**i) for i in range(1, n + 1))]
    schema = ", ".join(f"`{i}` double" for i in range(1, n + 1))
    return spark.createDataFrame(data, schema)


@pytest.mark.parametrize("n_cols", range(1, 10))
@pytest.mark.parametrize("extra_args", [(), (0.25,), (0.25, 0.5)])
def test_arity_sweep(spark, n_cols, extra_args):
    """Arity 1..9 × extra_args {0,1,2} (ref `test_collect_fold.py:20-29`)."""
    df = wide_df(spark, n_cols)

    # *args don't Numba-compile; use an exact-arity function per case
    args = ", ".join(f"c{i}" for i in range(1, n_cols + 1))
    extras = ", ".join(f"e{i}" for i in range(len(extra_args)))
    sig = ", ".join(x for x in ["acc", extras, args] if x)
    body = " + ".join(x for x in ["acc", extras, args] if x).replace(", ", " + ")
    ns: dict = {}
    exec(f"def step({sig}):\n    return {body}", ns)

    result = collect_fold(df, ns["step"], 7.0, extra_args=extra_args)
    expected = 7.0 + sum(10.0**i for i in range(1, n_cols + 1)) + sum(extra_args)
    assert result == pytest.approx(expected)


def test_null_rows_are_dropped(spark):
    """Rows with a null in any *selected* column are dropped; nulls in
    unselected columns are irrelevant (ref `test_collect_fold.py:41-56`,
    fixture F5)."""
    df = spark.createDataFrame(
        [(1, 30, 9000, 0), (2, None, None, 1), (None, 50, None, 2), (3, 100, None, 3)],
        "a long, b long, irrelevant long, ord long",
    )

    def add(acc, a, b):
        return acc + a + b

    assert collect_fold(df, add, 0.5, column_names=["a", "b"], order_by="ord") == 134.5


def test_positional_binding_when_names_omitted(spark):
    """column_names=None binds ALL frame columns positionally, regardless of
    the step function's parameter names (ref `test_collect_fold.py:75-85`)."""
    df = spark.createDataFrame([(1.0, 100.0)], "x double, y double")

    def step(acc, names_do, not_matter):
        return acc + names_do * 2 + not_matter

    assert collect_fold(df, step, 0.0) == 102.0


def test_tuple_accumulator(spark):
    df = spark.createDataFrame(
        [(1, 3, 0), (2, 2, 1), (None, 5, 2), (6, None, 3), (2, 1, 4)],
        "a long, b long, ord long",
    )

    def pair(acc, a, b):
        return (acc[0] + a, acc[1] + b)

    assert collect_fold(df, pair, (6, 9), column_names=["a", "b"], order_by="ord") == (11, 15)


def test_order_dependence(spark):
    """The credit-card cap fold is order-dependent — folding in ord order
    gives the reference's golden 610 (ref `examples_fold.py:58-75`, F2)."""
    df = spark.createDataFrame(
        [(50.0, 0), (900.0, 1), (70.0, 2), (-400.0, 3), (60.0, 4)],
        "amt double, ord long",
    )

    def cap(acc, amt):
        new = acc + amt
        if new > 1000.0 or new < 0.0:
            return acc
        return new

    assert collect_fold(df, cap, 0.0, column_names=["amt"], order_by="ord") == 610.0


def test_zero_columns_raises(spark):
    df = spark.createDataFrame([(1.0,)], "a double")
    with pytest.raises(ValueError, match="at least one column"):
        collect_fold(df, lambda acc, a: acc + a, 0.0, column_names=[])


def test_more_than_nine_columns_raises(spark):
    """Arity >9 → RuntimeError with the reference's message
    (ref `__init__.py:302-307`)."""
    df = wide_df(spark, 9)
    from pyspark.sql import functions as F

    df10 = df.withColumn("10", F.lit(1.0))
    with pytest.raises(RuntimeError, match="only up to 9 columns are supported"):
        collect_fold(df10, lambda acc, *a: acc, 0.0)


def test_captured_local_variable_guard(spark):
    """Changing a captured closure variable between uses raises the
    reference's RuntimeError (ref `test_collect_fold.py:119-147`,
    message `__init__.py:170-178`)."""
    df = spark.createDataFrame([(1.0,)], "a double")
    factor = 2.0

    def step(acc, a):
        return acc + a * factor

    assert collect_fold(df, step, 0.0) == 2.0
    factor = 3.0
    with pytest.raises(RuntimeError, match="changed a captured variable"):
        collect_fold(df, step, 0.0)


_GLOBAL_FACTOR = 2.0


def _global_step(acc, a):
    return acc + a * _GLOBAL_FACTOR


def test_captured_global_variable_guard(spark):
    global _GLOBAL_FACTOR
    df = spark.createDataFrame([(1.0,)], "a double")
    assert collect_fold(df, _global_step, 0.0) == 2.0
    _GLOBAL_FACTOR = 5.0
    try:
        with pytest.raises(RuntimeError, match="changed a captured variable"):
            collect_fold(df, _global_step, 0.0)
    finally:
        _GLOBAL_FACTOR = 2.0
        _CAPTURED_VARS_HASHES.pop(_global_step, None)


def test_unsupported_column_type_raises(spark):
    df = spark.createDataFrame([("x", 1.0)], "s string, a double")
    with pytest.raises(TypeError, match="not supported"):
        collect_fold(df, lambda acc, s, a: acc, 0.0)


@pytest.mark.skipif(not HAVE_NUMBA, reason="compile-speedup assertion requires Numba")
def test_compile_cache_speedup(spark):
    """Cached call ≥10× faster than first (ref `test_collect_fold.py:88-116`).
    Only meaningful when Numba actually compiles."""
    import time

    df = spark.createDataFrame([(float(i),) for i in range(1000)], "a double")

    def step(acc, a):
        return acc + a

    t0 = time.process_time()
    collect_fold(df, step, 0.0)
    first = time.process_time() - t0
    t0 = time.process_time()
    for _ in range(5):
        collect_fold(df, step, 0.0)
    warm = (time.process_time() - t0) / 5
    assert warm < first


def test_compile_cache_returns_same_object():
    def step(acc, a):
        return acc + a

    assert compile_step_function(step) is compile_step_function(step)


@pytest.mark.parametrize("get_kernel", [get_folder, get_scanner])
def test_kernels_pickle_by_reference(get_kernel):
    """Every generated kernel pickles as a reference to its module-level
    name, not by value: it unpickles as the very same object."""
    from pyspark import cloudpickle

    for n in range(1, MAX_ARITY + 1):
        kernel = get_kernel(n)
        assert cloudpickle.loads(cloudpickle.dumps(kernel)) is kernel, n


def test_combine_parallel_fold_matches_sequential(spark):
    """Declared-combinable fold runs partition-parallel and must equal the
    sequential single-stream result for a decomposable reduction."""
    rows = [(float(i % 97), i) for i in range(5000)]
    df = spark.createDataFrame(rows, "v double, ord long").repartition(8)

    def step(acc, v):
        total, count, mx = acc
        return (total + v, count + 1, v if v > mx else mx)

    def merge(a, b):
        return (a[0] + b[0], a[1] + b[1], max(a[2], b[2]))

    seq = collect_fold(df, step, (0.0, 0, float("-inf")), column_names=["v"])
    par = collect_fold(
        df, step, (0.0, 0, float("-inf")), column_names=["v"], combine=merge
    )
    assert par[1] == seq[1] == 5000
    assert par[2] == seq[2]
    assert abs(par[0] - seq[0]) < 1e-6  # float sum order differs across partials


def test_combine_fold_empty_frame(spark):
    df = spark.createDataFrame([], "v double")
    got = collect_fold(df, lambda acc, v: acc + v, 7.0, column_names=["v"],
                       combine=lambda a, b: a + b)
    assert got == 7.0


def test_combine_with_order_by_non_commutative(spark):
    """combine= with order_by must merge partials in the DECLARED order
    (range partitioning makes partitions contiguous runs): a concatenation
    fold — associative but not commutative — reproduces the exact sequence."""
    rows = [(i, float(i)) for i in range(2000)]
    df = spark.createDataFrame(rows, "ord long, v double").repartition(16)

    def step(acc, v):
        return acc + (int(v),)

    got = collect_fold(
        df, step, (), column_names=["v"], order_by="ord",
        combine=lambda a, b: a + b,
    )
    assert got == tuple(range(2000))
