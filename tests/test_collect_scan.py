"""collect_scan tests — mirror of `/root/reference/tests/test_collect_scan.py`."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from polars_numba_spark import SizedArray, collect_scan


def scan_values(df, *args, **kwargs):
    out = collect_scan(df, *args, **kwargs)
    order = kwargs.get("order_by") or "ord"
    return [row["scan"] for row in out.orderBy(order).collect()]


def test_basic_running_sum(spark):
    df = spark.createDataFrame([(1.0, 0), (2.0, 1), (3.0, 2)], "a double, ord long")

    def add(acc, a):
        return acc + a

    assert scan_values(df, add, 0.0, "double", column_names=["a"], order_by="ord") == [
        1.0,
        3.0,
        6.0,
    ]


def test_null_rows_null_out_and_accumulator_skips(spark):
    """Null input row → null output row, step NOT called, accumulator carries
    over (ref `test_collect_scan.py:53-72`, fixture F5)."""
    df = spark.createDataFrame(
        [(1, 30, 0), (2, None, 1), (None, 50, 2), (3, 100, 3)],
        "a long, b long, ord long",
    )

    def add(acc, a, b):
        return acc + a + b

    assert scan_values(
        df, add, 0.5, "double", column_names=["a", "b"], order_by="ord"
    ) == [31.5, None, None, 134.5]


def test_output_cast_to_declared_dtype(spark):
    """Float accumulator declared as IntegerType truncates
    (ref `test_collect_scan.py:75-92`)."""
    df = spark.createDataFrame([(1.5, 0), (2.25, 1)], "a double, ord long")

    def add(acc, a):
        return acc + a

    assert scan_values(df, add, 10, "int", column_names=["a"], order_by="ord") == [11, 13]
    assert scan_values(df, add, 10, "float", column_names=["a"], order_by="ord") == [
        11.5,
        13.75,
    ]


def test_dtype_instance_and_class_both_accepted(spark):
    """DataType instance vs class vs name are interchangeable
    (ref `test_collect_scan.py:178-187`)."""
    df = spark.createDataFrame([(3, 0)], "a long, ord long")

    def add(acc, a):
        return acc + a

    for dtype in (T.LongType(), T.LongType, "long", "bigint"):
        assert scan_values(df, add, 1, dtype, column_names=["a"], order_by="ord") == [4]


def test_multi_output_tuple_accumulator(spark):
    """Tuple accumulator + SizedArray → one vector per row, null rows null out
    (ref `test_collect_scan.py:190-208`, fixture F6)."""
    df = spark.createDataFrame(
        [(1, 3, 0), (2, 2, 1), (None, 5, 2), (6, None, 3), (2, 1, 4)],
        "a long, b long, ord long",
    )

    def pair(acc, a, b):
        return (acc[0] + a, acc[1] + b)

    assert scan_values(
        df, pair, (6, 9), SizedArray(T.LongType(), 2), column_names=["a", "b"], order_by="ord"
    ) == [[7, 12], [9, 14], None, None, [11, 15]]


def test_extra_args(spark):
    """extra_args injected between accumulator and column values
    (ref `__init__.py:376-379`)."""
    df = spark.createDataFrame([(1.0, 0), (2.0, 1)], "a double, ord long")

    def step(acc, bonus, a):
        return acc + a + bonus

    assert scan_values(
        df, step, 0.0, "double", extra_args=(10.0,), column_names=["a"], order_by="ord"
    ) == [11.0, 23.0]


def test_accumulator_crosses_batch_boundaries(spark):
    """The accumulator threads across Arrow batches inside one ordered stream
    (ref `__init__.py:710,725-727`). Forced by tiny maxRecordsPerBatch."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        df = spark.createDataFrame([(1.0, i) for i in range(100)], "a double, ord long")

        def add(acc, a):
            return acc + a

        values = scan_values(df, add, 0.0, "double", column_names=["a"], order_by="ord")
        assert values == [float(i + 1) for i in range(100)]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")


def test_running_max_matches_window(spark):
    """Kernel scan ≡ associative window fast path on the same data (F9)."""
    from polars_numba_spark import assoc_scan

    prices = [20, 19, 21, 22, 23, 21, 20, 24, 25]
    df = spark.createDataFrame(
        [(p, i) for i, p in enumerate(prices)], "price long, ord long"
    )

    def step(acc, p):
        return p if p > acc else acc

    kernel = scan_values(df, step, -(2**62), "long", column_names=["price"], order_by="ord")
    window = [
        r["scan"]
        for r in assoc_scan(df, "max", "price", order_by="ord").orderBy("ord").collect()
    ]
    assert kernel == window == [20, 20, 21, 22, 23, 23, 23, 24, 25]


def test_parallel_prefix_scan_matches_sequential(spark):
    """combine-declared scan: two-pass parallel prefix scan over range
    partitions must equal the single-stream sequential scan exactly
    (integer arithmetic → bit-exact)."""
    rows = [(int(i % 89), i) for i in range(20_000)]
    df = spark.createDataFrame(rows, "v long, ord long")

    def add(acc, v):
        return acc + v

    def merge(a, b):
        return a + b

    seq = collect_scan(df, add, 0, "long", column_names=["v"], order_by="ord")
    par = collect_scan(
        df, add, 0, "long", column_names=["v"], order_by="ord", combine=merge,
    )
    assert par.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    seq_vals = [r["scan"] for r in seq.orderBy("ord").collect()]
    par_vals = [r["scan"] for r in par.orderBy("ord").collect()]
    assert seq_vals == par_vals


def test_parallel_prefix_scan_null_rule(spark):
    """Null rows null out and don't advance the accumulator — including when
    the null falls at a partition boundary region."""
    rows = [(i if i % 5 else None, i) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "v long, ord long")

    def add(acc, v):
        return acc + v

    par = collect_scan(
        df, add, 0, "long", column_names=["v"], order_by="ord",
        combine=lambda a, b: a + b,
    )
    got = [r["scan"] for r in par.orderBy("ord").collect()]
    acc, expected = 0, []
    for v, _ in rows:
        if v is None:
            expected.append(None)
        else:
            acc += v
            expected.append(acc)
    assert got == expected


def test_parallel_scan_requires_order(spark):
    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError, match="requires order_by"):
        collect_scan(df, lambda a, v: a + v, 0, "long", column_names=["v"],
                     combine=lambda a, b: a + b)


def test_parallel_prefix_scan_empty_frame(spark):
    df = spark.createDataFrame([], "v long, ord long")
    par = collect_scan(df, lambda acc, v: acc + v, 0, "long", column_names=["v"],
                       order_by="ord", combine=lambda a, b: a + b)
    assert par.collect() == []


def test_parallel_prefix_scan_fewer_rows_than_slots(spark):
    """Fewer rows than task slots: the range partitioner makes fewer
    partitions than asked for and one holds only a null row; the seeds
    still line up."""
    assert spark.sparkContext.defaultParallelism >= 4
    df = spark.createDataFrame([(5, 0), (None, 1), (7, 2)], "v long, ord long")
    par = collect_scan(df, lambda acc, v: acc + v, 100, "long", column_names=["v"],
                       order_by="ord", combine=lambda a, b: a + b - 100)
    assert [r["scan"] for r in par.orderBy("ord").collect()] == [105, None, 112]


def test_parallel_prefix_scan_tuple_accumulator(spark):
    """A SizedArray tuple accumulator under combine= equals the sequential
    scan, null rows included."""
    rows = [(float(i % 7) if i % 11 else None, float(i % 5), i) for i in range(300)]
    df = spark.createDataFrame(rows, "a double, b double, ord long")

    def pair(acc, a, b):
        return (acc[0] + a, acc[1] + b)

    def merge(x, y):
        return (x[0] + y[0], x[1] + y[1])

    kwargs = dict(column_names=["a", "b"], order_by="ord")
    dtype = SizedArray("double", 2)
    seq = scan_values(df, pair, (0.0, 0.0), dtype, **kwargs)
    par = scan_values(df, pair, (0.0, 0.0), dtype, combine=merge, **kwargs)
    assert par == seq
    assert seq[11] is None and seq[-1] is not None
