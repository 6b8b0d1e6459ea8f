"""SQL-surface fold/scan (polymorphic UDTFs) tests — must agree with the
DataFrame operators and the window oracle shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_numba_spark.operators.fold import grouped_fold
from polars_numba_spark.sql import register_fold_udtf, register_scan_udtf


def cap_step(acc, cap, amt):
    new = acc + amt
    return acc if new > cap or new < 0 else new


def test_sql_scan_matches_window(spark):
    def add(acc, v):
        return acc + v

    register_scan_udtf(
        spark, "sql_running_sum", add, 0.0,
        input_cols=["v"], key_cols=["k"],
        return_schema="k string, v double, scan double",
    )
    spark.createDataFrame(
        [("a", 1.0, 0), ("a", 2.0, 1), ("a", None, 2), ("b", 5.0, 3)],
        "k string, v double, ord long",
    ).createOrReplaceTempView("sql_scan_t")
    got = spark.sql(
        "SELECT * FROM sql_running_sum(TABLE(sql_scan_t) PARTITION BY k ORDER BY ord)"
    ).collect()
    by_key = {}
    for r in got:
        by_key.setdefault(r["k"], []).append(r["scan"])
    assert by_key == {"a": [1.0, 3.0, None], "b": [5.0]}


def test_sql_fold_matches_dataframe_operator(spark):
    register_fold_udtf(
        spark, "sql_cap_fold", cap_step, 0.0,
        input_cols=["amt"], key_cols=["user"],
        return_schema="user string, fold double",
        extra_args=(1000.0,),
    )
    df = spark.createDataFrame(
        [("alice", 50.0, 0), ("alice", 900.0, 1), ("alice", 70.0, 2),
         ("alice", -400.0, 3), ("alice", 60.0, 4), ("bob", 17.0, 5), ("bob", 0.5, 6)],
        "user string, amt double, ord long",
    )
    df.createOrReplaceTempView("sql_fold_t")
    sql_out = {
        r["user"]: r["fold"]
        for r in spark.sql(
            "SELECT * FROM sql_cap_fold(TABLE(sql_fold_t) PARTITION BY user ORDER BY ord)"
        ).collect()
    }
    api_out = {
        r["user"]: r["fold"]
        for r in grouped_fold(
            df, "user", cap_step, 0.0, "double",
            columns=["amt"], order_by="ord", extra_args=(1000.0,),
        ).collect()
    }
    assert sql_out == api_out == {"alice": 610.0, "bob": 17.5}


def test_sql_scan_size_guard_fails_over_threshold(spark):
    """The SQL spelling is row-at-a-time Python — a user pushing real
    volume through it must get a hard pointer at the vectorized operator,
    not a silently slow query."""
    import pytest

    def add(acc, v):
        return acc + v

    register_scan_udtf(
        spark, "sql_guarded_scan", add, 0.0,
        input_cols=["v"], key_cols=["k"],
        return_schema="k string, v double, scan double",
        max_rows_per_group=5,
    )
    spark.createDataFrame(
        [("a", float(i), i) for i in range(10)], "k string, v double, ord long"
    ).createOrReplaceTempView("sql_guard_t")
    with pytest.raises(Exception, match="grouped_scan"):
        spark.sql(
            "SELECT * FROM sql_guarded_scan(TABLE(sql_guard_t) PARTITION BY k ORDER BY ord)"
        ).collect()


def test_sql_scan_size_guard_none_disables(spark):
    def add(acc, v):
        return acc + v

    register_scan_udtf(
        spark, "sql_unguarded_scan", add, 0.0,
        input_cols=["v"], key_cols=["k"],
        return_schema="k string, v double, scan double",
        max_rows_per_group=None,
    )
    spark.createDataFrame(
        [("a", 1.0, i) for i in range(10)], "k string, v double, ord long"
    ).createOrReplaceTempView("sql_unguard_t")
    rows = spark.sql(
        "SELECT * FROM sql_unguarded_scan(TABLE(sql_unguard_t) PARTITION BY k ORDER BY ord)"
    ).collect()
    assert len(rows) == 10


def test_sql_fold_size_guard_fails_over_threshold(spark):
    import pytest

    def add(acc, v):
        return acc + v

    register_fold_udtf(
        spark, "sql_guarded_fold", add, 0.0,
        input_cols=["v"], key_cols=["k"],
        return_schema="k string, fold double",
        max_rows_per_group=5,
    )
    spark.createDataFrame(
        [("a", 1.0, i) for i in range(10)], "k string, v double, ord long"
    ).createOrReplaceTempView("sql_fguard_t")
    with pytest.raises(Exception, match="grouped_fold"):
        spark.sql(
            "SELECT * FROM sql_guarded_fold(TABLE(sql_fguard_t) PARTITION BY k ORDER BY ord)"
        ).collect()


def _add(acc, v):
    return acc + v


def test_sql_scan_casts_to_declared_result_type(spark):
    """A float accumulator declared ``int`` truncates, as ``grouped_scan``
    casts it, instead of turning every row NULL."""
    from polars_numba_spark.operators.scan import grouped_scan

    register_scan_udtf(
        spark, "sql_int_scan", _add, 0.0,
        input_cols=["v"], key_cols=["k"],
        return_schema="k string, v double, scan int",
    )
    df = spark.createDataFrame(
        [("a", 1.5, 0), ("a", 2.25, 1), ("a", None, 2)],
        "k string, v double, ord long",
    )
    df.createOrReplaceTempView("sql_int_scan_t")
    sql_out = [
        r["scan"]
        for r in spark.sql(
            "SELECT * FROM sql_int_scan(TABLE(sql_int_scan_t) PARTITION BY k ORDER BY ord)"
        ).collect()
    ]
    api_out = [
        r["scan"]
        for r in grouped_scan(df, "k", _add, 0.0, "int", columns=["v"], order_by="ord")
        .orderBy("ord")
        .collect()
    ]
    assert sql_out == api_out == [1, 3, None]


def test_sql_fold_casts_to_declared_result_type(spark):
    register_fold_udtf(
        spark, "sql_int_fold", _add, 0.0,
        input_cols=["v"], key_cols=["k"],
        return_schema="k string, fold int",
    )
    df = spark.createDataFrame(
        [("a", 1.5, 0), ("a", 2.25, 1), ("a", None, 2)],
        "k string, v double, ord long",
    )
    df.createOrReplaceTempView("sql_int_fold_t")
    sql_out = spark.sql(
        "SELECT * FROM sql_int_fold(TABLE(sql_int_fold_t) PARTITION BY k ORDER BY ord)"
    ).collect()
    api_out = grouped_fold(df, "k", _add, 0.0, "int", columns=["v"], order_by="ord").collect()
    assert [r["fold"] for r in sql_out] == [r["fold"] for r in api_out] == [3]
