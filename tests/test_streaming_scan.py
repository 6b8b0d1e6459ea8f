"""Streaming grouped scan vs batch grouped scan parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_numba_spark.operators.scan import grouped_scan
from polars_numba_spark.sources import load_stream, load_table
from polars_numba_spark.streaming import streaming_grouped_scan

SF = "/root/testdata/sf0.001"


def add_cents(acc, cents):
    return acc + cents


def test_streaming_scan_matches_batch(spark, tmp_path):
    batch = load_table(spark, "events", SF).withColumn(
        "cents", F.round(F.col("value") * 100).cast("double")
    )
    expected = {
        (r["user_id"], r["event_id"]): r["scan"]
        for r in grouped_scan(
            batch.select("user_id", "event_id", "ts", "cents"),
            "user_id", add_cents, 0.0, "double",
            columns=["cents"], order_by=["ts", "event_id"],
        ).collect()
    }

    stream = load_stream(spark, "events", SF).withColumn(
        "cents", F.round(F.col("value") * 100).cast("double")
    )
    out = streaming_grouped_scan(
        stream.select("user_id", "event_id", "ts", "cents"),
        "user_id", add_cents, 0.0, "double",
        columns=["cents"], order_by=["ts", "event_id"],
    )
    query = (
        out.writeStream.format("memory")
        .queryName("scan_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120), "stream did not finish within timeout"
    got = {
        (r["user_id"], r["event_id"]): r["scan"]
        for r in spark.sql("SELECT user_id, event_id, scan FROM scan_stream").collect()
    }
    assert got == expected


def test_staged_scan_is_batch_count_independent(spark):
    """Round-2 verdict #3: the driver's streaming balance query must match
    the global window oracle even when input arrives in MANY micro-batches.
    Force one file per trigger over a multi-file staged layout (8 files →
    8+ batches) and compare against the single-stream batch kernel."""
    from polars_numba_spark.queries.io_streaming import (
        staged_streaming_scan_balance,
    )

    batch = load_table(spark, "events", SF).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    expected = {
        (r["user_id"], r["event_id"]): r["scan"]
        for r in grouped_scan(
            batch.select("user_id", "event_id", "ts", "cents"),
            "user_id", add_cents, 0, "long",
            columns=["cents"], order_by=["ts", "event_id"],
        ).collect()
    }

    out = staged_streaming_scan_balance(
        spark, SF, n_staging_files=8, max_files_per_trigger=1
    )
    got = {(r["user_id"], r["event_id"]): r["scan"] for r in out.collect()}
    assert got == expected


def test_streaming_scan_nulls_and_ts_ties_match_batch(spark, tmp_path):
    """A null input row emits a null scan value and carries the
    accumulator; rows tied on ``ts`` are scanned in ``event_id`` order; a
    ``long`` result stays integral. Same rows as the batch operator."""
    from datetime import datetime

    from polars_numba_spark.queries.io_streaming import _run_available_now

    t0, t1, t2 = (datetime(2024, 1, 1, h) for h in (0, 1, 2))
    rows = [  # user_id, event_id, ts, cents — deliberately out of order
        (1, 3, t0, 5), (1, 6, t2, 1), (1, 1, t0, 10), (1, 5, t1, None),
        (1, 2, t0, None), (1, 4, t1, 7),
        (2, 10, t1, None), (2, 9, t1, 3), (2, 8, t0, 2),
    ]
    schema = "user_id long, event_id long, ts timestamp, cents long"
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / "in"))
    args = ("user_id", add_cents, 0, "long")
    kwargs = {"columns": ["cents"], "order_by": ["ts", "event_id"]}

    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "in"))
    out = _run_available_now(
        streaming_grouped_scan(stream, *args, **kwargs), "scan_null_parity", SF
    )
    assert dict(out.dtypes)["scan"] == "bigint"
    got = {r["event_id"]: r["scan"] for r in out.collect()}
    assert got == {1: 10, 2: None, 3: 15, 4: 22, 5: None, 6: 23,
                   8: 2, 9: 5, 10: None}
    batch = spark.read.parquet(str(tmp_path / "in"))
    assert got == {
        r["event_id"]: r["scan"]
        for r in grouped_scan(batch, *args, **kwargs).collect()
    }
