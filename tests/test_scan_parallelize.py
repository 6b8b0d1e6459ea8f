"""Scan width at the consumer (sources/tables.py::widen).

``load_table`` returns the scan at its native split count. A table whose
input fits in fewer splits than task slots serializes every scan-side
computation onto that many tasks (the SCALE.md round-13 split-sizing
lesson, guide §2.5), so operators with heavy per-row work call ``widen``:
it round-robins exactly those inputs to the slot count, and returns
anything that already fills the slots unchanged (the production branch —
no extra exchange at scale).
"""

from __future__ import annotations

import pytest

from polars_numba_spark.sources import load_table, widen

SF = "/root/testdata/sf0.001"


def _with_split_bytes(spark, value, fn):
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", value)
    try:
        return fn()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_loader_keeps_native_splits(spark):
    df = load_table(spark, "documents", SF)
    assert df.rdd.getNumPartitions() == 1  # single small file = one split


def test_tiny_input_is_repartitioned_to_core_count(spark):
    df = widen(load_table(spark, "documents", SF))
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_well_split_input_keeps_native_scan(spark):
    """The no-op branch: when the estimated split count reaches the slot
    count (any production-scale table), no repartition is added. Simulated
    by shrinking maxPartitionBytes so the same file counts as many
    splits."""
    def widened():
        df = load_table(spark, "documents", SF)
        return df, widen(df)

    df, out = _with_split_bytes(spark, "1k", widened)
    assert out is df
    assert "Repartition" not in out._jdf.queryExecution().logical().toString()


@pytest.mark.parametrize(
    "setting, split_bytes",
    [("64mb", 64 << 20), ("1gb", 1 << 30), ("2t", 2 << 40), ("1k", 1 << 10)],
)
def test_split_bytes_read_as_spark_parses_them(spark, setting, split_bytes):
    """``maxPartitionBytes`` is read with Spark's own byte-string parser,
    so a two-letter or ``t`` suffix counts as written. ``spark.range``
    plans ``8 * rows`` bytes, so the frames straddle the slot count at
    exactly the parsed size."""
    slots = spark.sparkContext.defaultParallelism

    def frames(n_splits_x2):
        df = spark.range(slots * split_bytes * n_splits_x2 // 2 // 8)
        return df, widen(df)

    under, under_out = _with_split_bytes(spark, setting, lambda: frames(1))
    full, full_out = _with_split_bytes(spark, setting, lambda: frames(3))
    assert under_out is not under
    assert full_out is full


def test_results_identical_both_branches(spark):
    base = load_table(spark, "documents", SF).select("doc_id", "text")
    rows = sorted((r.doc_id, r.text) for r in base.collect())
    assert sorted((r.doc_id, r.text) for r in widen(base).collect()) == rows
