"""Bucketed-table support: co-located joins and aggregations.

At 100 TB, the single biggest repeated cost in a fact-to-fact workload is
re-shuffling the same table on the same key for every join. Bucketing
pre-partitions data on disk by ``hash(key) % n_buckets`` so Catalyst can
plan **shuffle-free** sort-merge joins and aggregations between tables
bucketed on the same key with the same bucket count.

This module materializes bucketed copies of the engine's tables into a
local Spark warehouse (saveAsTable — bucketing metadata needs a catalog
table, not a bare path) and exposes readers. Tests assert the no-Exchange
plan property, which is the entire point of the feature.
"""

from __future__ import annotations

import os
import shutil
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from polars_numba_spark.operators._prep import as_list


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: str | Sequence[str],
    num_buckets: int = 8,
    sort_by: str | Sequence[str] | None = None,
) -> None:
    """Materialize ``df`` as a bucketed (and optionally sort-bucketed)
    catalog table. Sorting within buckets additionally removes the sort
    step from downstream merge joins and grouped kernel operators."""
    keys = as_list(bucket_by)
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # A crashed/cleaned metastore can leave an orphan location behind —
    # saveAsTable refuses to reuse it, so clear it explicitly.
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = os.path.join(warehouse.removeprefix("file:"), table_name.lower())
    if os.path.isdir(loc):
        shutil.rmtree(loc, ignore_errors=True)
    writer = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, keys[0], *keys[1:]
    )
    sort_cols = as_list(sort_by)
    if sort_cols:
        writer = writer.sortBy(sort_cols[0], *sort_cols[1:])
    writer.saveAsTable(table_name)


def bucketed_join_ready(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    key: str | Sequence[str],
    num_buckets: int = 8,
    prefix: str = "bkt",
) -> tuple[DataFrame, DataFrame]:
    """Materialize both sides bucketed on the join key and return readers.

    The returned frames join on ``key`` with no shuffle exchange on either
    side (asserted in tests via the plan inspector)."""
    keys = as_list(key)
    lname = f"{prefix}_l"
    rname = f"{prefix}_r"
    write_bucketed(left, lname, keys, num_buckets, sort_by=keys)
    write_bucketed(right, rname, keys, num_buckets, sort_by=keys)
    return spark.table(lname), spark.table(rname)
