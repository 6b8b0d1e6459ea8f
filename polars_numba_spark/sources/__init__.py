"""Data sources.

The reference reads no files at all (its frames are in-memory literals); on
Spark the source layer is where scale starts, so every query in this engine
reads parquet through ``spark.read.parquet`` and leans on Catalyst for
predicate pushdown, column pruning, and partition pruning.
"""

from polars_numba_spark.sources.tables import (
    TABLE_NAMES,
    load_stream,
    load_table,
    load_tables,
    register_views,
    widen,
)

__all__ = [
    "TABLE_NAMES", "load_stream", "load_table", "load_tables", "register_views", "widen",
]
