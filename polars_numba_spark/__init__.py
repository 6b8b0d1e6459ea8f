"""polars-numba-spark: a PySpark-native engine with the capabilities of
G-Research/polars-numba, re-expressed Spark-first.

The reference (``/root/reference/src/polars_numba/__init__.py``) is a
fold/scan UDF layer on top of Polars: sequential, order-dependent reductions
(``collect_fold``/``fold``) and running-accumulator columns
(``collect_scan``/``scan``) whose step functions are JIT-compiled with Numba.

This package provides the same four operators with identical observable
semantics (null rules, dtype casting, arity limits, compile caching,
closure-capture guard — see each docstring for reference file:line parity
notes), built on Spark's execution model:

- whole-frame operators run as a single ordered Arrow stream on an executor
  (``mapInArrow``) — the fold is inherently sequential, Spark provides the
  scan+filter+pushdown around it;
- grouped operators shuffle on the keys (planned by Catalyst), sort within
  partitions and run one segmented ``mapInArrow`` driver: group boundaries
  by change detection over the Arrow key columns, one ordered kernel call
  per group, accumulators carried across batches. NaN is a value, not null
  (the reference's Polars rule), in both kernel input and group keys;
- associative step functions get a declarative fast path (native aggregates /
  window frames) that stays entirely JVM-side.

Beyond the reference surface, :mod:`polars_numba_spark.operators` adds the
operators a large-scale training-data pipeline needs (dedup, similarity
search, text analysis, multimodal columns) and
:mod:`polars_numba_spark.streaming` the Structured-Streaming analogs.
"""

from __future__ import annotations

from polars_numba_spark._numba import HAVE_NUMBA
from polars_numba_spark.dtypes import SizedArray
from polars_numba_spark.session import get_spark
from polars_numba_spark.operators.fold import (
    agg_with_fold,
    collect_fold,
    grouped_fold,
    grouped_multi_fold,
)
from polars_numba_spark.operators.scan import collect_scan, grouped_multi_scan, grouped_scan
from polars_numba_spark.operators.window import (
    running_agg,
    assoc_fold,
    assoc_scan,
)

__all__ = [
    "HAVE_NUMBA",
    "SizedArray",
    "get_spark",
    "agg_with_fold",
    "collect_fold",
    "collect_scan",
    "grouped_fold",
    "grouped_multi_fold",
    "grouped_multi_scan",
    "grouped_scan",
    "running_agg",
    "assoc_fold",
    "assoc_scan",
]

__version__ = "0.1.0"
