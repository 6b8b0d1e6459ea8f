"""Pins for the PQ argmin-L2 assign (vector._pq_assign) on a hand-built
case where Spark's total-order MIN decides the answer: ties break to the
lowest code, a NULL distance (ragged subvector vs every centroid) sorts
lowest and therefore WINS the argmin, and rows of a subspace with no
centroids disappear (inner-join semantics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_numba_spark.operators import vector as V
from polars_numba_spark.operators.similarity import sumsq


def _cents(spark, rows):
    return (
        spark.createDataFrame(rows, "s int, __code int, __cv array<double>")
        .withColumn("__cn2", sumsq(F.col("__cv")))
    )


def test_pq_assign_kernel_ties_and_null_win_semantics(spark):
    """Hand-built cases where the subtleties decide the answer."""
    subs = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),     # exact tie between codes 5 and 7
            (2, 0, [1.0] * 3),      # ragged vs BOTH centroids -> null d2 wins at code 5
            (3, 1, [1.0, 1.0]),     # subspace 1 has no centroids -> row dropped
        ],
        "id long, s int, subvec array<double>",
    )
    cents = _cents(spark, [(0, 7, [2.0, 0.0]), (0, 5, [2.0, 0.0])])
    got = {
        (r["id"], r["s"]): r["code"]
        for r in V._pq_assign(subs, cents, False, 9).collect()
    }
    # tie -> lowest code; null d2 wins the MIN at the lowest code; (3, 1)
    # is dropped by the inner join
    assert got == {(1, 0): 5, (2, 0): 5}
