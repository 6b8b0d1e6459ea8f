"""Pins for the pairwise-cosine helper (similarity._pair_cosine) the
candidate-verify stages share — including the dirty-row semantics the
DuckDB oracles reproduce: null vector / null element / ragged pair → NULL
cosine, NaN flows through IEEE, and a zero norm product on an evaluated
pair raises (ANSI). Also pins the norm the bucket kernel emits alongside
its bucket arrays."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from polars_numba_spark.operators import similarity as S

SF = "/root/testdata/sf0.001"


def _embeddings(spark):
    from polars_numba_spark.sources import load_table

    return load_table(spark, "embeddings", SF).select("vec_id", "embedding")


def _adversarial(spark):
    rows = [
        (900001, None),
        (900002, []),                   # empty: ragged vs every other row
        (900003, [1.0] * 32),           # ragged vs dim-64 rows
        (900004, [1.0] * 80),
        (900005, [None if i == 7 else 0.001 for i in range(64)]),
        (900006, [float("nan") if i == 3 else 0.5 for i in range(64)]),
        (900008, [float("inf") if i == 9 else -0.25 for i in range(64)]),
        (900009, [-0.5] * 64),
        (900010, [1e160] * 64),          # norm product overflows to inf
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _pair_frame(base):
    e = base.select(
        F.col("vec_id").alias("id"), S.as_double("embedding").alias("v")
    ).withColumn("nv", S.norm(F.col("v")))
    a = e.select(
        F.col("id").alias("a_id"), F.col("v").alias("av"), F.col("nv").alias("an")
    )
    b = e.select(
        F.col("id").alias("b_id"), F.col("v").alias("bv"), F.col("nv").alias("bn")
    )
    return a.join(b, F.col("a_id") < F.col("b_id"))


def _as_key(x):
    if x is None:
        return "NULL"
    if isinstance(x, float) and math.isnan(x):
        return "NaN"
    return repr(x)


def test_pair_cosine_adversarial_rows(spark):
    """Real sf0.001 pairs + adversarial rows: every dirty-row class gives
    its NULL/NaN result, and the clean pairs score."""
    full = _embeddings(spark).limit(60).unionByName(_adversarial(spark))
    out = S._pair_cosine(_pair_frame(full), "av", "bv", "an", "bn")
    assert out.columns == ["a_id", "b_id", "cosine_sim"]
    got = {
        (r["a_id"], r["b_id"]): _as_key(r["cosine_sim"])
        for r in out.collect()
    }
    assert got[(900001, 900003)] == "NULL"       # null vector
    assert got[(900003, 900004)] == "NULL"       # ragged pair
    assert got[(900005, 900006)] == "NULL"       # null element
    assert got[(900006, 900009)] == "NaN"        # NaN propagates
    assert any(v not in ("NULL", "NaN") for v in got.values())


def test_pair_cosine_zero_norm_raises_like_ansi(spark):
    """A zero-norm vector scored against a real one raises (Spark 4 ANSI
    double division by zero) instead of emitting IEEE inf/NaN."""
    rows = [(1, [0.0] * 8), (2, [1.0] * 8)]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        S._pair_cosine(_pair_frame(base), "av", "bv", "an", "bn").collect()


def test_pair_cosine_empty_input(spark):
    base = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = S._pair_cosine(_pair_frame(base), "av", "bv", "an", "bn")
    assert out.count() == 0
    assert out.columns == ["a_id", "b_id", "cosine_sim"]


def test_bucket_kernel_norm_matches_expression(spark):
    """__norm emitted by _with_bucket_array(with_norm=True) must equal the
    interpreted norm() for every row class — including ragged rows (norm is
    over the row's OWN length, valid even when the bucket projection isn't)
    and null-element rows (NULL norm)."""
    full = _embeddings(spark).limit(60).unionByName(_adversarial(spark))
    src = full.select("vec_id", "embedding")
    expr = {
        r["vec_id"]: _as_key(r["n"])
        for r in src.select(
            "vec_id", S.norm(S.as_double("embedding")).alias("n")
        ).collect()
    }
    kern = {
        r["vec_id"]: _as_key(r["__norm"])
        for r in S._with_bucket_array(
            src, "embedding", 64, 4, 8, with_norm=True
        )
        .select("vec_id", "__norm")
        .collect()
    }
    assert kern == expr
    assert expr[900003] != "NULL"   # ragged row still has its own norm
    assert expr[900005] == "NULL"   # null element → NULL norm
