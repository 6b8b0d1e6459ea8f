"""Range (interval) join: match rows by value-in-interval predicates.

Spark plans a bare ``l.t BETWEEN r.lo AND r.hi`` join as a broadcast
nested loop or cartesian product — O(|L|·|R|) comparisons, a scale
disaster. The standard fix is **bucketization**: quantize the range
dimension into fixed-width buckets, explode each right interval to the
buckets it overlaps, put each left point in its bucket, equi-join on
(keys..., bucket) — a plain hash join whose fan-out is
interval_width / bucket_width — then apply the exact predicate.

A point lands in exactly one bucket, so no post-join dedup is needed.
Bucket width trades join fan-out (wide buckets → more false candidates)
against explode factor (narrow buckets → more right-side rows); pick it
near the median interval width.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_numba_spark.operators._prep import as_list
from polars_numba_spark.sources import widen


def interval_join(
    left: DataFrame,
    right: DataFrame,
    point: str,
    lower: str,
    upper: str,
    bucket_width: int,
    by: str | Sequence[str] = (),
    how: str = "inner",
    closed: str = "both",
    right_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Join left points to right intervals: ``lower <= point <= upper``
    (``closed='both'``; 'left'/'right'/'neither' adjust the endpoints).

    ``point``/``lower``/``upper`` are numeric (epoch-cast timestamps work:
    ``F.unix_timestamp``). Output: all left columns + all right columns.

    ``how``: 'inner'; 'left' keeps unmatched points (a point lands in
    exactly one bucket, so the outer join is native); 'right' keeps
    unmatched INTERVALS — since intervals are exploded to one row per
    overlapped bucket, a naive outer would emit duplicate null rows, so
    the unmatched intervals are recovered with an anti join on
    ``right_keys`` (required: columns identifying an interval row) and
    unioned back with null left columns.
    """
    if how not in ("inner", "left", "right"):
        raise ValueError(
            "interval_join supports how='inner'/'left'/'right'; full outer "
            "would need both recovery passes — compose 'left' and 'right'"
        )
    if how == "right" and not right_keys:
        raise ValueError(
            "how='right' needs right_keys naming the interval identity "
            "columns (the exploded right side has no unique row id)"
        )
    keys = as_list(by)
    lo_op = {"both": "<=", "left": "<=", "right": "<", "neither": "<"}[closed]
    hi_op = {"both": "<=", "left": "<", "right": "<=", "neither": "<"}[closed]

    # the points are the join's stream side: the exact range filter runs at
    # their width
    l_b = widen(left).withColumn("__bucket", (F.col(point) / bucket_width).cast("long"))
    r_b = right.withColumn(
        "__buckets",
        F.sequence(
            (F.col(lower) / bucket_width).cast("long"),
            (F.col(upper) / bucket_width).cast("long"),
        ),
    ).withColumn("__bucket", F.explode("__buckets")).drop("__buckets")

    cond = F.col(f"l.__bucket") == F.col("r.__bucket")
    for k in keys:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    exact = F.expr(f"r.{lower} {lo_op} l.{point}") & F.expr(
        f"l.{point} {hi_op} r.{upper}"
    )
    base_how = "inner" if how == "right" else how
    joined = l_b.alias("l").join(r_b.alias("r"), cond & exact, base_how)

    def name_r(c: str) -> str:
        return c if c not in left.columns else f"{c}_r"

    out_cols = [F.col(f"l.{c}") for c in left.columns] + [
        F.col(f"r.{c}").alias(name_r(c)) for c in right.columns if c not in keys
    ]
    out = joined.select(*out_cols)
    if how != "right":
        return out
    # Recover unmatched intervals: anti join the ORIGINAL right side against
    # the matched interval identities (pre-explode rows, so no duplicates),
    # then union with null left columns. One extra shuffle on right_keys —
    # the price of outer semantics over an exploded side.
    rk = as_list(right_keys)
    matched = out.select(*[F.col(name_r(c)).alias(c) for c in rk]).dropDuplicates(rk)
    # Null-safe anti join: a plain name-based anti join uses null-unsafe
    # equality, so a matched interval with a NULL right_keys value would
    # never match (NULL != NULL) and be emitted twice — once joined and once
    # as a spurious unmatched row. eqNullSafe closes that hole. (right_keys
    # must still identify interval rows UNIQUELY — duplicates are
    # indistinguishable to any anti join and would be dropped together.)
    anti_cond = F.lit(True)
    for c in rk:
        anti_cond = anti_cond & F.col(f"ru.{c}").eqNullSafe(F.col(f"m.{c}"))
    unmatched = (
        right.alias("ru").join(matched.alias("m"), anti_cond, "left_anti")
    )
    # `by` keys surface through the left-column slots of the schema, but an
    # unmatched interval still HAS key values — take them from the right
    # side (null keys would collapse every unmatched interval into one
    # group downstream); only genuinely left-only columns become null.
    null_left = unmatched.select(
        *[
            F.col(c) if c in keys
            else F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in left.columns
        ],
        *[F.col(c).alias(name_r(c)) for c in right.columns if c not in keys],
    )
    return out.unionByName(null_left)
