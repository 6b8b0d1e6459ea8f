"""Skew-aware aggregation: salted two-level aggregate for hot keys.

At 100 TB a handful of hot keys (a viral user, an empty-string token) can
pin an aggregation on one reducer. For **associative+commutative**
aggregates the standard fix is salting: append a random salt to the key,
aggregate partially over (key, salt) — spreading each hot key over N
reducers — then aggregate the partials over the key alone.

Note Spark already does map-side partial aggregation for `groupBy().agg`,
which absorbs most skew for simple aggregates; salting matters when the
*reduce* side must still see all rows of a key (e.g. `collect_list`,
`countDistinct` re-aggregation, or grouped kernel ops with associative
steps). The helper exists for those, and as the documented skew recipe.
Non-associative folds cannot be salted — declared honestly in
``grouped_fold``'s docs; their skew mitigation is a data-model question.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_numba_spark.operators._prep import as_list

# (partial aggregate, final re-aggregate) pairs per kind
_MERGEABLE = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
    "product": (F.product, F.product),
}


def salted_agg(
    df: DataFrame,
    group_by: str | Sequence[str],
    kind: str,
    column: str | Column,
    salt_buckets: int = 16,
    result_name: str = "agg",
) -> DataFrame:
    """Two-level salted aggregate: ``groupBy(keys, salt)`` partials →
    ``groupBy(keys)`` merge. Result is identical to the direct aggregate
    (associativity), but no single reducer ever sees a full hot key."""
    keys = as_list(group_by)
    try:
        partial, final = _MERGEABLE[kind]
    except KeyError:
        raise ValueError(
            f"kind {kind!r} is not salt-mergeable; supported: {sorted(_MERGEABLE)}"
        ) from None
    salted = df.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    partials = salted.groupBy(*keys, "__salt").agg(
        partial(column).alias("__partial")
    )
    return partials.groupBy(*keys).agg(final("__partial").alias(result_name))


def hot_key_share(
    df: DataFrame,
    keys: Sequence[str],
    sample_fraction: float = 0.02,
    seed: int = 7,
) -> tuple[float, object]:
    """Sampled hottest-key sketch: ``(share, key_struct)`` — the hottest
    group's share of sampled rows. One sample-sized job at
    plan-construction time (the ``_choose_shingle_via`` pattern from
    ``dedup``); a key's row share is preserved under uniform row sampling
    in expectation. Used by the grouped kernels' ``skew_check``."""
    counts = (
        df.sample(fraction=sample_fraction, seed=seed)
        .groupBy(*list(keys))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    row = counts.agg(
        F.max("__n").alias("mx"),
        F.sum("__n").alias("tot"),
        F.max_by(F.struct(*list(keys)), "__n").alias("key"),
    ).collect()[0]
    if not row["tot"]:
        return 0.0, None
    return row["mx"] / row["tot"], row["key"]


def fair_share_threshold(df: DataFrame) -> float:
    """One fair reducer share: ``1 / spark.sql.shuffle.partitions`` — a
    key holding more than this makes its partition a straggler on top of
    whatever else hashes there (same rationale as the shingle router)."""
    parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    return 1.0 / max(parts, 1)


def skewed_group(
    df: DataFrame, keys: Sequence[str], skew_check: bool | float
) -> tuple[float, float, object] | None:
    """The grouped kernels' ``skew_check``: ``(share, threshold, key)`` when
    the sampled hottest group holds more than ``threshold`` of the rows,
    else None. ``skew_check`` is ``False`` (no check, no job), ``True`` (one
    fair reducer share) or the threshold share itself."""
    if not skew_check:
        return None
    threshold = (
        skew_check
        if isinstance(skew_check, float) and not isinstance(skew_check, bool)
        else fair_share_threshold(df)
    )
    share, hot = hot_key_share(df, keys)
    return (share, threshold, hot) if share > threshold else None


def key_skew_report(
    df: DataFrame, keys: str | Sequence[str], top_n: int = 10
) -> DataFrame:
    """EXACT skew report: the ``top_n`` heaviest keys with row counts and
    corpus share — the measurement that decides between plain hash
    partitioning, AQE skew-split, and salting (``salted_agg``) before a
    big join or aggregate ships. One map-side-combined count per key plus
    a top-n window over the (already aggregated, small) count table; the
    1-row total rides a broadcast. Contrast :func:`hot_key_share`, the
    sampled plan-time sketch — this is the exact, audit-grade face."""
    from pyspark.sql import Window

    key_list = as_list(keys)
    counts = df.groupBy(*key_list).agg(F.count(F.lit(1)).alias("n_rows"))
    total = counts.agg(F.sum("n_rows").alias("__total"))
    w = Window.orderBy(F.col("n_rows").desc(), *[F.col(k) for k in key_list])
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .crossJoin(F.broadcast(total))
        .select(
            *key_list,
            "rank",
            "n_rows",
            (
                F.col("n_rows").cast("double") / F.col("__total").cast("double")
            ).alias("share"),
        )
    )
