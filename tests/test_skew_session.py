"""Tests for the skew-salted aggregate and sessionization operators."""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from polars_numba_spark.operators.sessionize import sessionize
from polars_numba_spark.operators.skew import salted_agg


def test_salted_agg_equals_plain(spark):
    rows = [("hot", i % 100) for i in range(5000)] + [("cold", 7)]
    df = spark.createDataFrame(rows, "k string, v long")
    plain = {r["k"]: r["s"] for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    salted = {
        r["k"]: r["agg"]
        for r in salted_agg(df, "k", "sum", "v", salt_buckets=8).collect()
    }
    assert salted == plain


def test_salted_count_and_max(spark):
    df = spark.createDataFrame([("a", 5), ("a", 9), ("b", 1)], "k string, v long")
    assert {
        r["k"]: r["agg"] for r in salted_agg(df, "k", "count", "v").collect()
    } == {"a": 2, "b": 1}
    assert {
        r["k"]: r["agg"] for r in salted_agg(df, "k", "max", "v").collect()
    } == {"a": 9, "b": 1}


def test_sessionize_gap_semantics(spark):
    t0 = datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("u", t0),
        ("u", t0 + timedelta(minutes=10)),   # same session (gap 30m)
        ("u", t0 + timedelta(minutes=50)),   # new session (40m > 30m)
        ("u", t0 + timedelta(minutes=60)),   # same second session
        ("v", t0),                           # separate key
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = sessionize(df, "ts", gap="30 minutes", group_by="user_id")
    got = sorted(
        (r["user_id"], r["session_start"], r["n_events"]) for r in out.collect()
    )
    assert got == [
        ("u", t0, 2),
        ("u", t0 + timedelta(minutes=50), 2),
        ("v", t0, 1),
    ]


def test_aqe_skew_join_split_engages(spark):
    """The inverted-index dedup operators lean on AQE's skew-join split for
    hot keys ('the same hot-key shape as every inverted-index join and
    AQE's skew-join split handles it'). Prove the mechanism actually
    ENGAGES under this session's settings: a 90%-hot-key sort-merge join,
    thresholds lowered so a test-sized skew is visible, must re-plan to
    SortMergeJoin(skew=true) in the final adaptive plan. The plan must be
    read off the SAME QueryExecution that ran (a new action builds a fresh
    one whose AdaptiveSparkPlan is still isFinalPlan=false)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(100000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(2000).select(
            F.col("id").alias("k"), F.lit("x").alias("tag")
        )
        joined = left.join(right, "k")
        rows = joined.collect()
        assert len(rows) == 90_000 + 200  # hot key 0 x 1 match + 200 cold hits
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:800]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --- grouped-kernel skew routing (r5 verdict #6) ---------------------------


def _hot_df(spark, n=4000):
    """90% of rows on one key — far above any fair reducer share."""
    rows = [(("hot" if i % 10 else f"cold{i}"), i % 97, i) for i in range(n)]
    return spark.createDataFrame(rows, "g string, v long, ord long")


def _add(acc, v):
    return acc + v


def test_grouped_fold_skew_check_warns_without_combine(spark):
    import warnings

    from polars_numba_spark.operators.fold import grouped_fold

    df = _hot_df(spark)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        grouped_fold(
            df, "g", _add, 0, "long", columns=["v"], order_by="ord",
            skew_check=True,
        )
        msgs = [str(w.message) for w in caught]
    assert any("grouped_fold skew" in m and "hot" in m for m in msgs)


def test_grouped_fold_skew_check_quiet_on_uniform_keys(spark):
    import warnings

    from polars_numba_spark.operators.fold import grouped_fold

    rows = [(f"g{i % 50}", i, i) for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, v long, ord long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        grouped_fold(
            df, "g", _add, 0, "long", columns=["v"], skew_check=True
        )
        msgs = [str(w.message) for w in caught]
    assert not any("grouped_fold skew" in m for m in msgs)


def test_grouped_fold_auto_salts_with_combine(spark):
    """combine= declared + hot key detected → the two-level salted fold
    engages (two mapInArrow stages in the plan) and the result matches
    the unsalted fold exactly."""
    from polars_numba_spark import plans
    from polars_numba_spark.operators.fold import grouped_fold

    df = _hot_df(spark)
    plain = grouped_fold(df, "g", _add, 0, "long", columns=["v"])
    salted = grouped_fold(
        df, "g", _add, 0, "long", columns=["v"],
        skew_check=True, combine=_add,
    )
    s = plans.explain_string(salted, "simple")
    nodes = {ln.strip().lstrip("+-*: ") for ln in s.splitlines() if "MapInArrow" in ln}
    assert len(nodes) == 2  # partial fold + merge fold
    assert "MapInPandas" not in s
    assert "__fold_salt" in s
    got_plain = {r["g"]: r["fold"] for r in plain.collect()}
    got_salted = {r["g"]: r["fold"] for r in salted.collect()}
    assert got_salted == got_plain


def test_grouped_scan_skew_check_warns(spark):
    import warnings

    from polars_numba_spark.operators.scan import grouped_scan

    df = _hot_df(spark)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        grouped_scan(
            df, "g", _add, 0, "long", columns=["v"], order_by="ord",
            skew_check=True,
        )
        msgs = [str(w.message) for w in caught]
    assert any("grouped_scan skew" in m and "assoc_scan" in m for m in msgs)
