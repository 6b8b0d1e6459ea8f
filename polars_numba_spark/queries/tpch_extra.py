"""Second TPC-H-ish batch (Q13/Q14/Q18/Q19 shapes), sessionization with a
gaps-and-islands oracle, and the skew-salted aggregate (oracle: the plain
aggregate it must equal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polars_numba_spark.operators.sessionize import sessionize
from polars_numba_spark.operators.skew import salted_agg
from polars_numba_spark.queries.catalog import (
    _DSUM,
    CAPPED_FOLD_ORACLE as _CAPPED_FOLD_ORACLE_SQL,
    SCAN_BALANCE_ORACLE,
    _t,
    register,
)


@register(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: outer join preserving zero-order customers, then a
    distribution over counts — two aggregations, one broadcast."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q14_promo_revenue_share",
    oracle=f"""
    SELECT {_DSUM.format(x="CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
           AS promo_revenue,
           {_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS total_revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: conditional aggregation over a broadcast join."""
    l = _t(spark, sf_dir, "lineitem").where(  # noqa: E741
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    promo = "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END"
    return l.join(F.broadcast(p), l.l_partkey == p.p_partkey).agg(
        F.expr(_DSUM.format(x=promo)).alias("promo_revenue"),
        F.expr(_DSUM.format(x="l_extendedprice * (1 - l_discount)")).alias(
            "total_revenue"
        ),
    )


@register(
    "q18_large_volume_orders",
    oracle=f"""
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           {_DSUM.format(x='l_quantity')} AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 400
    )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: HAVING-filtered semi join back onto the fact table."""
    l = _t(spark, sf_dir, "lineitem")  # noqa: E741
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .where(F.col("q") > 400)
        .select("l_orderkey")
    )
    return (
        l.join(big.withColumnRenamed("l_orderkey", "bk"), F.col("l_orderkey") == F.col("bk"), "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.expr(_DSUM.format(x="l_quantity")).alias("total_qty"))
    )


@register(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT {_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 40 AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunction of conjunctive ranges across both join sides —
    the predicate cannot fully push into either scan, but each disjunct's
    single-side conjuncts can (Catalyst extracts common filters)."""
    l = _t(spark, sf_dir, "lineitem")  # noqa: E741
    p = _t(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), p.p_partkey == l.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 20) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 30) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 40) & F.col("l_quantity").between(20, 40))
    )
    return j.where(cond).agg(
        F.expr(_DSUM.format(x="l_extendedprice * (1 - l_discount)")).alias("revenue")
    )


@register(
    "user_sessions",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), marked AS (
        SELECT user_id, ts, cents,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM e
    ), islands AS (
        SELECT user_id, ts, cents,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM islands GROUP BY user_id, session_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: Spark's native session_window vs an independent
    gaps-and-islands formulation (lag → flag → running island id) in DuckDB
    — two structurally different algorithms, same sessions."""
    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    return sessionize(
        e,
        "ts",
        gap="30 minutes",
        group_by="user_id",
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_cents": F.sum("cents"),
        },
    )


@register(
    "salted_event_type_totals",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY event_type
    """,
)
def salted_event_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew recipe: event_type has only 5 hot keys — the salted two-level
    aggregate spreads each over 16 reducers and must equal the plain
    GROUP BY (associativity), which is exactly what the oracle checks."""
    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    return salted_agg(
        e, "event_type", "sum", "cents", salt_buckets=16, result_name="total_cents"
    )


@register(
    "global_longest_hot_streak",
    oracle="""
    WITH o AS (
        SELECT l_quantity > 25 AS hot,
               ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber, l_quantity) AS rn
        FROM lineitem
    ), g AS (
        SELECT hot, rn - ROW_NUMBER() OVER (PARTITION BY hot ORDER BY rn) AS grp
        FROM o
    )
    SELECT CAST(COALESCE(MAX(cnt), 0) AS BIGINT) AS longest FROM (
        SELECT COUNT(*) AS cnt FROM g WHERE hot GROUP BY grp
    )
    """,
)
def global_longest_hot_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's marquee whole-frame fold (freezing-streak,
    `examples_fold.py:15-40`) at table scale: longest run of consecutive
    high-quantity lineitems in (orderkey, linenumber) order, computed by
    collect_fold's single ordered stream — checked against an independent
    gaps-and-islands SQL formulation. The scalar is wrapped in a one-row
    DataFrame so the driver gate can hash it."""
    from polars_numba_spark.operators.fold import collect_fold

    l = _t(spark, sf_dir, "lineitem").select(  # noqa: E741
        "l_quantity", "l_orderkey", "l_linenumber"
    )

    def streak(acc, qty):
        current, best = acc
        current = current + 1 if qty > 25 else 0
        return (current, best if best > current else current)

    _, longest = collect_fold(
        l, streak, (0, 0),
        column_names=["l_quantity"],
        # l_quantity tie-break: (orderkey, linenumber) is NOT unique in the
        # synthetic data; remaining ties share the same quantity, so the hot
        # flag sequence — all the fold sees — is deterministic.
        order_by=["l_orderkey", "l_linenumber", "l_quantity"],
    )
    return spark.createDataFrame([(int(longest),)], "longest long")


@register(
    "kernel_fold_two_columns",
    oracle="""
    SELECT l_returnflag,
           SUM(3.0 * l_quantity * l_linenumber) AS weighted
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def kernel_fold_two_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-column kernel fold (arity dispatch >1 through the driver gate):
    acc + scale×quantity×linenumber per returnflag, with the scale injected
    via ``extra_args`` — the A8 constant-injection protocol (threaded
    between acc and column values, ref `__init__.py:316,376-379`) under an
    exact oracle. All terms are small int-valued doubles, so the sum is
    float-exact and order-free."""
    from polars_numba_spark.operators.fold import grouped_fold

    l = _t(spark, sf_dir, "lineitem")  # noqa: E741

    def weighted_step(acc, scale, qty, line):
        return acc + scale * qty * line

    return grouped_fold(
        l.select("l_returnflag", "l_quantity", "l_linenumber", "l_orderkey"),
        "l_returnflag",
        weighted_step,
        0.0,
        "double",
        columns=["l_quantity", "l_linenumber"],
        order_by="l_orderkey",
        extra_args=(3.0,),
        result_name="weighted",
    ).select("l_returnflag", "weighted")


@register(
    "kernel_scan_multi_output",
    oracle="""
    SELECT event_id,
           CAST(CASE WHEN value IS NULL THEN NULL ELSE
               COALESCE(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w, 0)
           END AS BIGINT) AS cents_total,
           CAST(CASE WHEN value IS NULL THEN NULL ELSE COUNT(value) OVER w
           END AS BIGINT) AS n_seen
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def kernel_scan_multi_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-output kernel scan (tuple accumulator → SizedArray, ref
    `tests/test_collect_scan.py:190-208` at table scale): per-user running
    (cents_total, event_count) pairs, oracled by a pair of window aggregates.
    The kernel emits the SizedArray pair; the result schema splits it into
    scalar columns (array-typed result columns would crash the driver's
    pandas canonicalizer — catalog.py conventions)."""
    from pyspark.sql import types as T

    from polars_numba_spark.dtypes import SizedArray
    from polars_numba_spark.operators.scan import grouped_scan

    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )

    def pair_step(acc, cents):
        return (acc[0] + cents, acc[1] + 1)

    return grouped_scan(
        e.select("user_id", "event_id", "ts", "cents"),
        "user_id",
        pair_step,
        (0, 0),
        SizedArray(T.LongType(), 2),
        columns=["cents"],
        order_by=["ts", "event_id"],
        result_name="acc_pair",
    ).select(
        "event_id",
        F.element_at("acc_pair", 1).alias("cents_total"),
        F.element_at("acc_pair", 2).alias("n_seen"),
    )


@register(
    "q7_nation_pair_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           {_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS volume
    FROM supplier, lineitem, orders, customer, nation n1, nation n2
    WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
      AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
      AND c_nationkey = n2.n_nationkey
      AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_9')
        OR (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_3'))
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1997-12-31 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def q7_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bidirectional nation-pair trade volume by ship year."""
    s = _t(spark, sf_dir, "supplier")
    l = _t(spark, sf_dir, "lineitem").where(  # noqa: E741
        F.col("l_shipdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").alias("n1")
    n2 = _t(spark, sf_dir, "nation").alias("n2")
    j = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2.n_nationkey"))
        .where(
            ((F.col("n1.n_name") == "NATION_3") & (F.col("n2.n_name") == "NATION_9"))
            | ((F.col("n1.n_name") == "NATION_9") & (F.col("n2.n_name") == "NATION_3"))
        )
    )
    return (
        j.select(
            F.col("n1.n_name").alias("supp_nation"),
            F.col("n2.n_name").alias("cust_nation"),
            F.year("l_shipdate").cast("long").alias("l_year"),
            F.col("l_extendedprice"),
            F.col("l_discount"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.expr(_DSUM.format(x="l_extendedprice * (1 - l_discount)")).alias("volume")
        )
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               {_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: aggregate view + scalar-subquery max filter."""
    l = _t(spark, sf_dir, "lineitem").where(  # noqa: E741
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.expr(_DSUM.format(x="l_extendedprice * (1 - l_discount)")).alias(
            "total_revenue"
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_revenue == F.col("m"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
    SELECT COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery average + anti join. The average is
    compared as the identical double both engines compute (single scan,
    deterministic division), so the > filter is exact."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    # AVG as decimal-exact sum / count → bit-identical double in both engines
    avg_row = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(
            F.expr(
                "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)"
            ).alias("avg_bal")
        )
    )
    rich = c.join(F.broadcast(avg_row), c.c_acctbal > F.col("avg_bal"))
    idle_rich = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return idle_rich.agg(
        F.count(F.lit(1)).alias("numcust"),
        F.expr("CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)").alias(
            "totacctbal"
        ),
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           {_DSUM.format(x='l_extendedprice * (1 - l_discount)')} AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
      AND l_returnflag = 'R'
      AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: revenue lost to returns per customer, one quarter."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")  # noqa: E741
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.expr(_DSUM.format(x="l_extendedprice * (1 - l_discount)")).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@register(
    "q17_small_quantity_revenue",
    oracle=f"""
    SELECT {_DSUM.format(x='l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand = 'Brand#5'
      AND l_quantity < (
          SELECT 0.5 * AVG(l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated scalar subquery (per-part average quantity) —
    decorrelated into a broadcast aggregate join. The AVG threshold is a
    single-scan double (deterministic per part), so the comparison is exact."""
    l = _t(spark, sf_dir, "lineitem")  # noqa: E741
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#5")
    thresholds = l.groupBy(F.col("l_partkey").alias("tk")).agg(
        (F.expr("CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)") * 0.5
         / F.count(F.lit(1))).alias("half_avg_qty")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(thresholds), l.l_partkey == F.col("tk"))
        .where(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            (F.expr(_DSUM.format(x="l_extendedprice")) / 7.0).alias("avg_yearly")
        )
    )


@register(
    "sql_surface_running_balance",
    oracle=SCAN_BALANCE_ORACLE.format(alias="scan"),
)
def sql_surface_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scan operator through its pure-SQL spelling (polymorphic UDTF
    with TABLE PARTITION BY ORDER BY) — Spark 4's table-function surface,
    which the reference's Python-only API lacks. Oracle: the plain window
    aggregate."""
    from polars_numba_spark.sql import register_scan_udtf

    def add(acc, cents):
        return acc + cents

    register_scan_udtf(
        spark, "pns_running_balance", add, 0,
        input_cols=["cents"], key_cols=["user_id", "event_id"],
        return_schema="user_id bigint, event_id bigint, cents bigint, scan bigint",
    )
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    e.createOrReplaceTempView("pns_events_cents")
    return spark.sql(
        """
        SELECT user_id, event_id, scan
        FROM pns_running_balance(
            TABLE(pns_events_cents) PARTITION BY user_id ORDER BY (ts, event_id)
        )
        """
    )


@register(
    "q8_market_share",
    oracle=f"""
    WITH volumes AS (
        SELECT EXTRACT(year FROM o_orderdate) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem, orders, customer, supplier, nation n1, nation n2, region
        WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
          AND l_suppkey = s_suppkey
          AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
          AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
          AND o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1997-12-31 00:00:00'
    )
    SELECT o_year,
           {_DSUM.format(x="CASE WHEN supp_nation = 'NATION_9' THEN volume ELSE 0.0 END")}
           / {_DSUM.format(x='volume')} AS mkt_share
    FROM volumes GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share within a region per year — nested
    conditional aggregation over a 7-way join, exact decimal share."""
    l = _t(spark, sf_dir, "lineitem")  # noqa: E741
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate").between(
            F.lit("1996-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    c = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").alias("n1")
    n2 = _t(spark, sf_dir, "nation").alias("n2")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    vols = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(sup), l.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == r.r_regionkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )
    nation_vol = "CASE WHEN supp_nation = 'NATION_9' THEN volume ELSE 0.0 END"
    return vols.groupBy("o_year").agg(
        (
            F.expr(_DSUM.format(x=nation_vol)) / F.expr(_DSUM.format(x="volume"))
        ).alias("mkt_share")
    )


@register(
    "order_price_distribution",
    oracle="""
    SELECT o_orderkey,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           first_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING) AS cheapest_key,
           last_value(o_orderkey) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS priciest_key
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
    """,
)
def order_price_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank / cume_dist plus
    first/last_value over the full-partition frame (deterministic
    tie-breaks throughout)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_orderkey").over(wf).alias("cheapest_key"),
        F.last("o_orderkey").over(wf).alias("priciest_key"),
    )


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name, EXTRACT(year FROM o_orderdate) AS o_year,
           {_DSUM.format(x='l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1')}
           AS profit
    FROM lineitem, orders, supplier, part, nation
    WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      AND l_partkey = p_partkey AND s_nationkey = n_nationkey
      AND p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit expression mixing columns from two fact-side
    tables, LIKE-filtered part dimension, grouped by nation and year
    (p_retailprice*qty*0.1 stands in for the absent ps_supplycost)."""
    l = _t(spark, sf_dir, "lineitem")  # noqa: E741
    o = _t(spark, sf_dir, "orders")
    sup = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    n = _t(spark, sf_dir, "nation")
    profit = "l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1"
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(sup), l.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(n), sup.s_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.expr(_DSUM.format(x=profit)).alias("profit"))
    )


@register(
    "q12_late_shipment_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late shipments (>60 days after order — the testdata
    has no receipt/commit dates) split into high/low priority counts — the
    dual-conditional-count aggregate over a fact-fact join."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")  # noqa: E741
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey
      AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY
      )
      AND s_nationkey = n_nationkey
      AND n_name = 'NATION_3'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone shipped late (>90 days) on a
    finished multi-supplier order — the classic correlated EXISTS +
    NOT-EXISTS pair, decorrelated into a semi join (another supplier
    exists) and an anti join whose condition references outer columns
    (no OTHER supplier was late). Late-ship proxy per q12."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    l1 = _t(spark, sf_dir, "lineitem").alias("l1")
    l2 = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2"))
        .alias("l2")
    )
    l3 = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("k3"),
            F.col("l_suppkey").alias("s3"),
            F.col("l_shipdate").alias("ship3"),
        )
        .alias("l3")
    )
    late = l1.join(o, F.col("l1.l_orderkey") == o.o_orderkey).where(
        F.col("l1.l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    )
    multi = late.join(
        l2,
        (F.col("k2") == F.col("l1.l_orderkey")) & (F.col("s2") != F.col("l1.l_suppkey")),
        "left_semi",
    )
    sole_late = multi.join(
        l3,
        (F.col("k3") == F.col("l1.l_orderkey"))
        & (F.col("s3") != F.col("l1.l_suppkey"))
        & (F.col("ship3") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
        "left_anti",
    )
    return (
        sole_late.join(F.broadcast(s), F.col("l1.l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(10)
    )


@register(
    "customer_name_fuzzy_pairs",
    oracle="""
    WITH segs AS (
        SELECT c_custkey, c_nationkey, c_name, s.i AS seg_i,
               substr(c_name, 10 + s.i, 1) || substr(c_name, 13 + s.i, 1)
                 || substr(c_name, 16 + s.i, 1) AS seg
        FROM customer, (SELECT UNNEST([0, 1, 2]) AS i) s
    ), dels AS (
        SELECT c_custkey, c_nationkey, c_name,
               substr(c_name, 10, d.i - 1) || substr(c_name, 10 + d.i, 9) AS delstr
        FROM customer, (SELECT UNNEST(range(1, 10)) AS i) d
    ), cand AS (
        SELECT DISTINCT a.c_custkey AS a_key, b.c_custkey AS b_key,
               a.c_name AS an, b.c_name AS bn
        FROM segs a JOIN segs b
          ON a.c_nationkey = b.c_nationkey
         AND a.seg_i = b.seg_i AND a.seg = b.seg
         AND a.c_custkey < b.c_custkey
        UNION
        SELECT DISTINCT a.c_custkey, b.c_custkey, a.c_name, b.c_name
        FROM dels a JOIN dels b
          ON a.c_nationkey = b.c_nationkey
         AND a.delstr = b.delstr
         AND a.c_custkey < b.c_custkey
    )
    SELECT a_key, b_key, CAST(levenshtein(an, bn) AS INTEGER) AS edit_dist
    FROM cand WHERE levenshtein(an, bn) <= 2
    """,
)
def customer_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching with SCALABLE blocking (round-1 verdict fix):
    round 1 blocked on c_nationkey alone — 25 blocks forever, so candidate
    pairs grew O(n²/25). Candidate generation is now COMPLETE for every
    edit-distance ≤2 pair of these fixed-length names, via the union of two
    bounded-block families:

    - **interleaved digit segments** (positions i, i+3, i+6): pigeonhole —
      ≤2 substitutions touch at most 2 of 3 disjoint position sets.
      Interleaving matters: zero-padded keys make a contiguous leading
      segment a single value ('000'), degenerating to nation-sized blocks.
    - **deletion neighborhood** (each name minus one digit): an equal-length
      pair at distance 2 via insert+delete shifts a span and can touch all
      three segments, but deleting the inserted char from one name and the
      displaced char from the other yields the SAME 8-digit string, so the
      pair meets in a deletion block. Equal lengths (fixed format) leave no
      other ED≤2 case.

    Both key spaces GROW with the data (bounded blocks at any scale), and
    the oracle applies the identical candidate generation, so the
    comparison stays exact — and, being complete, the result equals the
    unblocked nation-wide scan."""
    return fuzzy_name_pairs(_t(spark, sf_dir, "customer"))


def fuzzy_name_pairs(c: DataFrame) -> DataFrame:
    """Frame-level body of :func:`customer_name_fuzzy_pairs` (segment +
    deletion-neighborhood blocking, edit distance ≤ 2) — extracted so the
    scale soak can drive it over a replicated customer frame."""

    def seg(i: int):
        return F.concat(
            F.substring("c_name", 10 + i, 1),
            F.substring("c_name", 13 + i, 1),
            F.substring("c_name", 16 + i, 1),
        )

    def delstr(i: int):  # digits 1..9 with digit i removed
        return F.concat(
            F.substring("c_name", 10, i - 1), F.substring("c_name", 10 + i, 9)
        )

    def pairs_on(keyed, extra_eq):
        a, b = keyed.alias("a"), keyed.alias("b")
        cond = (
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey"))
        )
        for k in extra_eq:
            cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
        return a.join(b, cond).select(
            F.col("a.c_custkey").alias("a_key"),
            F.col("b.c_custkey").alias("b_key"),
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name")).alias("edit_dist"),
        )

    segs = c.select(
        "c_custkey", "c_nationkey", "c_name",
        F.posexplode(F.array(seg(0), seg(1), seg(2))).alias("seg_i", "seg"),
    )
    dels = c.select(
        "c_custkey", "c_nationkey", "c_name",
        F.explode(F.array(*[delstr(i) for i in range(1, 10)])).alias("delstr"),
    )
    return (
        pairs_on(segs, ["seg_i", "seg"])
        .unionByName(pairs_on(dels, ["delstr"]))
        .dropDuplicates(["a_key", "b_key"])
        .where(F.col("edit_dist") <= 2)
    )


@register(
    "customer_golden_record",
    oracle="""
    WITH RECURSIVE cust AS (
        SELECT * FROM customer WHERE c_custkey < 1500
    ), segs AS (
        SELECT c_custkey, c_nationkey, c_name, s.i AS seg_i,
               substr(c_name, 10 + s.i, 1) || substr(c_name, 13 + s.i, 1)
                 || substr(c_name, 16 + s.i, 1) AS seg
        FROM cust, (SELECT UNNEST([0, 1, 2]) AS i) s
    ), dels AS (
        SELECT c_custkey, c_nationkey, c_name,
               substr(c_name, 10, d.i - 1) || substr(c_name, 10 + d.i, 9) AS delstr
        FROM cust, (SELECT UNNEST(range(1, 10)) AS i) d
    ), cand AS (
        SELECT DISTINCT a.c_custkey AS a_key, b.c_custkey AS b_key,
               a.c_name AS an, b.c_name AS bn
        FROM segs a JOIN segs b
          ON a.c_nationkey = b.c_nationkey
         AND a.seg_i = b.seg_i AND a.seg = b.seg
         AND a.c_custkey < b.c_custkey
        UNION
        SELECT DISTINCT a.c_custkey, b.c_custkey, a.c_name, b.c_name
        FROM dels a JOIN dels b
          ON a.c_nationkey = b.c_nationkey
         AND a.delstr = b.delstr
         AND a.c_custkey < b.c_custkey
    ), matched AS (
        SELECT a_key, b_key FROM cand WHERE levenshtein(an, bn) <= 2
    ), edges AS (
        SELECT a_key AS u, b_key AS v FROM matched
        UNION
        SELECT b_key AS u, a_key AS v FROM matched
    ), lab AS (
        SELECT c_custkey AS id, c_custkey AS label FROM cust
        UNION
        SELECT e.v AS id, l.label
        FROM lab l JOIN edges e ON e.u = l.id
        WHERE l.label < e.v
    ), comp AS (
        SELECT id, MIN(label) AS entity_id FROM lab GROUP BY id
    ), agg AS (
        SELECT comp.entity_id,
               COUNT(*) AS n_members,
               MIN(c.c_nationkey) AS nationkey,
               MAX(c.c_acctbal) AS max_acctbal,
               CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                   AS total_acctbal
        FROM cust c JOIN comp ON comp.id = c.c_custkey
        GROUP BY comp.entity_id
    )
    SELECT a.entity_id, r.c_name AS canonical_name, a.n_members,
           a.nationkey, a.max_acctbal, a.total_acctbal
    FROM agg a JOIN cust r ON r.c_custkey = a.entity_id
    """,
)
def customer_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY RESOLUTION end-to-end — the golden-record face: the
    complete blocked fuzzy matcher (customer_name_fuzzy_pairs' pigeonhole
    segment + deletion-neighborhood blocking, edit distance ≤ 2) becomes
    match EDGES, connected components merge matches into entities
    (operators/dedup.py::connected_components — min-label propagation,
    rounds ≈ cluster diameter), and one survivorship aggregate per entity
    emits the canonical record: representative name from the min-key
    member, member count, max/total account balance (decimal-exact sum).
    Singletons keep themselves — every customer lands in exactly one
    entity. Fully oracled: the DuckDB twin replays the identical blocking
    and a recursive-CTE label propagation to fixpoint. Scale shape: the
    only data-sized shuffles key on block values and entity id; the
    match-edge set (not the corpus) drives iteration cost, exactly like
    the dedup keep-list path. Two honest caveats, both documented on
    purpose: (1) capped to a fixed c_custkey slice (the whole table at
    the correctness SF) — like dedup_clusters, the price of a full
    recursive-CTE cross-engine oracle for an iterative algorithm; (2) on
    this synthetic corpus (sequential fixed-format names) every
    same-nation customer CHAINS into one entity — the transitive-closure
    collapse production ER guards against with tighter match rules, and
    exactly the long-chain propagation stress that makes the face a
    worst-case pin for the components loop."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 1500)
    return golden_record(c)


def golden_record(c: DataFrame) -> DataFrame:
    """Frame-level ER pipeline of :func:`customer_golden_record` (fuzzy
    match edges → connected components → survivorship aggregate) —
    extracted so the scale soak can drive the components loop over a
    replicated customer frame, where duplicate records multiply per-block
    edge mass the way real cross-system ER input does."""
    from polars_numba_spark.operators.dedup import connected_components

    pairs = fuzzy_name_pairs(c).select(
        F.col("a_key").alias("a_id"), F.col("b_key").alias("b_id")
    )
    comps = connected_components(pairs)
    labeled = (
        c.join(comps, c.c_custkey == comps.id, "left")
        .withColumn("entity_id", F.coalesce(F.col("component"), F.col("c_custkey")))
    )
    agg = labeled.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("c_nationkey").alias("nationkey"),
        F.max("c_acctbal").alias("max_acctbal"),
        F.expr(
            "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("total_acctbal"),
    )
    rep = c.select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("canonical_name"),
    )
    return agg.join(rep, "entity_id").select(
        "entity_id",
        "canonical_name",
        "n_members",
        "nationkey",
        "max_acctbal",
        "total_acctbal",
    )


@register(
    "customer_graph_triangles",
    oracle="""
    WITH cust AS (
        SELECT * FROM customer WHERE c_custkey < 1500
    ), segs AS (
        SELECT c_custkey, c_nationkey, c_name, s.i AS seg_i,
               substr(c_name, 10 + s.i, 1) || substr(c_name, 13 + s.i, 1)
                 || substr(c_name, 16 + s.i, 1) AS seg
        FROM cust, (SELECT UNNEST([0, 1, 2]) AS i) s
    ), dels AS (
        SELECT c_custkey, c_nationkey, c_name,
               substr(c_name, 10, d.i - 1) || substr(c_name, 10 + d.i, 9) AS delstr
        FROM cust, (SELECT UNNEST(range(1, 10)) AS i) d
    ), cand AS (
        SELECT DISTINCT a.c_custkey AS a_key, b.c_custkey AS b_key,
               a.c_name AS an, b.c_name AS bn
        FROM segs a JOIN segs b
          ON a.c_nationkey = b.c_nationkey
         AND a.seg_i = b.seg_i AND a.seg = b.seg
         AND a.c_custkey < b.c_custkey
        UNION
        SELECT DISTINCT a.c_custkey, b.c_custkey, a.c_name, b.c_name
        FROM dels a JOIN dels b
          ON a.c_nationkey = b.c_nationkey
         AND a.delstr = b.delstr
         AND a.c_custkey < b.c_custkey
    ), e AS (
        SELECT a_key AS a, b_key AS b FROM cand WHERE levenshtein(an, bn) <= 2
    ), deg AS (
        SELECT id, COUNT(*) AS d
        FROM (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e)
        GROUP BY id
    ), keyed AS (
        SELECT e.a, e.b,
               da.d * 1000000 + e.a AS ka,
               db.d * 1000000 + e.b AS kb
        FROM e JOIN deg da ON da.id = e.a JOIN deg db ON db.id = e.b
    ), oe AS (
        SELECT LEAST(ka, kb) AS ku, GREATEST(ka, kb) AS kv FROM keyed
    ), tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM oe w1
        JOIN oe w2 ON w2.ku = w1.ku AND w1.kv < w2.kv
        JOIN oe e3 ON e3.ku = w1.kv AND e3.kv = w2.kv
    ), stats AS (
        SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
               (SELECT COUNT(*) FROM e) AS n_edges,
               (SELECT CAST(SUM(d * (d - 1)) // 2 AS BIGINT) FROM deg)
                   AS n_wedges
    )
    SELECT s.n_nodes, s.n_edges, t.n_triangles, s.n_wedges,
           CASE WHEN s.n_wedges > 0 THEN
               3.0 * CAST(t.n_triangles AS DOUBLE)
                   / CAST(s.n_wedges AS DOUBLE)
           END AS clustering
    FROM stats s, tri t
    """,
)
def customer_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNTING with degree-ordered orientation — the scalable
    graph-analytics primitive (global clustering coefficient = 3·T /
    wedges) over the fuzzy-match graph: every undirected edge is
    oriented toward the higher (degree, id) endpoint, so each node's
    out-degree is O(√m) whatever the degree skew, and each triangle is
    counted exactly once by the wedge-close join (the standard
    MapReduce/GraphX spelling — a naive 3-way self-join on undirected
    edges counts every triangle 6 times through hub nodes and dies on
    skew). The (degree, id) orientation key is packed into one bigint
    (d·10⁶ + id) so both engines compare identical scalars. Same fixed
    c_custkey slice as the golden-record face; all counts exact
    integers, one double division for the coefficient."""
    from polars_numba_spark.plans.checkpoint import session_scoped_checkpoint

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 1500)
    # The edge list feeds SEVEN consumer subtrees (deg twice via the
    # union, both keyed joins, oe -> w1/w2/close, n_edges) and the fuzzy
    # pair build behind it is the face's heavy pass (segment/deletion
    # explode self-joins + levenshtein + union-dedup); without the
    # materialization the captured plan held 480 Exchange/Join nodes of
    # replayed build (plans/r14/customer_graph_triangles_before.txt).
    # The materialized rows are two-bigint pairs — bounded by the match
    # graph, not the corpus.
    e = session_scoped_checkpoint(
        customer_name_fuzzy_pairs(spark, sf_dir)
        .where((F.col("a_key") < 1500) & (F.col("b_key") < 1500))
        .select(F.col("a_key").alias("a"), F.col("b_key").alias("b"))
    )
    deg = (
        e.select(F.col("a").alias("id"))
        .unionAll(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keyed = (
        e.join(deg.select(F.col("id").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("d").alias("db")), "b")
        .select(
            (F.col("da") * 1000000 + F.col("a")).alias("ka"),
            (F.col("db") * 1000000 + F.col("b")).alias("kb"),
        )
    )
    oe = keyed.select(
        F.least("ka", "kb").alias("ku"), F.greatest("ka", "kb").alias("kv")
    )
    w1 = oe.select(F.col("ku"), F.col("kv").alias("kv1"))
    w2 = oe.select(F.col("ku"), F.col("kv").alias("kv2"))
    wedges = w1.join(w2, "ku").where(F.col("kv1") < F.col("kv2"))
    tri = wedges.join(
        oe.select(F.col("ku").alias("kv1"), F.col("kv").alias("kv2")),
        ["kv1", "kv2"],
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = (
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            (F.sum(F.col("d") * (F.col("d") - 1)).cast("long") / 2)
            .cast("long")
            .alias("n_wedges"),
        )
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
    )
    return stats.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_triangles",
        "n_wedges",
        # a wedge-free graph (isolated edges) has no defined clustering
        # coefficient: NULL, not an ANSI divide-by-zero (mirrored CASE)
        F.when(
            F.col("n_wedges") > 0,
            F.lit(3.0) * F.col("n_triangles").cast("double")
            / F.col("n_wedges").cast("double"),
        ).alias("clustering"),
    )


@register(
    "customer_match_bfs_hops",
    oracle="""
    WITH RECURSIVE cust AS (
        SELECT * FROM customer WHERE c_custkey < 1500
    ), segs AS (
        SELECT c_custkey, c_nationkey, c_name, s.i AS seg_i,
               substr(c_name, 10 + s.i, 1) || substr(c_name, 13 + s.i, 1)
                 || substr(c_name, 16 + s.i, 1) AS seg
        FROM cust, (SELECT UNNEST([0, 1, 2]) AS i) s
    ), dels AS (
        SELECT c_custkey, c_nationkey, c_name,
               substr(c_name, 10, d.i - 1) || substr(c_name, 10 + d.i, 9) AS delstr
        FROM cust, (SELECT UNNEST(range(1, 10)) AS i) d
    ), cand AS (
        SELECT DISTINCT a.c_custkey AS a_key, b.c_custkey AS b_key,
               a.c_name AS an, b.c_name AS bn
        FROM segs a JOIN segs b
          ON a.c_nationkey = b.c_nationkey
         AND a.seg_i = b.seg_i AND a.seg = b.seg
         AND a.c_custkey < b.c_custkey
        UNION
        SELECT DISTINCT a.c_custkey, b.c_custkey, a.c_name, b.c_name
        FROM dels a JOIN dels b
          ON a.c_nationkey = b.c_nationkey
         AND a.delstr = b.delstr
         AND a.c_custkey < b.c_custkey
    ), matched AS (
        SELECT a_key, b_key FROM cand WHERE levenshtein(an, bn) <= 2
    ), und AS (
        SELECT a_key AS u, b_key AS v FROM matched
        UNION
        SELECT b_key AS u, a_key AS v FROM matched
    ), walk(id, hops) AS (
        SELECT c_custkey, 0 FROM cust WHERE c_custkey < 20
        UNION
        SELECT e.v, w.hops + 1
        FROM walk w JOIN und e ON e.u = w.id
        WHERE w.hops < 3
    )
    SELECT id, CAST(MIN(hops) AS INTEGER) AS hops
    FROM walk GROUP BY id
    """,
)
def customer_match_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distance over the fuzzy-match graph — the
    shortest-path/blast-radius face of the graph family (PageRank =
    centrality, components = membership, triangles = density, BFS =
    reach): every customer within 3 match-hops of the seed set
    (c_custkey < 20), with its minimum hop count. Drives
    operators/graphrank.py::bfs_hops — frontier-expansion rounds whose
    per-round cost tracks the frontier's edge fan-out, never the full
    graph; the bounded hop count unrolls into a DuckDB recursive-CTE
    oracle with integer-only arithmetic (nothing to round, engines agree
    bit-for-bit). Same fixed c_custkey slice as the golden-record face."""
    from polars_numba_spark.operators.graphrank import bfs_hops

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 1500)
    pairs = fuzzy_name_pairs(c).select(
        F.col("a_key").alias("u"), F.col("b_key").alias("v")
    )
    edges = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    seeds = c.where(F.col("c_custkey") < 20).select(
        F.col("c_custkey").alias("id")
    )
    return bfs_hops(edges, seeds, max_hops=3, src_col="u", dst_col="v")


_LPA_EDGES_CTE = """
    WITH cust AS (
        SELECT * FROM customer WHERE c_custkey < 1500
    ), segs AS (
        SELECT c_custkey, c_nationkey, c_name, s.i AS seg_i,
               substr(c_name, 10 + s.i, 1) || substr(c_name, 13 + s.i, 1)
                 || substr(c_name, 16 + s.i, 1) AS seg
        FROM cust, (SELECT UNNEST([0, 1, 2]) AS i) s
    ), dels AS (
        SELECT c_custkey, c_nationkey, c_name,
               substr(c_name, 10, d.i - 1) || substr(c_name, 10 + d.i, 9) AS delstr
        FROM cust, (SELECT UNNEST(range(1, 10)) AS i) d
    ), cand AS (
        SELECT DISTINCT a.c_custkey AS a_key, b.c_custkey AS b_key,
               a.c_name AS an, b.c_name AS bn
        FROM segs a JOIN segs b
          ON a.c_nationkey = b.c_nationkey
         AND a.seg_i = b.seg_i AND a.seg = b.seg
         AND a.c_custkey < b.c_custkey
        UNION
        SELECT DISTINCT a.c_custkey, b.c_custkey, a.c_name, b.c_name
        FROM dels a JOIN dels b
          ON a.c_nationkey = b.c_nationkey
         AND a.delstr = b.delstr
         AND a.c_custkey < b.c_custkey
    ), matched AS (
        SELECT a_key, b_key FROM cand WHERE levenshtein(an, bn) <= 2
    ), und AS (
        SELECT a_key AS u, b_key AS v FROM matched
        UNION
        SELECT b_key AS u, a_key AS v FROM matched
    )
"""

_LPA_ROUND_SQL = """
    , m{r} AS (
        SELECT e.v AS id, l.lab, COUNT(*) AS c
        FROM und e JOIN l{p} l ON l.id = e.u GROUP BY 1, 2
    ), b{r} AS (
        SELECT id, lab FROM (
            SELECT id, lab, ROW_NUMBER() OVER (
                PARTITION BY id ORDER BY c DESC, lab) AS rn
            FROM m{r}
        ) WHERE rn = 1
    ), l{r} AS (
        SELECT l{p}.id, COALESCE(b{r}.lab, l{p}.lab) AS lab
        FROM l{p} LEFT JOIN b{r} ON b{r}.id = l{p}.id
    )
"""


@register(
    "customer_label_propagation",
    oracle=(
        _LPA_EDGES_CTE
        + ", l0 AS (SELECT c_custkey AS id, c_custkey AS lab FROM cust)"
        + "".join(_LPA_ROUND_SQL.format(r=r, p=r - 1) for r in (1, 2, 3))
        + " SELECT id, CAST(lab AS BIGINT) AS community FROM l3"
    ),
)
def customer_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL PROPAGATION community detection (Raghavan et al. 2007,
    synchronous variant) over the fuzzy-match graph — the community face
    of the graph family, next to components (connectivity), PageRank
    (centrality), triangles (density) and BFS (reach): unlike min-label
    components, LPA's neighbor-MAJORITY vote finds densely-knit groups
    inside a connected blob. Three SYNCHRONOUS rounds (fixed count — the
    unrollable-oracle posture): every node adopts its neighbors'
    most-frequent label (ties → smallest label; isolated nodes keep
    their own), labels initialized to node ids. Exact integer votes,
    ROW_NUMBER argmax — nothing to round. Scale shape per round: one
    edge⋈label join + one (node, label) count + one per-node argmax
    window, all keyed on node id; the label frame is localCheckpointed
    per round (the components-loop lineage pin)."""
    from polars_numba_spark.plans.checkpoint import checkpoint_rounds

    c = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 1500)
    pairs = fuzzy_name_pairs(c).select(
        F.col("a_key").alias("u"), F.col("b_key").alias("v")
    )
    with checkpoint_rounds() as ck:
        und = ck.pin(
            pairs.unionByName(
                pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
        )
        lab = ck.step(
            "labels",
            c.select(F.col("c_custkey").alias("id"), F.col("c_custkey").alias("lab")),
        )
        for _ in range(3):
            msgs = und.join(
                lab.select(F.col("id").alias("u"), "lab"), "u"
            ).select(F.col("v").alias("id"), "lab")
            counts = msgs.groupBy("id", "lab").agg(F.count(F.lit(1)).alias("c"))
            wv = Window.partitionBy("id").orderBy(F.col("c").desc(), F.col("lab"))
            best = (
                counts.withColumn("rn", F.row_number().over(wv))
                .where(F.col("rn") == 1)
                .select("id", F.col("lab").alias("blab"))
            )
            lab = ck.step(
                "labels",
                lab.join(best, "id", "left").select(
                    "id", F.coalesce(F.col("blab"), F.col("lab")).alias("lab")
                ),
            )
    return lab.select("id", F.col("lab").alias("community"))


@register(
    "session_top_paths",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM events
    ), marked AS (
        SELECT user_id, event_id, event_type, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), islands AS (
        SELECT user_id, event_id, event_type, ts,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM marked
    ), steps AS (
        SELECT user_id, session_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, session_id ORDER BY ts, event_id
               ) AS rn
        FROM islands
    ), paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM steps WHERE rn <= 3
        GROUP BY user_id, session_id
    ), counted AS (
        SELECT path, COUNT(*) AS n_sessions FROM paths GROUP BY path
    )
    SELECT path, n_sessions FROM counted
    ORDER BY n_sessions DESC, path LIMIT 20
    """,
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-JOURNEY mining: the top-20 session-opening paths (first three
    event types per 30-minute session, joined '>'), counted across all
    sessions — the sequence-pattern face next to the Markov transition
    matrix (which sees only single steps) and the ordered funnel (which
    checks one fixed path). Sessionization is the same gaps-and-islands
    two-window spelling as user_sessions, with (ts, event_id) ordering so
    simultaneous events cannot permute a path; the path string is built
    from a SORTED struct collect (rank, type) — deterministic, never
    collect_list order-luck. Shuffles key on user then (user, session)
    then path; top-20 ships per-partition heads (TakeOrderedAndProject)."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
                > 1800
            ),
            1,
        ).otherwise(0),
    )
    islands = marked.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    ws = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    steps = islands.withColumn("rn", F.row_number().over(ws)).where(
        F.col("rn") <= 3
    )
    paths = steps.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


@register("sql_surface_capped_fold", oracle=_CAPPED_FOLD_ORACLE_SQL)
def sql_surface_capped_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FOLD operator through its pure-SQL spelling — the grouped-fold
    twin of sql_surface_running_balance (§2.C now carries BOTH table-
    function surfaces): the flagship capped-balance step function
    registered as a Spark 4 polymorphic UDTF and invoked with TABLE ...
    PARTITION BY user_id ORDER BY (ts, event_id), one output row per
    user. Same semantics as the kernel face, so the oracle is the SAME
    recursive-CTE replay verbatim (CAPPED_FOLD_ORACLE, single-sourced) —
    a drift between the mapInPandas kernel path and the UDTF path would
    hash-mismatch one of the two faces. Null-value rows are dropped by
    the fold null rule inside the UDTF; all-null users emit acc0."""
    from polars_numba_spark.sql import register_fold_udtf

    def cap_fold(acc, cap, value):
        candidate = acc + value
        if candidate > cap or candidate < 0:
            return acc
        return candidate

    register_fold_udtf(
        spark,
        "pns_capped_fold",
        cap_fold,
        0.0,
        input_cols=["value"],
        key_cols=["user_id"],
        return_schema="user_id bigint, capped_balance double",
        extra_args=(10_000.0,),
    )
    e = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    e.createOrReplaceTempView("pns_events_for_fold")
    return spark.sql(
        """
        SELECT user_id, capped_balance
        FROM pns_capped_fold(
            TABLE(pns_events_for_fold)
            PARTITION BY user_id ORDER BY (ts, event_id)
        )
        """
    )
