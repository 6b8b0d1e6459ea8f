"""Grouped fold/scan tests — mirror of the reference's expression-fold/scan
suites (`/root/reference/tests/test_expr_fold.py`, `test_expr_scan.py`) and
the grouped examples (`examples_fold.py:81-97`, `examples_scan.py:66-82`).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_numba_spark import (
    SizedArray,
    collect_fold,
    collect_scan,
    grouped_fold,
    grouped_multi_fold,
    grouped_multi_scan,
    grouped_scan,
)


def map_in_arrow_nodes(plan: str) -> set[str]:
    """Distinct MapInArrow nodes of a physical plan string (AQE prints a node
    in both the final and the initial subtree)."""
    return {ln.strip().lstrip("+-*: ") for ln in plan.splitlines() if "MapInArrow" in ln}


def cap_step(acc, cap, amt):
    new = acc + amt
    if new > cap or new < 0:
        return acc
    return new


@pytest.fixture()
def user_purchases(spark):
    """Fixture F3 — the reference's grouped credit-card data
    (`examples_fold.py:81-86`)."""
    data = [
        ("alice", 50.0, 0),
        ("alice", 900.0, 1),
        ("alice", 70.0, 2),
        ("alice", -400.0, 3),
        ("alice", 60.0, 4),
        ("bob", 17.0, 5),
        ("bob", 0.5, 6),
    ]
    return spark.createDataFrame(data, "user string, amt double, ord long")


def test_grouped_fold_golden(spark, user_purchases):
    """Golden: alice 610.0, bob 17.5 (ref `examples_fold.py:94-97`)."""
    out = grouped_fold(
        user_purchases,
        "user",
        cap_step,
        0.0,
        "double",
        columns=["amt"],
        order_by="ord",
        extra_args=(1000.0,),
    )
    assert sorted(tuple(r) for r in out.collect()) == [("alice", 610.0), ("bob", 17.5)]


def test_grouped_scan_golden(spark, user_purchases):
    """Golden: alice [50,950,950,550,610], bob [17,17.5]
    (ref `examples_scan.py:79-82`)."""
    out = grouped_scan(
        user_purchases,
        "user",
        cap_step,
        0.0,
        "double",
        columns=["amt"],
        order_by="ord",
        extra_args=(1000.0,),
    )
    got = {}
    for row in out.orderBy("user", "ord").collect():
        got.setdefault(row["user"], []).append(row["scan"])
    assert got == {"alice": [50.0, 950.0, 950.0, 550.0, 610.0], "bob": [17.0, 17.5]}


def test_grouped_scan_list_shape_via_collect_list(spark, user_purchases):
    """Polars' group_by().agg(scan) yields a list column per group; the Spark
    idiom is flat rows + collect_list for the nested shape."""
    out = grouped_scan(
        user_purchases, "user", cap_step, 0.0, "double",
        columns=["amt"], order_by="ord", extra_args=(1000.0,),
    )
    nested = (
        out.groupBy("user")
        .agg(F.sort_array(F.collect_list(F.struct("ord", "scan"))).alias("pairs"))
        .select("user", F.col("pairs.scan").alias("scans"))
    )
    got = {r["user"]: r["scans"] for r in nested.collect()}
    assert got["alice"] == [50.0, 950.0, 950.0, 550.0, 610.0]


def test_grouped_fold_null_rows_dropped(spark):
    """Null rule for fold inside groups (ref `test_expr_fold.py:32-46`)."""
    df = spark.createDataFrame(
        [("g", 1, 30, 0), ("g", 2, None, 1), ("g", None, 50, 2), ("g", 3, 100, 3)],
        "k string, a long, b long, ord long",
    )

    def add(acc, a, b):
        return acc + a + b

    out = grouped_fold(df, "k", add, 0.5, "double", columns=["a", "b"], order_by="ord")
    assert out.collect()[0]["fold"] == 134.5


def test_grouped_scan_null_rows_null_out(spark):
    """Null rule for scan inside groups (ref `test_expr_scan.py:39-59`)."""
    df = spark.createDataFrame(
        [("g", 1, 30, 0), ("g", 2, None, 1), ("g", None, 50, 2), ("g", 3, 100, 3)],
        "k string, a long, b long, ord long",
    )

    def add(acc, a, b):
        return acc + a + b

    out = grouped_scan(df, "k", add, 0.5, "double", columns=["a", "b"], order_by="ord")
    assert [r["scan"] for r in out.orderBy("ord").collect()] == [31.5, None, None, 134.5]


def test_grouped_fold_multi_output(spark):
    """F4: tuple accumulator (balance, units) with caps → fold (960, 23)
    (ref `examples_fold.py:140-153`)."""
    prices = [100.0, 800.0, 300.0, 0.0, 60.0]
    units = [20.0, 2.0, 5.0, 0.0, 1.0]
    df = spark.createDataFrame(
        [("o", p, u, i) for i, (p, u) in enumerate(zip(prices, units))],
        "k string, price double, units double, ord long",
    )

    def step(acc, max_price, max_units, price, units):
        bal, got = acc
        if bal + price > max_price or got + units > max_units:
            return acc
        return (bal + price, got + units)

    out = grouped_fold(
        df, "k", step, (0.0, 0.0), SizedArray(T.DoubleType(), 2),
        columns=["price", "units"], order_by="ord", extra_args=(1000.0, 25.0),
    )
    assert out.collect()[0]["fold"] == [960.0, 23.0]


def test_grouped_scan_multi_output(spark):
    prices = [100.0, 800.0, 300.0, 0.0, 60.0]
    units = [20.0, 2.0, 5.0, 0.0, 1.0]
    df = spark.createDataFrame(
        [("o", p, u, i) for i, (p, u) in enumerate(zip(prices, units))],
        "k string, price double, units double, ord long",
    )

    def step(acc, max_price, max_units, price, units):
        bal, got = acc
        if bal + price > max_price or got + units > max_units:
            return acc
        return (bal + price, got + units)

    out = grouped_scan(
        df, "k", step, (0.0, 0.0), SizedArray(T.DoubleType(), 2),
        columns=["price", "units"], order_by="ord", extra_args=(1000.0, 25.0),
    )
    got = [r["scan"] for r in out.orderBy("ord").collect()]
    assert [g[0] for g in got] == [100.0, 900.0, 900.0, 900.0, 960.0]
    assert [g[1] for g in got] == [20.0, 22.0, 22.0, 22.0, 23.0]


def test_many_groups_parallel(spark):
    """Grouped kernel ops shuffle on keys and run groups in parallel — check
    correctness over enough groups to span several partitions."""
    rows = [(g, float(i), i) for g in range(50) for i in range(20)]
    df = spark.createDataFrame(rows, "g long, v double, ord long")

    def add(acc, v):
        return acc + v

    out = grouped_fold(df, "g", add, 0.0, "double", columns=["v"], order_by="ord")
    assert out.count() == 50
    assert all(r["fold"] == 190.0 for r in out.collect())


def test_null_group_keys_form_one_group(spark):
    """Spark groupBy treats null as ONE group; the NumPy boundary detection
    must be NaN-aware (NaN != NaN would split every null row into its own
    group — regression test)."""
    df = spark.createDataFrame(
        [(None, 1.0, 0), (None, 2.0, 1), (5, 10.0, 2)],
        "g integer, v double, ord long",
    )

    def add(acc, v):
        return acc + v

    folded = grouped_fold(df, "g", add, 0.0, "double", columns=["v"], order_by="ord")
    got = {r["g"]: r["fold"] for r in folded.collect()}
    assert got == {None: 3.0, 5: 10.0}

    scanned = grouped_scan(df, "g", add, 0.0, "double", columns=["v"], order_by="ord")
    vals = {(r["g"], r["ord"]): r["scan"] for r in scanned.collect()}
    assert vals == {(None, 0): 1.0, (None, 1): 3.0, (5, 2): 10.0}


def test_single_huge_group_streams_through(spark):
    """The mapInArrow execution streams Arrow batches, so a group larger
    than any single batch (here 1M rows through 50k-row batches) works with
    O(batch) worker memory — the applyInPandas whole-group materialization
    cap does NOT apply to this engine's grouped kernels."""
    df = (
        spark.range(0, 1_000_000)
        .select(
            F.lit(1).alias("g"),
            F.col("id").cast("double").alias("v"),
            F.col("id").alias("ord"),
        )
    )

    def add(acc, v):
        return acc + v

    out = grouped_fold(df, "g", add, 0.0, "double", columns=["v"], order_by="ord")
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["fold"] == float(999_999 * 1_000_000 // 2)


def test_grouped_arity_errors(spark):
    df = spark.createDataFrame([("g", 1.0, 0)], "k string, v double, ord long")
    with pytest.raises(ValueError, match="at least one column"):
        grouped_fold(df, "k", lambda acc: acc, 0.0, "double", columns=[], order_by="ord")
    wide = df
    for i in range(10):
        wide = wide.withColumn(f"c{i}", F.lit(1.0))
    with pytest.raises(RuntimeError, match="only up to 9 columns are supported"):
        grouped_fold(
            wide, "k", lambda acc, *a: acc, 0.0, "double",
            columns=[f"c{i}" for i in range(10)], order_by="ord",
        )


def test_agg_with_fold_mixes_native_and_kernel(spark, user_purchases):
    """The expression-context composition surface: native aggregates and a
    kernel fold in one grouped result (ref `examples_fold.py:87-97` puts a
    fold Expr alongside other aggs in one ``agg`` call)."""
    from polars_numba_spark import agg_with_fold

    out = agg_with_fold(
        user_purchases,
        "user",
        native_aggs={"n": F.count(F.lit(1)), "total": F.sum("amt")},
        folds={
            "capped": dict(
                function=cap_step,
                initial_accumulator=0.0,
                return_dtype="double",
                columns=["amt"],
                order_by="ord",
                extra_args=(1000.0,),
            )
        },
    )
    assert sorted(out.columns) == ["capped", "n", "total", "user"]
    rows = {r["user"]: r for r in out.collect()}
    assert rows["alice"]["n"] == 5 and rows["alice"]["capped"] == 610.0
    assert rows["bob"]["n"] == 2 and rows["bob"]["capped"] == 17.5
    assert rows["bob"]["total"] == 17.5


def test_agg_with_fold_null_key_is_one_group(spark):
    from polars_numba_spark import agg_with_fold

    df = spark.createDataFrame(
        [(None, 1.0, 0), (None, 2.0, 1), ("a", 5.0, 2)],
        "user string, amt double, ord long",
    )
    out = agg_with_fold(
        df,
        "user",
        native_aggs={"n": F.count(F.lit(1))},
        folds={
            "capped": dict(
                function=cap_step,
                initial_accumulator=0.0,
                return_dtype="double",
                columns=["amt"],
                order_by="ord",
                extra_args=(1000.0,),
            )
        },
    )
    rows = {r["user"]: r for r in out.collect()}
    assert rows[None]["n"] == 2 and rows[None]["capped"] == 3.0
    assert rows["a"]["capped"] == 5.0


def test_agg_with_fold_rejects_name_collisions(spark, user_purchases):
    from polars_numba_spark import agg_with_fold

    with pytest.raises(ValueError, match="duplicate"):
        agg_with_fold(
            user_purchases,
            "user",
            native_aggs={"x": F.count(F.lit(1))},
            folds={"x": dict(function=cap_step, initial_accumulator=0.0,
                             return_dtype="double", columns=["amt"],
                             order_by="ord", extra_args=(1000.0,))},
        )


def sum_step(acc, amt):
    return acc + amt


def count_big_step(acc, threshold, amt):
    return acc + (1 if amt > threshold else 0)


def test_grouped_multi_fold_matches_separate_folds(spark, user_purchases):
    """The fused pass (one shuffle+sort+scan for N folds) must reproduce N
    separate grouped_fold calls exactly — including per-spec null rules."""
    specs = {
        "capped": dict(
            function=cap_step, initial_accumulator=0.0, return_dtype="double",
            columns=["amt"], extra_args=(1000.0,),
        ),
        "total": dict(
            function=sum_step, initial_accumulator=0.0, return_dtype="double",
            columns=["amt"],
        ),
        "n_big": dict(
            function=count_big_step, initial_accumulator=0, return_dtype="long",
            columns=["amt"], extra_args=(50.0,),
        ),
    }
    fused = {
        r["user"]: r
        for r in grouped_multi_fold(user_purchases, "user", specs, order_by="ord").collect()
    }
    for name, spec in specs.items():
        sep = {
            r["user"]: r[name]
            for r in grouped_fold(
                user_purchases, "user", spec["function"],
                spec["initial_accumulator"], spec["return_dtype"],
                columns=spec["columns"], order_by="ord",
                extra_args=spec.get("extra_args", ()), result_name=name,
            ).collect()
        }
        assert {u: r[name] for u, r in fused.items()} == sep, name


def test_grouped_multi_fold_null_rule_is_per_spec(spark):
    """A row null in one spec's columns is dropped for THAT spec only."""
    df = spark.createDataFrame(
        [("a", 1.0, 10.0, 0), ("a", None, 20.0, 1), ("a", 3.0, None, 2)],
        "user string, x double, y double, ord long",
    )
    out = grouped_multi_fold(
        df,
        "user",
        {
            "sx": dict(function=sum_step, initial_accumulator=0.0,
                       return_dtype="double", columns=["x"]),
            "sy": dict(function=sum_step, initial_accumulator=0.0,
                       return_dtype="double", columns=["y"]),
        },
        order_by="ord",
    ).collect()[0]
    assert out["sx"] == 4.0 and out["sy"] == 30.0


def test_agg_with_fold_fuses_shared_ordering(spark, user_purchases):
    """Two folds sharing order_by must run as ONE kernel pass: the plan
    contains a single MapInArrow node (and no MapInPandas)."""
    from polars_numba_spark import agg_with_fold

    out = agg_with_fold(
        user_purchases,
        "user",
        native_aggs={"n": F.count(F.lit(1))},
        folds={
            "capped": dict(function=cap_step, initial_accumulator=0.0,
                           return_dtype="double", columns=["amt"],
                           order_by="ord", extra_args=(1000.0,)),
            "total": dict(function=sum_step, initial_accumulator=0.0,
                          return_dtype="double", columns=["amt"],
                          order_by="ord"),
        },
    )
    rows = {r["user"]: r for r in out.collect()}
    assert rows["alice"]["capped"] == 610.0 and rows["alice"]["total"] == 680.0
    assert rows["bob"]["capped"] == 17.5 and rows["bob"]["total"] == 17.5
    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE prints the same physical node in both the final and original
    # subtrees — count DISTINCT MapInArrow nodes (two unfused folds would
    # show two nodes with different output columns)
    assert len(map_in_arrow_nodes(plan)) == 1, plan
    assert "MapInPandas" not in plan


def _carry_rows(users):
    """600 rows over ``users`` in ord order, every 13th amount null: with
    19-row batches every group spans many Arrow batches."""
    rows = []
    for i in range(600):
        amt = float((i * 37) % 101) - 25.0
        rows.append((users[i % len(users)], None if i % 13 == 0 else amt, i))
    return rows


def _replay(rows):
    """Plain-Python capped and total scans per user: {(user, ord): (capped,
    total)}, (None, None) for a null row, plus each user's final pair."""
    per_row: dict = {}
    acc: dict = {}
    for user, amt, ord_ in rows:
        if amt is None:
            per_row[(user, ord_)] = (None, None)
            continue
        c, t = acc.get(user, (0.0, 0.0))
        new = c + amt
        acc[user] = (c if new > 1000.0 or new < 0 else new, t + amt)
        per_row[(user, ord_)] = acc[user]
    return per_row, acc


_CARRY_SPECS = {
    "capped": dict(function=cap_step, initial_accumulator=0.0,
                   return_dtype="double", columns=["amt"], extra_args=(1000.0,)),
    "total": dict(function=sum_step, initial_accumulator=0.0,
                  return_dtype="double", columns=["amt"]),
}


def test_grouped_multi_fold_batch_boundary_carry(spark, tiny_batches):
    """600 rows / 3 users under 19-row batching, so every group crosses
    many Arrow batches; results must match a plain-Python replay of both
    folds."""
    rows = _carry_rows(["u0", "u1", "u2"])
    df = spark.createDataFrame(rows, "user string, amt double, ord long")
    _, expected = _replay(rows)
    out = {
        r["user"]: r
        for r in grouped_multi_fold(df, "user", _CARRY_SPECS, order_by="ord").collect()
    }
    assert len(out) == 3
    for user, (capped, total) in expected.items():
        assert out[user]["capped"] == pytest.approx(capped, abs=1e-9)
        assert out[user]["total"] == pytest.approx(total, abs=1e-9)


def test_grouped_fold_batch_boundary_carry_null_key(spark, tiny_batches):
    """The single-spec fold carries across 19-row batches too, including a
    null-key group that spans batches."""
    rows = _carry_rows(["u0", None, "u1"])
    df = spark.createDataFrame(rows, "user string, amt double, ord long")
    _, expected = _replay(rows)
    got = {
        r["user"]: r["fold"]
        for r in grouped_fold(
            df, "user", cap_step, 0.0, "double", columns=["amt"],
            order_by="ord", extra_args=(1000.0,),
        ).collect()
    }
    assert got == pytest.approx({u: c for u, (c, _) in expected.items()}, abs=1e-9)


def test_grouped_scan_batch_boundary_carry_null_key(spark, tiny_batches):
    rows = _carry_rows(["u0", None, "u1"])
    df = spark.createDataFrame(rows, "user string, amt double, ord long")
    expected, _ = _replay(rows)
    got = {
        (r["user"], r["ord"]): r["scan"]
        for r in grouped_scan(
            df, "user", sum_step, 0.0, "double", columns=["amt"], order_by="ord"
        ).collect()
    }
    assert len(got) == 600
    for k, (_, total) in expected.items():
        assert got[k] == (None if total is None else pytest.approx(total)), k


def test_grouped_multi_scan_matches_separate_scans(spark, user_purchases):
    """Fused multi-scan (one shuffle+sort+pass, N result columns) must
    reproduce N separate grouped_scan calls exactly — per-spec null rules
    and carries included."""
    specs = {
        "capped": dict(function=cap_step, initial_accumulator=0.0,
                       return_dtype="double", columns=["amt"],
                       extra_args=(1000.0,)),
        "running_total": dict(function=sum_step, initial_accumulator=0.0,
                              return_dtype="double", columns=["amt"]),
    }
    fused = {
        (r["user"], r["ord"]): (r["capped"], r["running_total"])
        for r in grouped_multi_scan(user_purchases, "user", specs, order_by="ord").collect()
    }
    for i, (name, spec) in enumerate(specs.items()):
        sep = {
            (r["user"], r["ord"]): r[name]
            for r in grouped_scan(
                user_purchases, "user", spec["function"],
                spec["initial_accumulator"], spec["return_dtype"],
                columns=spec["columns"], order_by="ord",
                extra_args=spec.get("extra_args", ()), result_name=name,
            ).collect()
        }
        assert {k: v[i] for k, v in fused.items()} == sep, name
    # plan: ONE kernel pass
    out = grouped_multi_scan(user_purchases, "user", specs, order_by="ord")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(map_in_arrow_nodes(plan)) == 1
    assert "MapInPandas" not in plan


def test_grouped_multi_scan_null_rule_is_per_spec(spark):
    """A null in one spec's columns nulls THAT spec's output for the row
    (accumulator unchanged) while the other spec still produces a value."""
    df = spark.createDataFrame(
        [("a", 1.0, 10.0, 0), ("a", None, 20.0, 1), ("a", 3.0, None, 2)],
        "user string, x double, y double, ord long",
    )
    rows = {
        r["ord"]: r
        for r in grouped_multi_scan(
            df,
            "user",
            {
                "sx": dict(function=sum_step, initial_accumulator=0.0,
                           return_dtype="double", columns=["x"]),
                "sy": dict(function=sum_step, initial_accumulator=0.0,
                           return_dtype="double", columns=["y"]),
            },
            order_by="ord",
        ).collect()
    }
    assert rows[0]["sx"] == 1.0 and rows[0]["sy"] == 10.0
    assert rows[1]["sx"] is None and rows[1]["sy"] == 30.0
    assert rows[2]["sx"] == 4.0 and rows[2]["sy"] is None


def test_grouped_multi_scan_batch_boundary_carry(spark, tiny_batches):
    """600 rows / 3 users across 19-row Arrow batches — the fused scan
    carries every spec's accumulator independently."""
    rows = _carry_rows(["u0", "u1", "u2"])
    df = spark.createDataFrame(rows, "user string, amt double, ord long")
    expected, _ = _replay(rows)
    got = {
        (r["user"], r["ord"]): (r["capped"], r["total"])
        for r in grouped_multi_scan(df, "user", _CARRY_SPECS, order_by="ord").collect()
    }
    assert len(got) == 600
    for k, (ec, et) in expected.items():
        gc, gt = got[k]
        if ec is None:
            assert gc is None and gt is None, k
        else:
            assert gc == pytest.approx(ec) and gt == pytest.approx(et), k


def test_agg_with_fold_folds_only(spark, user_purchases):
    """A folds-only call (no native aggregates) must work: GroupedData.agg()
    requires >=1 expression, so the first fold result seeds the output."""
    from polars_numba_spark import agg_with_fold

    out = agg_with_fold(
        user_purchases,
        "user",
        native_aggs={},
        folds={
            "capped": dict(
                function=cap_step, initial_accumulator=0.0,
                return_dtype="double", columns=["amt"],
                order_by="ord", extra_args=(1000.0,),
            ),
            "total": dict(
                function=sum_step, initial_accumulator=0.0,
                return_dtype="double", columns=["amt"], order_by="ord",
            ),
        },
    )
    rows = {r["user"]: r for r in out.collect()}
    assert rows["alice"]["capped"] == 610.0
    assert rows["bob"]["total"] == 17.5


def test_agg_with_fold_rejects_empty_call(spark, user_purchases):
    from polars_numba_spark import agg_with_fold

    with pytest.raises(ValueError, match="at least one"):
        agg_with_fold(user_purchases, "user", native_aggs={}, folds={})


def test_grouped_multi_fold_rejects_input_name_collision(spark, user_purchases):
    """A spec named like a key/order/input column would duplicate a field in
    the output schema and fail late with a confusing Arrow error — reject
    it up front."""
    with pytest.raises(ValueError, match="collide"):
        grouped_multi_fold(
            user_purchases, "user",
            {"amt": dict(function=sum_step, initial_accumulator=0.0,
                         return_dtype="double", columns=["amt"])},
            order_by="ord",
        )


def test_grouped_single_spec_rejects_input_name_collision(spark, user_purchases):
    """grouped_fold and grouped_scan are one-spec calls of the multi-spec
    path, so they take its result-name rule."""
    with pytest.raises(ValueError, match="collide"):
        grouped_fold(user_purchases, "user", sum_step, 0.0, "double",
                     columns=["amt"], order_by="ord", result_name="amt")
    with pytest.raises(ValueError, match="collide"):
        grouped_scan(user_purchases, "user", sum_step, 0.0, "double",
                     columns=["amt"], order_by="ord", result_name="user")


def test_grouped_multi_scan_rejects_input_name_collision(spark, user_purchases):
    with pytest.raises(ValueError, match="collide"):
        grouped_multi_scan(
            user_purchases, "user",
            {"ord": dict(function=sum_step, initial_accumulator=0.0,
                         return_dtype="double", columns=["amt"])},
            order_by="ord",
        )


def _nan_probe(spark):
    """``[1.0, NaN, 2.0, null]`` in ``o`` order, one group."""
    return spark.createDataFrame(
        [("g", 1.0, 0), ("g", float("nan"), 1), ("g", 2.0, 2), ("g", None, 3)],
        "k string, v double, o long",
    )


def _scan_values(out, name):
    return [r[name] for r in out.orderBy("o").collect()]


_SUM_SPEC = dict(function=sum_step, initial_accumulator=0.0,
                 return_dtype="double", columns=["v"])
_NAN_OPS = {
    "collect_fold": lambda df: collect_fold(
        df, sum_step, 0.0, column_names=["v"], order_by="o"),
    "grouped_fold": lambda df: grouped_fold(
        df, "k", sum_step, 0.0, "double", columns=["v"], order_by="o",
    ).collect()[0]["fold"],
    "grouped_multi_fold": lambda df: grouped_multi_fold(
        df, "k", {"r": _SUM_SPEC}, order_by="o").collect()[0]["r"],
    "collect_scan": lambda df: _scan_values(collect_scan(
        df, sum_step, 0.0, "double", column_names=["v"], order_by="o"), "scan"),
    "grouped_scan": lambda df: _scan_values(grouped_scan(
        df, "k", sum_step, 0.0, "double", columns=["v"], order_by="o"), "scan"),
    "grouped_multi_scan": lambda df: _scan_values(grouped_multi_scan(
        df, "k", {"r": _SUM_SPEC}, order_by="o"), "r"),
}


@pytest.mark.parametrize("op", sorted(_NAN_OPS))
def test_nan_is_a_value_not_null(spark, op):
    """Reference (Polars) rule in every batch fold/scan operator: NaN is a
    value, only null is null. A fold folds the NaN row (sum → NaN); a scan
    passes NaN on and emits null only for the null row."""
    got = _NAN_OPS[op](_nan_probe(spark))
    if op.endswith("fold"):
        assert math.isnan(got), got
    else:
        assert got[0] == 1.0 and math.isnan(got[1]) and math.isnan(got[2]), got
        assert got[3] is None, got


def _key(value):
    return "NaN" if isinstance(value, float) and math.isnan(value) else value


def test_nan_and_null_float_keys_are_two_groups(spark):
    """A NaN key and a null key are two groups whose keys match groupBy."""
    df = spark.createDataFrame(
        [(float("nan"), 1.0, 0), (None, 2.0, 1), (float("nan"), 3.0, 2),
         (None, 4.0, 3), (1.5, 5.0, 4)],
        "k double, v double, o long",
    )
    want = {_key(r["k"]): r["s"] for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    assert want == {"NaN": 4.0, None: 6.0, 1.5: 5.0}
    folded = grouped_fold(df, "k", sum_step, 0.0, "double", columns=["v"], order_by="o")
    assert {_key(r["k"]): r["fold"] for r in folded.collect()} == want
    scanned = grouped_scan(df, "k", sum_step, 0.0, "double", columns=["v"], order_by="o")
    assert {(_key(r["k"]), r["o"]): r["scan"] for r in scanned.collect()} == {
        ("NaN", 0): 1.0, (None, 1): 2.0, ("NaN", 2): 4.0, (None, 3): 6.0, (1.5, 4): 5.0,
    }


@pytest.mark.parametrize("where", ["o >= 0", "o != 1"])
def test_signed_zero_keys_fold_to_the_group_by_key(spark, where):
    """-0.0 and 0.0 are one group, and a fold keys it 0.0 as ``groupBy``
    does, also when every row of the group holds -0.0; a scan keeps each
    row's own key."""
    df = spark.createDataFrame(
        [(-0.0, 1.0, 0), (0.0, 2.0, 1), (-0.0, 4.0, 2)], "k double, v double, o long"
    ).where(where)
    want = [(repr(r["k"]), r["s"]) for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()]
    assert [k for k, _ in want] == ["0.0"]
    folded = grouped_fold(df, "k", sum_step, 0.0, "double", columns=["v"], order_by="o")
    assert [(repr(r["k"]), r["fold"]) for r in folded.collect()] == want
    scanned = grouped_scan(df, "k", sum_step, 0.0, "double", columns=["v"], order_by="o")
    assert {r["o"]: repr(r["k"]) for r in scanned.collect()} == {
        r["o"]: repr(r["k"]) for r in df.collect()
    }
