"""Unit tests of the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import statistics

import pytest

from perfbench.stats import (
    covered_length,
    geomean,
    op_medians,
    parse_sql_metric,
    percentile,
    quartile_spread,
    round_robin_exchanges,
    self_time,
    supported_percentile,
)
from perfbench.trace import Tracer


def test_percentile_interpolates_between_nearest_ranks():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(values, 50) == 3.0
    assert percentile(values, 90) == pytest.approx(4.6)
    assert percentile(values, 0) == 1.0 and percentile(values, 100) == 5.0
    assert percentile([1.0, 2.0], 50) == 1.5
    assert percentile([7.0], 90) == 7.0
    assert percentile(list(range(1, 102)), 90) == 91


def test_percentile_rejects_empty_and_bad_rank():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_supported_percentile_keeps_ten_samples_beyond():
    assert supported_percentile(10) is None
    assert supported_percentile(20) == 50.0
    assert supported_percentile(100) == 90.0


def test_op_medians_groups_by_op():
    records = [
        {"op": "a", "latency_s": 1.0},
        {"op": "b", "latency_s": 5.0},
        {"op": "a", "latency_s": 9.0},
        {"op": "a", "latency_s": 2.0},
    ]
    assert op_medians(records) == {"a": 2.0, "b": 5.0}


def test_geomean():
    assert geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert geomean(iter([3.0])) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        geomean([])


def test_quartile_spread_matches_statistics_quantiles():
    values = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, med, q3 = statistics.quantiles(values, n=4)
    assert quartile_spread(values) == pytest.approx((q3 - q1) / med)


@pytest.mark.parametrize(
    "text, value",
    [
        ("total (min, med, max (stageId: taskId))\n1.1 s (522 ms, 584 ms, 584 ms (stage 2.0: task 4))", 1.1),
        ("total (min, med, max (stageId: taskId))\n584 ms (1 ms, 2 ms, 3 ms (stage 2.0: task 4))", 0.584),
        ("total (min, med, max (stageId: taskId))\n2.5 m (1 s, 2 s, 3 s (stage 1.0: task 1))", 150.0),
        ("total (min, med, max (stageId: taskId))\n4.7 MiB (2.2 MiB, 2.4 MiB, 2.4 MiB (stage 2.0: task 4))", 4.7 * 2**20),
        ("total (min, med, max (stageId: taskId))\n1440.0 B (1440.0 B, 1440.0 B, 1440.0 B (stage 2.0: task 4))", 1440.0),
        ("200,000", 200000.0),
        (None, 0.0),
        ("", 0.0),
    ],
)
def test_parse_sql_metric(text, value):
    assert parse_sql_metric(text) == pytest.approx(value)


def test_parse_sql_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_sql_metric("total (min, med, max)\n3 furlongs (1, 1, 1)")


_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   ShuffleQueryStage (3)
   +- Exchange (2)
      +- Range (1)
+- == Initial Plan ==
   Exchange (8)
   +- Exchange (7)
      +- Range (6)


(1) Range
Output [1]: [id#0L]

(2) Exchange
Input [1]: [id#0L]
Arguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=35]

(7) Exchange
Input [1]: [id#0L]
Arguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=17]

(8) Exchange
Input [1]: [id#0L]
Arguments: hashpartitioning(id#0L, 4), ENSURE_REQUIREMENTS, [plan_id=18]

(9) AdaptiveSparkPlan
Arguments: isFinalPlan=true
"""


def test_round_robin_exchanges_counts_the_final_plan_only():
    assert round_robin_exchanges(_PLAN) == 1
    plain = _PLAN.replace("== Final Plan ==", "").split("+- == Initial Plan ==")[0]
    assert round_robin_exchanges(plain + "\n\n(2) Exchange\nArguments: RoundRobinPartitioning(4)\n") == 1
    assert round_robin_exchanges("== Physical Plan ==\nRange (1)\n\n\n(1) Range\n") == 0


def test_self_time_subtracts_the_union_of_children():
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]) == pytest.approx(6.0)
    # children clipped to the parent; nested or repeated intervals count once
    assert self_time(0.0, 10.0, [(-5.0, 2.0), (8.0, 20.0), (1.0, 1.5)]) == pytest.approx(6.0)
    assert covered_length([(3.0, 3.0)], 0.0, 10.0) == 0.0


def test_tracer_summary_gives_self_time_and_disabled_tracer_keeps_nothing():
    tracer = Tracer(enabled=True)
    with tracer.span("op", trace_id="t1") as op:
        with tracer.span("construct") as child:
            pass
    assert child.trace_id == "t1" and child.parent == 0
    summary = tracer.summary()
    assert summary["op"]["count"] == 1
    assert summary["op"]["self_s"] == pytest.approx(op.duration - child.duration)
    off = Tracer(enabled=False)
    with off.span("op") as sp:
        pass
    assert off.spans == [] and sp.duration >= 0.0
