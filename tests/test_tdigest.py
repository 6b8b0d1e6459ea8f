"""t-digest-style mergeable quantile sketch (r6 verdict next-round #8):
bounded-state contract, rank-error bound, and merge validity under
different partitionings."""

from __future__ import annotations

import bisect

import numpy as np
import pytest
from pyspark.sql import functions as F

from polars_numba_spark.operators.sketch import (
    _compress,
    _k1_boundaries,
    tdigest_partials,
    tdigest_quantiles,
)

SF = "/root/testdata/sf0.001"
PROBS = [0.05, 0.5, 0.9, 0.99]
C = 128


def _rank_errors(rows, values_by_group):
    errs = []
    for r in rows:
        v = values_by_group[r["event_type"]]
        rank = bisect.bisect_left(v, r["quantile_est"]) / len(v)
        errs.append(abs(rank - r["prob"]))
    return errs


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


@pytest.fixture(scope="module")
def exact_values(events):
    vals = {}
    for row in events.select("event_type", "value").collect():
        vals.setdefault(row["event_type"], []).append(row["value"])
    for k in vals:
        vals[k].sort()
    return vals


def test_rank_error_within_bound(events, exact_values):
    """Every estimated quantile must land within 1/C rank of its target —
    twice the k1 bucket half-width, the documented accuracy contract."""
    rows = tdigest_quantiles(events, "value", "event_type", PROBS, C).collect()
    assert len(rows) == len(exact_values) * len(PROBS)
    assert max(_rank_errors(rows, exact_values)) <= 1.0 / C


def test_partial_stage_is_bounded(events):
    """≤ C centroid rows per group per input partition reach the shuffle —
    the merge property that makes the sketch a two-level aggregate."""
    spread = events.repartition(8)
    partials = tdigest_partials(spread, "value", ["event_type"], C)
    n_groups = events.select("event_type").distinct().count()
    assert partials.count() <= C * 8 * n_groups


def test_estimates_stable_across_partitionings(events, exact_values):
    """A digest of digests is a valid digest: different partitionings give
    different merge orders, but every partitioning's estimate must stay
    within the rank bound (bit-identity is NOT promised)."""
    for parts in (1, 7, 32):
        rows = tdigest_quantiles(
            events.repartition(parts), "value", "event_type", PROBS, C
        ).collect()
        assert max(_rank_errors(rows, exact_values)) <= 1.0 / C


def test_tail_accuracy_beats_midrange_budget(events, exact_values):
    """The k1 scale function's reason to exist: extreme quantiles get
    narrower buckets. p=0.99 on a long-tailed value column must attain
    rank error ≤ 1/(2C) even though an equal-weight strip of C buckets
    could only promise 1/(2C) MID-bucket — i.e. the tails are not worse
    than the global bound despite covering far fewer rows.

    NOTE (ADVICE r7): the 1/(2C) figure is an EMPIRICAL PIN on this fixed
    testdata and the session default partitioning, not a theoretical
    guarantee of the k1 digest under arbitrary merge orders — the
    documented contract is 1/C (test_estimates_stable_across_partitionings
    and the Hypothesis sweep below). If this assertion flakes after a
    data/partitioning change, relax it to 1/C rather than chasing it."""
    rows = tdigest_quantiles(events, "value", "event_type", [0.99], C).collect()
    assert max(_rank_errors(rows, exact_values)) <= 1.0 / (2 * C)


def test_compress_preserves_total_weight_and_bounds_count():
    rng = np.random.RandomState(7)
    m = np.sort(rng.lognormal(0, 2, size=5000))
    w = np.ones_like(m)
    cm, cw = _compress(m, w, 64)
    assert len(cm) <= 64
    assert cw.sum() == pytest.approx(5000.0)
    assert (np.diff(cm) >= 0).all()


def test_k1_boundaries_are_tail_dense():
    b = _k1_boundaries(100)
    assert b[0] == pytest.approx(0.0) and b[-1] == pytest.approx(1.0)
    # first/last buckets far narrower than the middle one
    assert (b[1] - b[0]) < (b[51] - b[50]) / 10


# --- merge-phase property hardening (r7 verdict next-round #8) --------------
# These drive the REAL two-phase code (the partial's update/emit pair and
# _merge_digest_quantiles) at the Arrow/numpy level — no Spark job per
# example — over adversarial partitionings and duplicate-heavy values.

import functools

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from polars_numba_spark.operators.sketch import (
    _fold_partition,
    _merge_digest_quantiles,
    _tdigest_emit,
    _tdigest_update,
)

HPROBS = [0.01, 0.25, 0.5, 0.75, 0.99]


def _two_phase(values: np.ndarray, cuts: list[int], C: int) -> dict:
    """Run the actual partial over one Arrow batch per partition, then the
    actual merge — the exact per-group dataflow of tdigest_quantiles."""
    partial = functools.partial(
        _fold_partition, ["g"],
        functools.partial(_tdigest_update, "v", C),
        functools.partial(_tdigest_emit, C),
    )
    parts = np.split(values, cuts)
    batches = (
        pa.record_batch({"g": ["k"] * len(p), "v": p}) for p in parts if len(p)
    )
    out = list(partial(batches))
    assert len(out) == 1
    m = out[0].column("__mean").to_numpy()
    w = out[0].column("__weight").to_numpy()
    ests = _merge_digest_quantiles(m, w, C, HPROBS)
    return {"partial_means": m, "partial_weights": w, "ests": ests}


def _interval_rank_err(sorted_vals: np.ndarray, est: float, p: float) -> float:
    # duplicate runs make the step-quantile an interval; measure distance
    # from p to the est's attained rank interval, with an FP tolerance so a
    # 1-ulp weighted-mean drift off an exact duplicated value doesn't read
    # as falling below the whole run
    tol = 1e-9 * max(1.0, abs(est))
    lo = np.searchsorted(sorted_vals, est - tol, side="left") / len(sorted_vals)
    hi = np.searchsorted(sorted_vals, est + tol, side="right") / len(sorted_vals)
    return 0.0 if lo <= p <= hi else min(abs(p - lo), abs(p - hi))


@st.composite
def _digest_case(draw):
    C = draw(st.sampled_from([8, 16, 32]))
    n = draw(st.integers(min_value=2, max_value=1500))
    # duplicate-heavy by construction: few distinct magnitudes, repeated
    k = draw(st.integers(min_value=1, max_value=min(n, 40)))
    distinct = draw(
        st.lists(
            st.floats(
                min_value=-1e12, max_value=1e12,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=k, max_size=k, unique=True,
        )
    )
    idx = draw(st.lists(st.integers(0, k - 1), min_size=n, max_size=n))
    values = np.array([distinct[i] for i in idx], dtype="float64")
    n_cuts = draw(st.integers(min_value=0, max_value=12))
    cuts = sorted(draw(st.lists(st.integers(0, n), min_size=n_cuts, max_size=n_cuts)))
    return values, cuts, C


@pytest.mark.soak  # r15 fast-tier trim (VERDICT r14 #2); >10s each
@given(_digest_case())
@settings(max_examples=150, deadline=None)
def test_merge_phase_adversarial_rank_envelope(case):
    """For ANY values (however duplicate-heavy) and ANY partitioning, the
    two-phase digest must stay within the documented adversarial envelope
    err ≤ π/C + max_run_mass/2 + 1/(2n) (see _merge_digest_quantiles).
    The report's 1/C is an empirical pin on continuous data, NOT this
    guarantee — a k1 bucket straddling two duplicate runs measurably
    exceeds 1/C, which is why the envelope carries the run-mass term."""
    values, cuts, C = case
    r = _two_phase(values, cuts, C)
    sv = np.sort(values)
    n = len(values)
    _, counts = np.unique(values, return_counts=True)
    envelope = np.pi / C + counts.max() / (2 * n) + 1.0 / (2 * n)
    for p, est in zip(HPROBS, r["ests"]):
        assert _interval_rank_err(sv, est, p) <= envelope


@pytest.mark.soak  # r15 fast-tier trim (VERDICT r14 #2); >10s each
@given(_digest_case())
@settings(max_examples=150, deadline=None)
def test_merge_phase_exact_invariants(case):
    """Invariants that must hold EXACTLY under any merge order: the partial
    stage conserves total weight, emits ≤ C centroids per partition whose
    means lie inside the data range, and the merge is deterministic."""
    values, cuts, C = case
    r = _two_phase(values, cuts, C)
    n_parts = len([p for p in np.split(values, cuts) if len(p)])
    assert r["partial_weights"].sum() == pytest.approx(float(len(values)))
    assert len(r["partial_means"]) <= C * n_parts
    assert r["partial_means"].min() >= values.min() - 1e-6 * max(1, abs(values.min()))
    assert r["partial_means"].max() <= values.max() + 1e-6 * max(1, abs(values.max()))
    again = _merge_digest_quantiles(
        r["partial_means"], r["partial_weights"], C, HPROBS
    )
    assert again == r["ests"]
    # estimates stay inside the data range (up to weighted-mean FP drift:
    # 11 copies of 1.9 average to 1.8999999999999997)
    span_tol = 1e-9 * max(1.0, abs(values.min()), abs(values.max()))
    assert min(r["ests"]) >= values.min() - span_tol
    assert max(r["ests"]) <= values.max() + span_tol


@pytest.mark.parametrize(
    "schema, keys",
    [
        ("g long, v double", [2**53, 2**53, 2**53 + 1, 2**53 + 1, None]),
        ("g double, v double", [float("nan"), float("nan"), None, 0.0, -0.0]),
    ],
    ids=["bigint", "double"],
)
def test_group_keys_come_through_exact(spark, schema, keys):
    """One estimate per ``groupBy`` group — 2^53 apart from 2^53 + 1, NaN
    apart from null, -0.0 with 0.0 — and, at ≤ 2 values a group, the
    median itself."""
    rows = [(g, float(v)) for g, v in zip(keys, [1.0, 2.0, 4.0, 4.0, 8.0])]
    df = spark.createDataFrame(rows, schema).coalesce(1)  # one partial for all keys

    def group(g):
        return "NaN" if g != g else g

    by_group: dict = {}
    for g, v in rows:
        by_group.setdefault(group(g), []).append(v)
    got = {group(r["g"]): r["quantile_est"]
           for r in tdigest_quantiles(df, "v", "g", [0.5], C).collect()}
    assert got == {g: float(np.median(vs)) for g, vs in by_group.items()}
