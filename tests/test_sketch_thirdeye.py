"""Third-eye fixtures for the sketch-estimator family (VERDICT r11 #7).

Same blind spot as the statistical faces: the KMV/HLL/CMS register math is
mirrored verbatim into each face's DuckDB oracle, so a shared formula error
is invisible to the cross-engine hash gate. Each test here recomputes the
estimator INDEPENDENTLY in pure Python/numpy from the textbook definition —
order statistics for KMV (Bar-Yossef et al. 2002), the 2^-rho harmonic mean
for HLL (Flajolet et al. 2007), dict counters for CMS (Cormode &
Muthukrishnan 2005) — and for the inherently partition-dependent t-digest
checks the rank-accuracy GUARANTEE against exact numpy quantiles instead of
re-deriving centroids (re-deriving would re-mirror the thing under test).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np
import pytest

from polars_numba_spark.operators import sketch as SK

HASH_SPACE = 1 << 60


def md5_60(s: str) -> int:
    """Pure-python twin of dedup.md5_long (first 15 md5 hex chars)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


@pytest.fixture(scope="module")
def values():
    """Two groups with known distinct cardinalities: g=a has 900 distinct
    string values (some repeated), g=b has 40 (< k for the KMV exact
    branch)."""
    rng = np.random.RandomState(11)
    rows = []
    for i in range(900):
        for _ in range(1 + int(rng.randint(0, 3))):
            rows.append(("a", f"val_{i}"))
    for i in range(40):
        rows.append(("b", f"bee_{i}"))
    return rows


@pytest.fixture(scope="module")
def vdf(spark, values):
    return spark.createDataFrame(values, "g string, v string")


def test_kmv_estimate_matches_pure_python(spark, vdf, values):
    out = {r["g"]: r["kmv_estimate"]
           for r in SK.kmv_distinct(vdf, "v", "g", k=64).collect()}
    for g, n_distinct in (("a", 900), ("b", 40)):
        distinct = {v for gg, v in values if gg == g}
        assert len(distinct) == n_distinct
        hashes = sorted(md5_60(v) for v in distinct)
        if n_distinct < 64:
            expected = float(n_distinct)  # sketch holds everything: exact
        else:
            expected = 63 * HASH_SPACE / hashes[63]  # (k-1)*U/h_k
        assert out[g] == pytest.approx(expected, rel=1e-12), g


def test_kmv_estimate_is_actually_close(values, vdf, spark):
    """The estimator itself (not just the spelling): at k=64 the relative
    error sd is ~1/sqrt(k-2) ~ 13%; 900 true distinct must come back
    within a generous 3-sigma band."""
    out = {r["g"]: r["kmv_estimate"]
           for r in SK.kmv_distinct(vdf, "v", "g", k=64).collect()}
    assert abs(out["a"] - 900) / 900 < 0.4
    assert out["b"] == 40.0


def test_hll_estimate_matches_pure_python(spark, vdf, values):
    p, m = 12, 1 << 12
    rho_max = 60 - p + 1
    out = {r["g"]: (r["n_registers"], r["hll_estimate"])
           for r in SK.hll_distinct(vdf, "v", "g", p=p).collect()}
    for g in ("a", "b"):
        distinct = {v for gg, v in values if gg == g}
        regs: dict[int, int] = {}
        for v in distinct:
            h = md5_60(v)
            bucket = h >> (60 - p)
            w = h & ((1 << (60 - p)) - 1)
            bits = format(w, f"0{60 - p}b")
            one = bits.find("1")
            rho = rho_max if one < 0 else one + 1
            regs[bucket] = max(regs.get(bucket, 0), rho)
        used = len(regs)
        z = sum(2.0 ** -r for r in regs.values()) + (m - used) * 1.0
        alpha = 0.7213 / (1.0 + 1.079 / m)
        raw = alpha * m * m / z
        zeros = m - used
        est = (m * math.log(m / zeros)
               if raw <= 2.5 * m and zeros > 0 else raw)
        n_regs, got = out[g]
        assert n_regs == used, g
        assert got == pytest.approx(est, rel=1e-9, abs=1e-5), g


def test_hll_estimate_is_actually_close(vdf, spark):
    """Estimator quality: at p=12 the relative error sd is
    1.04/sqrt(4096) ~ 1.6%; in the linear-counting regime (n << m) the
    error is far smaller. 5% is a >3-sigma band for both groups."""
    out = {r["g"]: r["hll_estimate"]
           for r in SK.hll_distinct(vdf, "v", "g", p=12).collect()}
    assert abs(out["a"] - 900) / 900 < 0.05
    assert abs(out["b"] - 40) / 40 < 0.05


def test_cms_counters_match_pure_python(spark):
    depth, width = 4, 64  # narrow width so collisions actually occur
    keys = [f"k{i % 23}" for i in range(500)] + ["hot"] * 57
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    sketch = SK.cms_build(df, "k", depth=depth, width=width, portable=True)
    got = {(r["j"], r["bucket"]): r["cnt"] for r in sketch.collect()}
    exact: Counter = Counter()
    for k in keys:
        for j in range(depth):
            exact[(j, md5_60(f"{k}#cms{j}") % width)] += 1
    assert got == dict(exact)

    probes = spark.createDataFrame(
        [("hot",), ("k0",), ("absent",)], "k string"
    )
    est = {r["k"]: r["cms_n"]
           for r in SK.cms_probe(sketch, probes, "k", depth=depth,
                                 width=width, portable=True).collect()}
    true = Counter(keys)
    for k in ("hot", "k0", "absent"):
        expected = min(
            exact.get((j, md5_60(f"{k}#cms{j}") % width), 0)
            for j in range(depth)
        )
        assert est[k] == expected, k
        # the one-sided CMS guarantee: never under-counts
        assert est[k] >= true.get(k, 0), k


def test_heavy_hitters_guarantee(spark):
    """Misra-Gries + exact recount must return EXACTLY the >1/k-share set
    with exact counts — recomputed from collections.Counter."""
    rng = np.random.RandomState(3)
    vals = (["whale"] * 400 + ["shark"] * 150
            + [f"fish_{i}" for i in rng.randint(0, 200, size=450)])
    rng.shuffle(vals)
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v string")
    k = 10
    got = {r["v"]: (r["cnt"], r["share"])
           for r in SK.heavy_hitters(df, "v", "g", k=k).collect()}
    c = Counter(vals)
    expected = {v: n for v, n in c.items() if n * k > len(vals)}
    assert set(got) == set(expected)
    for v, n in expected.items():
        assert got[v][0] == n
        assert got[v][1] == pytest.approx(round(n / len(vals), 6))


def test_bloom_no_false_negatives_and_bounded_fp(spark):
    built_keys = [f"key_{i}" for i in range(300)]
    absent_keys = [f"nope_{i}" for i in range(1000)]
    build = spark.createDataFrame([(k,) for k in built_keys], "k string")
    bloom = SK.bloom_build(build, "k", bits_per_key=8, n_hashes=4)
    probes = spark.createDataFrame(
        [(k,) for k in built_keys + absent_keys], "k string"
    )
    flags = {r["k"]: r["passes_bloom"]
             for r in SK.bloom_probe(probes, "k", bloom).collect()}
    assert all(flags[k] for k in built_keys)  # the hard guarantee
    fp = sum(flags[k] for k in absent_keys) / len(absent_keys)
    assert fp < 0.10  # ~2.4% expected at 8 bits/key, k=4; 10% is ~4x slack


def test_tdigest_rank_accuracy_vs_numpy(spark):
    """The merge/compress arithmetic is partition-order dependent, so the
    third eye checks the accuracy GUARANTEE: each estimated quantile must
    sit within a small RANK distance of the exact numpy quantile on a
    heavy-tailed sample (k1 digests concentrate accuracy in the tails)."""
    rng = np.random.RandomState(5)
    data = np.exp(rng.normal(0.0, 1.5, size=4000))  # lognormal tail
    df = spark.createDataFrame(
        [("g", float(v)) for v in data], "g string, v double"
    )
    probs = [0.01, 0.25, 0.5, 0.75, 0.99]
    got = {r["prob"]: r["quantile_est"]
           for r in SK.tdigest_quantiles(df, "v", "g", probs).collect()}
    sorted_data = np.sort(data)
    for p in probs:
        est = got[p]
        # rank of the estimate in the true data vs the requested rank
        rank = np.searchsorted(sorted_data, est) / len(sorted_data)
        assert abs(rank - p) < 0.02, (p, est, rank)


# --- group keys under groupBy's equality -----------------------------------

BIG = 2**53

# groupBy keeps 2^53 apart from 2^53 + 1 and NaN apart from null, and puts
# -0.0 with 0.0; a key round trip through float64 or pandas NA would not
ODD_KEYS = {
    "bigint": ("g long, v string",
               [(BIG, "a"), (BIG, "b"), (BIG + 1, "c"), (BIG + 1, "c"), (None, "z")]),
    "double": ("g double, v string",
               [(float("nan"), "a"), (float("nan"), "b"), (None, "c"),
                (0.0, "d"), (-0.0, "e")]),
}


def group_of(g):
    """A key as ``groupBy`` groups it: every NaN one group, -0.0 as 0.0."""
    if isinstance(g, float):
        return "NaN" if g != g else g + 0.0
    return g


def groups_of(rows):
    out: dict = {}
    for g, v in rows:
        out.setdefault(group_of(g), []).append(v)
    return out


@pytest.mark.parametrize("kind", sorted(ODD_KEYS))
def test_kmv_keeps_groupby_keys(spark, kind):
    schema, rows = ODD_KEYS[kind]
    df = spark.createDataFrame(rows, schema).coalesce(1)  # one partial for all keys
    got = {group_of(r["g"]): r["kmv_estimate"]
           for r in SK.kmv_distinct(df, "v", "g", k=64).collect()}
    assert got == {g: float(len(set(vs))) for g, vs in groups_of(rows).items()}


@pytest.mark.parametrize("kind", sorted(ODD_KEYS))
def test_heavy_hitters_keep_groupby_keys(spark, kind):
    schema, rows = ODD_KEYS[kind]
    df = spark.createDataFrame(rows, schema).coalesce(1)  # one partial for all keys
    k = 2
    got = {(group_of(r["g"]), r["v"], r["cnt"], r["share"])
           for r in SK.heavy_hitters(df, "v", "g", k=k).collect()}
    expected = {
        (g, v, n, round(n / len(vs), 6))
        for g, vs in groups_of(rows).items()
        for v, n in Counter(vs).items()
        if n * k > len(vs)
    }
    assert expected and got == expected
