"""Property-based differential tests: grouped/global fold & scan vs a
pure-Python reference implementation on Hypothesis-generated frames.

The reference repo has no property tests (SURVEY.md §5) — this layer is
additive: it hunts the corners example-based tests miss (null placement,
group boundaries, empty groups, negative values).
"""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from polars_numba_spark import collect_fold, collect_scan, grouped_fold

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # group key
        st.one_of(st.none(), st.integers(min_value=-1000, max_value=1000)),  # value
    ),
    min_size=0,
    max_size=40,
)


def _spark_df(spark, rows):
    data = [(g, v, i) for i, (g, v) in enumerate(rows)]
    return spark.createDataFrame(data, "g long, v long, ord long")


def step(acc, v):
    return acc + v if v % 2 == 0 else acc - v  # non-commutative-ish, branchy


def add(a, b):
    """``step`` shifts the accumulator by a per-row amount, so partials
    folded from 0.0 combine by addition: the ``combine=`` form."""
    return a + b


def py_fold(values, acc0=0.0):
    acc = acc0
    for v in values:
        if v is not None:
            acc = step(acc, v)
    return acc


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy, combine=st.sampled_from([None, add]))
def test_collect_fold_matches_python(spark, rows, combine):
    df = _spark_df(spark, rows)
    got = collect_fold(df, step, 0.0, column_names=["v"], order_by="ord",
                       combine=combine)
    assert got == pytest.approx(py_fold([v for _, v in rows]))


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy)
def test_grouped_fold_matches_python(spark, rows):
    df = _spark_df(spark, rows)
    out = grouped_fold(df, "g", step, 0.0, "double", columns=["v"], order_by="ord")
    got = {r["g"]: r["fold"] for r in out.collect()}
    expected = {}
    for g, v in rows:
        expected.setdefault(g, []).append(v)
    # groups whose rows are all-null still fold to acc0 (rows dropped)
    expected = {g: py_fold(vs) for g, vs in expected.items()}
    assert got.keys() == expected.keys()
    for g in expected:
        assert got[g] == pytest.approx(expected[g]), g


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy, combine=st.sampled_from([None, add]))
def test_collect_scan_matches_python(spark, rows, combine):
    df = _spark_df(spark, rows)
    out = collect_scan(df, step, 0.0, "double", column_names=["v"], order_by="ord",
                       combine=combine)
    got = [r["scan"] for r in out.orderBy("ord").collect()]
    acc = 0.0
    expected = []
    for _, v in rows:
        if v is None:
            expected.append(None)
        else:
            acc = step(acc, v)
            expected.append(acc)
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        if e is None:
            assert g is None
        else:
            assert g is not None and math.isclose(g, e)


def step2(acc, v):
    return acc * 2 - v if v % 3 == 0 else acc + v


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy)
def test_agg_with_fold_matches_python(spark, rows):
    """The composition surface under Hypothesis: fused multi-fold results
    AND native aggregates must match a pure-Python replay on arbitrary
    null placement / group boundaries / empty groups."""
    from pyspark.sql import functions as F

    from polars_numba_spark import agg_with_fold

    df = _spark_df(spark, rows)
    out = agg_with_fold(
        df,
        "g",
        native_aggs={"n": F.count(F.lit(1)), "mx": F.max("v")},
        folds={
            "f1": dict(function=step, initial_accumulator=0.0,
                       return_dtype="double", columns=["v"], order_by="ord"),
            "f2": dict(function=step2, initial_accumulator=1.0,
                       return_dtype="double", columns=["v"], order_by="ord"),
        },
    )
    got = {r["g"]: r for r in out.collect()}
    groups: dict = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    assert got.keys() == groups.keys()
    for g, vs in groups.items():
        non_null = [v for v in vs if v is not None]
        assert got[g]["n"] == len(vs)
        assert got[g]["mx"] == (max(non_null) if non_null else None)
        assert got[g]["f1"] == pytest.approx(py_fold(vs))
        acc = 1.0
        for v in non_null:
            acc = step2(acc, v)
        assert got[g]["f2"] == pytest.approx(acc)


# --- ExactSubstr passage dedup vs a pure-Python model ----------------------

# Small alphabet + short docs force heavy genuine shingle collisions —
# the regime where span merging and removal have their corners (overlapping
# islands, within-doc repeats, fully-covered docs, sub-n docs).
_word = st.sampled_from(["aa", "bb", "cc", "dd"])
_doc = st.lists(_word, min_size=0, max_size=12).map(" ".join)
_corpus = st.lists(_doc, min_size=1, max_size=6)
_N = 3  # shingle width for the property tests


def _py_dup_positions(texts, n=_N):
    """(doc_idx, pos) of every n-gram occurring at >=2 (doc, pos) sites."""
    from collections import Counter

    occ = []
    for d, t in enumerate(texts):
        toks = t.strip().lower().split() if t.strip() else [""]
        for p in range(len(toks) - n + 1):
            occ.append((d, p, " ".join(toks[p : p + n])))
    counts = Counter(sh for _, _, sh in occ)
    return {(d, p) for d, p, sh in occ if counts[sh] >= 2}


def _py_spans(texts, n=_N):
    spans = set()
    dup = _py_dup_positions(texts, n)
    for d in range(len(texts)):
        poss = sorted(p for dd, p in dup if dd == d)
        i = 0
        while i < len(poss):
            j = i
            while j + 1 < len(poss) and poss[j + 1] <= poss[j] + n:
                j += 1
            spans.add((d, poss[i], poss[j] + n))
            i = j + 1
    return spans


def _py_removed(texts, n=_N):
    out = {}
    dup = _py_dup_positions(texts, n)
    for d, t in enumerate(texts):
        toks = t.strip().lower().split() if t.strip() else [""]
        covered = set()
        for dd, p in dup:
            if dd == d:
                covered.update(range(p, p + n))
        kept = [tok for i, tok in enumerate(toks) if i not in covered]
        out[d] = (len(kept), " ".join(kept))
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_corpus)
def test_duplicated_spans_matches_python_model(spark, texts):
    from polars_numba_spark.operators.dedup import duplicated_spans

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicated_spans(df, shingle_n=_N, via="join").collect()
    }
    assert got == _py_spans(texts)


@pytest.mark.soak  # r15 fast-tier trim (VERDICT r14 #2); >10s each
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_corpus)
def test_remove_passages_matches_python_model(spark, texts):
    from polars_numba_spark.operators.dedup import remove_duplicated_passages

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens_kept"], r["clean_text"])
        for r in remove_duplicated_passages(df, shingle_n=_N, via="join").collect()
    }
    assert got == _py_removed(texts)


@pytest.mark.soak  # r15 fast-tier trim (VERDICT r14 #2); >10s each
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_corpus)
def test_tfidf_top_terms_matches_python_model(spark, texts):
    """TF-IDF ranking vs a pure-Python model: same round-9 scores, same
    (score desc, term asc) ordering, same top-k cut."""
    from polars_numba_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["tfidf"])
        for r in tfidf_top_terms(df, "text", "doc_id", top_k=2).collect()
    }

    from collections import Counter

    n_docs = len(texts)
    toks = {
        d: (t.strip().lower().split() if t.strip() else [""])
        for d, t in enumerate(texts)
    }
    tf = {d: Counter(ts) for d, ts in toks.items()}
    dfreq = Counter(term for d in tf for term in tf[d])
    expected = {}
    for d in tf:
        scored = sorted(
            (
                (term, c, round(c * math.log(n_docs / dfreq[term]), 9))
                for term, c in tf[d].items()
            ),
            key=lambda x: (-x[2], x[0]),
        )
        for rank, (term, c, s) in enumerate(scored[:2], start=1):
            expected[(d, rank)] = (term, c, s)
    assert got == expected


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(min_value=0, max_value=30)),
        min_size=0,
        max_size=40,
    )
)
def test_kmv_distinct_matches_python_model(spark, vals):
    """KMV estimate vs a pure-Python model: same md5-60bit hashing, same
    k-smallest truncation, same (k-1)·2⁶⁰/h_k estimator, nulls excluded."""
    import hashlib

    from polars_numba_spark.operators.sketch import kmv_distinct

    from pyspark.sql import functions as F

    df = spark.createDataFrame([(v,) for v in vals], "v long").withColumn(
        "g", F.lit("g")
    )
    K = 8
    hashes = sorted(
        {
            int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
            for v in vals
            if v is not None
        }
    )[:K]
    if not hashes:
        expected = None  # no non-null rows -> empty result
    elif len(hashes) < K:
        expected = float(len(hashes))
    else:
        expected = (K - 1) * float(1 << 60) / hashes[-1]

    rows = kmv_distinct(df, "v", "g", k=K).collect()
    if expected is None:
        assert rows == []
    else:
        assert rows[0]["kmv_estimate"] == expected


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=_corpus)
def test_containment_join_matches_python_model(spark, texts):
    """Prefix-filtered containment vs brute-force python sets: identical
    directional pair sets at threshold 0.9 (completeness AND precision),
    on collision-heavy small-alphabet corpora."""
    from polars_numba_spark.operators.dedup import containment_join

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    sets = {
        d: set(t.strip().lower().split() if t.strip() else [""])
        for d, t in enumerate(texts)
    }
    expected = {
        (a, b)
        for a in sets
        for b in sets
        if a != b and sets[a] and len(sets[a] & sets[b]) / len(sets[a]) >= 0.9
    }
    got = {
        (r["a_id"], r["b_id"])
        for r in containment_join(df, threshold=0.9).collect()
    }
    assert got == expected


# --- containment threshold edge sweep (r5 verdict #8) ----------------------
#
# The prefix length in containment_join is derived from ceil(n·t) with an
# epsilon guard (operators/dedup.py): n·t in binary floating point can land
# an ulp ABOVE the exact product (t=0.9, n=10 → 9.000000000000002 → ceil 10),
# silently shrinking the prefix below completeness. This sweep drives random
# corpora × thresholds across [0.5, 0.95] — including sizes that make n·t
# integral, the exact hazard — against a pure-Python brute-force model.

_vocab = [f"w{i}" for i in range(8)]

corpus_strategy = st.lists(
    st.lists(st.sampled_from(_vocab), min_size=1, max_size=12),
    min_size=2,
    max_size=6,
)


_thresholds = st.sampled_from([0.5, 0.6, 0.7, 0.75, 0.8, 0.9, 0.95])


def _check_containment_complete_and_precise(spark, corpus, threshold):
    from polars_numba_spark.operators.dedup import containment_join

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(corpus)],
        "doc_id long, text string",
    )
    got = {
        (r["a_id"], r["b_id"])
        for r in containment_join(df, threshold=threshold).collect()
    }
    sets = {i: set(toks) for i, toks in enumerate(corpus)}
    brute = {
        (a, b)
        for a in sets
        for b in sets
        if a != b and len(sets[a] & sets[b]) / len(sets[a]) >= threshold
    }
    assert got == brute


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus=corpus_strategy, threshold=_thresholds)
@pytest.mark.soak  # r15 fast-tier trim (VERDICT r14 #2); >10s each
def test_containment_join_complete_and_precise(spark, corpus, threshold):
    _check_containment_complete_and_precise(spark, corpus, threshold)


@settings(max_examples=3, deadline=None, suppress_health_check=list(HealthCheck))
@given(corpus=corpus_strategy, threshold=_thresholds)
def test_containment_join_complete_and_precise_fast(spark, corpus, threshold):
    """Default-tier twin of the soak sweep: same corpora and thresholds,
    fewer examples."""
    _check_containment_complete_and_precise(spark, corpus, threshold)


@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 400)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=8, deadline=None)
def test_pack_sequences_matches_python_model(spark, rows):
    """Property: concat-then-chunk packing over random (id, size) corpora
    equals the pure-Python replay of the same md5 shard/order hashes and
    integer cumsum — including sizes larger than the capacity."""
    import hashlib as _h

    from polars_numba_spark.operators.packing import pack_sequences

    cap = 100
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = {
        r["doc_id"]: (r["shard"], r["seq_index"], r["offset_in_seq"])
        for r in pack_sequences(df, "doc_id", "n", cap, n_shards=3).collect()
    }

    def h(rid, m):
        return int(_h.md5(str(rid).encode()).hexdigest()[:15], 16) % m

    shards = {}
    for rid, size in rows:
        shards.setdefault(h(rid, 3), []).append((h(rid, 2**31), rid, size))
    want = {}
    for shard, lst in shards.items():
        lst.sort()
        cum = 0
        for _, rid, size in lst:
            want[rid] = (shard, cum // cap, cum % cap)
            cum += size
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(0, 100_000),
            st.integers(1, 1000),
            st.sampled_from(["a", "b"]),
        ),
        min_size=1,
        max_size=50,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 6),
)
@settings(max_examples=8, deadline=None)
def test_weighted_sample_k_matches_python_model(spark, rows, k):
    """Property: the ES weighted sample over random (id, weight, group)
    corpora equals a pure-Python replay of the md5 uniform, ln(u)/w key,
    9-decimal round and (key DESC, id ASC) tie-break."""
    import hashlib as _h

    from polars_numba_spark.operators.sampling import weighted_sample_k

    df = spark.createDataFrame(rows, "id long, w long, g string")
    got = {
        r["id"]
        for r in weighted_sample_k(df, "id", "w", k=k, group_col="g", salt="hp")
        .select("id")
        .collect()
    }
    per_group: dict = {}
    for rid, w, g in rows:
        h = int(_h.md5(f"hp:{rid}".encode()).hexdigest()[:15], 16)
        u = (h + 1) / float(1 << 60)
        per_group.setdefault(g, []).append((round(math.log(u) / float(w), 9), rid))
    want = set()
    for lst in per_group.values():
        lst.sort(key=lambda t: (-t[0], t[1]))
        want.update(rid for _, rid in lst[:k])
    assert got == want


@given(
    st.lists(
        st.floats(-1e6, 1e6, allow_nan=False).map(lambda x: round(x, 3)),
        min_size=3,
        max_size=60,
    )
)
@settings(max_examples=8, deadline=None)
def test_robust_outliers_matches_python_model(spark, vals):
    """Property: median/MAD flags over random value lists equal a pure-
    Python replay of the same linear-interpolated percentile and
    threshold arithmetic."""
    from polars_numba_spark.operators.profile import robust_outliers

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, x double")
    got = {
        r["id"]: r["is_outlier"]
        for r in robust_outliers(df, "x", n_mads=3.0).collect()
    }

    def q50(xs):
        s = sorted(xs)
        n = len(s)
        mid = (n - 1) / 2
        lo, hi = int(mid), int(mid + 0.5)
        return s[lo] if lo == hi else (s[lo] + s[hi]) / 2.0

    med = q50(vals)
    mad = q50([abs(v - med) for v in vals])
    thresh = 3.0 * 1.4826
    want = {i: abs(v - med) > thresh * mad for i, v in rows}
    assert got == want


# --- bloom runtime filter: membership properties ----------------------------

_bloom_keys = st.lists(
    st.integers(min_value=-(10**12), max_value=10**12), min_size=1, max_size=60
)


@pytest.mark.soak  # r15 fast-tier trim (VERDICT r14 #2); >10s each
@given(keys=_bloom_keys, probes=_bloom_keys)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_bloom_never_false_negative_and_words_fit(spark, keys, probes):
    """For ANY build set and ANY probe set: every true member passes the
    bloom (the defining guarantee — a false negative silently drops real
    join matches), and every bitmap word stays inside its 32-bit packing
    (a sign-overflow would diverge from the SQL oracle's bit arithmetic)."""
    from polars_numba_spark.operators.sketch import bloom_build, bloom_probe

    build = spark.createDataFrame([(k,) for k in keys], "k long")
    bloom = bloom_build(build, "k", bits_per_key=8, n_hashes=4)
    row = bloom.collect()[0]
    assert all(0 <= w < (1 << 32) for w in row["words"])
    assert len(row["words"]) * 32 == row["m_bits"]

    probe = spark.createDataFrame(
        [(p,) for p in set(keys) | set(probes)], "k long"
    )
    out = {r["k"]: r["passes_bloom"] for r in bloom_probe(probe, "k", bloom).collect()}
    misses = [k for k in set(keys) if not out[k]]
    assert misses == [], f"false negatives: {misses}"


@given(
    st.lists(
        st.integers(min_value=-1000, max_value=1000),
        min_size=1,
        max_size=60,
    )
)
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.soak  # r15 fast-tier trim (VERDICT r14 #2); >10s each
def test_global_ranks_is_permutation_and_order_correct(spark, vals):
    """global_ranks must assign exactly the ranks 1..n (a permutation —
    offsets can neither skip nor repeat across range-partition
    boundaries), and sorting by rank must sort by the order columns —
    including duplicate values straddling partition boundaries."""
    from polars_numba_spark.operators.profile import global_ranks

    rows = [(v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "v long, uid long")
    got = global_ranks(df, ["v", "uid"], rank_col="r", n_partitions=4).collect()
    n = len(vals)
    assert sorted(r["r"] for r in got) == list(range(1, n + 1))
    by_rank = sorted(got, key=lambda r: r["r"])
    assert [(r["v"], r["uid"]) for r in by_rank] == sorted(
        (r["v"], r["uid"]) for r in got
    )


@given(
    st.lists(
        st.integers(min_value=0, max_value=30),
        min_size=1,
        max_size=80,
    )
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.soak  # r15 fast-tier trim (VERDICT r14 #2); >10s each
def test_cms_never_undercounts_and_bounds_overestimate(spark, keys):
    """The count-min estimate must satisfy exact <= cms <= exact + (the
    mass that can smear into a bucket) for EVERY key — the one-sided
    error contract is the sketch's defining property. Checked against a
    deliberately tiny width so collisions actually occur."""
    from collections import Counter

    from polars_numba_spark.operators.sketch import cms_build, cms_probe

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    width, depth = 8, 3
    sketch = cms_build(df, "k", depth=depth, width=width)
    probes = spark.createDataFrame(
        [(k,) for k in sorted(set(keys))], "k long"
    )
    got = {
        r["k"]: r["cms_n"]
        for r in cms_probe(sketch, probes, "k", depth=depth, width=width).collect()
    }
    exact = Counter(keys)
    total = len(keys)
    for k, true_n in exact.items():
        assert got[k] >= true_n, (k, got[k], true_n)
        assert got[k] <= total, (k, got[k], total)


@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=30),
        min_size=1,
        max_size=12,
    )
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@pytest.mark.soak  # r15 fast-tier trim (VERDICT r14 #2); >10s each
def test_phrase_search_matches_python_model(spark, texts):
    """phrase_search occurrence counts must equal a naive Python sliding
    window over the same tokenization — including repeated-token phrases
    and overlapping occurrences ('a a a' contains 'a a' twice)."""
    from polars_numba_spark.operators.text import phrase_search

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    phrases = [("p1", "a b"), ("p2", "a a"), ("p3", "b a b")]
    got = {
        (r["phrase_id"], r["doc_id"]): r["n_occ"]
        for r in phrase_search(df, phrases, "text", "doc_id", k=100).collect()
    }
    import re

    want = {}
    for i, t in enumerate(texts):
        # mirror F.split(trim(lower), \s+) including the empty-string token
        toks = re.split(r"\s+", t.strip().lower()) if t.strip() else [""]
        for pid, ptext in phrases:
            p = ptext.split()
            c = sum(
                1
                for s in range(len(toks) - len(p) + 1)
                if toks[s : s + len(p)] == p
            )
            if c:
                want[(pid, i)] = c
    assert got == want


def test_hits_partition_invariant(spark):
    """hits: the decimal-accumulation recipe must make scores identical
    under any physical partitioning of the edge list (the determinism
    claim the oracle portability rests on)."""
    from polars_numba_spark.operators.graphrank import hits

    rows = [(i % 7, (i * 3) % 11 + 100) for i in range(200)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    outs = []
    for parts in (1, 7, 32):
        hubs, auths = hits(edges.repartition(parts), iterations=2)
        outs.append(
            (
                sorted(map(tuple, hubs.collect())),
                sorted(map(tuple, auths.collect())),
            )
        )
    assert outs[0] == outs[1] == outs[2]


def test_wasserstein_partition_invariant_and_zero_on_self(spark):
    """wasserstein_drift: partition-invariant (decimal segment sums), and
    a group distributed identically to the corpus has W1 == 0."""
    from polars_numba_spark.operators.profile import wasserstein_drift

    rows = [(g, v) for g in ("a", "b") for v in range(50)]
    df = spark.createDataFrame(rows, "g string, x long")
    outs = [
        sorted(map(tuple, wasserstein_drift(df.repartition(p), "x", "g").collect()))
        for p in (1, 32)
    ]
    assert outs[0] == outs[1]
    # both groups are uniform over the same values -> identical to corpus
    assert all(w1 == 0.0 for (_, _, w1) in outs[0])


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=corpus_strategy,
    threshold=st.sampled_from([0.5, 0.7, 0.9]),
)
@pytest.mark.soak  # r15 fast-tier trim (VERDICT r14 #2); >10s each
def test_containment_keeplist_precision_and_refinement(spark, corpus, threshold):
    """Property (r13, the keep-list contract on random corpora): every
    document the keep-list DROPS must be connected to its component
    representative through a chain of genuine >=threshold containment
    edges (exact precision — verified against the brute-force pair
    graph's components), components REFINE the brute-force components
    (never merge across them), and the verdict covers every doc exactly
    once with keep <=> id == component."""
    from polars_numba_spark.operators.dedup import containment_keep_list

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(corpus)],
        "doc_id long, text string",
    )
    rows = {
        r["id"]: (r["component"], r["keep"])
        for r in containment_keep_list(df, threshold=threshold).collect()
    }
    assert len(rows) == len(corpus)
    # brute-force undirected containment graph -> components by min label
    sets = {i: set(toks) for i, toks in enumerate(corpus)}
    adj = {i: set() for i in sets}
    for a in sets:
        for b in sets:
            if a != b and len(sets[a] & sets[b]) / len(sets[a]) >= threshold:
                adj[a].add(b)
                adj[b].add(a)
    brute_comp = {}
    for start in sorted(sets):
        if start in brute_comp:
            continue
        stack, seen = [start], {start}
        while stack:
            cur = stack.pop()
            for nxt in adj[cur]:
                if nxt not in seen:
                    seen.add(nxt)
                    stack.append(nxt)
        for i in seen:
            brute_comp[i] = min(seen)
    for i, (comp, keep) in rows.items():
        assert keep == (i == comp)
        # refinement: the keep-list may split brute components, never
        # merge across them — and every drop stays inside its brute
        # component (the chain-of-verified-edges guarantee)
        assert brute_comp[i] == brute_comp[comp], (i, comp)
