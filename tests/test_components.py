"""Connected-components / keep-list tests (the cluster step of dedup)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_numba_spark.operators.dedup import (
    connected_components,
    dedup_keep_list,
    minhash_dedup_pairs,
)


def test_components_basic_graph(spark):
    # components: {1,2,3,4} (chain), {10,11}, {20 isolated via self-ref edge}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "a_id long, b_id long"
    )
    comps = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


@pytest.mark.soak  # r15 fast-tier trim (VERDICT r14 #2); >10s each
def test_components_long_chain_converges(spark):
    n = 30
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "a_id long, b_id long"
    )
    comps = connected_components(edges, max_iterations=40).collect()
    assert all(r["component"] == 0 for r in comps)
    assert len(comps) == n + 1


def test_keep_list_on_real_near_dups(spark):
    from polars_numba_spark.sources import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").where(
        F.col("doc_id") < 40
    )
    clone = docs.where(F.col("doc_id") < 3).withColumn(
        "doc_id", F.col("doc_id") + 50000
    )
    with_dups = docs.union(clone)
    pairs = minhash_dedup_pairs(with_dups, threshold=0.95)
    verdict = dedup_keep_list(with_dups, pairs)
    rows = {r["id"]: (r["keep"], r["component"]) for r in verdict.collect()}
    assert len(rows) == 43
    # every injected clone is dropped, its original kept
    for orig in [0, 1, 2]:
        clone_id = orig + 50000
        if clone_id in rows:  # clone present
            keep_clone, comp_clone = rows[clone_id]
            keep_orig, comp_orig = rows[orig]
            assert comp_clone == comp_orig
            assert keep_orig and not keep_clone
    # unpaired docs all keep themselves
    assert all(k for i, (k, c) in rows.items() if c == i)


def test_components_convergence_runs_no_count_job(spark, monkeypatch):
    """The changed-label count comes back from each round's checkpoint job
    (an observation), not from a second DataFrame.count job per round."""
    def no_count(self):
        raise AssertionError("connected_components called DataFrame.count")

    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a_id long, b_id long")
    # the session's concrete DataFrame class (pyspark.sql.DataFrame is the
    # abstract base it overrides count on)
    monkeypatch.setattr(type(edges), "count", no_count)
    comps = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comps == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_components_empty_edges_return_empty(spark):
    """No edges → no labels; the observed changed count is NULL on an empty
    round and must read as converged, not raise."""
    edges = spark.createDataFrame([], "a_id long, b_id long")
    out = connected_components(edges)
    assert out.columns == ["id", "component"]
    assert out.collect() == []


def test_components_raises_on_iteration_cap(spark):
    """Hitting the cap raises, and leaves no blocks behind: the pinned edge
    set and the last label round are released before the error escapes."""
    from polars_numba_spark.plans.checkpoint import (
        _persistent_ids,
        release_session_checkpoints,
    )

    release_session_checkpoints(spark)
    before = _persistent_ids(spark)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "a_id long, b_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=3)
    assert _persistent_ids(spark) - before == set()


def test_star_keeplist_components_equal_clique_components(spark):
    """emit='keeplist' without verification must cluster IDENTICALLY to
    connected components over the unverified candidate pair graph — a star
    spans exactly the members its within-bucket clique spans."""
    from polars_numba_spark.operators.dedup import (
        minhash_dedup_keep_list,
        minhash_lsh_candidates,
    )
    from polars_numba_spark.sources import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    star = minhash_dedup_keep_list(docs, num_hashes=16, bands=4, portable=True)
    cands = minhash_lsh_candidates(docs, "text", "doc_id", 16, 4, portable=True)
    clique = dedup_keep_list(docs, cands)
    mismatches = (
        star.alias("s")
        .join(clique.alias("c"), "id")
        .where(
            (F.col("s.component") != F.col("c.component"))
            | (F.col("s.keep") != F.col("c.keep"))
        )
        .count()
    )
    assert mismatches == 0
    assert star.count() == docs.count()


def test_verified_star_keeplist_refines_pair_clusters(spark):
    """With verify_threshold, star keep-lists are a REFINEMENT of verified
    pair-graph clusters: every doc dropped by the star path is also dropped
    by (or co-clustered with) the pair path, never the reverse guarantee."""
    from polars_numba_spark.operators.dedup import minhash_dedup_keep_list
    from polars_numba_spark.sources import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").where(
        F.col("doc_id") < 60
    )
    clone = docs.where(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 70000
    )
    with_dups = docs.union(clone)
    star = minhash_dedup_keep_list(
        with_dups, num_hashes=32, bands=8, portable=True, verify_threshold=0.95
    )
    pairs = minhash_dedup_pairs(
        with_dups, num_hashes=32, bands=8, threshold=0.95, portable=True
    )
    pair_verdict = dedup_keep_list(with_dups, pairs)
    rows_star = {r["id"]: r for r in star.collect()}
    rows_pair = {r["id"]: r for r in pair_verdict.collect()}
    # identical injected clones are exact dups (jaccard 1.0): both paths
    # must drop each clone in favour of its original
    for orig in range(5):
        assert rows_star[orig]["keep"] and not rows_star[orig + 70000]["keep"]
        assert rows_star[orig + 70000]["component"] == orig
    # refinement: every star-dropped doc is also pair-dropped
    for i, r in rows_star.items():
        if not r["keep"]:
            assert not rows_pair[i]["keep"]


def test_simhash_keeplist_star_edges_are_hamming_verified(spark):
    """Every doc the simhash keep-list drops must genuinely be within
    max_hamming of its component representative chain — spot-check that
    exact clones collapse and the verdict covers every input doc."""
    from polars_numba_spark.operators.dedup import simhash_dedup_keep_list
    from polars_numba_spark.sources import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").where(
        F.col("doc_id") < 50
    )
    clone = docs.where(F.col("doc_id") < 4).withColumn(
        "doc_id", F.col("doc_id") + 90000
    )
    with_dups = docs.union(clone)
    verdict = simhash_dedup_keep_list(with_dups, bits=32, max_hamming=3)
    rows = {r["id"]: r for r in verdict.collect()}
    assert len(rows) == with_dups.count()
    for orig in range(4):
        assert rows[orig]["keep"] and not rows[orig + 90000]["keep"]
        assert rows[orig + 90000]["component"] == orig


def test_emit_dispatch_and_rejects_unknown(spark):
    import pytest

    from polars_numba_spark.operators.dedup import simhash_dedup_pairs
    from polars_numba_spark.sources import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").limit(20)
    from polars_numba_spark.operators.dedup import containment_join

    kl = minhash_dedup_pairs(docs, emit="keeplist")
    assert set(kl.columns) == {"id", "component", "keep"}
    ckl = containment_join(docs, emit="keeplist")
    assert set(ckl.columns) == {"id", "component", "keep"}
    with pytest.raises(ValueError, match="emit"):
        minhash_dedup_pairs(docs, emit="edges")
    with pytest.raises(ValueError, match="emit"):
        simhash_dedup_pairs(docs, emit="edges")
    with pytest.raises(ValueError, match="emit"):
        containment_join(docs, emit="edges")


def test_simhash_keeplist_empty_docs_kept(spark):
    """Tokenless documents (NULL or whitespace-only text) must each stay a
    singleton keep — their all-zero signature is an encoding artifact, not
    a content match, so they are excluded from the block table rather than
    co-bucketed and Hamming-merged at distance 0 (ADVICE r7)."""
    from polars_numba_spark.operators.dedup import simhash_dedup_keep_list

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, ""),
            (4, "   "),
            (5, None),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["id"]: r
        for r in simhash_dedup_keep_list(docs, bits=16, max_hamming=2).collect()
    }
    assert len(rows) == 5
    # the two real duplicates collapse
    assert rows[1]["keep"] and not rows[2]["keep"]
    assert rows[2]["component"] == 1
    # every tokenless doc is its own kept singleton
    for empty_id in (3, 4, 5):
        assert rows[empty_id]["keep"]
        assert rows[empty_id]["component"] == empty_id


def test_bfs_hops_frontier_semantics(spark):
    """bfs_hops: seeds at 0, min-hop distance, unreachable nodes absent,
    max_hops bound respected (a chain longer than the bound is cut)."""
    from pyspark.sql import functions as F

    from polars_numba_spark.operators.graphrank import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (2, 1)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    out = {r["id"]: r["hops"] for r in bfs_hops(edges, seeds, max_hops=3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 is 4 hops out; 10/11 unreachable


def test_containment_keeplist_collapses_clusters_and_refines(spark):
    """containment_keep_list (VERDICT r12 #2): exact clones AND a short doc
    pasted inside a long one collapse into one component (8-shingle sets —
    unigram containment saturates on shared vocabulary, the r2 lesson);
    the verdict is a refinement of the complete pair graph (every drop is also justified by
    containment_join); one verdict row per input doc."""
    from polars_numba_spark.operators.dedup import (
        containment_join,
        containment_keep_list,
    )
    from polars_numba_spark.sources import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").where(
        F.col("doc_id") < 50
    )
    # exact clones (containment 1.0 both ways) + a subset doc: the first
    # 60% of doc 2's tokens is >=0.9-contained in doc 2 on unigram sets
    clones = docs.where(F.col("doc_id") < 3).withColumn(
        "doc_id", F.col("doc_id") + 80000
    )
    subset = docs.where(F.col("doc_id") == 2).select(
        (F.col("doc_id") + 90000).alias("doc_id"),
        F.array_join(
            F.slice(
                F.split(F.trim(F.lower("text")), r"\s+"),
                1,
                200,
            ),
            " ",
        ).alias("text"),
        *[
            F.col(c)
            for c in docs.columns
            if c not in ("doc_id", "text")
        ],
    )
    with_dups = docs.unionByName(clones).unionByName(subset)
    verdict = containment_keep_list(with_dups, threshold=0.9, shingle_n=8)
    rows = {r["id"]: r for r in verdict.collect()}
    assert len(rows) == with_dups.count()
    for orig in range(3):
        assert rows[orig]["keep"] and not rows[orig + 80000]["keep"]
        assert rows[orig + 80000]["component"] == orig
    # the subset doc: unigram containment of a 200-token prefix slice in
    # its source doc is 1.0 -> must be dropped in favour of doc 2's cluster
    assert not rows[90002]["keep"]
    assert rows[90002]["component"] == 2
    # refinement: every drop must be justified by the COMPLETE pair graph —
    # build undirected components over containment_join pairs and check
    # each dropped doc shares a complete-graph component with its rep
    pairs = containment_join(with_dups, threshold=0.9, shingle_n=8).select(
        "a_id", "b_id"
    )
    comp = {
        r["id"]: r["component"]
        for r in dedup_keep_list(with_dups, pairs).collect()
    }
    for i, r in rows.items():
        if not r["keep"]:
            assert comp[i] == comp[r["component"]], (i, r)


def test_containment_keeplist_tokenless_docs_kept(spark):
    """NULL / whitespace-only docs have no postings, hence no edges: each
    must survive as its own singleton keep=True component."""
    from polars_numba_spark.operators.dedup import containment_keep_list

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, None),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in containment_keep_list(df, 0.9).collect()}
    assert len(rows) == 4
    assert rows[1]["keep"] and not rows[2]["keep"]
    assert rows[2]["component"] == 1
    assert rows[3]["keep"] and rows[3]["component"] == 3
    assert rows[4]["keep"] and rows[4]["component"] == 4
