"""Physical-plan audits: scale posture pinned by tests.

At 100 TB a query that returns correct rows but reads all columns, misses a
filter pushdown, or sort-merge-joins a tiny dimension is broken. These tests
assert the plan *shape* of the catalog's headline queries.
"""

from __future__ import annotations

import pytest

from polars_numba_spark import plans
from polars_numba_spark.queries import catalog

SF = "/root/testdata/sf0.001"


def q(spark, name):
    return catalog.spark_queries()[name](spark, SF)


def test_q6_filters_reach_the_scan(spark):
    df = q(spark, "q6_revenue_forecast")
    pushed = " ".join(plans.pushed_filters(df))
    assert "l_shipdate" in pushed
    assert "l_discount" in pushed
    assert "l_quantity" in pushed


def test_q6_column_pruning(spark):
    df = q(spark, "q6_revenue_forecast")
    schemas = plans.read_schemas(df)
    assert len(schemas) == 1
    # only the 4 referenced columns are read, not all 11
    assert sorted(
        c.split(":")[0]
        for c in schemas[0].strip("struct<>").split(",")
    ) == ["l_discount", "l_extendedprice", "l_quantity", "l_shipdate"]


def test_q3_broadcasts_dimensions(spark):
    assert plans.has_broadcast_join(q(spark, "q3_shipping_priority"))


def test_q5_broadcasts_dimensions(spark):
    assert plans.has_broadcast_join(q(spark, "q5_local_supplier_volume"))


def test_q1_partial_aggregation(spark):
    """Map-side combine: the groupBy must plan partial+final aggregates."""
    assert plans.has_partial_aggregation(q(spark, "q1_pricing_summary"))


def test_q1_single_shuffle(spark):
    assert plans.count_exchanges(q(spark, "q1_pricing_summary")) <= 1


def test_asof_join_single_shuffle(spark):
    """The as-of join must be ONE hash exchange (union+window), not a range
    join explosion or nested loop."""
    df = q(spark, "asof_last_signup_before_purchase")
    text = plans.explain_string(df)
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text
    assert plans.count_exchanges(df) <= 2  # one for the window, AQE may add one


def test_grouped_fold_is_single_exchange(spark):
    """The grouped kernel fold shuffles once on the group keys."""
    df = q(spark, "kernel_fold_event_cents")
    assert plans.count_exchanges(df) <= 1


def test_scan_queries_have_codegen(spark):
    """Declarative queries keep nonzero WholeStageCodegen coverage.

    AQE hides codegen in unexecuted adaptive plans, so inspect with AQE off —
    codegen eligibility is a static plan property."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in ["q1_pricing_summary", "running_max_order_price", "doc_token_stats"]:
            assert plans.wholestage_codegen_spans(q(spark, name)) >= 1, name
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_dedup_minhash_no_cartesian(spark):
    """LSH candidate generation must join on band buckets, never cross-join."""
    df = q(spark, "dedup_minhash_pairs")
    text = plans.explain_string(df)
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text


def test_fuzzy_pairs_blocking_is_hash_join(spark):
    """The complete ED<=2 blocking must plan equi-joins on the blocking keys
    — a nested-loop (the plan a bare levenshtein<=2 theta-join would get)
    means the blocking keys fell out of the join condition."""
    df = q(spark, "customer_name_fuzzy_pairs")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_bucketed_near_dup_operator_is_hash_join(spark):
    """The scalable near-dup operator joins on the exploded (table, bucket)
    key — never a nested loop over pairs."""
    from polars_numba_spark.operators import similarity as S
    from polars_numba_spark.sources import load_table

    e = load_table(spark, "embeddings", SF)
    df = S.embedding_near_dup_pairs(e, threshold=0.4, n_planes=3, n_tables=4)
    s = plans.explain_string(df)
    assert "BroadcastNestedLoopJoin" not in s
    assert "CartesianProduct" not in s


def test_partitioned_pruning_query_prunes(spark):
    """The formats_partitioned_pruning read-back must carry the partition
    filter as PartitionFilters (directories skipped), not a data filter."""
    df = q(spark, "formats_partitioned_pruning")
    s = plans.explain_string(df)
    assert "PartitionFilters: [isnotnull(o_orderstatus" in s


def test_timestamp_pushdown_survives_ntz_normalization(spark):
    """The NTZ→LTZ cast `load_table` injects (round-4 timestamp fix) must
    NOT block predicate pushdown: Catalyst unwraps the cast in the
    comparison (UnwrapCastInBinaryComparison) so date filters still reach
    the parquet scan as PushedFilters, and pruning still reads only the
    referenced columns."""
    from pyspark.sql import functions as F

    from polars_numba_spark.sources.tables import load_table

    l = load_table(spark, "lineitem", SF)
    df = l.where(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    ).select("l_quantity")
    pushed = " ".join(plans.pushed_filters(df))
    assert "l_shipdate" in pushed, pushed
    schemas = plans.read_schemas(df)
    assert sorted(
        c.split(":")[0] for c in schemas[0].strip("struct<>").split(",")
    ) == ["l_quantity", "l_shipdate"]


def test_pii_scrub_is_pure_scan(spark):
    """Redaction + counting is per-row regex work: NO exchange at all."""
    df = q(spark, "doc_pii_scrub")
    assert plans.count_exchanges(df) == 0


def test_weighted_mix_filters_scan_side(spark):
    """The mixing decision is a scan-side hash threshold — the only
    exchange is the final per-source report aggregate."""
    df = q(spark, "doc_weighted_mix")
    assert plans.count_exchanges(df) <= 1


def test_unigram_logprob_broadcasts_vocabulary(spark):
    """The vocabulary (small by construction) must join back broadcast,
    never sort-merge: corpus rows may be billions, vocab is not."""
    df = q(spark, "doc_unigram_logprob")
    assert plans.has_broadcast_join(df)


def test_q2_broadcasts_dimension_stack(spark):
    """Q2's supplier→nation→region dimension stack must reach partsupp as
    one broadcast, and the part filter side is broadcast too."""
    assert plans.has_broadcast_join(q(spark, "q2_min_cost_supplier"))


def test_q16_exclusion_is_broadcast_anti_join(spark):
    """The NOT-IN supplier exclusion must plan as a broadcast anti join."""
    s = plans.explain_string(q(spark, "q16_part_supplier_counts"))
    assert "BroadcastHashJoin" in s and "LeftAnti" in s


def test_q20_lineitem_filter_reaches_scan(spark):
    """Q20's shipdate year filter must be pushed to the lineitem scan —
    at 100 TB the lineitem aggregate is the dominant cost and must never
    read the unfiltered table."""
    df = q(spark, "q20_promotion_suppliers")
    pushed = " ".join(plans.pushed_filters(df))
    assert "l_shipdate" in pushed
    assert plans.has_broadcast_join(df)


def test_jaccard_differential_is_banded_not_all_pairs(spark):
    """Round-5 rewrite of the exact-Jaccard differential: candidates must
    come from the banded (band_idx, band_hash, source) equi-join — a join
    whose only equi-key is the bare source blocking column is the O(n²)
    hot-block shape this replaced, and a nested loop is worse."""
    df = q(spark, "dedup_jaccard_pairs")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    # the band hash participates in a join key somewhere in the plan
    assert "band_hash" in s


def test_semantic_dedup_pairwise_is_cluster_equi_join(spark):
    """SemDeDup's pair stage must equi-join on the cluster label (the whole
    point of clustering is bounding the quadratic) — a nested loop over all
    vector pairs means the label fell out of the join condition. The only
    nested-loop joins allowed are the k-means broadcast crosses against the
    k-row centroid table (every vector scores every centroid BY DESIGN —
    broadcast, k rows)."""
    df = q(spark, "semantic_dedup_pairs")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    # the vector-pair join keys on the cluster label; cosine + id< are the
    # residual condition
    assert "Left keys [1]: [assigned" in s
    # any nested-loop in the plan is a broadcast cross (centroid scoring),
    # never a shuffled/unbroadcast pair loop
    assert "BroadcastNestedLoopJoin Cross BuildRight" in s or \
        "BroadcastNestedLoopJoin" not in s


def test_tfidf_corpus_size_is_broadcast(spark):
    """The corpus-size 1-row aggregate joins in via broadcast — never a
    shuffled join against a single row, and never a global window."""
    df = q(spark, "doc_tfidf_top_terms")
    assert plans.has_broadcast_join(df)
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s


def test_remove_passages_no_cartesian(spark):
    """Passage removal is anti-join + aggregate — position expansion must
    stay an explode, never a joined range blow-up."""
    df = q(spark, "doc_remove_passages")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_containment_join_is_prefix_equi_join(spark):
    """The complete containment search must candidate-generate through the
    prefix-token equi-join — a nested loop or cartesian means the prefix
    tokens fell out of the join condition."""
    df = q(spark, "dedup_containment_complete")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_containment_keeplist_is_star_not_all_pairs(spark):
    """dedup_containment_keeplist (VERDICT r12 #2): star emission must keep
    every stage an equi-join/aggregate — no cartesian, no nested loop — and
    the plan must carry the group-min aggregate (HashAggregate on the token
    key), the pair-free signature that replaces the candidate self-join."""
    df = q(spark, "dedup_containment_keeplist")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_pq_encode_broadcasts_codebooks(spark):
    """embedding_pq_encode: the m*k codebook table must BROADCAST onto the
    subvector stream (the whole point of PQ search shape at 100 TB — no
    shuffle of raw vectors beyond the subspace explode), and nothing may
    degenerate to a cartesian/nested-loop. (r15: a MapInArrow assign twin
    was measured and rejected as the default — see vector._pq_assign —
    so the broadcast-join pin stands on the default path.)"""
    df = q(spark, "embedding_pq_encode")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "BroadcastHashJoin" in s


def test_item_recs_broadcast_norms_no_cartesian(spark):
    """item_cooccurrence_recs: the pair stage must equi-join on user_id
    (never doc×doc), and the item-norm directory joins must broadcast."""
    df = q(spark, "item_cooccurrence_recs")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastHashJoin" in s


def test_attribution_touch_join_is_user_keyed(spark):
    """purchase_attribution_items: the 3-day touch-window join must hash
    on user_id with the range predicate as a post-filter — a nested-loop
    over purchases×touches means the equi-key fell out."""
    df = q(spark, "purchase_attribution_items")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_bfs_face_no_cartesian(spark):
    """customer_match_bfs_hops: every frontier round is an equi-join on
    node id plus an anti-join on the visited set."""
    df = q(spark, "customer_match_bfs_hops")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s


def test_containment_verify_width_adapts_to_candidate_mass(spark, monkeypatch):
    """VERDICT r8 #4: the verify repartition width must scale with the
    SAMPLED verify-array mass (candidate fan-out x mean set size), not
    sit at a fixed core count — at 30x the fixed width grew per-task
    ArrayUnion sorter allocations to 4 GiB. With the per-task document
    target shrunk, even the sf0.001 corpus must demand a width above
    defaultParallelism, and exactly that width must appear in the verify
    Exchange."""
    import re

    from polars_numba_spark.operators import dedup
    from polars_numba_spark.sources import load_table

    monkeypatch.setattr(dedup, "_VERIFY_DOCS_PER_TASK", 1)
    docs = load_table(spark, "documents", SF).limit(80)
    out = dedup.containment_join(docs, threshold=0.8)
    s = plans.explain_string(out)
    par = spark.sparkContext.defaultParallelism
    widths = [
        int(m.group(1))
        for m in re.finditer(r"hashpartitioning\(a_id[^)]*b_id[^)]*?, (\d+)\)", s)
    ]
    assert widths, s
    assert max(widths) > par, (widths, par)
    # and the default target leaves the small corpus at the core-count
    # floor — adaptivity must not inflate tiny verifies
    monkeypatch.setattr(dedup, "_VERIFY_DOCS_PER_TASK", 1500)
    s2 = plans.explain_string(dedup.containment_join(docs, threshold=0.8))
    widths2 = [
        int(m.group(1))
        for m in re.finditer(r"hashpartitioning\(a_id[^)]*b_id[^)]*?, (\d+)\)", s2)
    ]
    assert widths2 and max(widths2) == par, (widths2, par)


def test_containment_candidate_stage_width_adapts_too(spark, monkeypatch):
    """Round-12 100x finding: the candidate join (index repartition by
    tok) and the candidate distinct were pinned at defaultParallelism
    while the stages around them widened — at 500k docs the 32-way
    join+partial-distinct spilled ~67 GB behind three hot-token
    stragglers. Both stages must now carry the SAME adaptive width, and
    the distinct must reuse the explicit pair-keyed exchange (exactly one
    a_id,b_id hashpartitioning at the widened width, never a second
    shuffle.partitions-sized one)."""
    import re

    from polars_numba_spark.operators import dedup
    from polars_numba_spark.sources import load_table

    monkeypatch.setattr(dedup, "_VERIFY_DOCS_PER_TASK", 1)
    docs = load_table(spark, "documents", SF).limit(80)
    s = plans.explain_string(dedup.containment_join(docs, threshold=0.8))
    par = spark.sparkContext.defaultParallelism
    tok_widths = [
        int(m.group(1))
        for m in re.finditer(r"hashpartitioning\(tok[^)]*?, (\d+)\)", s)
    ]
    assert tok_widths and max(tok_widths) > par, (tok_widths, par)
    pair_parts = re.findall(r"hashpartitioning\(a_id[^)]*b_id[^)]*?, (\d+)\)", s)
    assert pair_parts and all(int(w) > par for w in pair_parts), pair_parts
    # the shuffle.partitions default must not appear as a pair exchange
    shuffle_default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert str(shuffle_default) not in pair_parts, pair_parts


def test_kmv_shuffle_sits_above_bounded_partial(spark):
    """distinct_users_kmv's one exchange must sit ABOVE the mapInArrow
    partial (the shuffle carries ≤k hashes per group per partition), with
    map-side partial_collect_set combining the partials further."""
    df = q(spark, "distinct_users_kmv")
    s = plans.explain_string(df)
    assert "MapInArrow" in s
    assert s.index("Exchange") < s.index("MapInArrow")  # root prints first
    assert "partial_collect_set" in s


def test_orc_roundtrip_pushes_filter_into_orc_scan(spark):
    """The ship-date predicate must reach the ORC scan itself — ORC
    carries min/max stripe statistics exactly for this."""
    df = q(spark, "formats_orc_roundtrip")
    pushed = " ".join(plans.pushed_filters(df))
    assert "l_shipdate" in pushed


def test_cdc_snapshot_and_scd2_single_shuffle(spark):
    """The CDC window passes must be ONE hash exchange on the merge keys —
    no join in merge_upsert (the union feeds the window directly), and
    scd2's lead() rides the same single shuffle."""
    for name in ("orders_merge_upsert", "user_state_scd2"):
        df = q(spark, name)
        s = plans.explain_string(df)
        assert "Join" not in s, name
        assert plans.count_exchanges(df) <= 1, name


def test_heavy_hitters_recount_is_broadcast_join_over_bounded_candidates(spark):
    """doc_heavy_tokens' exact recount must broadcast the MG candidate set
    (a ≤k×P-row frame, never shuffled against the corpus) and the group
    totals; the only shuffles are the candidate distinct and the final
    per-candidate count — the full token vocabulary never crosses a
    shuffle as groupBy keys of an unbounded aggregate."""
    df = q(spark, "doc_heavy_tokens")
    s = plans.explain_string(df)
    assert "MapInArrow" in s                       # the bounded MG partial
    assert s.count("BroadcastExchange") >= 2       # candidates + totals
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_incremental_dedup_broadcasts_the_new_batch(spark):
    """dedup_incremental_pairs must join the corpus bands against a
    BROADCAST of the new batch's bands — the delta-ingest contract; a
    corpus-side self-join or cartesian would defeat the point."""
    df = q(spark, "dedup_incremental_pairs")
    s = plans.explain_string(df)
    assert "BroadcastExchange" in s
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_packing_and_sample_are_single_window_no_join(spark):
    """doc_sequence_packing and doc_weighted_sample are window-over-scan
    shapes: no joins, no cartesians; the packing/sample decision must not
    shuffle the data more than once per window spec."""
    for name in ("doc_sequence_packing", "doc_weighted_sample"):
        df = q(spark, name)
        s = plans.explain_string(df)
        assert "Join" not in s, name
        assert "CartesianProduct" not in s, name


def test_profiler_is_one_scan(spark):
    """events_profile must read the table ONCE: a single scan node feeding
    one aggregate — per-column statistics ride the same pass (the exact
    multi-distinct uses Spark's Expand over that one scan, not re-scans)."""
    df = q(spark, "events_profile")
    s = plans.explain_string(df, mode="simple")
    assert s.count("FileScan") == 1
    assert "Join" not in s


def test_novelty_join_is_doc_granularity(spark):
    """doc_novelty_scores (r6 verdict watch item): the r6 spelling joined
    the corpus-wide shingle table back to its own counts, and the count
    side's partial aggregate sits below its exchange so Catalyst can NEVER
    ReuseExchange the two subtrees — the explode silently ran twice and
    |shingles| rows crossed a third shuffle. The r7 reformulation credits
    each unique shingle to min(doc_id) inside the per-shingle aggregate;
    the only join left is doc_id-keyed between two doc-granularity
    aggregates. Pin that: every join in the plan keys on doc_id and none
    keys on the shingle hash column."""
    df = q(spark, "doc_novelty_scores")
    s = plans.explain_string(df)
    import re

    left_keys = re.findall(r"Left keys \[\d+\]: \[([^\]]*)\]", s)
    assert left_keys, "expected exactly one join in the novelty plan"
    for keys in left_keys:
        assert "doc_id" in keys, f"join not doc_id-keyed: {keys}"
        assert not re.search(r"\bs#", keys), f"shingle-mass join present: {keys}"
    # a regression back to the join-back shape also shows as >1 join
    assert len(left_keys) == 1


def test_curated_neardup_no_pair_materialization(spark):
    """The keep-list curation face (r7 verdict next-round #5) must never
    materialize the within-bucket pair set. Two pins, because the catalog
    face's connected-components checkpoint truncates lineage: (a) the
    whole-query plan has no nested-loop/cartesian anywhere; (b) the star
    edge stage it is built on is a WINDOW over the band bucket — band_hash
    appears in window/exchange partitioning, never as an equi-join key of
    the banded table against itself (the pair path's signature shape)."""
    df = q(spark, "curated_corpus_neardup")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s

    from polars_numba_spark.operators.dedup import (
        _banded_signatures,
        _bucket_star_edges,
    )
    from polars_numba_spark.sources import load_table

    docs = load_table(spark, "documents", SF)
    banded = _banded_signatures(docs, "text", "doc_id", 32, 8, True, None, [])
    star = _bucket_star_edges(banded, ["band_idx", "band_hash"])
    ss = plans.explain_string(star)
    assert "Window" in ss
    join_lines = [
        ln for ln in ss.splitlines()
        if ("Join" in ln or "join" in ln) and "band_hash" in ln
    ]
    assert join_lines == [], f"banded table self-joined on band_hash: {join_lines}"


def test_bm25_is_inverted_index_with_broadcast_queries(spark):
    """doc_bm25_search must join the postings list against a BROADCAST of
    the tiny query-term table and the 1-row corpus stats — the inverted-
    index contract; the only non-broadcast shuffles key on (doc, term),
    term, or query_id. A sort-merge join against the query terms or a real
    cartesian would not survive a 100-TB postings list."""
    df = q(spark, "doc_bm25_search")
    s = plans.explain_string(df)
    assert s.count("BroadcastExchange") >= 2  # query terms + stats row
    assert "CartesianProduct" not in s


def test_video_meta_is_shuffle_free(spark):
    """multimodal_video_meta (synthesize -> box-walk parse) must be a pure
    scan->project->MapInPandas pipeline: no shuffle, no join — container
    metadata extraction over 100 TB of video must stream."""
    df = q(spark, "multimodal_video_meta")
    s = plans.explain_string(df)
    assert "MapInPandas" in s
    for op in ("Exchange", "Join", "CartesianProduct"):
        assert op not in s, op


def test_contrastive_triplets_broadcasts_directories(spark):
    """embedding_contrastive_triplets must broadcast the small frames (the
    L-row label directory twice, the 1-row label count) and keep every
    non-broadcast join label- or id-keyed — negatives resolve by
    equi-join; nothing shuffles an unbounded cross product."""
    df = q(spark, "embedding_contrastive_triplets")
    s = plans.explain_string(df)
    assert s.count("BroadcastExchange") >= 3
    assert "CartesianProduct" not in s


def test_contrastive_triplets_positive_join_is_cell_bounded(spark):
    """The positive-mining self-join must key on (label, k-means cell),
    never label alone: labels are DATA, not a tunable — a label-wide
    self-join is Σ|label|² pair mass and grows quadratically at a fixed
    label set (the r10 verdict's scale-killer finding). The cell id must
    appear in the pair join's OWN key list; the only label-single-keyed
    joins allowed are the broadcast directory lookups (L rows)."""
    import re

    df = q(spark, "embedding_contrastive_triplets")
    s = plans.explain_string(df)
    # the pairwise join carries BOTH keys
    assert re.search(r"keys \[2\]: \[lab#\d+, __cell#\d+\]", s), (
        "positive mining lost the k-means cell join key"
    )
    # and no SortMergeJoin keys on the bare label (the directory joins that
    # legitimately key on label alone are all BroadcastHashJoins)
    for m in re.finditer(
        r"\((\d+)\) (\w*Join\w*)[^(]*?Left keys \[1\]: \[lab#\d+\]", s
    ):
        assert "Broadcast" in m.group(2), m.group(0)


def test_bloom_prefilter_probe_is_broadcast_only(spark):
    """orders_bloom_prefilter's probe must be a pure projection over the
    fact scan fed by BROADCAST exchanges (the 1-row bitmap, the build
    keys): a sort-merge join or real cartesian against the fact side would
    defeat the runtime filter's whole purpose at 100 TB."""
    df = q(spark, "orders_bloom_prefilter")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "SortMergeJoin" not in s
    assert s.count("BroadcastExchange") >= 2  # bitmap row + exact-match keys


def test_gopher_filter_is_one_scan(spark):
    """doc_gopher_filter must be pure codegen over a single documents scan
    reading only (doc_id, text) — a quality gate that shuffles or calls
    Python would throttle every downstream curation stage at 100 TB."""
    df = q(spark, "doc_gopher_filter")
    s = plans.explain_string(df)
    for op in ("Exchange", "Join", "MapInPandas", "BatchEvalPython"):
        assert op not in s, op
    schemas = plans.read_schemas(df)
    assert len(schemas) == 1 and "text" in schemas[0]
    assert "source" not in schemas[0]


def test_retention_cohorts_bounded_aggregates(spark):
    """user_retention_cohorts must reduce events to day granularity BEFORE
    the cohort join (distinct user-days, not raw events, fan into the
    offset computation) and broadcast the tiny cohort-size dimension — at
    100 TB of events the per-event path would shuffle the whole stream
    twice."""
    df = q(spark, "user_retention_cohorts")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastExchange" in s  # cohort sizes join


def test_char_entropy_single_count_shuffle(spark):
    """doc_char_entropy must reach its per-doc result through the
    (doc, char) count aggregate — map-side combinable, key space bounded
    by docs x alphabet — with no join; the whole plan carries one
    hash-aggregate pair plus the per-doc window/final aggregate."""
    df = q(spark, "doc_char_entropy")
    s = plans.explain_string(df)
    assert "Join" not in s and "CartesianProduct" not in s


def test_bpe_merges_are_takeordered(spark):
    """bpe_merge_candidates' global top-20 must be TakeOrderedAndProject
    (each partition ships only its own top rows), not a full global sort
    of the |alphabet|^2 count table."""
    df = q(spark, "bpe_merge_candidates")
    s = plans.explain_string(df)
    assert "TakeOrderedAndProject" in s


def test_basket_lift_topk_and_bounded_pairs(spark):
    """order_basket_lift's top-20 must ship per-partition heads only, and
    the pair stage must be the order-keyed equi-self-join (bounded by
    basket size), never a part-level cartesian."""
    df = q(spark, "order_basket_lift")
    s = plans.explain_string(df)
    assert "TakeOrderedAndProject" in s
    assert "CartesianProduct" not in s


def test_rrf_authority_rank_no_global_sort(spark):
    """doc_search_authority_rrf must NOT contain a global (non-partitioned)
    window over the full pagerank table — the authority rank is computed
    by broadcasting candidate thresholds over one scan (rank-by-counting).
    A plan regression back to row_number() OVER (ORDER BY pagerank) would
    serialize the corpus on one reducer."""
    df = q(spark, "doc_search_authority_rrf")
    s = plans.explain_string(df)
    # the only Window specs allowed partition by query_id (the per-query
    # fused rank); a global-sort window prints as 'Window [...], [rank...]'
    # with no PartitionBy on pagerank ordering
    bad = [
        ln for ln in s.splitlines()
        if "Window" in ln and "pagerank" in ln
    ]
    assert bad == [], f"global window over pagerank: {bad}"


def test_rfm_buckets_are_broadcast_not_sorted(spark):
    """user_rfm_segments' quintile scores must come from one broadcast
    percentile row (value bucketing), not ntile windows — no global sort
    anywhere in the plan."""
    df = q(spark, "user_rfm_segments")
    s = plans.explain_string(df)
    assert "BroadcastExchange" in s
    # no Window operator at all: an ntile spelling would need a global one
    # (note: the substring "ntile" appears inside "percentile" — check the
    # operator, not the token)
    assert "Window" not in s


def test_burst_windows_single_aggregate_then_window(spark):
    """events_burst_windows: one count aggregate then a per-type RANGE
    window — no join in the plan."""
    df = q(spark, "events_burst_windows")
    s = plans.explain_string(df)
    assert "Join" not in s and "CartesianProduct" not in s


def test_cusum_is_windows_only_no_iteration(spark):
    """events_cusum_changepoints: the CUSUM recurrence must be the
    closed-form spelling — one count aggregate, one broadcast totals
    join, two stacked window frames over ONE sort; no Python, no
    iteration, no cartesian."""
    df = q(spark, "events_cusum_changepoints")
    s = plans.explain_string(df)
    assert "Window" in s
    assert "BroadcastExchange" in s
    assert "CartesianProduct" not in s
    assert "mapInPandas" not in s.lower() and "pythonudf" not in s.lower()
    # the two frames share partitioning+ordering: exactly one window sort
    assert s.count("Sort [event_type") <= 2


def test_cms_shuffle_is_sketch_sized(spark):
    """user_events_cms: the sketch build aggregates to a fixed
    depth x width keyspace (4096) with map-side partial aggregation, and
    the probe side joins the sketch BROADCAST — the only data-sized
    shuffles are the build's partial aggregate and the exact-count
    self-audit."""
    df = q(spark, "user_events_cms")
    s = plans.explain_string(df)
    assert "BroadcastExchange" in s
    assert "partial_count" in s  # map-side combine before the shuffle
    assert "CartesianProduct" not in s


def test_kmv_overlap_joins_sketch_rows_not_data(spark):
    """audience_overlap_kmv: the estimate path must join SKETCH rows
    (<= k per group) — the plan carries the rn <= k-1 filters that cap
    both join inputs, plus the broadcast of the tiny pair/theta table."""
    df = q(spark, "audience_overlap_kmv")
    s = plans.explain_string(df)
    assert "BroadcastExchange" in s
    assert "rn" in s and "255" in s  # the sketch cap reaches the plan
    assert "CartesianProduct" not in s


def test_phrase_search_is_one_join_not_l_way(spark):
    """doc_phrase_search: the postings side is exploded ONCE and joined
    to the broadcast phrase table once — phrase length must not multiply
    plan depth (no L-way self-join), and the phrase/length tables ride
    broadcast."""
    df = q(spark, "doc_phrase_search")
    s = plans.explain_string(df)
    assert s.count("- Generate") == 1  # one posexplode in the whole tree
    assert "BroadcastExchange" in s
    assert "CartesianProduct" not in s


def test_concentration_has_no_single_reducer_sort(spark):
    """user_value_concentration: ranks must come from the distributed
    sort-rank (RangePartitioning + per-partition windows) — no
    empty-partition-spec Window (the single-reducer global sort trap)."""
    df = q(spark, "user_value_concentration")
    s = plans.explain_string(df)
    assert "rangepartitioning" in s.lower()
    # every Window partitions by something (the synthetic __pid); a global
    # row_number would show 'Window [...], []' with an empty partition spec
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[\]", s):
        raise AssertionError(f"global (unpartitioned) window: {m.group(0)}")


def test_point_in_time_is_one_union_window_no_interval_join(spark):
    """views_point_in_time_state: the as-of spelling — union + window,
    never a row-multiplying interval join (no range/theta join, no
    cartesian)."""
    df = q(spark, "views_point_in_time_state")
    s = plans.explain_string(df)
    assert "Union" in s and "Window" in s
    assert "CartesianProduct" not in s
    assert "SortMergeJoin" not in s or "Inner" not in s.split("SortMergeJoin")[1][:30]


def test_session_paths_no_cartesian_single_generate_free(spark):
    """session_top_paths: two stacked windows + aggregates; top-20 ships
    per-partition heads (TakeOrderedAndProject), no cartesian."""
    df = q(spark, "session_top_paths")
    s = plans.explain_string(df)
    assert "TakeOrderedAndProject" in s
    assert "CartesianProduct" not in s


def test_triangles_joins_are_oriented_equi_joins(spark):
    """customer_graph_triangles: the wedge-close stage must be hash
    equi-joins on the packed orientation keys — no cartesian anywhere in
    the tree."""
    df = q(spark, "customer_graph_triangles")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s


def test_dq_expectations_is_one_scan_plus_fk_join(spark):
    """orders_dq_expectations: the six column rules share ONE orders
    aggregate, unpivoted with stack() — a per-rule union would re-execute
    the aggregate six times (the first spelling did: 18 exchanges, zero
    reuse). One Generate (the stack), one FK join, no cartesian."""
    df = q(spark, "orders_dq_expectations")
    s = plans.explain_string(df)
    assert s.count("- Generate") == 1  # the stack unpivot
    assert "CartesianProduct" not in s
    assert s.count("Exchange") <= 10  # vs 18 in the union spelling


def test_km_survival_windows_are_day_indexed(spark):
    """signup_survival_km: the cumulative windows must run over the
    DAY-indexed aggregate (tiny by construction), with the subject table
    built from broadcast anchor/total joins — no cartesian, no
    data-sized unpartitioned window (the window input is post-groupBy)."""
    df = q(spark, "signup_survival_km")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastExchange" in s
    # the unpartitioned windows sit ABOVE a HashAggregate on t_days
    assert "HashAggregate" in s and "Window" in s


def test_ab_ztest_is_two_aggregates(spark):
    """ab_conversion_ztest: one distinct + median aggregate + one final
    conditional aggregate — no joins beyond the broadcast median, no
    cartesian, no window."""
    df = q(spark, "ab_conversion_ztest")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastExchange" in s
    assert "Window" not in s


def test_zipf_cut_is_takeordered(spark):
    """corpus_zipf_fit: the top-1000 vocabulary cut must ship
    per-partition heads (TakeOrderedAndProject), never a full sort of
    the vocabulary."""
    df = q(spark, "corpus_zipf_fit")
    s = plans.explain_string(df)
    assert "TakeOrderedAndProject" in s
    assert "CartesianProduct" not in s


def test_ranking_metrics_explodes_stay_branch_bounded(spark):
    """search_ranking_metrics: Catalyst re-plans the shared tf/rel
    aggregates per consuming branch, so the corpus explode appears once
    per BRANCH (7 with the current plan) — bounded by the face's fixed
    branch count, never by query count or corpus size. Pin the bound so
    a regression into per-query explosion (or a cartesian) is caught;
    the broadcast query/ladder tables must stay broadcast."""
    df = q(spark, "search_ranking_metrics")
    s = plans.explain_string(df)
    assert 1 <= s.count("- Generate") <= 8
    assert "BroadcastExchange" in s
    assert "CartesianProduct" not in s


def test_datacard_is_one_scan_one_aggregate(spark):
    """corpus_datacard: one documents scan, one aggregate with map-side
    partials — no joins, no window, no explode."""
    df = q(spark, "corpus_datacard")
    s = plans.explain_string(df)
    assert "Join" not in s
    assert "Window" not in s
    assert "- Generate" not in s


def test_mannwhitney_ranks_are_range_partitioned(spark):
    """ab_value_mannwhitney: the rank stage must be the distributed
    sort-rank (range partitioning + per-partition ranks), never a
    single-reducer global ORDER BY; no cartesian anywhere."""
    df = q(spark, "ab_value_mannwhitney")
    s = plans.explain_string(df)
    assert "rangepartitioning" in s.lower()
    assert "CartesianProduct" not in s


def test_chisq_reads_two_columns_and_combines(spark):
    """events_chisq_independence: the contingency groupBy partial-combines
    map-side and the events scan reads only event_type + ts."""
    df = q(spark, "events_chisq_independence")
    assert plans.has_partial_aggregation(df)
    schemas = plans.read_schemas(df)
    cols = sorted(
        c.split(":")[0]
        for c in schemas[0][len("struct<"):-1].split(",")
    )
    assert cols == ["event_type", "ts"]
    assert "CartesianProduct" not in plans.explain_string(df)


def test_seasonal_backtest_is_keyed_self_join(spark):
    """events_seasonal_backtest: daily rollup then a keyed self-join on
    (type, day-7) — no window, no cartesian, three columns read."""
    df = q(spark, "events_seasonal_backtest")
    s = plans.explain_string(df)
    assert "Window" not in s
    assert "CartesianProduct" not in s
    schemas = plans.read_schemas(df)
    for sch in schemas:
        cols = sorted(
            c.split(":")[0] for c in sch[len("struct<"):-1].split(",")
        )
        assert cols == ["event_type", "ts", "value"]


def test_sprt_prefix_sum_is_bucketed_not_global(spark):
    """ab_sequential_sprt: every Window must carry a partition spec (the
    two-level prefix sum) — a Window whose partitionBy is empty except
    the bounded bucket spine would funnel all users through one task.
    The only unpartitioned window runs on the per-(arm, bucket) spine,
    which is bounded by id-space/2^20, not by rows."""
    df = q(spark, "ab_sequential_sprt")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    # the within-bucket windows must be keyed by variant AND bucket
    assert "bucket" in s


def test_hill_tail_cut_is_takeordered(spark):
    """events_hill_tail_index: the top-501 cut ships per-partition heaps
    (TakeOrderedAndProject), never a full sort of the event table."""
    df = q(spark, "events_hill_tail_index")
    s = plans.explain_string(df)
    assert "TakeOrderedAndProject" in s
    assert "CartesianProduct" not in s


def test_hits_is_keyed_joins_with_broadcast_totals(spark):
    """customer_part_hits: every mutual-reinforcement half-step is a keyed
    equi-join plus a broadcast 1-row L1 total — no cartesian, no global
    sort."""
    df = q(spark, "customer_part_hits")
    s = plans.explain_string(df)
    # every half-step was eagerly localCheckpointed during construction
    # (keyed joins + broadcast L1 totals ran there); the returned plan must
    # be ONLY a union of the two checkpointed score vectors — re-deriving
    # any iteration here would mean the lineage truncation regressed.
    assert "CartesianProduct" not in s
    assert "Scan ExistingRDD" in s
    assert "Join" not in s


def test_bitmap_overlap_compresses_before_joining(spark):
    """segment_overlap_bitmap: the bit_or groupBy partial-combines (63
    membership rows become one BIGINT map-side) and the pair stage is an
    equi-join on word — never a cartesian of members."""
    df = q(spark, "segment_overlap_bitmap")
    assert plans.has_partial_aggregation(df)
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    schemas = plans.read_schemas(df)
    cust = [sch for sch in schemas if "c_custkey" in sch]
    assert cust and all(
        sorted(c.split(":")[0] for c in sch[len("struct<"):-1].split(","))
        == ["c_custkey", "c_mktsegment"]
        for sch in cust
    )


def test_readability_is_one_scan_one_aggregate(spark):
    """doc_readability: codegen'd regex features over one scan, one keyed
    groupBy — no join, no window, no explode."""
    df = q(spark, "doc_readability")
    s = plans.explain_string(df)
    assert "Join" not in s
    assert "Window" not in s
    assert "- Generate" not in s
    assert plans.has_partial_aggregation(df)


def test_lexical_richness_single_explode(spark):
    """doc_lexical_richness: exactly one Generate (the token explode)
    feeding two keyed aggregates — no join, no window."""
    df = q(spark, "doc_lexical_richness")
    s = plans.explain_string(df)
    assert s.count("- Generate") == 1
    assert "Join" not in s
    assert "Window" not in s


def test_mixture_weights_runs_on_source_rows(spark):
    """corpus_mixture_weights: one documents scan + broadcast 1-row
    totals; everything after the groupBy runs on #sources rows (no
    cartesian, no window, no explode)."""
    df = q(spark, "corpus_mixture_weights")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "Window" not in s
    assert "- Generate" not in s
    assert "BroadcastExchange" in s


def test_silhouette_scores_via_broadcast_centroids(spark):
    """kmeans_silhouette: the n×k scoring pass must broadcast the
    centroids (BroadcastNestedLoopJoin over a k-row build side is the
    intended shape) and partial-combine the argmax."""
    df = q(spark, "kmeans_silhouette")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastExchange" in s
    assert plans.has_partial_aggregation(df)


def test_centroid_classify_broadcasts_model(spark):
    """embedding_centroid_classify: train centroids broadcast to the test
    scan; the confusion matrix is one keyed aggregate."""
    df = q(spark, "embedding_centroid_classify")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastExchange" in s


def test_wasserstein_reads_two_columns(spark):
    """source_drift_wasserstein: the documents scan reads only
    (source, n_chars); the grid stage is the bounded value-grid × groups
    cross of AGGREGATE outputs (the ks_drift shape), never a cross of
    data rows."""
    df = q(spark, "source_drift_wasserstein")
    schemas = plans.read_schemas(df)
    for sch in schemas:
        cols = set(
            c.split(":")[0] for c in sch[len("struct<"):-1].split(",")
        )
        # the grid branch prunes down to n_chars alone — a subset is the
        # win being pinned; reading anything else is the regression
        assert cols <= {"n_chars", "source"} and "n_chars" in cols
    assert plans.has_partial_aggregation(df)


def test_entropy_rate_is_one_lag_window_then_bounded(spark):
    """events_entropy_rate: one user-keyed lag window over the scan; every
    later stage runs on the ≤|types|² cell table (broadcast totals, no
    cartesian beyond broadcast 1-row joins)."""
    df = q(spark, "events_entropy_rate")
    s = plans.explain_string(df)
    assert s.count("Window") >= 1
    assert "CartesianProduct" not in s
    schemas = plans.read_schemas(df)
    for sch in schemas:
        cols = sorted(
            c.split(":")[0] for c in sch[len("struct<"):-1].split(",")
        )
        assert cols == ["event_id", "event_type", "ts", "user_id"]


def test_incremental_rollup_pushes_cutover_predicates(spark):
    """orders_incremental_rollup: both the snapshot and delta branches
    carry their o_orderdate cutover into the parquet scan, and the merge
    re-aggregates with map-side partials."""
    df = q(spark, "orders_incremental_rollup")
    pushed = " ".join(plans.pushed_filters(df))
    assert "o_orderdate" in pushed
    assert plans.has_partial_aggregation(df)
    assert "CartesianProduct" not in plans.explain_string(df)


def test_bootstrap_explodes_users_not_events(spark):
    """ab_bootstrap_ci: the 100-way resample explode must sit ABOVE the
    per-user aggregate (users-sized frame), never on the raw event scan,
    and the events scan reads only the three referenced columns."""
    df = q(spark, "ab_bootstrap_ci")
    s = plans.explain_string(df)
    assert s.count("- Generate") == 1
    assert "CartesianProduct" not in s
    schemas = plans.read_schemas(df)
    for sch in schemas:
        cols = sorted(
            c.split(":")[0] for c in sch[len("struct<"):-1].split(",")
        )
        assert cols == ["event_type", "user_id", "value"]
    # the Generate's child must be an aggregate output, not the scan:
    # pin by ensuring partial aggregation exists below the explode
    assert plans.has_partial_aggregation(df)


def test_encoding_sanity_is_one_scan_one_aggregate(spark):
    """doc_encoding_sanity: codegen'd regex counts over one scan, one
    keyed groupBy — no join, no window, no explode."""
    df = q(spark, "doc_encoding_sanity")
    s = plans.explain_string(df)
    assert "Join" not in s
    assert "Window" not in s
    assert "- Generate" not in s
    assert plans.has_partial_aggregation(df)


def test_cohort_ltv_window_runs_on_triangle(spark):
    """signup_cohort_ltv: the cumulative window must run on the bounded
    (cohort, weeks-since) cell table AFTER the aggregate, never over raw
    purchases, and cohort sizes broadcast back."""
    df = q(spark, "signup_cohort_ltv")
    s = plans.explain_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastExchange" in s
    assert plans.has_partial_aggregation(df)
    schemas = plans.read_schemas(df)
    for sch in schemas:
        cols = set(
            c.split(":")[0] for c in sch[len("struct<"):-1].split(",")
        )
        # the firsts branch prunes `value` — subsets are the win; reading
        # anything beyond the four referenced columns is the regression
        assert cols <= {"event_type", "ts", "user_id", "value"}


def _total_step(acc, price, cust):
    """Running total of the first column; the second only checks binding."""
    return acc + price


def _add(acc, x):
    return acc + x


def _orders_fold_scan_frames(spark, monkeypatch):
    """The fold/scan operators over a ``load_table`` frame (sf0.001 orders
    is under-split: one scan task). The ``collect_fold`` inputs are
    captured at their ``mapInArrow`` call."""
    from pyspark.sql import functions as F

    from polars_numba_spark.operators import fold as FO
    from polars_numba_spark.operators import scan as SC
    from polars_numba_spark.operators import window as W
    from polars_numba_spark.sources import load_table

    orders = load_table(spark, "orders", SF)
    cls = type(orders)
    captured = []
    map_in_arrow = cls.mapInArrow

    def capture(self, *args, **kwargs):
        captured.append(self)
        return map_in_arrow(self, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInArrow", capture)
    value_cols = ["o_totalprice", "o_custkey"]
    FO.collect_fold(
        orders, _total_step, 0.0, column_names=value_cols, order_by="o_orderkey"
    )
    # a computed column ahead of the operator, as in the fold_scan workload
    cents = orders.withColumn("cents", F.round(F.col("o_totalprice") * 100).cast("long"))
    FO.collect_fold(cents.select("cents"), _add, 0, combine=_add)
    spec = dict(function=_total_step, initial_accumulator=0.0,
                return_dtype="double", columns=value_cols)
    return {
        "collect_fold": captured[0],
        "collect_fold_combine": captured[1],
        "collect_scan_combine": SC.collect_scan(
            cents.select("o_orderkey", "cents"), _add, 0, "long",
            column_names=["cents"], order_by="o_orderkey", combine=_add,
        ),
        "agg_with_fold": FO.agg_with_fold(
            cents, "o_orderstatus", {"cents": F.sum("cents")},
            {"total": dict(spec, order_by="o_orderkey")},
        ),
        "assoc_scan": W.assoc_scan(
            cents.select("o_orderkey", "o_orderstatus", "cents"), "sum", "cents",
            order_by="o_orderkey", partition_by="o_orderstatus",
        ),
        "collect_scan": SC.collect_scan(
            orders, _total_step, 0.0, "double", column_names=value_cols,
            order_by="o_orderkey",
        ),
        "grouped_fold": FO.grouped_fold(
            orders, "o_orderstatus", _total_step, 0.0, "double",
            columns=value_cols, order_by="o_orderkey",
        ),
        "grouped_scan": SC.grouped_scan(
            orders, "o_orderstatus", _total_step, 0.0, "double",
            columns=value_cols, order_by="o_orderkey",
        ),
        "grouped_multi_fold": FO.grouped_multi_fold(
            orders, "o_orderstatus", {"total": spec}, order_by="o_orderkey"
        ),
        "grouped_multi_scan": SC.grouped_multi_scan(
            orders, "o_orderstatus", {"total": spec}, order_by="o_orderkey"
        ),
    }


def test_fold_scan_merge_the_loader_exchange(spark, monkeypatch):
    """The fold/scan operators run at the width their own exchange sets:
    over an under-split ``load_table`` frame, none of them pays for a
    round-robin exchange, including those whose input computes a column
    ahead of the operator (``cents``) and ``events`` with its ``ts``
    cast."""
    from polars_numba_spark.operators import scan as SC
    from polars_numba_spark.sources import load_table

    frames = _orders_fold_scan_frames(spark, monkeypatch)
    frames["events_grouped_scan"] = SC.grouped_scan(
        load_table(spark, "events", SF), "user_id", _total_step, 0.0, "double",
        columns=["value", "event_id"], order_by="ts",
    )
    for name in ["collect_fold", "collect_scan", "grouped_fold", "grouped_scan",
                 "grouped_multi_fold", "events_grouped_scan", "collect_fold_combine",
                 "collect_scan_combine", "agg_with_fold", "assoc_scan"]:
        assert "RoundRobinPartitioning" not in plans.explain_string(frames[name]), name


# face -> round-robin exchanges in the plans of its widened operators at
# sf0.001. The fuzzy face widens the stream side of each of its two
# blocking joins; the interval join's points are read by the join and by
# the unmatched-interval recovery; the recall face adds the bucketed
# operator's kernel input, read by both sides of its self-join; and the
# heavy-hitter face reads its tokenized documents three times (candidate
# pass, totals, exact recount).
WIDENED_FACES = {
    "embedding_near_dup_pairs": 1,  # all-pairs cosine, stream side
    "embedding_near_dup_recall": 3,
    "dedup_minhash_pairs": 1,  # shingle sets, before their checkpoint
    "dedup_jaccard_pairs": 1,  # banded minhash signatures
    "doc_duplicated_passages": 1,
    "doc_duplicated_spans": 1,
    "doc_remove_passages": 1,
    "doc_winnowing_overlap_pairs": 1,
    "doc_char_entropy": 1,
    "embedding_pq_encode": 1,
    "customer_name_fuzzy_pairs": 2,
    "recent_order_pressure": 2,
    "doc_heavy_tokens": 3,
}


@pytest.mark.parametrize("face", sorted(WIDENED_FACES))
def test_heavy_operators_widen_their_own_input(spark, monkeypatch, face):
    """An operator with heavy per-row work round-robins its under-split
    input to the task slots exactly once, and not at all once the input
    fills the slots (maxPartitionBytes=1k). Counted without AQE, where
    exchange reuse shows in the physical plan, over the face's frame and
    the frames it checkpoints while being built."""
    from polars_numba_spark.plans import checkpoint as CK

    captured = []
    checkpoint = CK.session_scoped_checkpoint

    def capture(df, *args, **kwargs):
        captured.append(df)
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(CK, "session_scoped_checkpoint", capture)

    def round_robins():
        captured.clear()
        frames = [q(spark, face), *captured]
        n = sum(
            plans.explain_string(f, "simple").count("RoundRobinPartitioning")
            for f in frames
        )
        CK.release_session_checkpoints(spark)
        return n

    old_split = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert round_robins() == WIDENED_FACES[face]
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        assert round_robins() == 0
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_split)
        spark.conf.set("spark.sql.adaptive.enabled", "true")


@pytest.mark.parametrize("table", ["documents", "embeddings", "events", "orders"])
def test_load_table_adds_no_exchange(spark, table):
    """The loader returns the scan and its casts at the scan's own width;
    the width decision is the consumer's (sources/tables.py::widen)."""
    from polars_numba_spark.sources import load_table

    assert "Exchange" not in plans.explain_string(load_table(spark, table, SF))


def test_fold_scan_keep_declared_column_order(spark, monkeypatch):
    """Kernel columns given out of frame order keep the declared output
    order and bind by name (the running total is over ``o_totalprice``)."""
    import itertools

    frames = _orders_fold_scan_frames(spark, monkeypatch)
    declared = ["o_totalprice", "o_custkey", "o_orderkey"]
    assert frames["collect_scan"].columns == [*declared, "scan"]
    assert frames["grouped_scan"].columns == ["o_orderstatus", *declared, "scan"]
    assert frames["grouped_multi_scan"].columns == ["o_orderstatus", *declared, "total"]

    rows = sorted(frames["collect_scan"].collect(), key=lambda r: r.o_orderkey)
    expected = list(itertools.accumulate(r.o_totalprice for r in rows))
    assert [r.scan for r in rows] == pytest.approx(expected)
    for name, col in [("grouped_scan", "scan"), ("grouped_multi_scan", "total")]:
        totals = {}
        for r in sorted(frames[name].collect(), key=lambda r: r.o_orderkey):
            totals[r.o_orderstatus] = totals.get(r.o_orderstatus, 0.0) + r.o_totalprice
            assert r[col] == pytest.approx(totals[r.o_orderstatus]), name


def _ordered_whole_frame_plans(spark, monkeypatch):
    """The simple-mode plans of the ordered whole-frame operators over
    sf0.001 ``orders``, and those of the frames ``collect_scan(combine=)``
    checkpointed while being built (its result reads the checkpoint, so
    the range exchange is in the checkpointed frame's plan)."""
    from polars_numba_spark.operators import scan as SC

    checkpointed = []
    checkpoint = SC.session_scoped_checkpoint

    def capture(df):
        checkpointed.append(df)
        return checkpoint(df)

    monkeypatch.setattr(SC, "session_scoped_checkpoint", capture)
    frames = _orders_fold_scan_frames(spark, monkeypatch)
    return (
        {name: plans.explain_string(frames[name], "simple")
         for name in ["collect_fold", "collect_scan", "collect_scan_combine"]},
        [plans.explain_string(f, "simple") for f in checkpointed],
    )


def test_whole_frame_fold_scan_over_one_partition_add_no_exchange(spark, monkeypatch):
    """Over a one-partition input (sf0.001 ``orders`` is one split) the
    ordered whole-frame operators sort at the input's own width: no
    exchange, and ``combine=`` takes the sequential plan (no range
    exchange, no checkpoint)."""
    ordered, checkpointed = _ordered_whole_frame_plans(spark, monkeypatch)
    for name, plan in ordered.items():
        assert "Exchange" not in plan, name
        assert "Coalesce 1" in plan, name
    assert checkpointed == []


def test_whole_frame_fold_scan_over_many_splits_keep_their_exchanges(
    spark, monkeypatch, many_splits
):
    """The multi-split plans are unchanged: one ``SinglePartition``
    exchange for a sequential operator, and for ``collect_scan(combine=)``
    a range exchange under one checkpoint."""
    from polars_numba_spark.plans.checkpoint import release_session_checkpoints

    try:
        ordered, checkpointed = _ordered_whole_frame_plans(spark, monkeypatch)
    finally:
        release_session_checkpoints(spark)
    assert "Exchange SinglePartition" in ordered["collect_fold"]
    assert "Exchange SinglePartition" in ordered["collect_scan"]
    assert len(checkpointed) == 1
    assert "Exchange rangepartitioning" in checkpointed[0]


def test_parallel_scan_over_one_partition_is_one_job(spark, jobs_in_group):
    """``collect_scan(combine=)`` over a one-partition input submits one
    job in all (the write's) and creates no checkpoint block: no range
    sample, no checkpoint, no partials job."""
    from pyspark.sql import functions as F

    from polars_numba_spark.operators.scan import collect_scan
    from polars_numba_spark.sources import load_table

    sc = spark.sparkContext
    persisted = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    orders = load_table(spark, "orders", SF)
    cents = orders.withColumn("cents", F.round(F.col("o_totalprice") * 100).cast("long"))

    def run():
        collect_scan(
            cents.select("o_orderkey", "cents"), _add, 0, "long",
            column_names=["cents"], order_by="o_orderkey", combine=_add,
        ).write.format("noop").mode("overwrite").save()

    assert jobs_in_group(run) == 1
    assert set(sc._jsc.getPersistentRDDs().keySet().toArray()) == persisted


def _one_partition_frame(spark, kind):
    from pyspark.sql import functions as F

    from polars_numba_spark.plans.checkpoint import session_scoped_checkpoint
    from polars_numba_spark.sources import load_table

    orders = load_table(spark, "orders", SF)
    if kind == "load_table":
        return orders
    if kind == "checkpoint":
        return session_scoped_checkpoint(orders)
    if kind == "cached_exchange":
        return orders.repartition(3).cache()
    customers = load_table(spark, "customer", SF)
    return orders.join(F.broadcast(customers), orders.o_custkey == customers.c_custkey)


@pytest.mark.parametrize("kind, expected", [
    ("load_table", True),
    ("checkpoint", True),
    ("cached_exchange", False),
    ("broadcast_join", False),
])
def test_one_partition_check_runs_no_job(spark, jobs_in_group, kind, expected):
    """The one-partition check is driver-side: it submits no job, and a
    cached frame is answered without materializing the cache."""
    from polars_numba_spark.operators._segmented import one_partition
    from polars_numba_spark.plans.checkpoint import release_session_checkpoints

    sc = spark.sparkContext._jsc.sc()
    cached_before = len(sc.getRDDStorageInfo())
    df = _one_partition_frame(spark, kind)
    answers = []
    try:
        assert jobs_in_group(lambda: answers.append(one_partition(df))) == 0
        assert answers == [expected]
        if kind == "cached_exchange":
            assert len(sc.getRDDStorageInfo()) == cached_before
    finally:
        if kind == "cached_exchange":
            df.unpersist()
        release_session_checkpoints(spark)
