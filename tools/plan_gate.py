"""Catalog-wide physical-plan gate: the anti-pattern sweep, automated.

Previous rounds' plan audits pinned ~50 hand-picked faces in
tests/test_plans.py and left the catalog-wide "no scale-killers anywhere"
claim to a manual grep (VERDICT r12's anti-pattern sweep).  This tool makes
that claim mechanical: it builds EVERY batch face in ``queries()`` at a tiny
scale factor and rejects the physical plan if it contains a node that is
wrong at 100 TB regardless of row correctness:

- ``CartesianProduct`` — an unconditioned all-pairs join.  Never tolerated.
- ``BroadcastNestedLoopJoin`` — all-pairs against a broadcast side.
  Tolerated only when the BUILD side is *provably bounded*, checked
  mechanically on the JVM plan tree (not by face name) by a recursive
  row-bound prover: grouping-free aggregates bound to 1 row (the
  scalar-threshold crossJoin pattern: q11's value fraction, RFM's max
  date, recall denominators), ``Range``/``LocalTableScan`` bound to their
  literal sizes, limits (``TakeOrderedAndProject``/``GlobalLimit``/
  ``LocalLimit``) bound to their k, row-preserving single-child nodes
  (Project/Filter/Exchange/Sort/Window/...) pass their child's bound
  through, and joins multiply their children's bounds.  A build side with
  no finite proof (an RDD scan, a keyed aggregate over a category-bounded
  domain, a capped probe over a real table) needs a per-face ALLOW entry
  with a written reason.
- ``BatchEvalPython`` — a row-at-a-time Python UDF/UDTF in the plan.  The
  Arrow paths (ArrowEvalPython*, MapInArrow, FlatMapGroupsInPandas*,
  FlatMapGroupsInArrow) are the engine's sanctioned Python surfaces and
  pass.

Faces with the ``streaming_`` prefix execute an availableNow stream on
construction and return a batch frame over the sink, so the interesting
plan is the STREAM's, not the returned frame's.  The gate audits them on
three layers (round 14, VERDICT r13 #3/#4 + ADVICE r13):

1. ``DataStreamWriter.start`` AND ``DataStreamWriter.toTable`` are both
   wrapped (toTable launches a query WITHOUT going through Python
   ``start``), so every query a face launches is captured.
2. Each captured query's executed micro-batch plan is audited as a JVM
   NODE TREE via ``StreamingQueryWrapper.streamingQuery().lastExecution()
   .executedPlan()`` — the same walk + bounded-build prover the batch leg
   uses, so a streaming nested-loop join now needs a PROOF or a waiver,
   not just a quiet text pass.  ``explainInternal`` text remains the
   fallback for a query whose tree is unavailable.
3. Every SQL execution the face triggered — including the INNER batch
   plans run by ``foreachBatch`` sinks (the exactly-once snapshot sink,
   streaming/sinks.py) and the incremental near-dup band ingest — is
   swept via the session's ``SQLAppStatusStore``: the store records one
   ``physicalPlanDescription`` per execution, the gate snapshots the list
   length before the face runs and text-audits everything new.  This
   closes the r13 blind spot where foreachBatch sink-side work was pinned
   only by dedicated streaming tests.

Every ALLOW entry names the face, the tolerated node, and why the shape is
scale-safe.  An allowlisted face whose plan STOPS needing the waiver is
reported as ``stale_allowlist``, so the list cannot rot into a blanket
waiver.

Usage: python tools/plan_gate.py [sf_dir] [--json OUT]
Exit code 0 = every swept face clean or covered by a live allowlist entry.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FORBIDDEN = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")

SMALL_SIDE_ROWS = 1000

# Single-child nodes that preserve or reduce their child's row count, so a
# bound passes through them unchanged.
_PASS_THROUGH = {
    "ProjectExec", "FilterExec", "ShuffleExchangeExec", "BroadcastExchangeExec",
    "CoalesceExec", "SortExec", "AQEShuffleReadExec", "ColumnarToRowExec",
    "InputAdapter", "WholeStageCodegenExec", "WindowExec",
    "WindowGroupLimitExec", "SubqueryBroadcastExec",
}
_AGGS = {"HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec"}
_LIMITS = {"TakeOrderedAndProjectExec", "GlobalLimitExec", "LocalLimitExec"}
_JOINS = {
    "BroadcastHashJoinExec", "SortMergeJoinExec", "ShuffledHashJoinExec",
    "BroadcastNestedLoopJoinExec", "CartesianProductExec",
}

# face -> {node: reason}.  Reasons must be concrete enough to re-verify.
ALLOW: dict[str, dict[str, str]] = {
    # k-means centroid tables arrive via spark.createDataFrame (an RDD scan,
    # no static row bound for the prover) but hold exactly k rows by
    # construction, with self-scaling k << corpus (operators/vector.py);
    # the crossJoin is the standard bounded-fanout centroid assignment.
    # r14 second session: the centroid-assignment crossJoins moved into
    # the mapInArrow kernel (_assign_nearest_arrow), so the waivers for
    # semantic_dedup_pairs/keeplist, kmeans_assignments,
    # embedding_centroid_classify and (its assignment half)
    # embedding_contrastive_triplets went stale and were REMOVED — the
    # gate's stale-waiver check caught exactly this. kmeans_silhouette
    # keeps its waiver: its inline 9dp-rounded scoring crossJoin is not
    # the assignment operator and deliberately stayed on the expression
    # path (checkpointing it was measured-rejected, see query docstring).
    "kmeans_silhouette": {
        "BroadcastNestedLoopJoin": "k-row centroid table via createDataFrame (RDD scan); bounded fanout k"
    },
    # The documented capped recall probes: exact ground truth is computed on
    # a fixed id-capped slice (doc_id/vec_id bound), so the probe's build
    # side is a real-table scan with a constant row cap — audit scope, not a
    # production plan (queries/pipeline.py capped-probe convention).
    "embedding_near_dup_recall": {
        "BroadcastNestedLoopJoin": "capped exact-recall probe: id-capped slice, constant rows by construction"
    },
    "embedding_ivf_recall": {
        "BroadcastNestedLoopJoin": "capped exact-recall probe: id-capped slice, constant rows by construction"
    },
    "embedding_int8_recall": {
        "BroadcastNestedLoopJoin": "capped exact-recall probe: id-capped slice, constant rows by construction"
    },
    "embedding_pq_recall": {
        "BroadcastNestedLoopJoin": "capped exact-recall probe: id-capped slice, constant rows by construction"
    },
    "dedup_minhash_recall": {
        "BroadcastNestedLoopJoin": "capped exact-recall probe: id-capped slice, constant rows by construction"
    },
    "embedding_near_dup_pairs": {
        "BroadcastNestedLoopJoin": "capped exact differential: vec_id-capped slice, constant rows by construction"
    },
    # Other shapes whose smallness is by documented construction, not
    # provable from the plan alone:
    "audience_overlap_kmv": {
        "BroadcastNestedLoopJoin": "KMV synopsis cross: <=k=256 sketch rows per audience group (docstring contract); the data-sized exact-audit join is keyed"
    },
    "dedup_simhash_portable": {
        "BroadcastNestedLoopJoin": "id-capped portable differential (doc_id<150 inequality self-join); production path is pigeonhole-blocked simhash_dedup_pairs"
    },
    "doc_search_authority_rrf": {
        "BroadcastNestedLoopJoin": "driver-provided query-term literal table (createDataFrame -> RDD scan), bounded by the query list"
    },
    "embedding_topk_bruteforce": {
        "BroadcastNestedLoopJoin": "documented brute-force baseline: 10-query broadcast slice crossed with the corpus"
    },
    "events_chisq_independence": {
        "BroadcastNestedLoopJoin": "contingency-grid rebuild: row x column marginal cross, <= #event_types x 7 rows (docstring contract)"
    },
    "orders_bloom_prefilter": {
        "BroadcastNestedLoopJoin": "broadcast Bloom bitmap: bloom_build emits exactly ONE (m_bits, words) row by construction (operators/sketch.py contract); the keyed word agg hides the bound from the prover"
    },
    "source_drift_ks": {
        "BroadcastNestedLoopJoin": "bounded value-grid x group cross (operators/profile.py contract): distinct integer stat values x sources"
    },
    "source_drift_psi": {
        "BroadcastNestedLoopJoin": "bounded value-grid x group cross (operators/profile.py contract): distinct integer stat values x sources"
    },
    "source_drift_wasserstein": {
        "BroadcastNestedLoopJoin": "bounded value-grid x group cross (operators/profile.py contract): distinct integer stat values x sources"
    },
    # The SQL UDTF spelling is the documented slow-path surface: Spark's PTF
    # protocol calls eval per row by design. `useArrow=True` was measured
    # slower both times it was tried (2.6x on the round-5 form, 3.7x on the
    # round-13 buffered form), and Spark 4.1's @arrow_udtf is 3.5x faster at
    # 67 rows per key but 3-5x slower at one row per key (BASELINE.md "UDTF
    # overhead"); a registrar cannot see its key cardinality, so the row
    # path stays.  Both registrars carry a max_rows_per_group guard that
    # fails oversized groups with a pointer at the vectorized operator.
    "sql_surface_running_balance": {
        "BatchEvalPython": "SQL UDTF spelling: per-row PTF protocol by design, size-guarded; @arrow_udtf measured 3-5x slower at one row per key"
    },
    "sql_surface_capped_fold": {
        "BatchEvalPython": "SQL UDTF spelling: per-row PTF protocol by design, size-guarded; @arrow_udtf measured 3-5x slower at one row per key"
    },
}


def _children(node):
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _cls(node) -> str:
    return node.getClass().getSimpleName()


def _row_bound(node) -> float:
    """A provable upper bound on the subtree's output rows (inf = no proof).

    Conservative by construction: grouping-free aggregates emit exactly one
    row; literal relations carry their size; limits cap their child; joins
    multiply (an over-bound for every join type once outer-padding rows,
    <= left + right, are added); row-preserving unary nodes pass the bound
    through.  Anything else — scans, keyed aggregates, generators — is
    unbounded as far as the prover can see.
    """
    c = _cls(node)
    if c in _AGGS:
        # ADVICE r13: only a Final/Complete-mode grouping-free aggregate
        # emits one row TOTAL; a Partial-mode one emits one row PER
        # PARTITION.  The top-down walk usually hits the Final agg first,
        # but the mode check makes the bound correct rather than
        # order-dependent (an agg with zero aggregate expressions emits a
        # single empty row -> the empty mode set also bounds to 1).
        if not node.groupingExpressions().isEmpty():
            return float("inf")
        try:
            exprs = node.aggregateExpressions()
            modes = {str(exprs.apply(i).mode()) for i in range(exprs.size())}
        except Exception:
            return float("inf")
        return 1.0 if modes <= {"Final", "Complete"} else float("inf")
    if c == "RangeExec":
        try:
            return float(int(str(node.numElements())))
        except Exception:
            return float("inf")
    if c == "LocalTableScanExec":
        try:
            return float(int(node.rows().size()))
        except Exception:
            return float("inf")
    if c in _LIMITS:
        try:
            return float(int(str(node.limit())))
        except Exception:
            return float("inf")
    if c in _PASS_THROUGH:
        ch = _children(node)
        return _row_bound(ch[0]) if len(ch) == 1 else float("inf")
    if c in _JOINS:
        ch = _children(node)
        if len(ch) != 2:
            return float("inf")
        left, right = _row_bound(ch[0]), _row_bound(ch[1])
        return left * right + left + right  # inner mass + outer padding
    return float("inf")


def _build_side_bounded(node) -> bool:
    """True if the subtree provably yields <= SMALL_SIDE_ROWS rows."""
    return _row_bound(node) <= SMALL_SIDE_ROWS


def _walk(node):
    yield node
    for c in _children(node):
        yield from _walk(c)


def _audit_plan(df) -> list[str]:
    """Forbidden-node hits for one face (node names, deduped).

    Audits the pre-AQE ``sparkPlan()`` deliberately (ADVICE r13): AQE's
    runtime re-plans (SMJ/SHJ -> BHJ demotion, partition coalescing, skew
    splitting, empty-relation propagation) never INTRODUCE a nested-loop
    or cartesian node for a join that planned with equi-keys — join
    strategy degrades to CartesianProduct/BNLJ only when the logical join
    has no equi-condition, a property AQE cannot change, and such joins
    already appear as CP/BNLJ in the initial plan that this gate walks.
    Auditing the initial plan is therefore sufficient for the three
    forbidden nodes, and keeps the sweep plan-only (no execution cost
    for 224 faces).  Streaming faces ARE audited on executed plans
    (IncrementalExecution runs without AQE, so there the executed tree is
    simply the truth)."""
    from polars_numba_spark.plans import explain_string

    hits = _audit_tree(df._jdf.queryExecution().sparkPlan())
    # Python-eval nodes are simplest to spot in the plan text; BatchEvalPython
    # covers both row-UDF and row-UDTF spellings, Arrow nodes do not match.
    text = explain_string(df, "simple")
    if "BatchEvalPython" in text:
        hits.add("BatchEvalPython")
    return sorted(hits)


def _audit_batch_face(fn, spark, sf_dir: str) -> list[str]:
    """Build one batch face with checkpoint-plan capture enabled and audit
    the UNION of its final plan and every lineage-truncated subtree (r14):
    eager ``localCheckpoint`` materializations — the round's multi-consumer
    fix — cut the checkpointed subtree out of the returned frame's plan
    tree, so a forbidden node executed at build time (e.g. the k-row
    centroid BNLJ now upstream of semantic_dedup_pairs' checkpoint) would
    otherwise escape the sweep entirely and its waiver would rot into a
    false 'stale_allowlist'. Capture must already be enabled session-wide
    (sweep()/tests call ``set_plan_capture(True)``)."""
    from polars_numba_spark.plans.checkpoint import drain_captured_plans

    drain_captured_plans()  # discard any strays from a previous face
    df = fn(spark, sf_dir)
    hits = set(_audit_plan(df))
    for qe in drain_captured_plans():
        plan = qe.sparkPlan()
        hits |= _audit_tree(plan)
        if "BatchEvalPython" in plan.toString():
            hits.add("BatchEvalPython")
    return sorted(hits)


def _audit_tree(plan) -> set[str]:
    """The tree-walk half of the audit: CartesianProduct always hits;
    BroadcastNestedLoopJoin hits unless its build side carries a row-bound
    proof.  Shared by the batch leg (initial plan) and the streaming leg
    (executed micro-batch plan)."""
    hits: set[str] = set()
    for node in _walk(plan):
        c = _cls(node)
        if c == "CartesianProductExec":
            hits.add("CartesianProduct")
        elif c == "BroadcastNestedLoopJoinExec":
            side = node.buildSide().toString()
            ch = _children(node)
            build = ch[1] if side == "BuildRight" else ch[0]
            if not _build_side_bounded(build):
                hits.add("BroadcastNestedLoopJoin")
    return hits


def _text_hits(text: str) -> set[str]:
    return {node for node in FORBIDDEN if node in text}


def _audit_streaming_face(fn, spark, sf_dir: str) -> list[str]:
    """Run one streaming face with every query-launching path wrapped,
    then audit (a) each captured query's executed micro-batch plan as a
    JVM node tree (same walk + bounded-build prover as the batch leg,
    with explainInternal text as the fallback) and (b) every SQL execution
    the face triggered in the session's SQLAppStatusStore — which is where
    foreachBatch INNER batch plans land (VERDICT r13 #3)."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    status_store = spark._jsparkSession.sharedState().statusStore()
    n_exec_before = status_store.executionsList().size()

    captured = []
    orig_start = DataStreamWriter.start
    orig_to_table = DataStreamWriter.toTable

    def capturing_start(self, *args, **kwargs):
        q = orig_start(self, *args, **kwargs)
        captured.append(q)
        return q

    def capturing_to_table(self, *args, **kwargs):
        # toTable launches a query WITHOUT calling Python-level start
        # (ADVICE r13): it goes straight to the JVM writer, so it needs
        # its own wrap or a face using it would run unaudited.
        q = orig_to_table(self, *args, **kwargs)
        captured.append(q)
        return q

    DataStreamWriter.start = capturing_start
    DataStreamWriter.toTable = capturing_to_table
    try:
        fn(spark, sf_dir)
    finally:
        DataStreamWriter.start = orig_start
        DataStreamWriter.toTable = orig_to_table

    hits: set[str] = set()
    plans_seen = 0
    for q in captured:
        try:
            # Executed-plan NODE TREE of the last micro-batch: lets the
            # bounded-build prover run on streaming plans (VERDICT r13 #4)
            # instead of a text match that cannot distinguish a provably
            # bounded BNLJ from an all-pairs one.  Micro-batch plan shape
            # is trigger-invariant, so the last batch represents them all.
            plan = q._jsq.streamingQuery().lastExecution().executedPlan()
            hits |= _audit_tree(plan)
            if "BatchEvalPython" in plan.toString():
                hits.add("BatchEvalPython")
            plans_seen += 1
            continue
        except Exception:
            pass  # fall through to the text audit
        try:
            hits |= _text_hits(q._jsq.explainInternal(False))
            plans_seen += 1
        except Exception:
            continue  # a query that never ran a batch has no plan
    if not plans_seen:
        raise RuntimeError(
            f"no streaming plan captured ({len(captured)} queries started)"
        )

    # foreachBatch inner plans (and any other batch action the face ran):
    # every SQL execution lands in the status store with its physical plan
    # description; audit everything new since the face started.  The
    # store is listener-fed, so drain the bus first.
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(0.5)
    exec_list = status_store.executionsList()
    for i in range(n_exec_before, exec_list.size()):
        hits |= _text_hits(str(exec_list.apply(i).physicalPlanDescription()))
    return sorted(hits)


def _classify(name: str, hits: list[str], secs: float) -> dict:
    allowed = ALLOW.get(name, {})
    bad = [n for n in hits if n not in allowed]
    stale = [n for n in allowed if n not in hits]
    status = "clean"
    if bad:
        status = "forbidden"
    elif stale:
        status = "stale_allowlist"
    elif hits:
        status = "allowed"
    return {
        "status": status,
        "hits": hits,
        "bad": bad,
        "stale": stale,
        "plan_secs": round(secs, 2),
    }


def sweep(sf_dir: str) -> dict:
    from polars_numba_spark import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="plan-gate")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    from polars_numba_spark.plans.checkpoint import set_plan_capture

    set_plan_capture(True)  # audit lineage-truncated checkpoint subtrees too
    results: dict[str, dict] = {}
    streaming: dict[str, dict] = {}
    for name in sorted(queries):
        is_stream = name.startswith("streaming_")
        bucket = streaming if is_stream else results
        t0 = time.time()
        try:
            if is_stream:
                hits = _audit_streaming_face(queries[name], spark, sf_dir)
            else:
                hits = _audit_batch_face(queries[name], spark, sf_dir)
        except Exception as exc:  # a face that cannot even plan is a failure
            bucket[name] = {"status": "error", "detail": repr(exc)[:300]}
            continue
        bucket[name] = _classify(name, hits, time.time() - t0)
    set_plan_capture(False)
    bad_states = ("forbidden", "stale_allowlist", "error")
    return {
        "sf_dir": sf_dir,
        "swept": len(results),
        "swept_streaming": len(streaming),
        "clean": sum(1 for r in results.values() if r["status"] == "clean"),
        "clean_streaming": sum(
            1 for r in streaming.values() if r["status"] == "clean"
        ),
        "allowed": sorted(
            n
            for n, r in {**results, **streaming}.items()
            if r["status"] == "allowed"
        ),
        "failures": {
            n: r
            for n, r in {**results, **streaming}.items()
            if r["status"] in bad_states
        },
        "results": results,
        "streaming": streaming,
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"
    )
    out_path = None
    if "--json" in sys.argv:
        out_path = sys.argv[sys.argv.index("--json") + 1]

    report = sweep(sf_dir)
    summary = {
        "swept": report["swept"],
        "clean": report["clean"],
        "swept_streaming": report["swept_streaming"],
        "clean_streaming": report["clean_streaming"],
        "allowed": report["allowed"],
        "failures": {n: {k: v for k, v in r.items() if k != "plan_secs"}
                     for n, r in report["failures"].items()},
    }
    print(json.dumps(summary, indent=2))
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(report, fh, indent=2)
    return 1 if report["failures"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
