"""Scale/skew soak harness (round 5): measure, don't assert, the 100-TB
posture.

Two synthetic stress variants of an existing SF directory:

- **replicated xN**: id-offset union of documents / embeddings / events
  (text, vectors and values unchanged — every document gains N-1 exact
  copies, so dedup TRUE-PAIR volume grows ~N^2 while the bucketed paths
  must stay ~linear in their non-pair work). Other tables are copied
  verbatim so any catalog query runs against the directory.
- **skewed**: same shape as the source but with deliberate hot keys —
  40% of events land on one user_id (grouped fold/scan state soak) and
  30% of documents share one boilerplate text (hot-shingle soak for the
  passage operators and the via='auto' router).

`run_soak` times a fixed set of heavy catalog queries (the full-corpus
ones — subset-filtered queries like dedup_clusters would not see the
replicas) at 1x and Nx and reports the wall-clock ratio per query. A
bucketed/blocked path should scale ≤ ~linear in the INPUT (ratio ≲ N plus
the true-pair mass, which for dedup outputs legitimately grows ~N^2 — the
report therefore also records output rows at both scales so a superlinear
ratio can be attributed to result volume, not plan shape).

Usage:
    python tools/scale_soak.py               # sf0.1, 10x, writes SCALE.md
    python tools/scale_soak.py --factor 3 --sf-dir /root/testdata/sf0.01
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# queries with no doc_id/vec_id subset filter — the replicas are visible.
# (embedding_near_dup_pairs is deliberately ABSENT: the catalog entry is the
# vec_id<1000 capped exact differential, blind to the id-offset replicas —
# the production bucketed operator is soaked directly by run_neardup_soak.)
SOAK_QUERIES = [
    "dedup_exact_digests",
    "dedup_jaccard_pairs",
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    "doc_duplicated_passages",
    "doc_duplicated_spans",
    "doc_remove_passages",
    "doc_tfidf_top_terms",
    # semantic_dedup_pairs joined the soak set in round 11: the catalog
    # face now SELF-SCALES k (k=None -> k_for_corpus = ceil(sqrt n),
    # mirrored in the oracle by _K_SELF_SCALED), so soaking the face
    # directly measures the production posture — see SCALE.md's round-11
    # soak and run_semdedup_soak (the original operator-level curve).
    "embedding_topk_bruteforce",
    "kernel_fold_event_cents",
    "kernel_scan_user_balance_cents",
]

REPLICATED_TABLES = {
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "event_id",
}
ALL_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
ID_OFFSET = 10_000_000  # replica k adds k * ID_OFFSET to the id column

BOILERPLATE = (
    "this page is part of the archive please do not reproduce without "
    "permission all rights reserved contact the webmaster for takedown "
    "requests terms of service apply to every visitor of this site"
)


def build_replicated(
    spark: SparkSession, src_dir: str, out_dir: str, factor: int
) -> None:
    """Id-offset union xfactor for the three pipeline tables; verbatim
    copies of the rest (single-file parquet -> file copy, no Spark job)."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for table in ALL_TABLES:
        src = f"{src_dir}/{table}.parquet"
        dst = out / f"{table}.parquet"
        if table not in REPLICATED_TABLES:
            if not dst.exists():
                shutil.copy(src, dst)
            continue
        id_col = REPLICATED_TABLES[table]
        base = spark.read.parquet(src)
        replicas = [
            base.withColumn(
                id_col, (F.col(id_col) + F.lit(k * ID_OFFSET)).cast("long")
            )
            for k in range(factor)
        ]
        functools.reduce(DataFrame.unionByName, replicas).write.mode(
            "overwrite"
        ).parquet(str(dst))


def build_mutated(
    spark: SparkSession, src_dir: str, out_dir: str, factor: int
) -> None:
    """Non-degenerate containment variant (r5 verdict #4): documents
    replicated xfactor with ~30% of token VALUES perturbed per replica.

    The perturbation hashes (token, replica) — no position — so a replica
    mutates consistently: a passage shared between docs A and B in the
    source mutates IDENTICALLY in replica k of both, so every original
    containment pair re-appears once per replica and true-pair mass grows
    ~linearly. Cross-replica pairs die (different replicas perturb
    differently; an 8-token shingle survives two independent 30%
    perturbations with p≈0.49^8), unlike the exact-copy build where every
    replica pair is a true pair and the soak would measure O(N²) output
    mass instead of plan shape."""
    from polars_numba_spark.operators.text import tokens

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    base = spark.read.parquet(f"{src_dir}/documents.parquet")
    reps = []
    for k in range(factor):
        if k == 0:
            reps.append(base)
            continue
        mutated = base.withColumn(
            "text",
            F.concat_ws(
                " ",
                F.transform(
                    tokens("text"),
                    lambda t: F.when(
                        F.pmod(
                            F.xxhash64(F.concat(t, F.lit(f"#rep{k}"))),
                            F.lit(10),
                        )
                        < 3,
                        F.concat(t, F.lit(f"m{k}")),
                    ).otherwise(t),
                ),
            ),
        ).withColumn(
            "doc_id", (F.col("doc_id") + F.lit(k * ID_OFFSET)).cast("long")
        )
        reps.append(mutated)
    functools.reduce(DataFrame.unionByName, reps).write.mode(
        "overwrite"
    ).parquet(str(out / "documents.parquet"))


def build_skewed(spark: SparkSession, src_dir: str, out_dir: str) -> None:
    """Hot-key variant: 40% of events on one user, 30% of documents one
    boilerplate text. Same row counts as the source."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for table in ALL_TABLES:
        src = f"{src_dir}/{table}.parquet"
        dst = out / f"{table}.parquet"
        if table == "events":
            spark.read.parquet(src).withColumn(
                "user_id",
                F.when(
                    F.pmod(F.xxhash64("event_id"), F.lit(10)) < 4, F.lit(42)
                )
                .otherwise(F.col("user_id"))
                .cast("long"),
            ).write.mode("overwrite").parquet(str(dst))
        elif table == "documents":
            spark.read.parquet(src).withColumn(
                "text",
                F.when(
                    F.pmod(F.col("doc_id"), F.lit(10)) < 3, F.lit(BOILERPLATE)
                ).otherwise(F.col("text")),
            ).write.mode("overwrite").parquet(str(dst))
        elif not dst.exists():
            shutil.copy(src, dst)


def _time_query(spark: SparkSession, name: str, sf_dir: str) -> tuple[float, int]:
    """(best-of-2 warm seconds, output rows). The count() pass also returns
    result volume so superlinear wall-clock can be attributed."""
    from polars_numba_spark.plans.checkpoint import release_session_checkpoints
    from polars_numba_spark.queries import catalog

    fn = catalog.spark_queries()[name]
    n_rows = fn(spark, sf_dir).count()  # warm + volume
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
        release_session_checkpoints(spark)
        spark.catalog.clearCache()
    return best, n_rows


def run_soak(
    spark: SparkSession,
    base_dir: str,
    big_dir: str,
    factor: int,
    queries: list[str] | None = None,
) -> dict:
    results = {}
    for name in queries or SOAK_QUERIES:
        t1, n1 = _time_query(spark, name, base_dir)
        tn, nn = _time_query(spark, name, big_dir)
        results[name] = {
            "sec_1x": round(t1, 3),
            f"sec_{factor}x": round(tn, 3),
            "ratio": round(tn / t1, 2) if t1 > 0 else None,
            "rows_1x": n1,
            f"rows_{factor}x": nn,
        }
        print(json.dumps({name: results[name]}), flush=True)
    return results


def _time_operator(spark: SparkSession, build) -> tuple[float, int]:
    """The `_time_query` protocol (count warm-up + best-of-2 noop sinks +
    per-run session hygiene) for an operator-level DataFrame factory — ONE
    timing implementation, so operator soaks measure under the same cache
    conditions as the catalog-query numbers they sit next to in SCALE.md."""
    from polars_numba_spark.plans.checkpoint import release_session_checkpoints

    n = build().count()
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
        release_session_checkpoints(spark)
        spark.catalog.clearCache()
    return best, n


def _operator_soak(
    spark: SparkSession,
    name: str,
    points: list[tuple[str, object, dict]],
    factor: int,
) -> dict:
    """Run `_time_operator` at each (label, build, extra_fields) point and
    report the cross-scale ratio under ``name``."""
    out = {}
    for label, build, extra in points:
        best, n = _time_operator(spark, build)
        out[f"sec_{label}"] = round(best, 3)
        out[f"rows_{label}"] = n
        out.update(extra)
    out["ratio"] = (
        round(out[f"sec_{factor}x"] / out["sec_1x"], 2) if out["sec_1x"] else None
    )
    result = {name: out}
    print(json.dumps(result), flush=True)
    return result


def run_neardup_soak(
    spark: SparkSession, base_dir: str, big_dir: str, factor: int
) -> dict:
    """Soak the PRODUCTION bucketed embedding near-dup operator over the
    full table at both scales (the catalog's oracled entry is the capped
    exact differential and cannot see the replicas)."""
    from polars_numba_spark.operators import similarity as S
    from polars_numba_spark.sources import load_table

    def build(d):
        e = load_table(spark, "embeddings", d)
        return lambda: S.embedding_near_dup_pairs(
            e, threshold=0.4, n_planes=6, n_tables=4
        )

    return _operator_soak(
        spark,
        "embedding_near_dup_pairs_operator",
        [("1x", build(base_dir), {}), (f"{factor}x", build(big_dir), {})],
        factor,
    )


def run_semdedup_soak(
    spark: SparkSession, base_dir: str, big_dir: str, factor: int
) -> dict:
    """Soak SemDeDup THE WAY IT SCALES: k grows with the corpus so cluster
    size (and with it the within-cluster pair stage) stays bounded — the
    operator docstring's production recipe. Since round 11 the catalog
    face itself self-scales (k=None -> k_for_corpus); this operator-level
    curve keeps the explicit-k variant measured alongside it."""
    from polars_numba_spark.operators.vector import semantic_dedup_pairs
    from polars_numba_spark.sources import load_table

    def build(d, k):
        e = load_table(spark, "embeddings", d)
        return lambda: semantic_dedup_pairs(e, k=k, iterations=2, threshold=0.3)

    return _operator_soak(
        spark,
        "semantic_dedup_pairs_operator",
        [
            ("1x", build(base_dir, 8), {"k_1x": 8}),
            (f"{factor}x", build(big_dir, 8 * factor), {f"k_{factor}x": 8 * factor}),
        ],
        factor,
    )


def run_containment_soak(
    spark: SparkSession, base_dir: str, mut_dir: str, factor: int
) -> dict:
    """Soak the complete prefix-filtered containment search on the MUTATED
    replica build (see build_mutated) — true pairs ~linear in input, so
    the curve measures the prefix join's fan-out, not answer mass."""
    from polars_numba_spark.operators.dedup import containment_join
    from polars_numba_spark.sources import load_table

    def build(d):
        docs = load_table(spark, "documents", d)
        return lambda: containment_join(docs, threshold=0.9)

    return _operator_soak(
        spark,
        "containment_join_operator",
        [("1x", build(base_dir), {}), (f"{factor}x", build(mut_dir), {})],
        factor,
    )


def run_keeplist_soak(
    spark: SparkSession, base_dir: str, big_dir: str, factor: int
) -> dict:
    """Soak the PAIR-FREE emit='keeplist' contract (r6 verdict #3) on the
    replicated (duplicate-heavy) build — the exact case where pair
    emission's output is O(N²) by construction (the 46.8×/109.7M-pair
    simhash line). Keep-list output is one row per input doc at any
    duplicate density; the curve should track INPUT (~linear), decoupled
    from true-pair mass."""
    from polars_numba_spark.operators.dedup import (
        minhash_dedup_pairs,
        simhash_dedup_pairs,
    )
    from polars_numba_spark.sources import load_table

    def build_sim(d):
        docs = load_table(spark, "documents", d)
        return lambda: simhash_dedup_pairs(
            docs, bits=32, max_hamming=3, emit="keeplist"
        )

    def build_min(d):
        docs = load_table(spark, "documents", d)
        return lambda: minhash_dedup_pairs(
            docs, num_hashes=32, bands=8, threshold=0.8, shingle_n=8,
            emit="keeplist",
        )

    out = _operator_soak(
        spark,
        "simhash_keeplist_operator",
        [("1x", build_sim(base_dir), {}), (f"{factor}x", build_sim(big_dir), {})],
        factor,
    )
    out.update(
        _operator_soak(
            spark,
            "minhash_keeplist_operator",
            [("1x", build_min(base_dir), {}), (f"{factor}x", build_min(big_dir), {})],
            factor,
        )
    )
    return out


def run_kmv_soak(
    spark: SparkSession, base_dir: str, big_dir: str, factor: int
) -> dict:
    """Soak the bounded-state batch KMV sketch (round 6): time the
    operator at both scales AND count the rows its mapInPandas partial
    stage sends into the group-by shuffle — the bounded-shuffle contract
    is ≤ k × n_partitions per group, independent of distinct count."""
    from polars_numba_spark.operators.sketch import kmv_distinct, kmv_partials
    from polars_numba_spark.sources import load_table

    def build(d):
        e = load_table(spark, "events", d)
        return lambda: kmv_distinct(e, "user_id", "event_type", k=64)

    out = _operator_soak(
        spark,
        "kmv_distinct_operator",
        [("1x", build(base_dir), {}), (f"{factor}x", build(big_dir), {})],
        factor,
    )
    shuffle_rows = {}
    for label, d in (("1x", base_dir), (f"{factor}x", big_dir)):
        e = load_table(spark, "events", d)
        shuffle_rows[f"shuffle_rows_{label}"] = kmv_partials(
            e, "user_id", ["event_type"], 64
        ).count()
        shuffle_rows[f"distinct_{label}"] = (
            e.select("event_type", "user_id").distinct().count()
        )
    out["kmv_distinct_operator"].update(shuffle_rows)
    print(json.dumps({"kmv_shuffle_bound": shuffle_rows}), flush=True)
    return out


def run_winnowing_soak(
    spark: SparkSession, base_dir: str, big_dir: str, factor: int
) -> dict:
    """Soak the MOSS overlap operator over the FULL corpus at both scales
    (VERDICT r8 #5 — the catalog face is a fixed doc slice, blind to the
    replicas). The hot-fingerprint boilerplate cut scales with the
    replication factor (cap x factor), the same corpus-relative rescale
    as the SemDeDup k — exact replicas multiply every fingerprint's
    document frequency by the factor, so a fixed absolute cap would
    reclassify ordinary fingerprints as boilerplate at Nx. Replica pairs
    are TRUE overlaps, so output mass legitimately grows ~N² per original
    document — rows are reported for exactly that attribution."""
    from polars_numba_spark.operators.text import winnowing_overlap_pairs
    from polars_numba_spark.sources import load_table

    def build(d, cap):
        docs = load_table(spark, "documents", d)
        return lambda: winnowing_overlap_pairs(
            docs, k=8, w=4, portable=False, hot_df_cap=cap, threshold=0.2
        )

    return _operator_soak(
        spark,
        "winnowing_overlap_operator",
        [
            ("1x", build(base_dir, 50), {"hot_df_cap_1x": 50}),
            (
                f"{factor}x",
                build(big_dir, 50 * factor),
                {f"hot_df_cap_{factor}x": 50 * factor},
            ),
        ],
        factor,
    )


def run_golden_soak(spark: SparkSession, base_dir: str, factor: int) -> dict:
    """Soak the ER golden-record components loop on a replicated customer
    frame (VERDICT r8 #5 — the one session-3 plan whose iteration count
    could grow with data). Replicas keep IDENTICAL names under offset
    keys — the cross-system duplicate-record shape real ER input has —
    so every block's membership multiplies by the factor and match-edge
    mass grows ~factor² while entity count stays fixed; the components
    loop must absorb that edge mass without its round count exploding
    (cluster diameter gains ~1 from the dense replica cliques)."""
    from polars_numba_spark.queries.tpch_extra import golden_record
    from polars_numba_spark.sources import load_table

    def build(n):
        c = load_table(spark, "customer", base_dir)
        if n > 1:
            reps = [c] + [
                c.withColumn(
                    "c_custkey", F.col("c_custkey") + F.lit(i * 10_000_000)
                )
                for i in range(1, n)
            ]
            c = functools.reduce(DataFrame.unionByName, reps)
        return lambda: golden_record(c)

    return _operator_soak(
        spark,
        "golden_record_operator",
        [("1x", build(1), {}), (f"{factor}x", build(factor), {})],
        factor,
    )


def run_skew(spark: SparkSession, base_dir: str, skew_dir: str) -> dict:
    """Skew soak: the grouped kernel paths and both physical forms of the
    shingle-fraction operator on the hot-key variant, vs the uniform base."""
    from polars_numba_spark.operators.dedup import (
        _choose_shingle_via,
        duplicated_shingle_fraction,
    )
    from polars_numba_spark.operators.text import token_shingles
    from polars_numba_spark.sources import load_table

    results = {}
    for name in ("kernel_fold_event_cents", "kernel_scan_user_balance_cents"):
        tu, _ = _time_query(spark, name, base_dir)
        ts, _ = _time_query(spark, name, skew_dir)
        results[name] = {"uniform_sec": round(tu, 3), "skew_sec": round(ts, 3)}
        print(json.dumps({name: results[name]}), flush=True)

    docs = load_table(spark, "documents", skew_dir)

    def _explode(d):
        return d.select(
            F.col("doc_id").alias("id"),
            F.explode(token_shingles("text", 8)).alias("__sh"),
        )

    chosen = _choose_shingle_via(docs, _explode, 0.05, 0.1)
    forms = {}
    for via in ("window", "join"):
        t0 = time.perf_counter()
        duplicated_shingle_fraction(docs, via=via).write.format("noop").mode(
            "overwrite"
        ).save()
        forms[via] = round(time.perf_counter() - t0, 3)
    results["duplicated_shingle_fraction"] = {
        "auto_choice_on_skew": chosen,
        **{f"{k}_sec": v for k, v in forms.items()},
    }
    print(json.dumps({"duplicated_shingle_fraction": results["duplicated_shingle_fraction"]}), flush=True)
    return results


def write_scale_md(
    soak: dict, skew: dict, factor: int, sf_dir: str, path: str
) -> None:
    """Render the measured curves as the committed SCALE.md artifact."""
    lines = [
        "# SCALE.md — measured scaling curves (round 5)",
        "",
        f"Input: `{sf_dir}` replicated **x{factor}** by id-offset union of",
        "documents/embeddings/events (every document gains exact copies, so",
        "dedup TRUE-PAIR output legitimately grows ~N² while the bucketed",
        "non-pair work must stay ~linear). Harness: `tools/scale_soak.py`,",
        "local[32], warm session, best-of-2 noop-sink runs per point.",
        "",
        "## Replicated soak",
        "",
        "A time ratio ≲ N means the plan scales linearly in the input; a",
        "larger ratio is attributable to output volume when the rows ratio",
        "grows faster than N (exact-duplicate pair mass), and to plan shape",
        "otherwise.",
        "",
        f"| query | sec 1x | sec {factor}x | time ratio | rows 1x | rows {factor}x | rows ratio |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, r in soak.items():
        rows_ratio = (
            round(r[f"rows_{factor}x"] / r["rows_1x"], 1)
            if r["rows_1x"]
            else float("inf")
        )
        lines.append(
            f"| {name} | {r['sec_1x']} | {r[f'sec_{factor}x']} | "
            f"**{r['ratio']}x** | {r['rows_1x']} | {r[f'rows_{factor}x']} | "
            f"{rows_ratio}x |"
        )
    lines += [
        "",
        "## Skew soak",
        "",
        "Hot-key variant of the same SF: 40% of events on one user_id, 30%",
        "of documents one boilerplate text. Same row counts as the uniform",
        "base — any slowdown is pure key-distribution hazard.",
        "",
        "| query | uniform sec | skewed sec |",
        "|---|---|---|",
    ]
    for name, r in skew.items():
        if "uniform_sec" in r:
            lines.append(f"| {name} | {r['uniform_sec']} | {r['skew_sec']} |")
    dsf = skew.get("duplicated_shingle_fraction", {})
    if dsf:
        lines += [
            "",
            "`duplicated_shingle_fraction` on the skewed corpus: window form "
            f"{dsf.get('window_sec')}s vs join form {dsf.get('join_sec')}s; "
            f"`via='auto'` chose **{dsf.get('auto_choice_on_skew')}**.",
        ]
    lines.append("")
    Path(path).write_text("\n".join(lines))
    print(f"wrote {path}", flush=True)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--out", default=str(Path(__file__).resolve().parent.parent / ".scale"))
    ap.add_argument("--queries", default=None, help="comma-separated subset")
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument("--scale-md", default=None, help="write SCALE.md here")
    args = ap.parse_args()

    from polars_numba_spark import get_spark

    spark = get_spark(app_name="scale-soak")
    spark.sparkContext.setLogLevel("ERROR")

    big_dir = f"{args.out}/x{args.factor}"
    skew_dir = f"{args.out}/skew"
    mut_dir = f"{args.out}/mut{args.factor}"
    if not args.skip_build:
        print("building replicated variant...", flush=True)
        build_replicated(spark, args.sf_dir, big_dir, args.factor)
        print("building skewed variant...", flush=True)
        build_skewed(spark, args.sf_dir, skew_dir)
        print("building mutated variant...", flush=True)
        build_mutated(spark, args.sf_dir, mut_dir, args.factor)

    queries = args.queries.split(",") if args.queries else None
    soak = run_soak(spark, args.sf_dir, big_dir, args.factor, queries)
    soak.update(run_neardup_soak(spark, args.sf_dir, big_dir, args.factor))
    soak.update(run_semdedup_soak(spark, args.sf_dir, big_dir, args.factor))
    soak.update(run_containment_soak(spark, args.sf_dir, mut_dir, args.factor))
    soak.update(run_kmv_soak(spark, args.sf_dir, big_dir, args.factor))
    soak.update(run_winnowing_soak(spark, args.sf_dir, big_dir, args.factor))
    soak.update(run_golden_soak(spark, args.sf_dir, args.factor))
    skew = run_skew(spark, args.sf_dir, skew_dir)
    print(json.dumps({"soak": soak, "skew": skew}))
    if args.scale_md:
        write_scale_md(soak, skew, args.factor, args.sf_dir, args.scale_md)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())


def run_incremental_soak(
    spark: SparkSession, base_dir: str, big_dir: str, factor: int
) -> dict:
    """Fixed-size ingest batch (the 60 docs with original ids < 60 — id
    offsets keep replicas out) near-dup-checked against a corpus that
    grows ×factor: the delta-ingest contract says wall-clock tracks the
    CORPUS (banding is linear, the broadcast join fans out per bucket),
    never corpus²; output grows ~linearly on the replicated build (each
    new doc gains its replicas as true pairs)."""
    from polars_numba_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_candidates_delta,
    )

    def build(sf_dir):
        def make():
            d = spark.read.parquet(f"{sf_dir}/documents.parquet")
            new = d.where(F.col("doc_id") < 60)
            corpus = d.where(F.col("doc_id") >= 60)
            cands = minhash_lsh_candidates_delta(
                corpus, new, num_hashes=32, bands=8
            )
            return jaccard_pairs(d, cands, prune_threshold=0.8).where(
                F.col("jaccard") >= 0.8
            )
        return make

    return _operator_soak(
        spark,
        "incremental_dedup_fixed_batch",
        [("1x", build(base_dir), {}), (f"{factor}x", build(big_dir), {})],
        factor,
    )
