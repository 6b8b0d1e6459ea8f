"""PageRank over DataFrame edge lists — the random-walk importance family
next to :func:`~polars_numba_spark.operators.dedup.connected_components`:
components answer "which docs are the same", PageRank answers "which nodes
are central", the signal a curation pipeline uses for source weighting and
corpus-centrality scoring (the web-graph ancestor of CommonCrawl URL
importance weights).

ENGINE-PORTABLE by construction, unlike folklore "iterative ⇒ rows-only"
implementations: each iteration rounds every edge contribution
``rank/outdeg`` to 12 decimals and accumulates them as DECIMAL(28,14) —
exact addition, so neither Spark's shuffle order nor DuckDB's aggregation
order can perturb a single bit — then applies the damping update in plain
(deterministic, identically-associated) double arithmetic and re-rounds.
A fixed iteration count therefore unrolls into a flat SQL oracle whose
ranks match Spark's hash-for-hash.

Scale shape: one iteration = one equi-join of the edge list against the
rank vector plus one groupBy on the destination node — both shuffles key
on node id, AQE sizes the exchanges, and the edge list is materialized
once via a pinned checkpoint (``plans.checkpoint.checkpoint_rounds``) so
round N does not re-derive the graph construction N times (the same
lineage trap connected_components pins).
No driver-side state beyond the Python loop counter; no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list → ``(node,
    pagerank)`` for every node appearing as a source or destination.

    Requires every node to have at least one out-edge (symmetrize an
    undirected graph first — then the property holds automatically and no
    dangling-mass correction is needed; this is the posture the
    doc–term bipartite face uses). ``iterations`` is a fixed count, not a
    convergence test: determinism and the unrolled SQL oracle both need
    the round count to be data-independent.
    """
    from polars_numba_spark.plans.checkpoint import checkpoint_rounds

    with checkpoint_rounds() as ck:
        e = ck.pin(
            edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        )
        nodes = ck.pin(
            e.select(F.col("src").alias("node"))
            .union(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        outdeg = e.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("outdeg")
        )
        # Pre-attach the out-degree to the edge list ONCE (r14): the loop used
        # to join `ranks` against `e` and then against `outdeg` every
        # iteration — two |nodes|-keyed shuffles of the rank vector per round
        # where one suffices. outdeg is a static per-src property of the
        # checkpointed edge set, so (src, dst, outdeg) is materialized before
        # the loop and each iteration pays exactly one join + one aggregate.
        # Arithmetic unchanged: the same round(rank / outdeg, 12) per edge.
        e_deg = ck.pin(
            e.join(outdeg, e.src == outdeg.node).select("src", "dst", "outdeg")
        )
        n_nodes = nodes.agg(F.count(F.lit(1)).alias("__n"))

        ranks = nodes.crossJoin(F.broadcast(n_nodes)).select(
            "node", F.round(F.lit(1.0) / F.col("__n"), 12).alias("rank")
        )
        for _ in range(iterations):
            contribs = (
                e_deg.join(ranks, e_deg.src == ranks.node)
                .select(
                    F.col("dst").alias("node"),
                    F.round(F.col("rank") / F.col("outdeg"), 12).alias("__c"),
                )
            )
            summed = contribs.groupBy("node").agg(
                F.sum(F.col("__c").cast("decimal(28,14)")).alias("__s")
            )
            # truncate lineage per round: without this, round k's plan embeds
            # k copies of the join tree and Catalyst analysis goes quadratic
            ranks = ck.step(
                "ranks",
                nodes.join(summed, "node", "left")
                .crossJoin(F.broadcast(n_nodes))
                .select(
                    "node",
                    F.round(
                        F.lit(1.0 - damping) / F.col("__n")
                        + F.lit(damping)
                        * F.coalesce(F.col("__s").cast("double"), F.lit(0.0)),
                        12,
                    ).alias("rank"),
                ),
            )
    return ranks


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "id",
) -> DataFrame:
    """Multi-source BFS over a directed edge list → ``(id, hops)``: the
    minimum hop count from any seed, for every node reachable within
    ``max_hops`` (seeds themselves at 0). The shortest-path face next to
    :func:`pagerank` (centrality) and ``connected_components``
    (membership) — blast-radius / influence-radius queries over match
    graphs and link graphs. Symmetrize first for undirected semantics.

    Scale shape: classic frontier expansion — each round joins the
    CURRENT FRONTIER (never the full visited set) to the edge list, then
    anti-joins the visited set to keep only newly discovered nodes; both
    shuffles key on node id. Per-round cost tracks the frontier's edge
    fan-out, the visited set grows monotonically and is localCheckpointed
    each round (the components-loop lineage pin — round k's plan must not
    embed k join trees). ``max_hops`` is a fixed bound, not a convergence
    test, so the loop unrolls into a bounded recursive-CTE oracle.
    Integer hop arithmetic — nothing to round, every engine agrees."""
    from polars_numba_spark.plans.checkpoint import checkpoint_rounds

    with checkpoint_rounds() as ck:
        e = ck.pin(edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v")))
        visited = ck.step(
            "visited",
            seeds.select(
                F.col(seed_col).alias("id"), F.lit(0).cast("int").alias("hops")
            ),
        )
        frontier = visited
        for h in range(1, max_hops + 1):
            nxt = (
                e.join(frontier, e.u == frontier.id)
                .select(F.col("v").alias("id"))
                .distinct()
                .join(visited.select("id"), "id", "left_anti")
                .select("id", F.lit(h).cast("int").alias("hops"))
            )
            visited = ck.step("visited", visited.unionByName(nxt))
            frontier = visited.where(F.col("hops") == h)
    return visited


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> tuple[DataFrame, DataFrame]:
    """HITS (Kleinberg hubs & authorities) over a directed edge list →
    ``(hubs: (node, hub), auths: (node, auth))`` — the bipartite-centrality
    sibling of :func:`pagerank`: PageRank scores a single random walk,
    HITS scores the two SIDES of a link structure (who points well / who
    is pointed at well), the shape behind query→document, customer→item
    and doc→term importance splits.

    ENGINE-PORTABLE by the pagerank recipe: every mutual-reinforcement
    step accumulates 12-decimal-rounded contributions as DECIMAL(28,14)
    (exact addition, aggregation-order-proof), then L1-normalizes in
    plain double against the exact decimal total and re-rounds to 12
    decimals, so a fixed ``iterations`` unrolls into a flat SQL oracle
    that matches hash-for-hash. Hub scores live on distinct sources,
    authority scores on distinct destinations (a node appearing on both
    sides carries both, keyed independently).

    Scale shape: each half-step is one equi-join of the edge list against
    the current score vector plus one groupBy on the opposite endpoint —
    both shuffles key on node id; the L1 total is a broadcast 1-row
    aggregate. The edge list is localCheckpointed once and reused by all
    2·iterations half-steps."""
    from polars_numba_spark.plans.checkpoint import checkpoint_rounds

    with checkpoint_rounds() as ck:
        e = ck.pin(
            edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        )
        srcs = e.select("src").distinct()
        n_src = srcs.agg(F.count(F.lit(1)).alias("__n"))
        hubs = srcs.crossJoin(F.broadcast(n_src)).select(
            "src", F.round(F.lit(1.0) / F.col("__n"), 12).alias("hub")
        )
        auths = None
        for _ in range(iterations):
            a_raw = (
                e.join(hubs, "src")
                .groupBy("dst")
                .agg(
                    F.sum(
                        F.round(F.col("hub"), 12).cast("decimal(28,14)")
                    ).alias("__ar")
                )
            )
            a_tot = a_raw.agg(F.sum("__ar").alias("__t"))
            auths = ck.step(
                "auths",
                a_raw.crossJoin(F.broadcast(a_tot)).select(
                    "dst",
                    F.round(
                        F.col("__ar").cast("double") / F.col("__t").cast("double"),
                        12,
                    ).alias("auth"),
                ),
            )
            h_raw = (
                e.join(auths, "dst")
                .groupBy("src")
                .agg(F.sum(F.col("auth").cast("decimal(28,14)")).alias("__hr"))
            )
            h_tot = h_raw.agg(F.sum("__hr").alias("__t"))
            hubs = ck.step(
                "hubs",
                h_raw.crossJoin(F.broadcast(h_tot)).select(
                    "src",
                    F.round(
                        F.col("__hr").cast("double") / F.col("__t").cast("double"),
                        12,
                    ).alias("hub"),
                ),
            )
        return (
            hubs.select(F.col("src").alias("node"), "hub"),
            auths.select(F.col("dst").alias("node"), "auth"),
        )
