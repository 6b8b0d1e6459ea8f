"""Deduplication operators for training-data pipelines.

Five levels, all expressed as declarative DataFrame plans (no Python UDFs —
everything stays in whole-stage codegen) so they scale as shuffles that AQE
can right-size:

- **exact** — hash-groupBy on a content digest (md5). One shuffle on the
  digest; at 100 TB this is the cheapest possible dedup and the digest key
  is uniformly distributed (no skew).
- **fingerprint** — order-insensitive near-dup: md5 over the sorted distinct
  token set (catches token permutations / re-orderings).
- **minhash LSH** — Jaccard near-dup at scale: k independent min-hashes of
  the token set via seeded ``xxhash64``, banded into b bands; docs sharing a
  band bucket are candidates (join on the band key, NOT all-pairs), then
  candidates are verified with exact Jaccard. Cost ≈ O(docs × k) + a join
  whose fan-out is controlled by band width — the standard way to avoid the
  O(n²) similarity matrix.
- **simhash** — Hamming-distance near-dup: sign-aggregated bit vector of
  token hashes; bucket by the top bits, verify by Hamming distance.
- **embedding cosine** — semantic near-dup over the embeddings table;
  see :mod:`similarity` for the kNN machinery.

Exact Jaccard (the verifier) is also exposed stand-alone with a full SQL
oracle — it anchors the approximate variants' correctness in tests.
"""

from __future__ import annotations

import weakref
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polars_numba_spark.operators._prep import as_list
from polars_numba_spark.operators.skew import fair_share_threshold
from polars_numba_spark.operators.text import distinct_tokens, token_shingles
from polars_numba_spark.sources import widen


def _token_sets(col: Column | str, shingle_n: int | None) -> Column:
    """The comparison unit for Jaccard/minhash: distinct unigram tokens by
    default, or distinct n-token shingles when ``shingle_n`` is set.
    Shingling is standard MinHash practice — unigram sets saturate on any
    corpus with shared vocabulary (documents that merely draw words from
    the same pool look like near-dups), while n-token shingles require
    shared *runs*, collapsing the candidate volume by orders of magnitude
    (measured on this corpus: 23% of pairs at unigram jaccard ≥ 0.8 vs
    0.002% at 8-shingle jaccard ≥ 0.2)."""
    if shingle_n is None:
        return distinct_tokens(col)
    return F.array_sort(token_shingles(col, shingle_n))


def exact_dedup_key(col: Column | str) -> Column:
    """Content digest for exact dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative per exact content digest.

    Representative selection is a ``min_by`` aggregate (the whole row as a
    struct, ordered by id), not a window ``row_number``: the window form
    shuffles EVERY row to its digest partition before discarding the
    duplicates, while the aggregate partial-combines map-side — at corpus
    scale the exchange carries one candidate row per digest per mapper,
    which for high-duplication corpora is a fraction of the input.

    The ordering key is null-safe: bare ``min_by`` ignores rows whose
    ordering value is null, so a digest group of all-null ids would yield
    an all-NULL representative. Ordering by ``(id IS NULL, id)`` sorts
    nulls LAST and always keeps a real row, matching the window form's
    nulls-last row_number.
    """
    cols = df.columns
    order_key = F.struct(F.col(id_col).isNull(), F.col(id_col))
    return (
        df.withColumn("__digest", exact_dedup_key(text_col))
        .groupBy("__digest")
        .agg(F.min_by(F.struct(*cols), order_key).alias("__rep"))
        .select(*[F.col(f"__rep.{c}").alias(c) for c in cols])
    )


def md5_long(col: Column) -> Column:
    """Engine-portable 60-bit hash: the first 15 hex chars of md5 as a
    long — reproducible in any engine with md5 (the cross-oracle hash)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_signature(
    col: Column | str,
    num_hashes: int = 32,
    portable: bool = False,
    shingle_n: int | None = None,
) -> Column:
    """k seeded min-hashes over the distinct token (or shingle) set.

    Default: ``xxhash64(token, seed)`` — a JVM builtin, so the whole
    signature is one codegen'd expression; per-doc cost O(tokens × k) with
    no shuffle. ``portable=True`` swaps in md5-derived hashes (seed as a
    ``#i`` suffix) reproducible in DuckDB — ~3× costlier, used where the
    downstream result must be cross-engine oracled. ``shingle_n`` switches
    the unit from unigrams to n-token shingles (see :func:`_token_sets`).

    SCALE CAVEAT: this expression form re-derives the token array inside
    every transform (higher-order functions are interpreted and escape
    both codegen and CSE) — fine for unigram splits, pathological for
    shingles (measured 323s vs ~3s at sf0.1).
    :func:`minhash_lsh_candidates` therefore computes signatures via
    explode → codegen'd hash → map-side min aggregation instead; keep this
    form for expression-context uses (e.g. attaching a signature column
    without a shuffle) on cheap token sets only.
    """
    toks = _token_sets(col, shingle_n)
    if portable:
        def h(t, i):
            return md5_long(F.concat(t, F.lit(f"#{i}")))
    else:
        def h(t, i):
            return F.xxhash64(t, F.lit(i))

    def min_hash(i: int):
        # NB: the transform lambda must stay 1-arg — a 2-arg lambda would
        # receive the ARRAY INDEX as its second argument (Spark semantics),
        # silently replacing the seed
        return F.array_min(F.transform(toks, lambda t: h(t, i)))

    return F.array(*[min_hash(i) for i in range(num_hashes)])


def _banding_columns(
    text_col: str,
    num_hashes: int,
    bands: int,
    portable: bool,
    shingle_n: int | None,
) -> tuple[Column, list[Column], Column]:
    """The batch-independent Column triple `_banded_signatures` selects:
    (exploded token column, k min-hash aggregates, banded explode column).

    Memoized per active SparkContext: building these expressions costs
    ~0.8s of py4j round-trips (32 md5 chains + 8 band hashes), paid once
    per plan construction — which for the streaming ingest face means once
    PER MICRO-BATCH on the driver (r15 profile: "build" was 0.75s of the
    ~2.2s warm per-batch cost, ~90% of it Column construction, ~0.07s the
    DataFrame chain). Columns are immutable unresolved expressions, safe
    to share across plans; the cache keys weakly on the live SparkContext
    so a JVM restart cannot serve stale JavaObject handles, and a stopped
    context's entries go with it."""
    from pyspark import SparkContext

    cache = _BANDING_COLUMN_CACHE.setdefault(SparkContext._active_spark_context, {})
    key = (text_col, num_hashes, bands, portable, shingle_n)
    hit = cache.get(key)
    if hit is not None:
        return hit

    rows_per_band = num_hashes // bands
    tokcol = F.explode(_token_sets(text_col, shingle_n)).alias("tok")
    if portable:
        def h(i: int) -> Column:
            return md5_long(F.concat(F.col("tok"), F.lit(f"#{i}")))
    else:
        def h(i: int) -> Column:
            return F.xxhash64(F.col("tok"), F.lit(i))

    aggs = [F.min(h(i)).alias(f"h{i}") for i in range(num_hashes)]

    def band_hash(b: int) -> Column:
        elems = [
            F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        if portable:  # md5 over comma-joined values — DuckDB-reproducible
            return F.md5(F.concat_ws(",", *[e.cast("string") for e in elems]))
        return F.xxhash64(*elems)

    bandcol = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    band_hash(b).alias("band_hash"),
                )
                for b in range(bands)
            ]
        )
    ).alias("band")
    entry = (tokcol, aggs, bandcol)
    cache[key] = entry
    return entry


_BANDING_COLUMN_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _banded_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    portable: bool,
    shingle_n: int | None,
    blocks: list[str],
    toks: DataFrame | None = None,
) -> DataFrame:
    """(id, blocks..., band_idx, band_hash): the banded-minhash signature
    table both the self-join (:func:`minhash_lsh_candidates`) and the
    delta-vs-corpus join (:func:`minhash_lsh_candidates_delta`) consume.
    See minhash_lsh_candidates for why the signature runs explode→codegen
    hash→map-side MIN, not the higher-order-function array form.

    ``toks`` (id, blocks..., toks) feeds the explode from a pre-built —
    typically checkpointed — token/shingle-set table instead of
    re-deriving ``_token_sets(text)``: identical rows (both paths explode
    the same array; empty/null sets vanish at the explode either way)."""
    tokcol, aggs, bandcol = _banding_columns(
        text_col, num_hashes, bands, portable, shingle_n
    )
    if toks is not None:
        tok = toks.select("id", *blocks, F.explode("toks").alias("tok"))
    else:
        tok = widen(df).select(F.col(id_col).alias("id"), *blocks, tokcol)
    sig = tok.groupBy("id", *blocks).agg(*aggs)
    return sig.select("id", *blocks, bandcol).select(
        "id", *blocks, "band.band_idx", "band.band_hash"
    )


def minhash_lsh_candidates_delta(
    corpus: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
    shingle_n: int | None = None,
) -> DataFrame:
    """Incremental near-dup candidates: NEW-batch documents against an
    existing corpus — the delta-ingest shape. A pipeline that re-runs
    corpus×corpus dedup on every ingest pays the full banding self-join
    each time; the delta form bands the (small) new batch, BROADCASTS its
    band table, and equi-joins it against the corpus's bands — no
    corpus-side self-join, no shuffle of the corpus beyond its own
    signature aggregation (which an ingest pipeline persists between
    batches — here it is recomputed, the join shape is what scales).
    Returns (a_id, b_id) with a_id from the corpus, b_id from the new
    batch; identical ids are excluded (re-ingested unchanged docs)."""
    bc = _banded_signatures(
        corpus, text_col, id_col, num_hashes, bands, portable, shingle_n, []
    ).alias("c")
    bn = _banded_signatures(
        new, text_col, id_col, num_hashes, bands, portable, shingle_n, []
    ).alias("n")
    return (
        bc.join(
            F.broadcast(bn),
            (F.col("c.band_idx") == F.col("n.band_idx"))
            & (F.col("c.band_hash") == F.col("n.band_hash"))
            & (F.col("c.id") != F.col("n.id")),
        )
        .select(F.col("c.id").alias("a_id"), F.col("n.id").alias("b_id"))
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
    shingle_n: int | None = None,
    block_by: str | Sequence[str] | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded minhash LSH.

    Rows sharing any band bucket become a candidate pair (a_id < b_id).
    The only shuffle is the self-join on (band_idx, band_hash) — fan-out is
    bucket-sized, never all-pairs. Skewed buckets (e.g. empty docs) are the
    one scale hazard; AQE skew-join handles moderate cases, and callers can
    pre-filter degenerate docs. With ``shingle_n``, documents shorter than
    n tokens have no shingles and are excluded up front (an empty set has
    no similarity evidence — and would otherwise bucket together on the
    null signature, a skew bomb).

    ``block_by`` names extra per-document blocking columns (e.g. a source
    or language partition): they join the band-bucket key, so candidates
    only form INSIDE a block — composite blocking, the same equi-join
    shape with a finer bucket.
    """
    # Signature via EXPLODE → codegen'd hash → map-side MIN aggregation —
    # not the array-expression form (minhash_signature). Two scale reasons,
    # both measured: (1) higher-order functions are INTERPRETED and escape
    # whole-stage codegen, and Catalyst does not CSE the token/shingle
    # array across the k min-hash expressions — with 8-token shingles the
    # expression form re-built the shingle array k times per row (323s at
    # sf0.1 vs ~3s for this shape); (2) the per-(id, token) rows hash with
    # plain codegen'd xxhash64/md5 and reduce via partial min BEFORE the
    # one shuffle on id, so signature cost parallelizes past the input
    # file count. min over the same token multiset ⇒ values identical to
    # the expression form (pinned in tests). Documents with an empty
    # token/shingle set simply vanish at the explode — no similarity
    # evidence, no null-signature skew bucket.
    blocks = as_list(block_by) if block_by else []
    banded = _banded_signatures(
        df, text_col, id_col, num_hashes, bands, portable, shingle_n, blocks,
        toks=toks,
    )
    # NB: the self-join reads `banded` twice, but both sides are the same
    # plan — Catalyst's ReuseExchange serves the agg shuffle once.
    left = banded.alias("l")
    right = banded.alias("r")
    cond = (
        (F.col("l.band_idx") == F.col("r.band_idx"))
        & (F.col("l.band_hash") == F.col("r.band_hash"))
        & (F.col("l.id") < F.col("r.id"))
    )
    for c in blocks:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    return (
        left.join(right, cond)
        .select(F.col("l.id").alias("a_id"), F.col("r.id").alias("b_id"))
        .distinct()
    )


def _joined_pair_sets(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int | None,
    verify_partitions: int | None = None,
    toks: DataFrame | None = None,
):
    """Shared candidate-scoring scaffold for :func:`jaccard_pairs` and
    :func:`containment_pairs`: (a_id, b_id) pairs joined to both sides'
    token/shingle sets. Returns ``(joined, size_a, size_b)`` — set size is
    materialized ONCE as a per-doc column so prune filters and score
    projections read an explicit int instead of relying on Catalyst CSE of
    repeated ``F.size``. ``toks`` lets a caller that already built the
    (id, toks, n_toks) table (the containment SSJoin front half) pass it
    through instead of re-deriving it — same expression tree when not
    materialized, one shared materialization when it is (r15 #6 A/B)."""
    if toks is None:
        toks = df.select(
            F.col(id_col).alias("id"),
            _token_sets(text_col, shingle_n).alias("toks"),
        ).withColumn("n_toks", F.size("toks"))
    # Candidate rows are two longs — tiny in BYTES, heavy in downstream
    # COMPUTE (per-pair array set ops). AQE coalesces post-shuffle stages
    # by bytes, so an upstream distinct/band-join can hand this scaffold a
    # handful of partitions and serialize the verify onto as many cores
    # (observed in the containment 10x soak: 4 tasks, ~12 min straggler).
    # An explicit numPartitions is exempt from AQE coalescing; the extra
    # shuffle moves 16 bytes per candidate. Opt-in (verify_partitions):
    # measured a 28% win on the large banded-jaccard candidate set and a
    # 20% LOSS on minhash's few-hundred-pair set — callers know their
    # candidate mass.
    if verify_partitions is not None:
        pairs = pairs.repartition(verify_partitions, "a_id", "b_id")
    a = toks.alias("ta")
    b = toks.alias("tb")
    joined = pairs.join(a, pairs.a_id == F.col("ta.id")).join(
        b, pairs.b_id == F.col("tb.id")
    )
    return joined, F.col("ta.n_toks"), F.col("tb.n_toks")


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prune_threshold: float | None = None,
    shingle_n: int | None = None,
    verify_partitions: int | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Exact distinct-token (or n-shingle, with ``shingle_n``) Jaccard for
    given (a_id, b_id) candidate pairs.

    ``prune_threshold=τ`` applies the size-ratio bound *before* the array
    intersect: jaccard(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so pairs whose
    cardinalities differ by more than τ can be discarded on two cheap ints —
    a pure optimization (never changes results for a ≥ τ filter downstream),
    and the kind that matters when the candidate set is 10⁸ pairs.
    """
    joined, size_a, size_b = _joined_pair_sets(
        df, pairs, text_col, id_col, shingle_n, verify_partitions, toks
    )
    if prune_threshold is not None:
        joined = joined.where(
            F.least(size_a, size_b)
            >= F.greatest(size_a, size_b) * F.lit(prune_threshold)
        )
    # union formulation: ONE set operation (array_union) instead of the
    # intersect appearing multiple times across condition/projection —
    # ~30% faster at sf0.1, bit-identical (integer identity
    # inter = |A|+|B|-union feeds the same double division)
    union = F.size(F.array_union(F.col("ta.toks"), F.col("tb.toks")))
    inter = size_a + size_b - union
    return joined.select(
        "a_id",
        "b_id",
        (inter.cast("double") / union).alias("jaccard"),
    )


def containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int | None = None,
    verify_partitions: int | None = None,
    toks: DataFrame | None = None,
) -> DataFrame:
    """Exact token/shingle-set CONTAINMENT for candidate pairs:
    ``containment_a = |A∩B| / |A|`` and the symmetric ``containment_b`` —
    the asymmetric-Jaccard face of dedup. A short document pasted inside a
    long one has near-1.0 containment on the short side while its Jaccard
    (|A∩B|/|A∪B|) stays low — the quote-expansion / boilerplate-embedding
    case symmetric near-dup misses.

    Shares :func:`_joined_pair_sets` with :func:`jaccard_pairs` — one join
    shape, one size-materialization to maintain. Recall caveat when fed
    banded-minhash candidates: LSH band collision tracks JACCARD, so
    high-containment/low-jaccard pairs (sizes very different) collide with
    lower probability — full-recall containment search is
    :func:`containment_join` (prefix filtering); the banded form is the
    cheap screen."""
    joined, size_a, size_b = _joined_pair_sets(
        df, pairs, text_col, id_col, shingle_n, verify_partitions, toks
    )
    union = F.size(F.array_union(F.col("ta.toks"), F.col("tb.toks")))
    inter = (size_a + size_b - union).cast("double")
    return joined.select(
        "a_id",
        "b_id",
        (inter / size_a).alias("containment_a"),
        (inter / size_b).alias("containment_b"),
    )


# Adaptive verify-width targets (VERDICT r8 #4): size the verify-stage
# repartition so each task's ArrayUnion sorter allocation stays bounded —
# the 30x soak measured a 4 GiB per-task sorter when the width was fixed
# at defaultParallelism (32). Width = corpus docs / _VERIFY_DOCS_PER_TASK,
# calibrated at the 30x point: 1.5M docs / 3000 ≈ 500 tasks, a
# few-hundred-MB sorter each where r8 warned at 4 GiB; corpora that land
# at or under the core count keep the plain core-count verify and the
# AQE-coalesced rarity sort (the widening is a corpus-scale remedy — at
# sf0.1 an unconditional explicit exchange cost ~3s of a 5.7s floor for
# a hazard that only exists at corpus scale). The unit is
# deliberately DOCUMENTS, not a verify-mass estimate: every richer
# estimator was measured to cost more than it saved at 30x — the exact
# Σ-over-prefix-entries fan-out re-pays the rarity-sort lineage (+7 min)
# or a corpus-scale checkpoint (+8 min of storage pressure), and even
# linear token aggregates re-tokenize the corpus (+4 min). A doc count
# is one metadata-cheap action, and the calibration corpus (the mutated
# 30x build) is duplication-HEAVY, so the per-task candidate mass it
# implies is the conservative end. A first cut targeting 4M incidences
# produced 32k tasks — GC-clean but ~6 min of pure task-launch overhead;
# the width must bound allocations, not minimize them.
_VERIFY_DOCS_PER_TASK = 3000
_VERIFY_MAX_WIDTH = 32768


def _adaptive_verify_width(df, par: int) -> int:
    """Width for the containment verify stage, sized by corpus scale
    instead of a fixed core count (see the calibration comment above):
    ``clamp(par, n_docs / _VERIFY_DOCS_PER_TASK, _VERIFY_MAX_WIDTH)``.
    One count(1) plan-time action (skew.py's documented sketch posture);
    floor at ``par`` so small corpora keep the plain core-count verify."""
    import math

    n_docs = df.count()
    width = math.ceil(n_docs / _VERIFY_DOCS_PER_TASK)
    return int(min(_VERIFY_MAX_WIDTH, max(par, width)))


def _prefix_probe_tables(
    df: DataFrame,
    threshold: float,
    text_col: str,
    id_col: str,
    shingle_n: int | None,
):
    """Shared SSJoin front half for :func:`containment_join` and
    :func:`containment_keep_list`: token postings, global rarity sort, and
    the epsilon-guarded prefix table. Returns
    ``(occ, prefixes, stage_width, par, toks)``.

    The tokenized corpus (id, toks, n_toks) is materialized ONCE via a
    session-scoped checkpoint and shared with every downstream consumer
    (occ/dfreq/rarity-sort here, index/members in the callers, and the
    verify's ``_joined_pair_sets`` via the returned handle). This
    re-audits — and OVERTURNS — the r8 rejection of exactly this
    materialization under the post-r14 economics (scan-parallelize,
    truncated-subtree plan audit): quiet-host r15 A/B (4 reps, wall/CPU
    floors): dedup_containment_complete 4.74s/20.5 → 1.51s/13.9,
    dedup_containment_keeplist 5.81s/21.8 → 1.82s/11.3. The SSJoin plan
    re-tokenizes the corpus FIVE times (occ, dfreq via occ, rarity sort,
    and both verify sides) — the checkpoint pays one tokenize + one
    small materialization instead. Clusters that need lineage recovery
    set ``PNS_CHECKPOINT_MODE=reliable``, which takes this checkpoint
    through Spark's reliable checkpoint.
    """
    from polars_numba_spark.plans.checkpoint import session_scoped_checkpoint

    toks = session_scoped_checkpoint(
        df.select(
            F.col(id_col).alias("id"), _token_sets(text_col, shingle_n).alias("toks")
        ).withColumn("n_toks", F.size("toks"))
    )
    occ = toks.select("id", F.explode("toks").alias("tok"))
    dfreq = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("__df"))
    # Adaptive width, shared by the TWO corpus-mass stages (VERDICT r8 #4):
    # the rarity-sort groupBy below and the verify repartition. Both were
    # AQE/core-count narrow and grew per-task buffers with corpus scale —
    # the groupBy's collect_list buffers fired a transient 4 GiB
    # TaskMemoryManager page warning in 2 of 5 instrumented 30x runs (the
    # 10-wide AQE-coalesced shape), the verify's ArrayUnion sorter warned
    # at 4 GiB every r8 pass. The explicit repartition doubles as the agg
    # exchange (already partitioned on id, Catalyst adds no second one).
    par = df.sparkSession.sparkContext.defaultParallelism
    stage_width = _adaptive_verify_width(df, par)
    # rarity-sorted token array: ascending (df, token) — total order.
    # The explicit widening kicks in only when the corpus demands a width
    # ABOVE the core count: at small scale the AQE-coalesced shape is
    # measurably faster (the explicit exchange cost ~3s of the 5.7s sf0.1
    # floor), and the buffer hazard it exists for is a corpus-scale one.
    ranked_input = occ.join(dfreq, "tok")
    if stage_width > par:
        ranked_input = ranked_input.repartition(stage_width, "id")
    ranked = (
        ranked_input
        .groupBy("id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__df"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ).alias("sorted_toks")
        )
    )
    # prefix length = (max tokens allowed outside B) + 1. The required
    # overlap is ceil(n·t) computed with an epsilon guard: n·t in binary
    # floating point lands an ulp above the exact product for e.g.
    # t=0.9, n=10 (9.000000000000002 → ceil 10, silently shrinking the
    # prefix below completeness). Both engines evaluate the SAME literal
    # expression, so the guarded integers agree exactly.
    n = F.size("sorted_toks")
    required = F.ceil(n * F.lit(threshold) - F.lit(1e-9)).cast("int")
    prefix_len = n - required + 1
    prefixes = ranked.select(
        F.col("id").alias("a_id"),
        F.explode(F.slice("sorted_toks", 1, prefix_len)).alias("tok"),
    )
    return occ, prefixes, stage_width, par, toks


def containment_join(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int | None = None,
    emit: str = "pairs",
) -> DataFrame:
    """COMPLETE containment search via prefix filtering (the SSJoin/PPJoin
    family, Chaudhuri et al. 2006 / Xiao et al. 2008): every directional
    pair with ``|A∩B| / |A| ≥ threshold`` is found — no LSH recall loss.

    The filter: sort each document's token set by global rarity (ascending
    document frequency, ties on the token string — a total, deterministic
    order). If A is ≥t-contained in B, fewer than ``|A|·(1-t) + 1`` of A's
    tokens can be outside B — so among A's ``⌊|A|·(1-t)⌋ + 1`` RAREST
    tokens (its prefix), at least one is shared with B. Candidates are
    therefore (A.prefix-token = B.any-token) equi-join hits, then exact
    containment verifies. Completeness needs the prefix side to probe the
    full index, which is why only A takes a prefix.

    Scale shape: the prefix join's fan-out per prefix token is that
    token's document frequency — and prefix tokens are each document's
    RAREST, so hot stopwords never enter the probe side (they still sit in
    the index side, where they are join targets only for documents rare
    enough to need them). One df-count aggregate, one rarity sort per doc
    (array_sort, in-expression), one equi-join, one verify join — all
    standard shuffles; AQE covers residual token skew.

    Returns directional rows ``(a_id, b_id, containment_a, containment_b)``
    with ``containment_a ≥ threshold`` (a_id ≠ b_id; a pair contained both
    ways appears twice, once per direction).

    ``emit`` is the output-mass contract (the minhash/simhash convention):
    ``'pairs'`` (default) is the complete directional pair set — O(k²) per
    k-copy duplicate cluster by construction; ``'keeplist'`` dispatches to
    :func:`containment_keep_list` — star emission, linear edge mass, one
    verdict row per doc, the production posture at 100 TB.
    """
    if emit == "keeplist":
        return containment_keep_list(df, threshold, text_col, id_col, shingle_n)
    if emit != "pairs":
        raise ValueError(f"emit must be 'pairs' or 'keeplist', got {emit!r}")
    occ, prefixes, stage_width, par, toks = _prefix_probe_tables(
        df, threshold, text_col, id_col, shingle_n
    )
    # The prefix⋈index join is the EXPLOSIVE stage (its output is the
    # candidate fan-out), but AQE sizes its width from input BYTES: with a
    # broadcast prefix side the stage inherits the index side's (tiny,
    # coalesced) partitioning and the whole fan-out + partial distinct ran
    # on 4 cores in the 10x soak. Repartitioning the big side by the join
    # key pins the stage width; the shuffle it adds moves (id, token)
    # pairs — linear in corpus size. The width is the SAME adaptive
    # stage_width as the rarity sort and verify (round-12 100× finding:
    # pinned at defaultParallelism, the 32-way join+partial-distinct stage
    # spilled ~67 GB behind three hot-token stragglers on the 500k-doc
    # mutated build while the widened stages around it were fine — each
    # task's partial-aggregate hash table must be fan-out/width-sized,
    # so the width has to track candidate mass here too).
    join_width = stage_width if stage_width > par else par
    index = occ.select(F.col("id").alias("b_id"), "tok").repartition(
        join_width, "tok"
    )
    cands = (
        prefixes.join(index, "tok")
        .where(F.col("a_id") != F.col("b_id"))
        .select("a_id", "b_id")
    )
    if stage_width > par:
        # this explicit pair-keyed exchange doubles as the distinct's
        # aggregation exchange (same trick as the rarity groupBy above:
        # Catalyst sees the child partitioning satisfies the aggregate) —
        # without it the final distinct would run at the 32-way
        # spark.sql.shuffle.partitions default, which AQE can only
        # coalesce DOWN, never widen for candidate mass.
        cands = cands.repartition(stage_width, "a_id", "b_id")
    cands = cands.distinct()
    # Widen the verify too (the same narrow-stage hazard one stage later) —
    # ADAPTIVELY: a fixed core-count width let per-task ArrayUnion sorter
    # allocations grow with candidate mass (4 GiB each at the 30x soak
    # point); sizing the width by sampled verify-array mass keeps the
    # allocation per-core-sized at any scale (SCALE.md, VERDICT r8 #4).
    verify_width = stage_width if stage_width > par else par
    scored = containment_pairs(
        df, cands, text_col, id_col, shingle_n,
        verify_partitions=verify_width, toks=toks,
    )
    return scored.where(F.col("containment_a") >= threshold)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    portable: bool = False,
    shingle_n: int | None = None,
    emit: str = "pairs",
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact-Jaccard verification.

    The verifier gets ``prune_threshold=threshold``: candidates failing the
    size-ratio bound (jaccard ≤ min/max of the two cardinalities) are
    dropped on two cheap ints before the array_union — results identical
    (the bound is implied by the ≥ threshold filter), candidate-verify cost
    is not. ``shingle_n`` applies the same shingling to BOTH the LSH stage
    and the verifier, so the verified jaccard is shingle-set jaccard.

    ``emit`` is the output-mass contract (r6 verdict #3): ``'pairs'``
    (default) returns the verified (a_id, b_id, jaccard) set — O(N²) on
    duplicate-heavy corpora by construction; ``'keeplist'`` returns
    (id, component, keep) per document via
    :func:`minhash_dedup_keep_list` with star edges verified at
    ``threshold`` — linear output, the production posture at 100 TB.
    """
    if emit == "keeplist":
        return minhash_dedup_keep_list(
            df, text_col, id_col, num_hashes, bands, portable, shingle_n,
            verify_threshold=threshold,
        )
    if emit != "pairs":
        raise ValueError(f"emit must be 'pairs' or 'keeplist', got {emit!r}")
    toks = None
    # The pipeline derives the token/shingle sets THREE times (signature
    # explode + both verify sides). For SHINGLE sets that derivation is
    # the dominant cost — every pass re-runs tokenize → n-gram concat →
    # array_sort over the full corpus — so the tokenized corpus is
    # checkpointed once and shared (quiet-host r15 A/B at sf0.1:
    # dedup_minhash_pairs 8.05s → 2.12s wall floor). For UNIGRAM sets the
    # same A/B measured a LOSS (dedup_jaccard_pairs 4.42s → 5.06s:
    # distinct-token derivation is ~0.5s and the checkpoint's
    # materialize+read costs more than it saves), so only shingle sets are
    # checkpointed. Results identical by construction — both paths
    # explode/join the same per-doc set.
    if shingle_n is not None:
        from polars_numba_spark.plans.checkpoint import session_scoped_checkpoint

        toks = session_scoped_checkpoint(
            widen(df).select(
                F.col(id_col).alias("id"),
                _token_sets(text_col, shingle_n).alias("toks"),
            ).withColumn("n_toks", F.size("toks"))
        )
    cands = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, portable=portable,
        shingle_n=shingle_n, toks=toks,
    )
    return jaccard_pairs(
        df, cands, text_col, id_col, prune_threshold=threshold,
        shingle_n=shingle_n, toks=toks,
    ).where(F.col("jaccard") >= threshold)


def simhash(col: Column | str, bits: int = 32, hash_fn=None) -> Column:
    """Sign-aggregated token-hash fingerprint (Charikar simhash).

    For each bit position, sum +1/-1 contributions of the token hash
    across distinct tokens; the sign of the sum is the output bit. Documents
    within small Hamming distance are near-duplicates. Pure codegen: one
    expression, no shuffle, no UDF.

    ``hash_fn`` maps a token Column to a long hash; default is the JVM
    xxhash64 (fast, Spark-specific). Pass an engine-portable hash (e.g. the
    md5-hex trick) to make results reproducible in other engines.
    """
    if hash_fn is None:
        hash_fn = F.xxhash64
    toks = distinct_tokens(col)
    bit_cols = []
    for i in range(bits):
        contrib = F.aggregate(
            toks,
            F.lit(0).cast("long"),
            # 2-arg merge lambda (pyspark checks arity); `i` and `hash_fn`
            # close over eagerly — F.aggregate builds the Column immediately
            lambda acc, t: acc
            + F.when(F.shiftright(hash_fn(t), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        bit_cols.append(
            F.when(contrib > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    total = bit_cols[0]
    for c in bit_cols[1:]:
        total = total + c
    return total


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    hash_fn=None,
) -> DataFrame:
    """Simhash signatures as a DataFrame ``(id, sig)`` — the production
    twin of the :func:`simhash` expression, bit-identical output, different
    physical shape.

    The expression spelling evaluates ``bits`` interpreted higher-order
    ``aggregate`` lambdas per row, each traversing the token array —
    O(bits × tokens) in the expression interpreter. This spelling explodes
    distinct tokens ONCE, hashes each token once, and folds the ±1
    per-bit contributions in a single codegen'd hash aggregate with
    map-side combine (one shuffle on the id) — the same
    explode→aggregate rewrite that took shingled MinHash 57.7s→6.7s in
    round 3. EMPTY (tokenless but present) documents survive via
    ``explode_outer`` with zero contributions, matching the expression's
    all-zero signature; NULL text (a failed fetch) yields NO signature
    row — clustering every missing doc at hamming 0 would be a garbage
    pair explosion, and SQL hash-of-NULL semantics agree.
    """
    if hash_fn is None:
        hash_fn = F.xxhash64
    text_c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = (
        df.where(text_c.isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.explode_outer(distinct_tokens(text_col)).alias("__tok"),
        )
        .select("id", "__tok", hash_fn(F.col("__tok")).alias("__h"))
    )
    bit_sums = [
        F.sum(
            F.when(F.col("__tok").isNull(), 0)
            .when(F.shiftright(F.col("__h"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"__b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy("id").agg(*bit_sums)
    sig = None
    for i in range(bits):
        piece = F.when(
            F.col(f"__b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        sig = piece if sig is None else sig + piece
    return agg.select("id", sig.alias("sig"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two long-encoded bit vectors."""
    return F.bit_count(a.bitwiseXOR(b))


def bits_for_corpus(
    n_rows: int, max_hamming: int = 3, target_block_rows: int = 256
) -> int:
    """Signature width whose per-block value space keeps expected block
    occupancy ≈ ``target_block_rows`` — the simhash analog of
    ``similarity.planes_for_corpus`` (round-3 verdict: a fixed ``bits``
    makes pigeonhole-block occupancy grow linearly with the corpus, and
    within-block join cost quadratically).

    Pigeonhole blocking splits the signature into ``max_hamming + 1``
    blocks of ~``bits/(k+1)`` bits each, so occupancy per block value is
    ``n_rows / 2^(bits/(k+1))``; solving for occupancy ≤ target gives
    ``bits = (k+1) * ceil(log2(n_rows / target))``. Capped at 64 — the
    one-long codegen encoding's limit; with the default k=3 that still
    bounds occupancy at ``target`` up to ~16M rows per partition-disjoint
    corpus slice, beyond which an array-of-longs signature is the upgrade
    path.
    """
    import math

    n_blocks = max_hamming + 1
    per_block = max(1, math.ceil(math.log2(max(n_rows, 2) / target_block_rows)))
    return max(16, min(64, n_blocks * per_block))


def _simhash_blocked(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int | None,
    max_hamming: int,
    n_rows: int | None,
    target_block_rows: int,
    hash_fn=None,
) -> DataFrame:
    """(id, sig, blk{bi,bv}) exploded pigeonhole-block table shared by the
    pair-emitting and keep-list-emitting simhash paths. One row per
    (doc, block); candidates are whatever co-occurs per distinct blk."""
    if bits is None:
        if n_rows is None:
            n_rows = df.count()
        bits = bits_for_corpus(n_rows, max_hamming, target_block_rows)
    n_blocks = max_hamming + 1
    widths = [
        bits // n_blocks + (1 if i < bits % n_blocks else 0) for i in range(n_blocks)
    ]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]

    def mask(width: int):
        # a 64-bit block's all-ones mask overflows LongType as (1<<64)-1;
        # it is -1 in two's complement (and AND with -1 is the identity)
        return F.lit(-1 if width >= 64 else (1 << width) - 1).cast("long")

    # signatures via the explode+aggregate twin (one codegen hash aggregate)
    # rather than the per-row expression — bit-identical, O(bits×) cheaper
    sigs = simhash_signatures(df, text_col, id_col, bits, hash_fn)
    blocks = F.array(
        *[
            F.struct(
                F.lit(i).alias("bi"),
                F.shiftright(F.col("sig"), offsets[i])
                .bitwiseAND(mask(widths[i]))
                .alias("bv"),
            )
            for i in range(n_blocks)
        ]
    )
    return sigs.select("id", "sig", F.explode(blocks).alias("blk"))


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int | None = 32,
    max_hamming: int = 3,
    n_rows: int | None = None,
    target_block_rows: int = 256,
    emit: str = "pairs",
) -> DataFrame:
    """Near-dup pairs by simhash with Hamming-pigeonhole blocking.

    ``emit='keeplist'`` switches to :func:`simhash_dedup_keep_list` —
    (id, component, keep) per document from Hamming-verified star edges,
    linear output mass however duplicate-heavy the corpus (r6 verdict #3).

    The signature is split into ``max_hamming + 1`` bit-blocks; two
    signatures within Hamming distance ≤ k differ in at most k blocks, so
    they match EXACTLY on at least one — candidates are an equi-join per
    (block_idx, block_value), then Hamming-verified. Round-1 verdict fix:
    this replaces top-prefix bucketing, which (a) silently MISSED any pair
    whose differing bits fell in the prefix, and (b) froze the bucket count
    at 2^prefix_bits forever. Pigeonhole blocking is complete (every
    ≤ max_hamming pair is found), and the per-block value space is
    2^(bits/(k+1)) — ``bits=None`` sizes the signature to the corpus via
    :func:`bits_for_corpus` (count once if ``n_rows`` not given), keeping
    block occupancy ≈ ``target_block_rows`` as the corpus grows instead of
    letting the within-block self-join degrade quadratically.
    """
    if emit == "keeplist":
        return simhash_dedup_keep_list(
            df, text_col, id_col, bits, max_hamming, n_rows, target_block_rows
        )
    if emit != "pairs":
        raise ValueError(f"emit must be 'pairs' or 'keeplist', got {emit!r}")
    e = _simhash_blocked(
        df, text_col, id_col, bits, max_hamming, n_rows, target_block_rows
    )
    # Two r15 fixes to the self-join, both measured:
    # 1. Widen it EXPLICITLY: the signature/block table is byte-tiny (one
    #    long + 4 block structs per doc), so AQE coalesced its agg
    #    exchange to 1-2 partitions and the self-join plus per-pair
    #    Hamming verify — >1M emitted pairs at sf0.1 — ran on 1-2 TASKS.
    #    An explicit key repartition is AQE-coalesce-exempt; width is the
    #    same corpus-adaptive rule as the containment verify (floor =
    #    core count, grows with docs). 6.28s → 2.95s wall floor,
    #    bit-identical pairs.
    # 2. Materialize the block table ONCE: the join's broadcast side
    #    blocks ReuseExchange, so both sides re-ran the whole
    #    tokenize→hash→sign-agg pipeline (visible as two full aggregate
    #    chains in plans/r15/dedup_simhash_pairs_before.txt). A
    #    session-scoped checkpoint halves the signature build: → 2.89s.
    from polars_numba_spark.plans.checkpoint import session_scoped_checkpoint

    par = df.sparkSession.sparkContext.defaultParallelism
    e = session_scoped_checkpoint(
        e.repartition(_adaptive_verify_width(df, par), "blk")
    )
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        # filter BEFORE the dedup shuffle: hamming is deterministic per
        # pair, so the result is identical and the exchange only carries
        # pairs that survive the threshold
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a_id", "b_id"])
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """Connected components over a near-dup pair graph → (id, component)
    where component is the smallest id reachable from ``id``.

    Large-scale dedup needs this step: pairwise matches must become
    clusters so one canonical document per cluster survives. Algorithm is
    iterative min-label propagation — each round every node adopts the
    smallest label among itself and its neighbors; rounds ≈ graph diameter
    (near-dup clusters are shallow, so few rounds). Each round is one
    join + groupBy (shuffle on node id); AQE sizes the exchanges. The loop
    stops early when no label changes: the count of changed labels is an
    observation on the round's checkpoint, filled by that same job, so
    convergence costs no second job per round.

    This is the canonical "iterative algorithm on DataFrames" shape — not
    SQL-expressible as one query, hence driver-checked rows-only and pinned
    by structural tests instead.
    """
    from polars_numba_spark.plans.checkpoint import checkpoint_rounds

    with checkpoint_rounds() as ck:
        # Materialize the edge set ONCE: every round joins `sym`, and without
        # this the lazy plan re-derives the ENTIRE upstream pair pipeline
        # (minhash signatures → LSH band join → jaccard verify) per round —
        # the dominant cost of clustering at any scale.
        sym = ck.pin(
            edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
            .union(
                edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
            )
            .distinct()
        )
        labels = (
            sym.select(F.col("src").alias("id"))
            .distinct()
            .withColumn("component", F.col("id"))
        )
        for _ in range(max_iterations):
            neighbor_min = (
                sym.join(labels, sym.dst == labels.id)
                .groupBy("src")
                .agg(F.min("component").alias("nbr_min"))
            )
            new_labels = (
                labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(F.col("nbr_min"), F.col("component")),
                    ).alias("component"),
                    (F.col("nbr_min") < F.col("component")).alias("changed"),
                )
            )
            new_labels, n_changed = ck.step(
                "labels", new_labels, observe=F.count_if("changed")
            )
            labels = new_labels.drop("changed")
            if n_changed == 0:
                return labels
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (graph diameter exceeds the cap); raise "
            "max_iterations — returning partial labels would silently keep "
            "multiple canonical docs per cluster"
        )


def dedup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """From near-dup pairs to a keep/drop verdict per document: cluster the
    pair graph, keep the smallest id per component (plus every unpaired
    document). Returns (id, keep: bool, component)."""
    return _label_components(df.select(F.col(id_col).alias("id")), pairs, max_iterations=20)


def _label_components(ids: DataFrame, edges: DataFrame, max_iterations: int) -> DataFrame:
    """(id, component, keep) for every row of ``ids``: connected components
    over ``edges``, an id on no edge labelled as its own singleton, and
    ``keep`` true for each component's minimum id."""
    comps = connected_components(edges, max_iterations)
    labeled = ids.join(comps, "id", "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col("id"))
    )
    return labeled.withColumn("keep", F.col("id") == F.col("component"))


def _bucket_star_edges(buckets: DataFrame, bucket_cols: Sequence[str]) -> DataFrame:
    """(a_id = bucket minimum, b_id = other member) STAR edges from a
    candidate-bucket table — the pair-free emission core.

    A bucket of k co-hashed documents contributes k-1 star edges instead of
    the k(k-1)/2 pairs the self-join form emits, so total edge mass is
    O(rows), linear in input, however duplicate-heavy the corpus (the r6
    soak measured 46.8× output growth at 10× input for pair emission on a
    mutated corpus — that growth is O(N²) by construction and no plan
    fixes it; star emission caps it at the bucket-table size). The
    transitive closure over stars equals the closure over within-bucket
    cliques (a star spans exactly the members its clique spans), so
    connected components — hence keep-lists — are IDENTICAL to clustering
    the unverified pair graph. One window shuffle on the bucket key.
    """
    w = Window.partitionBy(*[F.col(c) for c in bucket_cols])
    return (
        buckets.withColumn("__u", F.min("id").over(w))
        .where(F.col("id") != F.col("__u"))
        .select(F.col("__u").alias("a_id"), F.col("id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )


def minhash_dedup_keep_list(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
    shingle_n: int | None = None,
    verify_threshold: float | None = None,
    max_iterations: int = 20,
) -> DataFrame:
    """Keep/drop verdict per document straight from banded-minhash
    candidates — the pair-free ``emit='keeplist'`` contract (r6 verdict
    next-round #3): production dedup at 100 TB wants one canonical doc per
    near-dup cluster, not the O(N²) pair set a duplicate-heavy corpus
    implies (a 10k-copy boilerplate cluster is 5×10⁷ pairs but 10⁴-1 star
    edges).

    Default (``verify_threshold=None``) treats band-bucket co-membership as
    the duplicate relation — the standard large-corpus LSH posture
    (precision is tuned via the bands/num_hashes S-curve, not per-pair
    verification; cf. Broder '97 resemblance clustering and the MMDS ch.3
    banding analysis); components equal those of the unverified pair graph
    exactly (see :func:`_bucket_star_edges`). With ``verify_threshold=τ``,
    star edges are exact-Jaccard-verified first — O(rows) verifications
    instead of O(pairs); surviving edges are a SUBSET of the verified pair
    graph, so components REFINE the pair-graph components: every drop is
    still justified by a chain of verified ≥τ edges, but border documents
    whose only ≥τ edges are to non-representative bucket members may be
    kept that pair clustering would drop — conservative in the safe
    direction for dedup.

    Returns (id, component, keep) for every input document.
    """
    banded = _banded_signatures(
        df, text_col, id_col, num_hashes, bands, portable, shingle_n, []
    )
    star = _bucket_star_edges(banded, ["band_idx", "band_hash"])
    if verify_threshold is not None:
        star = (
            jaccard_pairs(
                df, star, text_col, id_col,
                prune_threshold=verify_threshold, shingle_n=shingle_n,
            )
            .where(F.col("jaccard") >= verify_threshold)
            .select("a_id", "b_id")
        )
    return _label_components(df.select(F.col(id_col).alias("id")), star, max_iterations)


def simhash_dedup_keep_list(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int | None = 32,
    max_hamming: int = 3,
    n_rows: int | None = None,
    target_block_rows: int = 256,
    hash_fn=None,
    max_iterations: int = 20,
) -> DataFrame:
    """Simhash keep-list at pair-free cost: pigeonhole-block buckets →
    star edges to each bucket's minimum id → Hamming-verify ONLY those
    O(rows) edges → connected components → (id, component, keep).

    Unlike the minhash variant, simhash buckets MUST verify: with
    corpus-sized ``bits`` the per-block value space is tuned for occupancy
    ≈ ``target_block_rows``, so bucket co-membership alone is a candidate
    signal, not a duplicate verdict. Verifying star edges instead of all
    within-bucket pairs keeps cost linear; every surviving edge is a true
    ≤ ``max_hamming`` near-dup, so (as with the verified minhash path)
    components refine the full pair-graph components — every dropped doc
    is transitively hamming-verified against its representative, while a
    duplicate pair whose members are both far from the bucket minimum may
    stay split (they typically share another block's bucket, which links
    them there). The conservative direction for dedup.

    Tokenless documents (NULL or whitespace-only text) are excluded from
    the block table and trivially kept as their own singleton component:
    ``simhash_signatures`` would give them an all-zero signature (zero
    contributions via ``explode_outer``), which co-buckets every empty doc
    and Hamming-verifies at distance 0 — an artifact of the signature
    encoding, not a content match. Pinned by
    tests/test_components.py::test_simhash_keeplist_empty_docs_kept.
    """
    tokenless = F.col(text_col).isNull() | (F.trim(F.col(text_col)) == "")
    e = _simhash_blocked(
        df.where(~tokenless),
        text_col, id_col, bits, max_hamming, n_rows, target_block_rows, hash_fn,
    )
    # carry the bucket-min's signature through the same window pass so the
    # Hamming verify needs no join back to the signature table
    w = Window.partitionBy("blk")
    star = (
        e.withColumn("__m", F.min(F.struct("id", "sig")).over(w))
        .where(F.col("id") != F.col("__m.id"))
        .where(hamming64(F.col("sig"), F.col("__m.sig")) <= max_hamming)
        .select(F.col("__m.id").alias("a_id"), F.col("id").alias("b_id"))
        .dropDuplicates(["a_id", "b_id"])
    )
    return _label_components(df.select(F.col(id_col).alias("id")), star, max_iterations)


def containment_keep_list(
    df: DataFrame,
    threshold: float = 0.9,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int | None = None,
    max_iterations: int = 20,
) -> DataFrame:
    """Containment dedup at PAIR-FREE cost (VERDICT r12 #2): the
    ``emit='keeplist'`` pattern applied to the prefix-filtered SSJoin.
    Returns (id, component, keep) — one verdict row per document.

    Why it exists: :func:`containment_join` is complete, but its candidate
    set is the prefix⋈index fan-out — on a duplicate-heavy corpus a
    k-copy cluster implies O(k²) candidate pairs, and the r12 100× soak
    pinned the single-host ceiling at exactly that cumulative candidate
    shuffle (SCALE.md round-12). Production dedup wants one canonical doc
    per cluster, not the pair set.

    Shape: per prefix-ACTIVE token (a token appearing in ≥1 document's
    rarity prefix — the same epsilon-guarded prefix as the complete join),
    the candidate group is every document containing that token; STAR
    edges connect the group's minimum id to each member (k-1 edges instead
    of k(k-1)/2, so total edge mass is bounded by the posting mass of
    prefix-active tokens — linear in corpus size). Only those O(rows)
    edges are containment-verified (kept when EITHER direction ≥
    ``threshold`` — components need undirected edges), then connected
    components label each doc and ``keep = (id == component)``. The
    group-min is computed with a partial-agg-friendly groupBy + equi-join,
    NOT a window: token groups are unbounded (a hot token whose bucket is
    corpus-sized would serialize a window MIN onto one task), while a
    groupBy MIN combines map-side.

    Semantics contract (the simhash keep-list precedent,
    :func:`simhash_dedup_keep_list`): every drop is justified by a CHAIN
    of exact-verified ≥ ``threshold`` containment edges — precision is
    exact. Recall REFINES the complete pair graph: a pair whose every
    shared prefix-active-token group has an unrelated minimum may stay
    split (it typically shares a rarer token's group where one member IS
    the min; duplicate CLUSTERS — the case the keep-list exists for —
    always share their own prefix tokens, so the cluster min is a member
    and the cluster collapses). Conservative in the safe direction for
    dedup. Tokenless documents have no postings, hence no edges: they are
    trivially kept as singleton components via the ids left-join.
    """
    occ, prefixes, stage_width, par, toks = _prefix_probe_tables(
        df, threshold, text_col, id_col, shingle_n
    )
    active_toks = prefixes.select("tok").distinct()
    members = occ.join(active_toks, "tok")
    if stage_width > par:
        # same corpus-scale stage widening as the complete join: the
        # member semi-join and group-min keys move posting mass
        members = members.repartition(stage_width, "tok")
    mins = members.groupBy("tok").agg(F.min("id").alias("__u"))
    star = (
        members.join(mins, "tok")
        .where(F.col("id") != F.col("__u"))
        .select(F.col("__u").alias("a_id"), F.col("id").alias("b_id"))
    )
    if stage_width > par:
        # doubles as the dropDuplicates aggregation exchange (the complete
        # join's distinct trick) — AQE can only coalesce the default
        # width, never widen it for edge mass
        star = star.repartition(stage_width, "a_id", "b_id")
    star = star.dropDuplicates(["a_id", "b_id"])
    verify_width = stage_width if stage_width > par else par
    scored = containment_pairs(
        df, star, text_col, id_col, shingle_n,
        verify_partitions=verify_width, toks=toks,
    )
    edges = scored.where(
        F.greatest(F.col("containment_a"), F.col("containment_b"))
        >= F.lit(threshold)
    ).select("a_id", "b_id")
    return _label_components(df.select(F.col(id_col).alias("id")), edges, max_iterations)


def _duplicated_shingle_positions(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    via: str,
    skew_threshold: float | None,
    sample_fraction: float,
    hash_shingles: bool,
) -> DataFrame:
    """``(id, pos)`` of every shingle start whose ``shingle_n``-gram occurs
    at ≥2 (document, position) sites corpus-wide — the shared marking stage
    behind :func:`duplicated_spans` and :func:`remove_duplicated_passages`.
    ``via``/``hash_shingles`` semantics are documented on
    :func:`duplicated_spans`."""
    from polars_numba_spark.operators.text import positioned_token_shingles

    def _explode(d: DataFrame) -> DataFrame:
        return d.select(
            F.col(id_col).alias("id"),
            F.posexplode(positioned_token_shingles(text_col, shingle_n)).alias(
                "pos", "__sh"
            ),
        )

    sh = _explode(widen(df))
    if hash_shingles:
        sh = sh.withColumn("__sh", F.xxhash64("__sh"))
    if via == "auto":
        via = _choose_shingle_via(df, _explode, skew_threshold, sample_fraction)
    if via == "window":
        return (
            sh.withColumn(
                "__n", F.count(F.lit(1)).over(Window.partitionBy("__sh"))
            )
            .where(F.col("__n") >= 2)
            .select("id", "pos")
        )
    if via == "join":
        counts = sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__n"))
        return sh.join(counts.where(F.col("__n") >= 2), "__sh").select("id", "pos")
    raise ValueError(f"via must be 'window', 'join', or 'auto', got {via!r}")


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    via: str = "auto",
    skew_threshold: float | None = None,
    sample_fraction: float = 0.02,
    hash_shingles: bool = False,
) -> DataFrame:
    """True ExactSubstr passage dedup: the maximal duplicated token SPANS
    of every document — each span is a run of token positions covered by
    at least one ``shingle_n``-gram that occurs at ≥2 (document, position)
    sites corpus-wide (within-document repeats count, as in Lee et al.'s
    deduplicate-text-datasets ExactSubstr). Returns one row per span:
    ``(id, span_start, span_end, span_tokens)`` with ``span_end``
    exclusive, positions 0-based.

    Sorted-shingle run-merging stands in for the suffix array: positioned
    shingles → corpus-wide occurrence marking → per-document
    gaps-and-islands merge (a shingle at ``pos`` covers ``[pos, pos+n)``;
    a new island starts when ``pos`` jumps past ``prev_pos + n``). Every
    stage is a scan, a counted aggregate/window, an equi-join, or a
    per-document window — nothing quadratic, nothing driver-side; the
    island window partitions by document so its state is bounded by
    document length, not corpus size.

    Occurrence marking follows the same ``via`` scheme as
    :func:`duplicated_shingle_fraction` (round-5 unification):
    ``'window'`` counts over ``Window.partitionBy(shingle)`` — ONE pass
    over the exploded shingles and one shuffle, but not AQE-skew-
    splittable; ``'join'`` is the count-aggregate + inverted-index join
    back — a second pass and shuffle, but boilerplate hot shingles get
    AQE's skew-join split; ``'auto'`` (default) picks via the
    :func:`_choose_shingle_via` sample sketch (one eager sample-sized job
    at plan-construction time — pass an explicit ``via`` to skip it).

    ``hash_shingles=True`` replaces the shingle string with its
    ``xxhash64`` before the shuffle — ~6× fewer shuffle bytes per row at
    ``shingle_n=8`` prose shingles, at a ~``n_shingles²/2⁶⁵`` false-dup
    collision risk (≈1e-9 even at 10¹⁰ distinct shingles). Default off so
    the operator is exact by construction; turn it on for the 100-TB
    production pass, where the shuffle width dominates.

    This supersedes :func:`duplicated_shingle_fraction` as the
    passage-dedup primitive (that one reports a per-document scalar
    fraction of duplicated shingles; this one reproduces the spans a
    passage-removal pass would actually cut).
    """
    dup = _duplicated_shingle_positions(
        df, text_col, id_col, shingle_n, via, skew_threshold,
        sample_fraction, hash_shingles,
    )
    w = Window.partitionBy("id").orderBy("pos")
    islands = (
        dup.withColumn("__prev", F.lag("pos").over(w))
        .withColumn(
            "__new",
            F.when(
                F.col("__prev").isNull()
                | (F.col("pos") > F.col("__prev") + shingle_n),
                1,
            ).otherwise(0),
        )
        .withColumn("__island", F.sum("__new").over(w))
    )
    return (
        islands.groupBy("id", "__island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + shingle_n).alias("span_end"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_tokens"),
        )
    )


def remove_duplicated_passages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    via: str = "auto",
    skew_threshold: float | None = None,
    sample_fraction: float = 0.02,
    hash_shingles: bool = False,
) -> DataFrame:
    """The passage-removal pass itself (ExactSubstr dedup's *cut* step):
    drop every token position covered by a duplicated ``shingle_n``-gram
    and rebuild the document from the survivors. Returns
    ``(id, n_tokens_kept, clean_text)`` — ``clean_text`` is the kept
    tokens of the NORMALIZED token stream (lowercased, single-space
    joined), the space ExactSubstr pipelines operate in; documents whose
    every token is covered come back with ``n_tokens_kept=0`` and ``''``.

    Shape on top of :func:`_duplicated_shingle_positions`: duplicated
    starts expand to their covered positions (``explode(sequence(pos,
    pos+n-1))`` — linear in removed tokens), an anti-join drops them from
    the positioned token stream, and the per-document rebuild is one
    ``collect_list(struct(pos, tok))`` aggregate sorted in-expression —
    state bounded by document length, not corpus size. Same ``via=`` /
    ``hash_shingles`` routing as :func:`duplicated_spans`.
    """
    from polars_numba_spark.operators.text import tokens

    dup = _duplicated_shingle_positions(
        df, text_col, id_col, shingle_n, via, skew_threshold,
        sample_fraction, hash_shingles,
    )
    rm = dup.select(
        "id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + (shingle_n - 1))
        ).alias("pos"),
    ).distinct()
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    kept = toks.join(rm, ["id", "pos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_tokens_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ),
        ).alias("clean_text"),
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(rebuilt, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_tokens_kept"), F.lit(0)).alias("n_tokens_kept"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def _choose_shingle_via(
    df: DataFrame,
    explode_fn,
    skew_threshold: float | None,
    sample_fraction: float,
) -> str:
    """The via='auto' sketch: hottest-shingle share of the shingles of a
    seeded DOCUMENT sample. Sampling happens BEFORE the explode — the
    round-5 first cut sampled the exploded rows, which forced a full
    explode pass just to throw 98% of it away (measured ~2× on the whole
    query at sf0.1); sampling documents first makes the sketch job
    genuinely sample-sized, and a shingle's instance share is preserved
    under document sampling in expectation.

    The window form hash-partitions by shingle, so the hazard is ONE key
    out-massing a fair partition share — the default threshold is
    partition-relative (one fair share:
    ``1 / spark.sql.shuffle.partitions``), not an absolute corpus share: a
    key that alone fills a fair share makes its partition a straggler on
    top of the other keys hashed there. Above it, the AQE-skew-splittable
    'join' form; otherwise the 2x-faster 'window' form. Pass an explicit
    ``skew_threshold`` share to override.

    ``explode_fn`` maps a document frame to its exploded shingle rows with
    the shingle in column ``__sh`` (the caller's own explode shape)."""
    if skew_threshold is None:
        skew_threshold = fair_share_threshold(df)
    sampled = (
        explode_fn(df.sample(fraction=sample_fraction, seed=7))
        .groupBy("__sh")
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("mx"), F.sum("__n").alias("tot"))
        .collect()[0]
    )
    hot_share = (sampled["mx"] or 0) / sampled["tot"] if sampled["tot"] else 0.0
    return "join" if hot_share > skew_threshold else "window"


def duplicated_shingle_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    via: str = "auto",
    skew_threshold: float | None = None,
    sample_fraction: float = 0.02,
) -> DataFrame:
    """Per-document duplicated-passage fraction: the share of a document's
    distinct ``shingle_n``-gram shingles that also occur in at least one
    OTHER document — the corpus-level contamination metric behind
    passage-level dedup (a pairwise near-dup pass catches documents that
    are globally similar; this catches boilerplate passages pasted across
    otherwise-distinct documents).

    Shape: explode distinct shingles (scan-linear), one map-side-combined
    count per shingle, re-join on the shingle, per-doc aggregate — three
    shuffles, all on scale-stable keys (shingle cardinality grows with the
    corpus but so does the cluster). Documents shorter than ``shingle_n``
    tokens have no shingles and report fraction 0.0 via the left join.

    Skew note: a boilerplate shingle present in millions of documents
    concentrates its (doc, shingle) rows on one shingle partition. The
    ``via='window'`` form (count-over-partition, one shuffle, no join —
    2x faster measured) cannot be skew-split by AQE; the ``via='join'``
    count+join form has the same hot-key shape as every inverted-index
    join and AQE's skew-join split (on by default in session.get_spark)
    handles it. Pre-filtering known boilerplate shingles is the manual
    escape in both.

    The default ``via='auto'`` (round 5) picks between them with a cheap
    sketch: one partial-aggregated count over the shingles of a
    ``sample_fraction`` DOCUMENT sample (sampled before the explode, so
    the sketch job is sample-sized); if the hottest shingle out-masses a fair
    partition share (``skew_threshold`` defaults partition-relative — see
    :func:`_choose_shingle_via`), the skew-splittable join form is
    chosen. The sketch is ONE eager sample-sized job at plan-construction
    time — pass an explicit ``via`` to skip it (the documented pattern:
    `operators/similarity.py` sizes buckets the same way behind ``n_rows=``).
    """
    def _explode(d: DataFrame) -> DataFrame:
        return d.select(
            F.col(id_col).alias("id"),
            F.explode(token_shingles(text_col, shingle_n)).alias("__sh"),
        )

    shingles = _explode(widen(df))
    if via == "auto":
        via = _choose_shingle_via(df, _explode, skew_threshold, sample_fraction)
    if via == "window":
        # one shuffle on the shingle: count-over-partition, no join, no
        # second pass over the exploded rows — measured 2x faster than the
        # count+join form at sf0.1
        w = Window.partitionBy("__sh")
        withc = shingles.withColumn("__n_docs", F.count(F.lit(1)).over(w))
    elif via == "join":
        counts = shingles.groupBy("__sh").agg(F.count(F.lit(1)).alias("__n_docs"))
        withc = shingles.join(counts, "__sh")
    else:
        raise ValueError(f"via must be 'window' or 'join', got {via!r}")
    per_doc = (
        withc.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("__n_docs") >= 2, 1).otherwise(0)).alias("__n_dup"),
        )
    )
    ids = df.select(F.col(id_col).alias("id"))
    return (
        ids.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce(
                F.col("__n_dup").cast("double") / F.col("n_shingles").cast("double"),
                F.lit(0.0),
            ).alias("dup_shingle_frac"),
        )
    )
