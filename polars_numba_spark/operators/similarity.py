"""Similarity search over embedding columns (``array<float>``).

Two tiers:

- **Brute-force cosine top-k** — exact baseline. The distance arithmetic is
  a single codegen'd expression (``zip_with`` + ``aggregate``), queries are
  broadcast, and the candidate scan parallelizes over the corpus partitions:
  O(|queries| × |corpus| × dim) FLOPs but zero shuffle until the final
  per-query top-k (window over a broadcast-joined scan).
- **LSH-bucketed (random hyperplane)** — the scale path. Sign-of-projection
  against ``n_planes`` deterministic hyperplanes gives a bucket key; only
  same-bucket candidates are scored. Recall is tunable via planes/rotations;
  the candidate join is bucket-local, so cost tracks bucket sizes instead of
  |queries| × |corpus|. This is the IVF-style pattern that survives a 100×
  corpus scale-up.

All arithmetic is done in float64 after an explicit cast from the stored
float32 — deterministic, index-ordered accumulation (matches DuckDB's
``list_cosine_similarity`` bit-for-bit, which the oracle queries rely on).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from polars_numba_spark.sources import widen


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Index-ordered dot product (left-to-right accumulation).

    Deliberately the interpreted higher-order spelling. An unrolled
    flat-expression fast path (64 codegen'd multiply-adds behind a size
    guard) was measured this round (r14): bit-identical results, NO win on
    the pair-scoring faces (embedding_near_dup_pairs 4.8s unchanged — the
    interpreter is not the bottleneck there), and a catastrophic planning
    blow-up on expression-compounding faces (embedding_topk_lsh 6.4s →
    65s, kmeans_assignments ~4s → 13-26s: every plane/centroid copy of
    the 129-node unrolled tree lands in Catalyst's optimizer where the
    10-node aggregate stays opaque). Reverted; see OPTIMIZATION_r14.md.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sumsq(a: Column) -> Column:
    """Index-ordered sum of squares — same per-element ops in the same
    order as ``dot(a, a)`` (x·x then left-to-right add) without the
    zip_with pass, so results are bit-identical and the array is
    traversed once."""
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def norm(a: Column) -> Column:
    return F.sqrt(sumsq(a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_with_norms(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with the norms precomputed per VECTOR instead of per pair.

    Spark's higher-order functions (zip_with/aggregate) execute interpreted,
    not codegen'd, so a pairwise ``cosine(a, b)`` pays three interpreted
    array reductions per pair. Hoisting the norms into the per-vector prep
    leaves one reduction (the dot product) per pair — ~3× on pair-scoring
    stages — while the arithmetic (and so bit-exactness vs DuckDB's
    list_cosine_similarity) is unchanged: same values, same operation
    order, merely computed once."""
    return dot(a, b) / (norm_a * norm_b)


def _pair_cosine(
    df: DataFrame,
    a_vec: str,
    b_vec: str,
    a_norm: str,
    b_norm: str,
    out_col: str = "cosine_sim",
) -> DataFrame:
    """Score a joined-pair frame with ``cosine_with_norms``: the output is
    ``df``'s other columns plus ``out_col`` (vectors and norms are consumed).
    A batch NumPy kernel for this step was measured slower and removed; see
    OPTIMIZATION_r15.md."""
    consumed = {a_vec, b_vec, a_norm, b_norm}
    keep = [c for c in df.columns if c not in consumed]
    return df.select(
        *keep,
        cosine_with_norms(
            F.col(a_vec), F.col(b_vec), F.col(a_norm), F.col(b_norm)
        ).alias(out_col),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, cosine_sim).

    ``queries`` is broadcast (top-k workloads have small query sets); the
    corpus scan parallelizes; the only shuffle is the per-query window. Ties
    break on neighbor id for a total order. ``round_to`` rounds the cosine
    BEFORE ranking (the libm-absorbing recipe): on duplicate-heavy corpora
    exact-copy neighbors score 1.0±1ulp depending on the engine's
    normalization order, and rounding makes the tie (and therefore the id
    tiebreak) engine-exact.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    ).withColumn("qn", norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double(vec_col).alias("cv")
    ).withColumn("cn", norm(F.col("cv")))
    pairs = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "qv", "cv", "qn", "cn")
    )
    scored = _pair_cosine(pairs, "qv", "cv", "qn", "cn")
    if round_to is not None:
        scored = scored.withColumn(
            "cosine_sim", F.round(F.col("cosine_sim"), round_to)
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def _plane_weights(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic Gaussian hyperplane weights (seeded, reproducible)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def hyperplane_bucket(
    vec_col: Column | str, dim: int, n_planes: int = 8, seed: int = 42
) -> Column:
    """Random-hyperplane LSH bucket id (0 .. 2^n_planes - 1).

    Plane weights are seeded Gaussians embedded as plan literals — fine for
    embedding dims up to a few thousand; beyond that, ship a broadcast
    weights table and join instead.
    """
    v = as_double(vec_col) if isinstance(vec_col, str) else vec_col
    weights = _plane_weights(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        warr = F.array(*[F.lit(w) for w in weights[p]])
        proj = dot(v, warr)
        bucket = bucket + F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def _multi_table_buckets(
    vec_col: Column | str, dim: int, n_planes: int, n_tables: int, seed: int = 42
) -> Column:
    """Array of (table, bucket) keys — one entry per LSH table."""
    return F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                hyperplane_bucket(vec_col, dim, n_planes, seed=seed + 1000 * t).alias(
                    "bucket"
                ),
            )
            for t in range(n_tables)
        ]
    )


def _with_bucket_array(
    df: DataFrame,
    vec_col: str,
    dim: int,
    n_planes: int,
    n_tables: int,
    seed: int = 42,
    with_norm: bool = False,
) -> DataFrame:
    """``df`` + a ``__buckets`` array<long> column (one bucket per LSH
    table) computed batch-wise in NumPy via ``mapInArrow`` — the guide-§4.2
    replacement for ``n_tables × n_planes`` interpreted ``aggregate(
    zip_with)`` projections per row (32 of them × 64 dims on the top-k
    face), whose literal-weight expression trees also dominated Catalyst
    planning time (6.9s plan audit for one face in PLANGATE r14).

    BIT-EXACT CONTRACT with the expression spelling (which the DuckDB
    oracle reproduces, so the hash gate pins it):

    - the projection accumulates plane-by-plane in index order — one
      rounded multiply then one rounded add per element, exactly
      ``aggregate(zip_with(v, w, x·y), 0.0, acc + x)``. NumPy's
      ``acc += vs[:, d] * w[d]`` performs the identical pair of IEEE
      ops per accumulator per step (no FMA fusion); float32 → float64
      widening is exact on both paths.
    - sign test is strict ``> 0`` under SPARK SQL comparison semantics,
      where NaN is greater than every value — so a NaN projection sets
      the bit (``acc > 0 | isnan(acc)``), unlike raw IEEE/NumPy where
      ``NaN > 0`` is false. Caught by the adversarial differential
      (bucket 15 vs 0 on a NaN-bearing vector); DuckDB's float ordering
      agrees with Spark's here.
    - any row that is not a clean ``dim``-length vector gets bucket 0 in
      EVERY table, matching the expression path: a null vector, a null
      element, or a length ≠ ``dim`` (zip_with null-pads the short side)
      all null the projection, and ``F.when(proj > 0, …).otherwise(0)``
      folds a null projection to 0.

    The whole input row passes through the Python boundary (id + the
    vector — exactly the columns the function needs; callers must select
    them first per §4.1 column-pruning).

    ``with_norm=True`` (r15) additionally emits ``__norm`` — the same
    index-ordered ``sqrt(aggregate(v, 0.0, acc + x·x))`` the interpreted
    ``norm()`` computes, piggybacked on the batch pass the kernel already
    makes over every vector. Norm semantics differ from bucket semantics
    on purpose: a RAGGED row (length ≠ ``dim``) still has a norm over its
    OWN length (the expression path computes ``norm`` independently of
    the projection), while a null row / null element yields NULL."""
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    extra_fields = [StructField("__buckets", ArrayType(LongType()))]
    if with_norm:
        extra_fields.append(StructField("__norm", DoubleType()))
    out_schema = StructType(list(df.schema.fields) + extra_fields)
    vec_idx = df.columns.index(vec_col)
    n_total = n_tables * n_planes

    def project(batches):
        import pyarrow as pa

        from polars_numba_spark._arrow import ListVectors

        # heavyweight init once per task (§4.5): plane matrix (P, dim)
        planes = np.concatenate(
            [
                np.asarray(_plane_weights(dim, n_planes, seed + 1000 * t))
                for t in range(n_tables)
            ]
        )
        shifts = (1 << np.arange(n_planes, dtype=np.int64))
        for batch in batches:
            vecs = ListVectors(batch.column(vec_idx))
            n = len(vecs.ok)
            clean = vecs.ok & (vecs.lengths == dim)
            buckets = np.zeros((n, n_tables), dtype=np.int64)
            idx = np.nonzero(clean)[0]
            if len(idx):
                vs = vecs.rows(idx, dim)
                acc = np.zeros((len(idx), n_total))
                with np.errstate(over="ignore", invalid="ignore"):
                    for d in range(dim):
                        # one rounded multiply + one rounded add per step —
                        # the exact left-fold the expression spelling performs
                        acc += vs[:, d, None] * planes[None, :, d]
                # Spark SQL (and DuckDB) order NaN above every value, so
                # `proj > 0` is TRUE for a NaN projection — not IEEE
                bits = (acc > 0.0) | np.isnan(acc)
                buckets[idx] = (
                    bits.reshape(len(idx), n_tables, n_planes) * shifts
                ).sum(axis=2)
            extra_cols = []
            if with_norm:
                vn = vecs.norms()
                extra_cols.append(
                    pa.array(
                        [float(vn[i]) if vecs.ok[i] else None for i in range(n)],
                        type=pa.float64(),
                    )
                )
            blist = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n + 1) * n_tables, n_tables), type=pa.int32()
                ),
                pa.array(buckets.reshape(-1), type=pa.int64()),
            )
            extra_schema = [pa.field("__buckets", pa.list_(pa.int64()))]
            if with_norm:
                extra_schema.append(pa.field("__norm", pa.float64()))
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(batch.num_columns)]
                + [blist]
                + extra_cols,
                schema=pa.schema(list(batch.schema) + extra_schema),
            )

    return df.mapInArrow(project, out_schema)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via multi-table hyperplane LSH.
    ``round_to`` rounds cosines before ranking (see brute_force_topk).

    A candidate is any corpus vector sharing ≥1 (table, bucket) key with the
    query; candidates are deduped, scored, and top-k'd. Recall/cost dial:
    more tables → higher recall, more candidates (per-table selectivity is
    ~2^-n_planes). The join is bucket-equality — shuffle volume tracks bucket
    sizes, never |queries| × |corpus| — which is what makes this the 100×
    scale path. Recall is probabilistic; tests pin a floor against
    :func:`brute_force_topk`. On clustered real-world embeddings the
    recall/cost tradeoff is far better than on uniform-random vectors.

    POSITIONING (round-1 verdict): this is the secondary / candidate-
    generation path. The default ANN stack is IVF
    (``operators/vector.py::ivf_topk`` — k-means cells + nprobe search,
    self-reported recall@5 0.92 vs 0.68 for single-table hyperplanes on
    this corpus); prefer it unless an index-free, one-pass candidate
    generator is specifically needed.

    r14: both sides' bucket arrays are computed batch-wise in NumPy via
    :func:`_with_bucket_array` (guide §4.2) instead of ``n_tables ×
    n_planes`` interpreted ``aggregate(zip_with)`` expressions per row —
    bit-exact by construction and by differential (16,080-pair diff incl.
    NaN/inf/ragged/null rows; oracle hash-green at sf0.01/sf0.001; all
    seven dirty corpora exact). Face floor 6.00 → 1.93s at sf0.1; on a
    100× corpus the projection stage reads CPU 46.2 → 21.7 cpu-s (−53%)
    — the expression path also made Catalyst re-plan 32 × 64 literal
    weights per query (6.9s plan-audit cost in PLANGATE r13), which the
    opaque kernel removes (plan 116K → 8.7K chars).
    """
    def _prep(side: DataFrame, out_id: str, out_vec: str, out_norm: str) -> DataFrame:
        # §4.1: pass ONLY the columns the kernel needs across the boundary.
        # r15: the norm rides the SAME kernel pass (with_norm) — previously
        # it was an interpreted sumsq evaluated per EXPLODED (row, table)
        # copy, i.e. n_tables times per vector.
        mapped = _with_bucket_array(
            side.select(id_col, vec_col), vec_col, dim, n_planes, n_tables,
            with_norm=True,
        )
        return mapped.select(
            F.col(id_col).alias(out_id),
            as_double(vec_col).alias(out_vec),
            F.col("__norm").alias(out_norm),
            F.posexplode("__buckets").alias("__t", "__b"),
        ).select(
            out_id,
            out_vec,
            F.struct(
                F.col("__t").alias("table"), F.col("__b").alias("bucket")
            ).alias("tb"),
            out_norm,
        )

    c = _prep(corpus, "neighbor_id", "cv", "cn")
    q = _prep(queries, "query_id", "qv", "qn")
    # r15: score candidates BEFORE the dedup shuffle.
    # The cosine is a pure function of the pair, so scoring bucket-collision
    # duplicates and deduping the (query, neighbor, cos) rows afterwards is
    # result-identical — and the dropDuplicates exchange now carries three
    # narrow columns instead of two 64-dim vectors per row (§2.3/§8:
    # shuffle decisions, not payloads).
    pairs = (
        c.join(F.broadcast(q), "tb")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "qv", "cv", "qn", "cn")
    )
    scored = _pair_cosine(pairs, "qv", "cv", "qn", "cn").dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    if round_to is not None:
        scored = scored.withColumn(
            "cosine_sim", F.round(F.col("cosine_sim"), round_to)
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def planes_for_corpus(n_rows: int, target_bucket_rows: int = 256) -> int:
    """Hyperplane count whose 2^n bucket space keeps expected bucket
    occupancy ≈ ``target_bucket_rows`` — the knob that keeps within-bucket
    self-join cost O(n · occupancy) instead of O(n²/constant)."""
    import math

    return max(4, math.ceil(math.log2(max(n_rows, 2) / target_bucket_rows)))


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int | None = None,
    n_tables: int = 4,
    target_bucket_rows: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """Semantic near-dup pairs: shared LSH bucket in ≥1 table AND cosine ≥
    threshold.

    NOTE: with ``n_planes=None`` (the default) this runs an EAGER
    ``embeddings.count()`` Spark job during plan construction to size the
    bucket space — a deliberate action inside an otherwise lazy builder.
    Callers invoking it repeatedly (loops, retries) should pass ``n_rows``
    (a precomputed row count) or an explicit ``n_planes`` to skip the job.

    Scale shape (round-1 verdict fix): the bucket count is NOT a constant —
    ``n_planes`` defaults to ``log2(corpus / target_bucket_rows)`` (one
    cheap count(), parquet-metadata-only at rest), so the bucket space
    GROWS with the corpus and expected occupancy stays ~``target_bucket_
    rows``: candidate pairs are O(n · occupancy), never O(n²/2^const).
    Recall lost to the finer buckets is bought back with ``n_tables``
    independent hyperplane tables (multi-table LSH, same machinery as
    :func:`lsh_topk`); a true near-dup pair collides in ≥1 table with
    probability 1 - (1 - p^planes)^tables for per-plane agreement p =
    1 - angle/π (≈1 at near-dup thresholds).
    """
    if n_planes is None:
        if n_rows is None:
            n_rows = embeddings.count()  # the documented eager sizing job
        n_planes = planes_for_corpus(n_rows, target_bucket_rows)
    # r14: bucket arrays via the batch NumPy kernel (bit-exact twin of the
    # expression spelling — see _with_bucket_array), not n_tables×n_planes
    # interpreted projections per row
    e = (
        _with_bucket_array(
            widen(embeddings.select(id_col, vec_col)), vec_col, dim, n_planes,
            n_tables, with_norm=True,
        )
        .select(
            F.col(id_col).alias("id"),
            as_double(vec_col).alias("v"),
            F.col("__norm").alias("nv"),
            F.posexplode("__buckets").alias("__t", "__b"),
        )
        .select(
            "id",
            "v",
            F.struct(
                F.col("__t").alias("table"), F.col("__b").alias("bucket")
            ).alias("tb"),
            "nv",
        )
    )
    a = e.alias("a")
    b = e.alias("b")
    # r15: score BEFORE the threshold filter and the pair-dedup shuffle —
    # scoring the (rare) multi-table collisions twice is cheap, while the
    # dropDuplicates exchange now moves only the surviving (a_id, b_id,
    # cos) rows instead of two vectors per candidate (§2.3/§8). The cosine is a pure function of the pair, so
    # filter→dedup ≡ dedup→score→filter row-for-row.
    pairs = a.join(
        b,
        (F.col("a.tb") == F.col("b.tb")) & (F.col("a.id") < F.col("b.id")),
    ).select(
        F.col("a.id").alias("a_id"),
        F.col("b.id").alias("b_id"),
        F.col("a.v").alias("av"),
        F.col("b.v").alias("bv"),
        F.col("a.nv").alias("an"),
        F.col("b.nv").alias("bn"),
    )
    return (
        _pair_cosine(pairs, "av", "bv", "an", "bn")
        .where(F.col("cosine_sim") >= threshold)
        .dropDuplicates(["a_id", "b_id"])
    )
