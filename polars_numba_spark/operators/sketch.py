"""Deterministic cardinality sketches.

Spark's built-in ``approx_count_distinct`` is HyperLogLog++ — fast and
mergeable, but its estimates are engine-specific (no cross-engine oracle
possible; the catalog's ``distinct_users_sketch`` query is therefore its
own accuracy report). This module adds the classic K-Minimum-Values
sketch (Bar-Yossef et al. 2002) built ENTIRELY from deterministic
engine-portable pieces — md5-derived 60-bit hashes, a per-group top-k,
and the ``(k-1) / U_(k)`` estimator — so the whole sketch, estimate
included, reproduces bit-for-bit in any engine with md5 and is fully
DuckDB-oracled (``distinct_users_kmv``).

Scale shape (bounded-state, round 6): the sketch is computed as a real
two-level aggregate. A ``mapInArrow`` partial keeps, per input
partition, only each group's k smallest DISTINCT hashes (bounded
accumulator: ≤k longs per group per partition, exactly the KMV merge
property — any global top-k element is a top-k element of its own
partition). The shuffle therefore carries at most ``k × n_partitions``
hashes per group instead of every distinct value; the JVM-side merge
(``collect_set → array_sort → slice``) re-derives the global k smallest
distinct hashes and the estimator reads the k-th order statistic off
that array. Same estimate as an unbounded computation — pinned by tests
and by the unchanged DuckDB oracle — at a shuffle cost that no longer
matches exact COUNT(DISTINCT). The streaming face
(``streaming/stateful.py::streaming_kmv_distinct``) holds the same
bounded ≤k-longs state per group across micro-batches.

The KMV, Misra-Gries and t-digest partials are each one ``update``/``emit``
pair on :func:`_partition_partials`, which cuts each Arrow batch into its
keys with ``_segmented.keyed_runs`` (the streaming state's helper too): a
group key passes through exact, as ``groupBy`` groups and emits it.
"""

from __future__ import annotations

from functools import partial
from typing import Any, Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructType

from polars_numba_spark.operators._prep import as_list, join_on_keys
from polars_numba_spark.operators._segmented import group_key, keyed_runs
from polars_numba_spark.operators.dedup import md5_long

# md5_long yields 60-bit hashes: uniform on [0, 2^60)
_HASH_SPACE = float(1 << 60)


def _partition_partials(
    df: DataFrame,
    keys: list[str],
    schema: StructType,
    update: Callable[[pa.RecordBatch, Any], Any],
    emit: Callable[[dict[str, pa.Array], Any], pa.RecordBatch],
) -> DataFrame:
    """The sketches' bounded partial stage, one ``mapInArrow`` pass: per
    input partition, each key's rows (``keyed_runs``) fold into its state
    by ``update(rows, state)``, None at first, and at the partition's end
    each state becomes ``emit(key, state)``: ``schema`` rows, key first."""
    return df.mapInArrow(partial(_fold_partition, keys, update, emit), schema=schema)


def _fold_partition(
    keys: list[str],
    update: Callable[[pa.RecordBatch, Any], Any],
    emit: Callable[[dict[str, pa.Array], Any], pa.RecordBatch],
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    states: dict[tuple, Any] = {}
    firsts: dict[tuple, dict[str, pa.Array]] = {}
    for batch in batches:
        for key, name, rows in keyed_runs(batch, keys):
            firsts.setdefault(name, key)
            states[name] = update(rows, states.get(name))
    outs = [emit(firsts[n], st) for n, st in states.items() if st is not None]
    if outs:
        yield from pa.Table.from_batches(outs).combine_chunks().to_batches()


def _key_rows(key: dict[str, pa.Array], n: int, **cols: Any) -> pa.RecordBatch:
    """One key's partial rows: the key repeated ``n`` times, then ``cols``."""
    at = pa.array(np.zeros(n, dtype=np.int64))
    return pa.RecordBatch.from_pydict({**{k: a.take(at) for k, a in key.items()}, **cols})


def _kmv_update(k: int, rows: pa.RecordBatch, top: Sequence[int] | None) -> np.ndarray:
    """The KMV merge, shared with ``streaming_kmv_distinct``: the k smallest
    distinct of ``top`` and the rows' non-null ``__h`` hashes, ascending."""
    vals = rows.column("__h").drop_null().to_numpy()
    if top is not None:
        vals = np.concatenate([np.asarray(top, dtype=np.int64), vals])
    return np.unique(vals)[:k]  # np.unique sorts ascending


def _kmv_emit(key: dict[str, pa.Array], top: np.ndarray) -> pa.RecordBatch:
    return _key_rows(key, len(top), __h=top)


def kmv_partials(
    df: DataFrame, value_col: str, keys: list[str], k: int
) -> DataFrame:
    """The bounded partial stage of :func:`kmv_distinct`, exposed so tests
    can pin the shuffle-volume contract directly: hash JVM-side, then a
    per-partition ``mapInArrow`` that emits each group's ≤k smallest
    distinct hashes. The rows of THIS frame are what the group-by shuffle
    carries."""
    hashed = df.where(F.col(value_col).isNotNull()).select(
        *keys,
        md5_long(F.col(value_col).cast("string")).alias("__h"),
    )
    return _partition_partials(hashed, keys, hashed.schema, partial(_kmv_update, k), _kmv_emit)


def _mg_update(
    value_col: str, k: int, rows: pa.RecordBatch, counters: tuple | None
) -> tuple[pa.Array, np.ndarray]:
    """Misra-Gries over one key's rows: the rows' non-null value counts
    (values under ``groupBy``'s equality, -0.0 as 0.0) added to the key's
    ``(values, counts)`` counters; above k counters, the (k+1)-th largest
    count is subtracted from every counter and the positive ones stay.

    Mergeable-summaries bound (Agarwal et al. 2012): combining batch
    counts then subtracting the (k+1)-th largest counter decrements every
    item by a total ≤ m_p/(k+1) across the partition, so any value with
    true partition frequency > m_p/(k+1) survives. State is ≤k counters
    per group per partition regardless of the distinct count."""
    vc = pc.value_counts(group_key(rows.column(value_col)).drop_null())
    values, counts = vc.field("values"), vc.field("counts").to_numpy()
    if counters is not None:
        merged = pa.table({
            "v": pa.concat_arrays([counters[0], values]),
            "n": np.concatenate([counters[1], counts]),
        }).group_by("v").aggregate([("n", "sum")])
        values, counts = merged["v"].combine_chunks(), merged["n_sum"].to_numpy()
    if len(counts) > k:
        counts = counts - np.sort(counts)[-(k + 1)]
        keep = counts > 0
        values, counts = values.filter(pa.array(keep)), counts[keep]
    return values, counts


def _mg_emit(
    value_col: str, key: dict[str, pa.Array], counters: tuple
) -> pa.RecordBatch:
    """One row per surviving Misra-Gries counter of one key."""
    return _key_rows(key, len(counters[1]), **{value_col: counters[0]})


def heavy_hitter_candidates(
    df: DataFrame, value_col: str, keys: list[str], k: int
) -> DataFrame:
    """The bounded candidate stage of :func:`heavy_hitters`, exposed so
    tests can pin the contract directly: per input partition, at most k
    candidate values per group reach the shuffle — independent of the
    group's distinct count."""
    cols = df.select(*keys, value_col)
    return _partition_partials(
        cols, keys, cols.schema,
        partial(_mg_update, value_col, k), partial(_mg_emit, value_col),
    ).distinct()


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str],
    k: int = 100,
) -> DataFrame:
    """EXACT per-group heavy hitters — every value occurring in more than
    a 1/k share of its group — at a bounded shuffle cost:
    ``(group cols, value_col, cnt, share)``.

    Two passes, the classic distributed frequent-items shape:

    1. **Bounded candidate pass**: a per-partition Misra-Gries summary
       (≤k counters per group per partition, ``mapInArrow``) whose
       survivors are a SUPERSET of the true heavy hitters — any value
       with global share > 1/k has, by pigeonhole, partition frequency
       > m_p/(k+1) somewhere, and the MG bound keeps such values alive.
       The shuffle carries ≤ k × n_partitions candidate rows per group,
       never the full distinct-value set.
    2. **Exact recount**: a broadcast semi-join keeps only candidate
       rows, a JVM aggregate counts them exactly, and the 1/k-share
       filter drops the false positives the MG pass over-admitted.

    The output is therefore EXACT (same rows and counts as a full
    ``GROUP BY`` + ``HAVING cnt*k > total``) — fully oracle-able — while
    the only unbounded aggregate is the cheap per-group total. NULL
    values are excluded (COUNT semantics). ``share`` is rounded to 6
    decimals for cross-engine hash stability.
    """
    keys = as_list(by)
    cands = heavy_hitter_candidates(
        df.where(F.col(value_col).isNotNull()), value_col, keys, k
    )
    totals = df.where(F.col(value_col).isNotNull()).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__total")
    )
    # null-safe: a null key is a group of its own, as in groupBy
    exact = (
        join_on_keys(df, F.broadcast(cands), [*keys, value_col], "left_semi")
        .groupBy(*keys, value_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        join_on_keys(exact, F.broadcast(totals), keys)
        .where(F.col("cnt") * F.lit(k) > F.col("__total"))
        .select(
            *keys,
            value_col,
            "cnt",
            F.round(F.col("cnt") / F.col("__total"), 6).alias("share"),
        )
    )


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str],
    k: int = 64,
) -> DataFrame:
    """Per-group KMV distinct-count estimate:
    ``(group cols, kmv_estimate)``.

    The k-th smallest of the distinct md5-hash values estimates the
    cardinality as ``(k-1) * 2^60 / h_k`` (uniform order statistics); a
    group with fewer than k distinct values reports its exact count (the
    sketch holds every value). NULL values are excluded up front —
    ``COUNT(DISTINCT)`` semantics, and necessary for engine parity: a
    null hash would sort NULLS-FIRST into Spark's top-k but NULLS-LAST in
    other engines, silently corrupting the estimate. Deterministic: same
    input ⇒ same estimate, in every engine with md5.

    Execution is the bounded-state two-level aggregate described in the
    module docstring: the hash is computed JVM-side, a ``mapInArrow``
    partial bounds per-partition state to k distinct hashes per group,
    and the merge is a plain JVM aggregate over ≤k×P rows per group.
    Grouping keys pass through the partial as Arrow values, exact and
    grouped as ``groupBy`` groups them.
    """
    keys = as_list(by)
    partials = kmv_partials(df, value_col, keys, k)
    merged = partials.groupBy(*keys).agg(
        F.slice(F.array_sort(F.collect_set("__h")), 1, k).alias("__topk")
    )
    return merged.select(
        *keys,
        F.size("__topk").alias("__nk"),
        F.element_at("__topk", F.size("__topk")).alias("__hk"),
    ).select(
        *keys,
        F.when(F.col("__nk") < k, F.col("__nk").cast("double"))
        .otherwise(
            F.lit(float(k - 1)) * F.lit(_HASH_SPACE) / F.col("__hk").cast("double")
        )
        .alias("kmv_estimate"),
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str],
    probs: Sequence[float],
    lo: float,
    hi: float,
    n_bins: int = 256,
    round_to: int = 6,
) -> DataFrame:
    """Bounded-state per-group quantile estimates from a fixed-bin
    histogram: ``(group cols, prob, quantile_est)``.

    Spark's ``approx_percentile`` (GK) and DuckDB's ``approx_quantile``
    (t-digest) are engine-specific — no cross-engine oracle possible. A
    fixed [lo, hi) equi-width histogram is the deterministic mergeable
    alternative: the aggregate carries ≤ ``n_bins`` counter rows per group
    through the shuffle regardless of row count (map-side partial
    aggregation collapses each partition to its bin counts first — the
    shuffle never carries values, unlike sort-based exact percentile),
    the merge is counter addition, and the estimate — linear
    interpolation inside the first bin whose cumulative count reaches
    ``p·total`` — is the SAME arithmetic in any engine, so the whole
    thing oracles exactly.

    Error bound: estimates are exact-rank within one bin width
    ((hi-lo)/n_bins); values outside [lo, hi) clamp into the edge bins.
    ``probs`` must lie in (0, 1]. NULL values are excluded (aggregate
    semantics).
    """
    from pyspark.sql import Window

    keys = as_list(by)
    width = (hi - lo) / n_bins
    bin_col = (
        F.least(
            F.lit(n_bins - 1),
            F.greatest(
                F.lit(0), F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
            ),
        )
        .cast("int")
        .alias("__bin")
    )
    counts = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*keys, bin_col)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    cum = counts.select(
        *keys,
        "__bin",
        "__n",
        F.sum("__n").over(w_cum).alias("__cum"),
        F.sum("__n").over(w_all).alias("__total"),
    )
    p = F.explode(
        F.array(*[F.lit(float(x)) for x in probs])
    ).alias("prob")
    exploded = cum.select(*keys, "__bin", "__n", "__cum", "__total", p)
    target = F.col("prob") * F.col("__total").cast("double")
    hit = exploded.where(
        (F.col("__cum").cast("double") >= target)
        & ((F.col("__cum") - F.col("__n")).cast("double") < target)
    )
    frac = (target - (F.col("__cum") - F.col("__n")).cast("double")) / F.col(
        "__n"
    ).cast("double")
    est = F.lit(lo) + F.lit(width) * (F.col("__bin").cast("double") + frac)
    return hit.select(
        *keys, "prob", F.round(est, round_to).alias("quantile_est")
    )


# --- t-digest-style mergeable quantile sketch ------------------------------


def _k1_boundaries(n_centroids: int) -> np.ndarray:
    """Quantile-space bucket boundaries from the t-digest k1 scale function
    (Dunning & Ertl 2019): k(q) = asin(2q-1), inverted at evenly spaced k
    values. Buckets are narrow near q=0 and q=1 and wide in the middle —
    the tail-accuracy property that distinguishes a t-digest from an
    equal-weight strip. Deterministic: no randomness anywhere."""
    j = np.arange(n_centroids + 1, dtype="float64") / n_centroids
    return (np.sin(j * np.pi - np.pi / 2.0) + 1.0) / 2.0


def _compress(
    means: np.ndarray, weights: np.ndarray, n_centroids: int
) -> tuple[np.ndarray, np.ndarray]:
    """Merge sorted (mean, weight) centroids into ≤ n_centroids buckets cut
    at k1 cumulative-weight boundaries. Deterministic given input order;
    inputs MUST be sorted by mean."""
    total = weights.sum()
    if len(means) <= n_centroids or total == 0:
        return means, weights
    bounds = _k1_boundaries(n_centroids) * total
    # bucket index per centroid from cumulative MIDPOINT weight: robust to
    # boundary ties, every bucket cut falls between centroids
    mid = np.cumsum(weights) - weights / 2.0
    idx = np.clip(np.searchsorted(bounds, mid, side="right") - 1, 0, n_centroids - 1)
    out_w = np.bincount(idx, weights=weights, minlength=n_centroids)
    out_m = np.bincount(idx, weights=weights * means, minlength=n_centroids)
    keep = out_w > 0
    return out_m[keep] / out_w[keep], out_w[keep]


def _merge_digest_quantiles(
    means: np.ndarray,
    weights: np.ndarray,
    n_centroids: int,
    probs: Sequence[float],
) -> list[float]:
    """The per-group merge phase of :func:`tdigest_quantiles` as a pure
    function (so tests/test_tdigest.py's Hypothesis sweep drives the REAL
    merge code, not a re-implementation): sort incoming partial centroids
    by mean, re-compress once to ≤ n_centroids buckets, then interpolate
    each requested quantile between cumulative-midpoint ranks.

    Adversarial rank-error envelope (property-pinned): for ANY value
    distribution and ANY partitioning,
    ``err ≤ π/C + max_duplicate_run_mass/2 + 1/(2n)`` — π/(2C) is the k1
    scale function's max bucket mass per compression level (two levels:
    partial + merge), a duplicate run of mass r makes the step-quantile
    ambiguous within r/2 of its edges, and 1/(2n) is finite-sample rank
    granularity. The tighter 1/C the catalog report asserts is an
    EMPIRICAL property of continuous, duplicate-light data (orders
    totalprice) — measured ~0.0014 there — not an adversarial guarantee:
    duplicate-heavy corpora (k1 bucket straddling two duplicate runs takes
    a mean between them) measurably exceed 1/C."""
    order = np.argsort(means, kind="stable")
    m = means[order]
    w = weights[order]
    m, w = _compress(m, w, n_centroids)
    total = w.sum()
    cum_mid = np.cumsum(w) - w / 2.0
    return [
        float(np.interp(p * total, cum_mid, m, left=m[0], right=m[-1]))
        for p in probs
    ]


def _tdigest_update(
    value_col: str, n_centroids: int, rows: pa.RecordBatch, digest: tuple | None
) -> tuple[np.ndarray, np.ndarray] | None:
    """Absorb one key's rows into its sorted ``(means, weights)`` digest,
    each value a weight-1 centroid, and compress whenever the digest
    exceeds 8× the centroid budget — O(n_centroids) state per group. Null
    and NaN values are skipped; a key with no value keeps no digest."""
    vals = rows.column(value_col).drop_null().cast(pa.float64()).to_numpy()
    vals = vals[~np.isnan(vals)]
    if not len(vals):
        return digest
    m0, w0 = (np.empty(0), np.empty(0)) if digest is None else digest
    m, w = np.concatenate([m0, vals]), np.concatenate([w0, np.ones_like(vals)])
    order = np.argsort(m, kind="stable")
    m, w = m[order], w[order]
    if len(m) > 8 * n_centroids:
        m, w = _compress(m, w, n_centroids)
    return m, w


def _tdigest_emit(
    n_centroids: int, key: dict[str, pa.Array], digest: tuple
) -> pa.RecordBatch:
    """≤ n_centroids (mean, weight) rows for one key's digest."""
    m, w = _compress(*digest, n_centroids)
    return _key_rows(key, len(m), __mean=m, __weight=w)


def tdigest_partials(
    df: DataFrame, value_col: str, keys: list[str], n_centroids: int
) -> DataFrame:
    """The bounded partial stage of :func:`tdigest_quantiles`, exposed so
    tests can pin the shuffle-volume contract: ≤ n_centroids rows per
    group per input partition reach the merge shuffle."""
    cols = df.select(*keys, value_col)
    out_schema = StructType([cols.schema[k] for k in keys])
    out_schema.add("__mean", DoubleType(), False).add("__weight", DoubleType(), False)
    return _partition_partials(
        cols, keys, out_schema,
        partial(_tdigest_update, value_col, n_centroids),
        partial(_tdigest_emit, n_centroids),
    )


def tdigest_quantiles(
    df: DataFrame,
    value_col: str,
    by: str | Sequence[str],
    probs: Sequence[float],
    n_centroids: int = 128,
) -> DataFrame:
    """Per-group quantile estimates from a mergeable t-digest-style sketch:
    ``(group cols, prob, quantile_est)`` — the VALUE-ADAPTIVE complement
    of :func:`histogram_quantiles` (r6 verdict next-round #8): no [lo, hi)
    range must be known up front, and the k1 scale function concentrates
    centroids in the tails where fixed-width bins are coarsest.

    Scale shape mirrors :func:`kmv_distinct`: a ``mapInArrow`` partial
    bounds per-partition state to ≤ n_centroids (mean, weight) pairs per
    group — the t-digest merge property: a digest of digests is a valid
    digest — so the shuffle carries ≤ n_centroids × n_partitions rows per
    group regardless of row count; the per-group merge re-sorts and
    re-compresses once, then interpolates each requested quantile between
    cumulative-midpoint ranks. Estimates are deterministic for a fixed
    partitioning; across different partitionings they vary within the
    rank-error bound (pinned by tests/test_tdigest.py) — hence no DuckDB
    oracle: the catalog face is a self-evaluating error report, the
    pattern the KMV sketch's exact twin does not need but every
    merge-order-dependent sketch (HLL, GK, t-digest) does.

    A group whose value column is ENTIRELY null produces no output row at
    all (its partial stage yields nothing), unlike exact-percentile faces
    which surface the group with a null estimate — callers joining
    estimates back per group should left-join and treat the missing group
    as "no measurable values", or pre-filter such groups explicitly.
    """
    keys = as_list(by)
    probs = [float(p) for p in probs]
    partials = tdigest_partials(df, value_col, keys, n_centroids)

    def merge(table: pa.Table) -> pa.Table:
        ests = _merge_digest_quantiles(
            table.column("__mean").to_numpy(),
            table.column("__weight").to_numpy(),
            n_centroids,
            probs,
        )
        head = table.select(keys).take(np.zeros(len(probs), dtype=np.int64))
        return head.append_column("prob", pa.array(probs)).append_column(
            "quantile_est", pa.array(ests)
        )

    out_schema = StructType([partials.schema[k] for k in keys])
    out_schema.add("prob", DoubleType(), False).add("quantile_est", DoubleType(), False)
    return partials.groupBy(*keys).applyInArrow(merge, schema=out_schema)


def hll_registers(
    df: DataFrame, value_col: str, by: str | Sequence[str], p: int = 12
) -> DataFrame:
    """Per-group HyperLogLog registers from the engine-portable 60-bit md5
    hash: ``(group cols, bucket, rho)`` with ``bucket`` the top ``p`` hash
    bits and ``rho`` the 1-based position of the first set bit in the
    remaining ``60 - p`` bits (``60 - p + 1`` when they are all zero —
    Flajolet et al. 2007). NULLs are excluded (COUNT(DISTINCT) semantics).

    Bounded state by construction: ``max(rho)`` is map-side combinable, so
    the shuffle carries at most ``2^p`` rows per group per partition —
    the defining property that lets one HLL summarize 100 TB."""
    keys = as_list(by)
    w_bits = 60 - p
    rho_max = w_bits + 1
    h = md5_long(F.col(value_col).cast("string"))
    # lpad(bin(w)) has no sign issues: md5_long is non-negative (60-bit)
    w = h.bitwiseAND(F.lit((1 << w_bits) - 1))
    first_one = F.instr(F.lpad(F.bin(w), w_bits, "0"), "1")
    rho = F.when(first_one == 0, F.lit(rho_max)).otherwise(first_one)
    return (
        df.where(F.col(value_col).isNotNull())
        .select(
            *keys,
            F.shiftright(h, w_bits).cast("int").alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate_expr(used: Column, z_present: Column, p: int = 12) -> Column:
    """HLL estimate as a Catalyst expression over the two EXACT integers a
    register set reduces to — ``used`` (non-zero registers) and
    ``z_present`` (integer ``sum(2^(rho_max - rho))`` over them). Shared by
    the batch aggregate and the streaming state face so both compute the
    identical (oracle-reproducible) double arithmetic JVM-side."""
    m = 1 << p
    rho_max = 60 - p + 1
    z = z_present + (F.lit(m) - used) * F.lit(1 << rho_max).cast("long")
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    raw = (
        alpha
        * F.lit(float(m))
        * F.lit(float(m))
        * F.lit(float(1 << rho_max))
        / z.cast("double")
    )
    n_zero = F.lit(m) - used
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / n_zero.cast("double"))
    return F.when((raw <= F.lit(2.5 * m)) & (n_zero > 0), linear).otherwise(raw)


def hll_distinct(
    df: DataFrame, value_col: str, by: str | Sequence[str], p: int = 12
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate — ENGINE-PORTABLE and
    hash-exact, unlike built-in approx_count_distinct sketches whose
    registers are engine-private: the registers derive from the md5 hash
    (:func:`hll_registers`), the register sum is accumulated as the EXACT
    integer ``sum(2^(rho_max - rho))`` (every addend a power of two ≤ 2^49
    at p=12, so the sum is bit-exact in any engine with 64-bit ints — no
    float-order sensitivity), and the only floating point is the final
    alpha correction / linear-counting branch, reproduced verbatim by the
    DuckDB oracle. Returns ``(group cols, n_registers int, hll_estimate
    double)`` with the standard small-range linear-counting correction
    (Flajolet et al. 2007; the 60-bit hash space needs no large-range
    correction at these cardinalities).

    Two bounded aggregates: (group, bucket) max — ≤ 2^p rows per group
    cross the shuffle — then a per-group sum over ≤ 2^p rows."""
    keys = as_list(by)
    rho_max = 60 - p + 1
    regs = hll_registers(df, value_col, by, p)
    per_group = regs.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__used"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {rho_max} - rho)")
        ).alias("__z_present"),
    )
    est = hll_estimate_expr(F.col("__used"), F.col("__z_present"), p)
    return per_group.select(
        *keys,
        F.col("__used").cast("int").alias("n_registers"),
        F.round(est, 6).alias("hll_estimate"),
    )


# --- Bloom runtime-filter -----------------------------------------------


def _bloom_hash(key: Column, j: int, portable: bool) -> Column:
    """j-th seeded bloom hash of a key (md5 recipe when portable)."""
    tagged = F.concat(key.cast("string"), F.lit(f"#bloom{j}"))
    return md5_long(tagged) if portable else F.xxhash64(tagged)


def bloom_build(
    df: DataFrame,
    key_col: str,
    bits_per_key: int = 8,
    n_hashes: int = 4,
    portable: bool = True,
) -> DataFrame:
    """Build a Bloom filter bitmap over the DISTINCT non-null keys of
    ``df[key_col]`` as ONE row ``(m_bits bigint, words array<bigint>)`` —
    the explicit, engine-portable form of the runtime join prefilter
    (Spark's own AQE variant: ``spark.sql.optimizer.runtime.bloomFilter``,
    `InjectRuntimeFilter`). Use it when the build side is a selective dim
    and the probe side is a 100-TB fact: broadcasting the ~KB bitmap and
    dropping non-matching fact rows BEFORE the shuffle turns a full
    fact-table shuffle into one proportional to the match rate (plus the
    bounded false-positive rate).

    Scale shape: the bitmap size is data-scaled IN-PLAN (``m = 32 *
    ceil(bits_per_key * n_keys / 32)`` from a 1-row aggregate — no
    driver-side count), so the false-positive rate stays
    ``(1 - e^(-k/bits_per_key))^k`` (~2.4% at 8 bits/key, k=4) at any
    build cardinality. Bits live in 32-bit words packed into BIGINTs
    (bit 31 is the widest shift — no sign-overflow in any engine), set
    via a map-side-combinable ``bit_or`` aggregate; the dense word array
    is assembled from a ``map_from_entries`` lookup so absent words are
    exact zeros. With ``portable=True`` every bit position derives from
    md5 (:func:`~polars_numba_spark.operators.dedup.md5_long`), so a SQL
    oracle reproduces the filter bit-for-bit; ``portable=False`` swaps in
    xxhash64 for production throughput.
    """
    keys = (
        df.select(F.col(key_col).alias("__k"))
        .where(F.col("__k").isNotNull())
        .distinct()
    )
    # greatest(..., 32): an EMPTY build side still yields one all-zero
    # word (reject-everything bloom) instead of a modulo-by-zero / a
    # descending sequence() in the dense-array assembly
    stats = keys.agg(F.count(F.lit(1)).alias("__n")).select(
        F.greatest(
            (
                F.lit(32)
                * F.ceil(F.lit(bits_per_key) * F.col("__n") / F.lit(32.0))
            ).cast("long"),
            F.lit(32).cast("long"),
        ).alias("m_bits")
    )
    pos = (
        keys.crossJoin(F.broadcast(stats))
        .select(
            "m_bits",
            F.explode(
                F.array(
                    *[_bloom_hash(F.col("__k"), j, portable) for j in range(n_hashes)]
                )
            ).alias("__h"),
        )
        .select("m_bits", F.pmod(F.col("__h"), F.col("m_bits")).alias("__pos"))
    )
    words = (
        pos.select(
            "m_bits",
            F.floor(F.col("__pos") / 32).cast("long").alias("__w"),
            # shiftleft() the builtin needs a literal shift; the SQL form
            # accepts the per-row bit index
            F.expr(
                "shiftleft(cast(1 as bigint), cast(__pos % 32 as int))"
            ).alias("__b"),
        )
        .groupBy("m_bits", "__w")
        .agg(F.bit_or("__b").alias("__word"))
    )
    n_words = (F.col("m_bits") / F.lit(32)).cast("long")
    # anchor on the 1-row stats (left join) so an empty build still yields
    # the one-row all-zero bitmap; element_at(NULL map, i) -> NULL -> 0
    wordmap = words.groupBy("m_bits").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__w"), F.col("__word")))
        ).alias("__m")
    )
    return stats.join(wordmap, "m_bits", "left").select(
        "m_bits",
        F.transform(
            F.sequence(F.lit(0).cast("long"), n_words - 1),
            lambda i: F.coalesce(
                F.element_at(F.col("__m"), i), F.lit(0).cast("long")
            ),
        ).alias("words"),
    )


def bloom_probe(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    n_hashes: int = 4,
    portable: bool = True,
    flag: str = "passes_bloom",
) -> DataFrame:
    """Probe a :func:`bloom_build` bitmap: adds boolean ``flag`` — true
    iff all ``n_hashes`` bit positions of ``df[key_col]`` are set. The
    bitmap is a broadcast 1-row cross join (the only join this adds), so
    the probe is a pure codegen'd projection over the fact scan — zero
    shuffle, which is the entire point of a runtime prefilter. Guarantees
    no false negatives (every true member passes); false positives occur
    at the bounded rate and MUST be re-verified by the exact join that
    follows. NULL probe keys yield a NULL flag (a null key never equi-
    joins, so callers treat it as non-matching). The bitmap columns are
    renamed to reserved ``__bloom_*`` names before the crossJoin so a
    probe frame that itself has a ``m_bits`` or ``words`` column neither
    collides nor gets dropped."""
    bm = bloom.select(
        F.col("m_bits").alias("__bloom_m_bits"),
        F.col("words").alias("__bloom_words"),
    )
    probed = df.crossJoin(F.broadcast(bm))
    cond = None
    for j in range(n_hashes):
        pcol = f"__bloom_p{j}"
        probed = probed.withColumn(
            pcol,
            F.pmod(_bloom_hash(F.col(key_col), j, portable), F.col("__bloom_m_bits")),
        )
        # SQL shiftright accepts the per-row bit index (the builtin needs
        # a literal); element_at is 1-based
        hit = F.expr(
            f"(shiftright(element_at(__bloom_words,"
            f" cast(floor({pcol} / 32) as int) + 1),"
            f" cast({pcol} % 32 as int)) & 1) = 1"
        )
        cond = hit if cond is None else (cond & hit)
    return (
        probed.withColumn(flag, cond)
        .drop(
            "__bloom_m_bits",
            "__bloom_words",
            *[f"__bloom_p{j}" for j in range(n_hashes)],
        )
    )


# --- Count-min sketch ------------------------------------------------------


def _cms_hash(key: Column, j: int, portable: bool) -> Column:
    """j-th seeded count-min row hash of a key (md5 recipe when portable)."""
    tagged = F.concat(key.cast("string"), F.lit(f"#cms{j}"))
    return md5_long(tagged) if portable else F.xxhash64(tagged)


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    portable: bool = True,
) -> DataFrame:
    """Build a count-min sketch over ``df[key_col]`` as a counter table
    ``(j, bucket, cnt)`` with ``depth x width`` rows — the frequency
    sketch whose estimate NEVER under-counts (each of the ``depth`` rows
    holds a full count smeared across ``width`` buckets; the min across
    rows is the classic Cormode-Muthukrishnan point estimate, biased
    high by at most ``2N/width`` with probability ``1 - 2^-depth``).

    Scale shape: each input row explodes into ``depth`` (row, bucket)
    coordinates, but the aggregate is map-side combinable and collapses
    to a FIXED ``depth*width`` keyspace (4096 rows at the defaults) no
    matter the input size — the shuffle is sketch-sized, not data-sized,
    and two sketches merge by adding counters (the property that makes
    this the streaming/distributed frequency primitive). With
    ``portable=True`` the bucket of every key derives from md5
    (:func:`~polars_numba_spark.operators.dedup.md5_long`) so a SQL
    oracle reproduces every counter exactly; ``portable=False`` swaps in
    xxhash64 for production throughput."""
    coords = cms_coords(df, key_col, depth=depth, width=width, portable=portable)
    return coords.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def cms_coords(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    portable: bool = True,
) -> DataFrame:
    """The per-row (j, bucket) coordinate explode :func:`cms_build`
    aggregates — exposed separately so a STREAMING aggregation can
    maintain the same counters incrementally (counter addition is the
    CMS merge, so the streaming state is the fixed depth*width counter
    table itself, never per-key state)."""
    keys = (
        df.select(F.col(key_col).alias("__k"))
        .where(F.col("__k").isNotNull())
    )
    return keys.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.pmod(
                            _cms_hash(F.col("__k"), j, portable),
                            F.lit(width),
                        ).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("e")
    ).select(F.col("e.j").alias("j"), F.col("e.bucket").alias("bucket"))


def cms_probe(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    portable: bool = True,
) -> DataFrame:
    """Point-query a :func:`cms_build` sketch for every row of ``probes``:
    recompute the ``depth`` bucket coordinates of each probe key, join
    them to the (broadcast, sketch-sized) counter table, and take the
    min counter as ``cms_n``. Buckets never counted at build time come
    back as exact zeros (left join + coalesce), so probing a key absent
    from the build data correctly estimates 0."""
    coords = probes.select(
        F.col(key_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.pmod(
                            _cms_hash(F.col(key_col), j, portable),
                            F.lit(width),
                        ).alias("bucket"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("e"),
    ).select(key_col, F.col("e.j").alias("j"), F.col("e.bucket").alias("bucket"))
    joined = coords.join(F.broadcast(sketch), ["j", "bucket"], "left").select(
        key_col, F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("cnt")
    )
    return joined.groupBy(key_col).agg(F.min("cnt").alias("cms_n"))


# --- KMV set algebra (theta-sketch style intersection) ---------------------

_KMV_U = 1152921504606846976  # 2^60: the md5_long hash-space size


def kmv_pairwise_overlap(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int = 256,
) -> DataFrame:
    """Estimate |A ∩ B| for every unordered pair of groups from their KMV
    sketches alone — theta-sketch style set algebra (the same sketches
    :func:`kmv_distinct` builds, reused for INTERSECTION instead of
    cardinality, as in the Apache DataSketches theta family).

    Per group the sketch is the k-1 smallest distinct md5 hashes of the
    keys plus the k-th smallest as the sampling threshold θ (θ = the full
    hash space U when the group has fewer than k keys — the sketch then
    holds the whole set and the estimate is exact). For a pair, common
    hashes below θ_pair = min(θ_a, θ_b) are a uniform sample of the true
    intersection at rate θ_pair/U, so ``est = c * U / θ_pair``.

    Scale shape: per-group top-k is one window over the hashed distinct
    keys (group keyspace x k rows out); the pair join matches SKETCH rows
    on hash equality — at most k rows per group regardless of data size,
    so pairwise overlap across G groups costs O(G²k) sketch-row
    comparisons, never a data-sized self-join. Deterministic md5 hashing
    makes the whole estimate SQL-oracleable bit-for-bit."""
    hashed = (
        df.select(
            F.col(group_col).alias("g"),
            F.col(key_col).cast("string").alias("v"),
        )
        .where(F.col("v").isNotNull())
        .distinct()
        .select("g", md5_long(F.col("v")).alias("h"))
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(W.partitionBy("g").orderBy("h"))
    ranked = hashed.withColumn("rn", rn)
    thetas = ranked.groupBy("g").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") == k, F.col("h"))),
            F.lit(_KMV_U).cast("long"),
        ).alias("theta")
    )
    sample = ranked.where(F.col("rn") <= k - 1).select("g", "h")
    groups = thetas.select(F.col("g"), F.col("theta"))
    base = (
        groups.select(F.col("g").alias("g_a"), F.col("theta").alias("theta_a"))
        .crossJoin(
            groups.select(
                F.col("g").alias("g_b"), F.col("theta").alias("theta_b")
            )
        )
        .where(F.col("g_a") < F.col("g_b"))
        .withColumn("theta_pair", F.least("theta_a", "theta_b"))
    )
    common = (
        sample.select(F.col("g").alias("g_a"), "h")
        .join(sample.select(F.col("g").alias("g_b"), "h"), "h")
        .where(F.col("g_a") < F.col("g_b"))
    )
    counted = (
        common.join(
            F.broadcast(base.select("g_a", "g_b", "theta_pair")),
            ["g_a", "g_b"],
        )
        .where(F.col("h") < F.col("theta_pair"))
        .groupBy("g_a", "g_b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        base.join(counted, ["g_a", "g_b"], "left")
        .select(
            "g_a",
            "g_b",
            (
                F.coalesce(F.col("c"), F.lit(0).cast("long")).cast("double")
                * F.lit(float(_KMV_U))
                / F.col("theta_pair").cast("double")
            ).alias("kmv_overlap"),
        )
    )
