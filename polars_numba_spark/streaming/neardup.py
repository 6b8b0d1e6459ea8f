"""Streaming near-duplicate deduplication: an incremental minhash keep-list
maintained across micro-batches — the 100-TB INGEST face of the batch
``minhash_dedup_pairs(emit='keeplist')`` contract.

A pipeline that re-runs corpus×corpus dedup on every ingest pays the full
banding self-join each time; this module pays per batch only

- one banding pass over the BATCH (corpus bands are persisted, not
  recomputed — the property ``minhash_lsh_candidates_delta`` documents an
  ingest pipeline would want, made real here),
- one broadcast semi-join of the persisted band store against the batch's
  touched buckets, and
- one window-MIN star pass over those touched buckets only

— so per-batch cost tracks the BATCH (plus touched-bucket membership),
never the corpus². Star edges accumulate in an append-only edge store;
the final connected components equal the batch keep-list over the full
corpus, independent of arrival order or batch boundaries:

PROOF SKETCH (why accumulation ≡ the batch star): every batch re-stars
each touched bucket over its FULL membership so far, so after the last
batch that touches a bucket, the edge store contains a connected star
over that bucket's final membership; earlier partial stars add only
within-bucket edges (subsets of the bucket clique). Hence the union's
connectivity per bucket equals the final bucket clique's — exactly what
the batch ``_bucket_star_edges`` + components compute. This holds for the
UNVERIFIED relation (bucket co-membership = duplicate verdict, the
standard large-corpus LSH posture minhash keep-lists default to); a
Jaccard-verified variant would verify a DIFFERENT O(rows) edge subset
than the batch star (arrival-time minima vs final minima), giving an
order-dependent refinement — deliberately not offered here.

Replay caveat: a crashed-and-replayed micro-batch appends its bands and
edges twice. Connectivity is idempotent under duplicate edges, and
duplicate band rows cannot change any bucket minimum, so the VERDICT is
replay-safe; only store size grows. A production deployment would route
the appends through the transactional snapshot sink
(streaming/sinks.py) for exactly-once storage too.

Reference parity: the reference engine (polars-numba) has no streaming
surface at all; this face extends the host-engine streaming family the
same way the batch keep-list extends its dedup family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_numba_spark.operators.dedup import (
    _banded_signatures,
    _bucket_star_edges,
    connected_components,
)
from polars_numba_spark.plans.checkpoint import checkpoint_rounds

_BANDS_SUBDIR = "bands"
_EDGES_SUBDIR = "edges"


def _store_has_bands(spark: SparkSession, bands_dir: str) -> bool:
    """True iff the persisted band store already holds parquet data.

    Probed through Spark's Hadoop ``FileSystem`` API — NOT ``os.path`` —
    so the check is correct for any ``store_dir`` scheme the deployment
    uses (``hdfs://``, ``s3a://``, plain local). An ``os.path`` probe
    would be silently False for every non-local store, making each batch
    star only against itself and under-merging cross-batch
    near-duplicates with no error.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(bands_dir)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return True
    return False


def ingest_neardup_batch(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
    shingle_n: int | None = None,
) -> None:
    """One ingest step: band the batch, re-star every bucket the batch
    touches over its full membership (persisted store ∪ batch), append the
    new star edges and the batch's bands to the store. Pure batch logic —
    ``streaming_minhash_keep_list`` drives it from foreachBatch, and tests
    drive it directly."""
    bands_dir = os.path.join(store_dir, _BANDS_SUBDIR)
    edges_dir = os.path.join(store_dir, _EDGES_SUBDIR)

    bn = _banded_signatures(
        batch, text_col, id_col, num_hashes, bands, portable, shingle_n, []
    )
    # Tokenless docs (null/empty text — failed fetches) produce no
    # signature, but the keep-list contract is one verdict row per SEEN
    # doc (the batch keep-list anchors on its input). Record each as a
    # singleton sentinel bucket: band_idx -1 with a per-doc bucket hash —
    # size-1 buckets emit no star edges, so the verdict carries the doc
    # as its own component without ever merging failed fetches together.
    # The sentinel's bucket hash must match band_hash's dtype for ANY id
    # type (the operator is generic — string doc ids are legal). Portable
    # (md5) mode keys buckets by string: a prefixed id is collision-free.
    # xxhash64 mode keys by bigint: integral ids cast losslessly (still
    # collision-free); non-integral ids are hashed — a 64-bit collision
    # between two tokenless docs is the only (negligible) merge risk.
    id_is_integral = dict(batch.dtypes)[id_col] in ("tinyint", "smallint", "int", "bigint")
    # band_hash's dtype is DETERMINED by the mode — md5 band hashes are
    # strings, xxhash64 band hashes are bigints (_banded_signatures) — so
    # derive it from `portable` instead of `dict(bn.dtypes)`: the dtypes
    # probe forced a full Catalyst analysis of the 32-aggregate banded
    # plan on the DRIVER once per micro-batch (r15 phase profile: ~1.5s
    # of the ~4.4s warm per-batch cost was driver-side plan analysis).
    sentinel_hash = (
        F.concat(F.lit("tokenless#"), F.col("id").cast("string"))
        if portable  # md5 mode keys buckets by string
        else (F.col("id").cast("bigint") if id_is_integral else F.xxhash64(F.col("id")))
    )
    # distinct(): a replayed/concatenated micro-batch may repeat doc_ids;
    # without it every ingest would append duplicate sentinel band rows to
    # the persisted store (verdict-safe but unbounded store bloat).
    sentinels = (
        batch.select(F.col(id_col).alias("id"))
        .distinct()
        .join(bn.select("id").distinct(), "id", "left_anti")
        .select(
            "id",
            F.lit(-1).alias("band_idx"),
            sentinel_hash.alias("band_hash"),
        )
    )
    bn = bn.unionByName(sentinels)
    # the batch is the small side of every join below; materialize it once,
    # and release it after the two appends, its last reads
    with checkpoint_rounds() as ck:
        bn = ck.pin(bn)
        members = bn
        if _store_has_bands(spark, bands_dir):
            store = spark.read.parquet(bands_dir)
            touched = bn.select("band_idx", "band_hash").distinct()
            # broadcast the batch's touched buckets: the store is never
            # shuffled, only filtered — the delta-ingest join shape
            members = store.join(
                F.broadcast(touched), ["band_idx", "band_hash"]
            ).unionByName(bn)

        star = _bucket_star_edges(members, ["band_idx", "band_hash"])
        star.write.mode("append").parquet(edges_dir)
        bn.write.mode("append").parquet(bands_dir)


def streaming_minhash_keep_list(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
    shingle_n: int | None = None,
    trigger_available_now: bool = True,
):
    """Run the incremental keep-list ingest as a Structured Streaming query
    (foreachBatch). Returns the started StreamingQuery; call
    :func:`neardup_verdict` after it finishes for the keep/drop verdict."""

    def _ingest(batch: DataFrame, _batch_id: int) -> None:
        ingest_neardup_batch(
            batch.sparkSession, batch, store_dir,
            text_col, id_col, num_hashes, bands, portable, shingle_n,
        )

    writer = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def neardup_verdict(
    spark: SparkSession,
    store_dir: str,
    max_iterations: int = 20,
) -> DataFrame:
    """(id, component, keep) for every document the store has seen:
    connected components over the accumulated star edges — equal to the
    batch ``minhash_dedup_keep_list(all docs, verify_threshold=None)``
    whatever the batch boundaries were (see module docstring)."""
    bands_dir = os.path.join(store_dir, _BANDS_SUBDIR)
    edges_dir = os.path.join(store_dir, _EDGES_SUBDIR)
    ids = spark.read.parquet(bands_dir).select("id").distinct()
    edges = spark.read.parquet(edges_dir).dropDuplicates(["a_id", "b_id"])
    comps = connected_components(edges, max_iterations)
    labeled = ids.join(comps, "id", "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col("id"))
    )
    return labeled.withColumn("keep", F.col("id") == F.col("component"))
