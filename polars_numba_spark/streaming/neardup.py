"""Streaming near-duplicate deduplication: an incremental minhash keep-list
built across micro-batches — the 100-TB INGEST face of the batch
``minhash_dedup_pairs(emit='keeplist')`` contract.

Each micro-batch is banded on its own and its band rows are appended to a
persisted band store: one banding pass and one write per batch, with no
read of the store, so per-batch cost tracks the BATCH, never the corpus.
Banding is per document, so the union of every batch's band rows is the
corpus's band table, whatever the batch boundaries or arrival order. The
verdict runs the batch keep-list's back half over that table — the
window-MIN star (``_bucket_star_edges``), then connected components — so
it equals ``minhash_dedup_keep_list(all docs, verify_threshold=None)`` by
construction. That is the UNVERIFIED relation (bucket co-membership =
duplicate verdict, the standard large-corpus LSH posture minhash
keep-lists default to); the store keeps bands, not texts, so a
Jaccard-verified variant is not offered.

Replay: a replayed batch appends duplicate band rows, which cannot change
any bucket minimum, so the verdict is replay-safe; only the store grows.

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
    _label_components,
    _token_sets,
)

_BANDS_SUBDIR = "bands"


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
    """One ingest step: band the batch and append its band rows to the
    store. Pure batch logic — ``streaming_minhash_keep_list`` drives it
    from foreachBatch, and tests drive it directly."""
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
    # band_hash's dtype is DETERMINED by the mode, so derive it from
    # `portable` rather than from `bn.dtypes`, which would analyse the
    # 32-aggregate banded plan on the driver once per micro-batch.
    id_is_integral = dict(batch.dtypes)[id_col] in ("tinyint", "smallint", "int", "bigint")
    sentinel_hash = (
        F.concat(F.lit("tokenless#"), F.col("id").cast("string"))
        if portable
        else (F.col("id").cast("bigint") if id_is_integral else F.xxhash64(F.col("id")))
    )
    # A doc is tokenless exactly when its token set explodes to no rows
    # in the banding pass (size is -1 or null for a null set). distinct():
    # a micro-batch may repeat doc_ids, and each would append a sentinel.
    sentinels = (
        batch.where(F.coalesce(F.size(_token_sets(text_col, shingle_n)), F.lit(0)) <= 0)
        .select(F.col(id_col).alias("id"))
        .distinct()
        .select("id", F.lit(-1).alias("band_idx"), sentinel_hash.alias("band_hash"))
    )
    bn.unionByName(sentinels).write.mode("append").parquet(
        os.path.join(store_dir, _BANDS_SUBDIR)
    )


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
    """(id, component, keep) for every document the store has seen: star
    edges over the stored band table, then connected components — the
    batch ``minhash_dedup_keep_list(all docs, verify_threshold=None)``
    whatever the batch boundaries were (see module docstring)."""
    bands = spark.read.parquet(os.path.join(store_dir, _BANDS_SUBDIR))
    star = _bucket_star_edges(bands, ["band_idx", "band_hash"])
    return _label_components(bands.select("id").distinct(), star, max_iterations)
