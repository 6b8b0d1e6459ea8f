"""Round-8 surface tour: the streaming ingest-dedup story end to end —
documents arrive in micro-batches, each batch is banded on its own and
appended to a band store, and the verdict over that store equals the batch
keep-list over the whole corpus. Plus the two
other round-8 additions: WAV audio metadata and winnowing fingerprints."""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from polars_numba_spark import get_spark
from polars_numba_spark.operators import multimodal as M
from polars_numba_spark.operators.dedup import minhash_dedup_keep_list
from polars_numba_spark.operators.text import winnowing_fingerprints
from polars_numba_spark.sources import load_table
from polars_numba_spark.streaming.neardup import (
    ingest_neardup_batch,
    neardup_verdict,
)

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark(app_name="example-streaming-ingest-dedup")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, "documents", SF).limit(120)

    # --- incremental near-dup dedup across three ingest batches ----------
    store = tempfile.mkdtemp(prefix="pns_example_neardup_")
    try:
        for i in range(3):
            batch = docs.where(F.col("doc_id") % 3 == i)
            ingest_neardup_batch(spark, batch, store, num_hashes=16, bands=4,
                                 portable=True)
            print(f"ingested batch {i}: {batch.count()} docs")
        streamed = neardup_verdict(spark, store)
        kept = streamed.where("keep").count()
        print(f"verdict after 3 batches: keep {kept} of {streamed.count()}")

        # the incremental verdict equals the one-shot batch keep-list
        batch_verdict = minhash_dedup_keep_list(
            docs, num_hashes=16, bands=4, portable=True
        )
        diff = (
            streamed.alias("s")
            .join(batch_verdict.alias("b"), "id")
            .where("s.component <> b.component OR s.keep <> b.keep")
            .count()
        )
        print(f"rows differing from the batch keep-list: {diff} (expect 0)")
        assert diff == 0
    finally:
        shutil.rmtree(store, ignore_errors=True)

    # --- WAV audio metadata from real RIFF bytes --------------------------
    wavs = docs.limit(5).select(
        "doc_id",
        M.synthesize_wav_payload(
            (F.lit(16000)).cast("int"),
            (F.col("doc_id") % 2 + 1).cast("int"),
            (F.lit(800)).cast("int"),
        ).alias("payload"),
    )
    M.extract_audio_meta(wavs).show(5, truncate=False)

    # --- winnowing fingerprints: localized overlap detection -------------
    fps = winnowing_fingerprints(docs, k=8, w=4)
    fps.select(
        "id", "n_grams", F.size("fingerprints").alias("n_fingerprints")
    ).orderBy("id").show(5)

    spark.stop()


if __name__ == "__main__":
    main()
