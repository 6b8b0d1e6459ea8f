"""Multimodal pipeline example: binary payloads + typed metadata through
header decode, feature extraction, resize, and video frame sampling — the
opaque-binary-column surface over mapInArrow (real plumbing; raster/demux
steps are deterministic fakes pending real codec libraries)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from polars_numba_spark import get_spark
from polars_numba_spark.operators.multimodal import (
    attach_payload,
    decode_image_header,
    extract_features,
    extract_image_dims,
    resize_images,
    sample_frames,
    synthesize_image_payload,
)
from polars_numba_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark(app_name="example-multimodal")
    spark.sparkContext.setLogLevel("ERROR")

    # opaque binary + declared metadata over the documents table
    docs = load_table(spark, "documents", SF)
    feats = extract_features(attach_payload(docs))
    assert feats.count() == docs.count()
    print("features:", feats.select("doc_id", "mime", "width", "height").head(3))

    # real image headers: synthesize → decode → resize → re-decode
    imgs = spark.createDataFrame(
        [(0, "png"), (1, "jpeg"), (2, "gif")], "doc_id long, fmt string"
    ).select(
        "doc_id",
        synthesize_image_payload(F.col("fmt"), F.lit(800), F.lit(600)).alias("payload"),
    )
    dims = extract_image_dims(imgs)
    assert {(r["width"], r["height"]) for r in dims.collect()} == {(800, 600)}
    thumbs = resize_images(imgs, 64, 48)
    for r in thumbs.collect():
        assert decode_image_header(bytes(r["payload"]))[1:] == (64, 48)
    print("resized 3 payloads to 64x48 (headers verified)")

    # frame sampling: 1→N rows, schedule driven by payload size
    frames = sample_frames(attach_payload(docs.limit(20)).select("doc_id", "payload"))
    print("sampled frames:", frames.count(), "from 20 docs")
    assert frames.count() >= 20
    spark.stop()


if __name__ == "__main__":
    main()
