"""Tests for the training-data-pipeline operators (dedup, similarity, text,
multimodal) — property checks on literals plus approximate-vs-exact
consistency on the sf0.001 tables.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_numba_spark.operators import dedup as D
from polars_numba_spark.operators import multimodal as M
from polars_numba_spark.operators import similarity as S
from polars_numba_spark.operators import text as X

SF = "/root/testdata/sf0.001"


def docs(spark):
    from polars_numba_spark.sources import load_table

    return load_table(spark, "documents", SF)


def embeddings(spark):
    from polars_numba_spark.sources import load_table

    return load_table(spark, "embeddings", SF)


# --- text ------------------------------------------------------------------


def test_token_count_literals(spark):
    df = spark.createDataFrame(
        [("hello world",), ("  spaced   out  tokens ",), ("one",)], "t string"
    )
    got = [r[0] for r in df.select(X.token_count("t")).collect()]
    assert got == [2, 3, 1]


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame([("don't stop, world!",)], "t string")
    # don + ' + t + stop + , + world + ! = 7
    assert df.select(X.bpe_ish_token_count("t")).collect()[0][0] == 7


def test_fingerprint_permutation_invariant(spark):
    df = spark.createDataFrame(
        [("the quick brown fox", 1), ("fox brown the quick", 2), ("other text", 3)],
        "t string, i long",
    )
    fps = {r["i"]: r["fp"] for r in df.select("i", X.fingerprint("t").alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_language_id_known_sentences(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat in the hat and it is that", "en"),
            ("le chat et la vie dans un jour pour les amis", "fr"),
            ("el perro y la casa de los amigos con pan", "es"),
            ("der hund und die katze mit ein buch von haus", "de"),
            ("xyzzy qwerty", "und"),
        ],
        "t string, expected string",
    )
    rows = df.select("expected", X.language_id("t").alias("got")).collect()
    for r in rows:
        assert r["got"] == r["expected"], r


def test_quality_score_range(spark):
    d = docs(spark)
    stats = d.select(X.quality_score("text").alias("q")).agg(
        F.min("q"), F.max("q")
    ).collect()[0]
    assert 0.0 <= stats[0] and stats[1] <= 1.0


# --- dedup -----------------------------------------------------------------


def test_exact_dedup_removes_injected_duplicates(spark):
    d = docs(spark).where(F.col("doc_id") < 50)
    doubled = d.union(d.withColumn("doc_id", F.col("doc_id") + 100000))
    kept = D.exact_dedup(doubled)
    assert kept.count() == 50
    # lowest id wins
    assert kept.agg(F.max("doc_id")).collect()[0][0] < 100000


def test_shingle_fraction_auto_picks_join_on_boilerplate(spark):
    """The via='auto' sketch must route a boilerplate-heavy corpus (one
    shingle dominating the instance mass) to the AQE-skew-splittable join
    form, and a diverse corpus to the 2x-faster window form — and both
    forms must agree with auto's output."""
    boiler = "this footer is identical boilerplate on every single page"
    heavy = spark.createDataFrame(
        [(i, boiler) for i in range(200)], "doc_id long, text string"
    )
    import random
    rng = random.Random(11)
    diverse = spark.createDataFrame(
        [(i, " ".join(f"w{rng.randrange(10**9)}" for _ in range(12)))
         for i in range(200)],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as SF

    from polars_numba_spark.operators.dedup import (
        _choose_shingle_via,
        duplicated_shingle_fraction,
    )
    from polars_numba_spark.operators.text import token_shingles

    def exploded(df):
        return df.select(
            SF.col("doc_id").alias("id"),
            SF.explode(token_shingles("text", 8)).alias("__sh"),
        )

    # sample_fraction=1.0 makes the sketch deterministic at test scale;
    # None = partition-relative default (1 / shuffle.partitions)
    assert _choose_shingle_via(heavy, exploded, None, 1.0) == "join"
    assert _choose_shingle_via(diverse, exploded, None, 1.0) == "window"

    # and the two physical forms agree on the skewed corpus
    def rows(df, via):
        return sorted(
            (r["doc_id"], r["n_shingles"], r["dup_shingle_frac"])
            for r in duplicated_shingle_fraction(
                df, via=via, sample_fraction=1.0
            ).collect()
        )

    assert rows(heavy, "auto") == rows(heavy, "join") == rows(heavy, "window")


def test_duplicated_spans_extracts_merged_runs(spark):
    """ExactSubstr semantics on a constructed corpus: a 10-token passage
    shared by two documents yields ONE merged span covering its full
    10-token extent in each (three overlapping duplicated 8-shingles merge
    into one island), unique text yields no span, and span_end is
    exclusive."""
    shared = "p q r s t u v w x y"          # 10 tokens, appears in docs 1+2
    df = spark.createDataFrame(
        [(1, shared + " alpha beta gamma delta"),
         (2, "one two three four " + shared),
         (3, "totally unique words nothing here repeats at all ok")],
        "doc_id long, text string",
    )
    spans = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in D.duplicated_spans(df, shingle_n=8).collect()
    }
    assert spans == {(1, 0, 10, 10), (2, 4, 14, 10)}


def test_duplicated_spans_counts_within_document_repeats(spark):
    """A passage repeated INSIDE one document is duplicated (>=2 corpus
    positions), matching deduplicate-text-datasets' ExactSubstr."""
    passage = "a b c d e f g h"             # exactly 8 tokens
    df = spark.createDataFrame(
        [(1, passage + " filler words here " + passage)],
        "doc_id long, text string",
    )
    spans = {
        (r["span_start"], r["span_end"])
        for r in D.duplicated_spans(df, shingle_n=8).collect()
    }
    assert spans == {(0, 8), (11, 19)}


def test_duplicated_spans_forms_agree(spark):
    """The round-5 single-pass window form, the AQE-skew-splittable join
    form, auto routing, and the hashed-shingle scale path all extract the
    SAME spans — the via= scheme changes the physical plan, never the
    answer."""
    shared = "p q r s t u v w x y z zz"
    df = spark.createDataFrame(
        [(1, shared + " alpha beta gamma delta"),
         (2, "one two three four " + shared),
         (3, "totally unique words nothing here repeats at all ok fine"),
         (4, shared)],
        "doc_id long, text string",
    )

    def spans(**kw):
        return sorted(
            (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
            for r in D.duplicated_spans(
                df, shingle_n=8, sample_fraction=1.0, **kw
            ).collect()
        )

    base = spans(via="join")
    assert base  # the corpus genuinely has duplicated passages
    assert spans(via="window") == base
    assert spans(via="auto") == base
    assert spans(via="window", hash_shingles=True) == base
    assert spans(via="join", hash_shingles=True) == base


def test_minhash_block_by_restricts_pairs_to_block(spark):
    """block_by adds the blocking column to the band-bucket join key:
    identical texts in different blocks must NOT pair."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps", "a"),
         (2, "the quick brown fox jumps", "a"),
         (3, "the quick brown fox jumps", "b")],
        "doc_id long, text string, source string",
    )
    pairs = {
        (r["a_id"], r["b_id"])
        for r in D.minhash_lsh_candidates(
            df, num_hashes=16, bands=4, block_by="source"
        ).collect()
    }
    assert pairs == {(1, 2)}


def test_exact_dedup_null_ids_keep_real_row(spark):
    """min_by ignores null ordering values — the null-safe (is_null, id)
    ordering key must still keep a real row when a digest group's ids are
    all NULL, and prefer non-null ids when mixed."""
    df = spark.createDataFrame(
        [(None, "dup text"), (None, "dup text"), (7, "dup text"),
         (None, "only nulls"), (None, "only nulls")],
        "doc_id int, text string",
    )
    kept = {r["text"]: r["doc_id"] for r in D.exact_dedup(df).collect()}
    assert kept["dup text"] == 7          # non-null id preferred
    assert "only nulls" in kept           # all-null group keeps a row


def test_minhash_pairs_are_high_jaccard(spark):
    """Everything the LSH+verify pipeline emits really has jaccard ≥ τ
    (verification step), and it finds the obviously-identical pair."""
    d = docs(spark).where(F.col("doc_id") < 30)
    with_clone = d.union(
        d.where(F.col("doc_id") == d.select(F.min("doc_id")).collect()[0][0])
        .withColumn("doc_id", F.lit(999999).cast("long"))
    )
    pairs = D.minhash_dedup_pairs(with_clone, num_hashes=32, bands=8, threshold=0.8)
    rows = pairs.collect()
    assert all(r["jaccard"] >= 0.8 for r in rows)
    assert any(r["b_id"] == 999999 for r in rows)  # the injected clone is found


def test_minhash_recall_vs_exact(spark):
    """LSH candidate recall on near-identical pairs (jaccard ≥ 0.95) should
    be high — banded minhash with 8 bands × 4 rows has ≥99.9% capture at 0.95."""
    d = docs(spark).where(F.col("doc_id") < 60)
    ids = d.select("doc_id")
    all_pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
    )
    exact = {
        (r["a_id"], r["b_id"])
        for r in D.jaccard_pairs(d, all_pairs).where(F.col("jaccard") >= 0.95).collect()
    }
    if not exact:
        pytest.skip("no ≥0.95 pairs in sample")
    found = {
        (r["a_id"], r["b_id"])
        for r in D.minhash_dedup_pairs(d, num_hashes=32, bands=8, threshold=0.95).collect()
    }
    recall = len(exact & found) / len(exact)
    assert recall >= 0.9


def test_shingled_minhash_pin_vs_exact_shingle_jaccard(spark):
    """The PRODUCTION twin (dedup_minhash_pairs, shingle_n=8) pinned
    against the exact shingled-Jaccard differential: every emitted pair is
    exact-verified ≥ τ by construction (precision 1.0), and banded capture
    of the true ≥ 0.8 pairs must be ≥ 0.9 (theory: ≈ 0.985 at j = 0.8 for
    8 bands × 4 rows). Uses the full sf0.001 corpus — 27 true pairs."""
    d = docs(spark)
    ids = d.select("doc_id")
    all_pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
    )
    exact = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.jaccard_pairs(d, all_pairs, shingle_n=8)
        .where(F.col("jaccard") >= 0.8)
        .collect()
    }
    assert exact, "corpus should contain shingle near-dups"
    found = {
        (r["a_id"], r["b_id"]): r["jaccard"]
        for r in D.minhash_dedup_pairs(
            d, num_hashes=32, bands=8, threshold=0.8, shingle_n=8
        ).collect()
    }
    # precision: everything emitted is a true pair with the exact jaccard
    for pair, j in found.items():
        assert pair in exact and abs(j - exact[pair]) < 1e-12
    # recall of banded capture
    assert len(found) / len(exact) >= 0.9


def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "totally different words here")],
        "doc_id long, text string",
    )
    pairs = D.simhash_dedup_pairs(df, bits=32, max_hamming=0).collect()
    assert [(r["a_id"], r["b_id"], r["hamming"]) for r in pairs] == [(1, 2, 0)]


# --- similarity ------------------------------------------------------------


def test_cosine_self_similarity_is_one(spark):
    e = embeddings(spark).limit(5)
    out = e.select(
        S.cosine(S.as_double("embedding"), S.as_double("embedding")).alias("c")
    ).collect()
    for r in out:
        assert r["c"] == pytest.approx(1.0, abs=1e-12)


def test_lsh_arrow_buckets_match_expression_path(spark):
    """The mapInArrow NumPy projection (r14, guide §4.2) must be
    bit-identical to the interpreted aggregate(zip_with) spelling the
    DuckDB oracle reproduces — including the dirty-row semantics: null
    vector / null element / ragged length all bucket to 0 per table, and
    a NaN projection SETS the sign bit (Spark SQL orders NaN above every
    value, so ``proj > 0`` is true — not IEEE)."""
    e = embeddings(spark).select("vec_id", "embedding")
    rows = [
        (900001, None),
        (900002, []),
        (900003, [1.0] * 32),
        (900004, [1.0] * 80),
        (900005, [None if i == 7 else 0.001 for i in range(64)]),
        (900006, [float("nan") if i == 3 else 0.5 for i in range(64)]),
        (900007, [0.0] * 64),
        (900008, [float("inf") if i == 9 else -0.25 for i in range(64)]),
    ]
    extra = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    full = e.limit(200).unionByName(extra)
    expr = {
        (r["vec_id"], r["table"]): r["bucket"]
        for r in full.select(
            "vec_id",
            F.explode(
                S._multi_table_buckets("embedding", 64, 4, 8)
            ).alias("tb"),
        )
        .select("vec_id", "tb.table", "tb.bucket")
        .collect()
    }
    arrow = {
        (r["vec_id"], r["table"]): r["bucket"]
        for r in S._with_bucket_array(full, "embedding", 64, 4, 8)
        .select("vec_id", F.posexplode("__buckets").alias("table", "bucket"))
        .collect()
    }
    assert expr == arrow
    # the NaN row must carry ALL sign bits (Spark NaN > 0), not zero
    assert arrow[(900006, 0)] == 15


def test_lsh_topk_recall_vs_bruteforce(spark):
    e = embeddings(spark)
    q = e.where(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(e, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.lsh_topk(e, q, dim=64, k=5).collect()
    }
    # Multi-table LSH recall is probabilistic; require a useful floor
    # (uniform-random synthetic vectors are the worst case for LSH).
    assert len(exact & approx) / len(exact) >= 0.4
    # and everything returned must be a real same-bucket neighbor with rank ≤ k
    assert all(qid < 5 for qid, _ in approx)


def test_planes_scale_with_corpus():
    """The near-dup bucket space must GROW with the corpus (the round-1
    fixed-64-bucket O(n²) hazard): occupancy stays ~target, planes rise."""
    assert S.planes_for_corpus(1_000) < S.planes_for_corpus(1_000_000)
    assert S.planes_for_corpus(1_000_000_000, target_bucket_rows=256) >= 21
    # expected occupancy bounded by ~target for large corpora
    n = 10**8
    planes = S.planes_for_corpus(n, target_bucket_rows=256)
    assert n / 2**planes <= 256


def test_simhash_bits_scale_with_corpus():
    """The simhash analog of planes_for_corpus (round-3 verdict: fixed
    ``bits`` lets pigeonhole-block occupancy grow linearly with the
    corpus): per-block value space must grow to hold occupancy ≈ target."""
    assert D.bits_for_corpus(10_000) < D.bits_for_corpus(10_000_000)
    for n in (10_000, 1_000_000, 16_000_000):
        bits = D.bits_for_corpus(n, max_hamming=3, target_block_rows=256)
        assert bits <= 64  # one-long codegen encoding limit
        per_block = bits // 4
        assert n / 2**per_block <= 256 * 2  # ceil rounding slack
    # beyond the 64-bit cap the width saturates (documented upgrade path)
    assert D.bits_for_corpus(10**12) == 64


def test_simhash_auto_bits_still_complete(spark):
    """bits=None (corpus-sized signature) keeps pigeonhole completeness:
    pairs equal the all-pairs Hamming scan at the auto-chosen width."""
    d = docs(spark).where(F.col("doc_id") < 60)
    n = d.count()
    auto_bits = D.bits_for_corpus(n, max_hamming=3)
    blocked = {
        (r["a_id"], r["b_id"])
        for r in D.simhash_dedup_pairs(d, bits=None, max_hamming=3, n_rows=n).collect()
    }
    sigs = d.select(F.col("doc_id").alias("id"), D.simhash("text", auto_bits).alias("sig"))
    a, b = sigs.alias("a"), sigs.alias("b")
    exact = {
        (r["a_id"], r["b_id"])
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            D.hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .collect()
    }
    assert blocked == exact


def test_embedding_near_dup_pairs_subset_of_exact(spark):
    """Bucketed candidates can only MISS pairs, never invent them: every
    emitted pair must appear in the exact all-pairs set with the identical
    cosine, and recall at this corpus's top band must be high."""
    e = embeddings(spark)
    exact = {
        (r["a_id"], r["b_id"]): r["cosine_sim"]
        for r in _exact_pairs(e, 0.4).collect()
    }
    approx = {
        (r["a_id"], r["b_id"]): r["cosine_sim"]
        for r in S.embedding_near_dup_pairs(
            e, threshold=0.4, dim=64, n_planes=3, n_tables=16
        ).collect()
    }
    assert set(approx) <= set(exact)
    for k, v in approx.items():
        assert v == exact[k]
    assert len(approx) / len(exact) >= 0.9


def _exact_pairs(e, threshold):
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            S.cosine(
                S.as_double(F.col("a.embedding")), S.as_double(F.col("b.embedding"))
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


# --- multimodal ------------------------------------------------------------


def test_multimodal_header_parsers_on_handcrafted_bytes():
    """Real container headers built independently (struct.pack, not the
    Spark-side synthesizer) must decode to the embedded dimensions."""
    import struct

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", 640, 480)
        + b"\x08\x06\x00\x00\x00"
    )
    assert M.decode_image_header(png) == ("image/png", 640, 480)
    # JPEG with an APP0 segment BEFORE the SOF0 frame (marker scan must skip)
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 480, 640)
    jpeg = b"\xff\xd8" + app0 + sof0 + b"\x03"
    assert M.decode_image_header(jpeg) == ("image/jpeg", 640, 480)
    gif = b"GIF89a" + struct.pack("<HH", 320, 200)
    assert M.decode_image_header(gif) == ("image/gif", 320, 200)
    assert M.decode_image_header(b"plain text, not an image") is None


def test_multimodal_decode_payload_deterministic_fallback():
    a = M.decode_payload(b"some payload bytes")
    b = M.decode_payload(b"some payload bytes")
    assert a == b
    assert a[0] == "application/octet-stream"


def test_multimodal_extract_features_roundtrip(spark):
    d = docs(spark).where(F.col("doc_id") < 20)
    out = M.extract_features(M.attach_payload(d))
    rows = out.collect()
    assert len(rows) == 20
    src = {r["doc_id"]: r["text"] for r in d.select("doc_id", "text").collect()}
    for r in rows:
        payload = src[r["doc_id"]].encode("utf-8")
        assert r["n_bytes"] == len(payload)
        _, w, h, p = M.decode_payload(payload)
        assert (r["width"], r["height"], r["phash"]) == (w, h, p)


def test_multimodal_extract_features_null_meta(spark):
    """ADVICE r11: a NULL meta struct (possible for callers other than
    attach_payload) must behave like a missing declaration — sniff mode,
    null mime/n_bytes passthrough — not a worker TypeError."""
    df = spark.createDataFrame(
        [
            (1, b"payload bytes", ("application/octet-stream", 13)),
            (2, b"other payload", None),  # null meta, non-null payload
            (3, None, None),  # both null
        ],
        "doc_id long, payload binary, meta struct<mime string, n_bytes int>",
    )
    rows = {r["doc_id"]: r for r in M.extract_features(df).collect()}
    assert len(rows) == 3
    assert rows[1]["mime"] == "application/octet-stream"
    assert rows[2]["mime"] is None and rows[2]["n_bytes"] is None
    # null meta still decodes the payload in sniff mode (deterministic path)
    _, w, h, p = M.decode_payload(b"other payload")
    assert (rows[2]["width"], rows[2]["height"], rows[2]["phash"]) == (w, h, p)
    assert rows[3]["width"] is None and rows[3]["phash"] is None


def test_simhash_full_64_bits(spark):
    """bits=64 must build a valid plan (bit 63 via shiftleft, not 2**63
    literal overflow) and identical docs still collide at Hamming 0."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")], "doc_id long, text string"
    )
    sigs = df.select(D.simhash("text", bits=64).alias("s")).collect()
    assert sigs[0]["s"] == sigs[1]["s"]


def test_jpeg_parser_handles_fill_bytes_and_eoi():
    import struct

    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 10, 20)
    # legal 0xFF fill padding before the SOF marker
    jpeg = b"\xff\xd8" + b"\xff\xff\xff" + sof0[1:]
    assert M.decode_image_header(jpeg) == ("image/jpeg", 20, 10)
    # EOI before any frame header → not decodable, never a garbage read
    assert M.decode_image_header(b"\xff\xd8\xff\xd9" + b"\x00" * 16) is None


def test_decode_payload_mime_gate_vs_ascii_gif_text():
    text = b"GIF89a is an image format from 1989."
    sniffed = M.decode_payload(text)
    declared = M.decode_payload(text, declared_mime="application/octet-stream")
    assert sniffed[0] == "image/gif"  # byte-sniffing alone is fooled
    assert declared[0] == "application/octet-stream"  # declaration wins
    n = len(text)
    assert declared[1] == 64 + (n % 577) and declared[2] == 64 + ((n * 7) % 421)


def test_simhash_signatures_match_expression(spark):
    """The explode+aggregate production twin must be BIT-IDENTICAL to the
    expression spelling — including tokenless documents (explode_outer
    keeps them with the expression's all-zero signature)."""
    df = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, "the quick brown dog"),
         (2, ""), (3, "   "), (4, "one-token")],
        "doc_id long, text string",
    )
    expr_sigs = {
        r["id"]: r["sig"]
        for r in df.select(
            F.col("doc_id").alias("id"), D.simhash("text", 32).alias("sig")
        ).collect()
    }
    twin_sigs = {
        r["id"]: r["sig"]
        for r in D.simhash_signatures(df, "text", "doc_id", bits=32).collect()
    }
    assert twin_sigs == expr_sigs
    # split("") yields [""] (never an empty array), so empty and
    # whitespace-only docs share the one-empty-token signature — the twin
    # must reproduce that quirk, not "fix" it to zero
    assert twin_sigs[2] == twin_sigs[3] == expr_sigs[2]


def test_simhash_pigeonhole_blocking_is_complete(spark):
    """Pigeonhole-blocked simhash pairs must EQUAL the all-pairs Hamming
    scan — blocking is a cost lever, never a recall lever."""
    d = docs(spark).where(F.col("doc_id") < 80)
    blocked = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in D.simhash_dedup_pairs(d, bits=32, max_hamming=3).collect()
    }
    sigs = d.select(F.col("doc_id").alias("id"), D.simhash("text", 32).alias("sig"))
    a, b = sigs.alias("a"), sigs.alias("b")
    exact = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            D.hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .collect()
    }
    assert blocked == exact


def test_repetition_stats_hand_computed(spark):
    """Gopher-style repetition signals on a fixture with known answers."""
    from polars_numba_spark.operators import text as X

    df = spark.createDataFrame(
        [
            (0, "a b a b a"),      # tokens 5, distinct 2; bigrams: ab,ba,ab,ba → top 2/4
            (1, "x y z"),          # no repeats; bigrams xy,yz → top 1/2
            (2, "solo"),           # 1 token → no bigrams → 0.0
            (3, "w w w w"),        # 4 tokens 1 distinct; bigrams ww×3 → 3/3
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in X.repetition_stats(df).collect()}
    assert rows[0]["n_tokens"] == 5 and rows[0]["token_rep_frac"] == 1 - 2 / 5
    assert rows[0]["top_bigram_frac"] == 0.5
    assert rows[1]["token_rep_frac"] == 0.0 and rows[1]["top_bigram_frac"] == 0.5
    assert rows[2]["top_bigram_frac"] == 0.0 and rows[2]["token_rep_frac"] == 0.0
    assert rows[3]["token_rep_frac"] == 0.75 and rows[3]["top_bigram_frac"] == 1.0


def test_unigram_logprob_ranks_typical_above_rare(spark):
    """Docs made of corpus-common tokens must out-score docs of rare
    tokens (the LM-proxy contract); scores are finite and negative."""
    from polars_numba_spark.operators import text as X

    rows = [(i, "common words appear in many documents here") for i in range(9)]
    rows.append((100, "zxqv wvut kjih unique rarities"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["avg_logprob"] for r in X.unigram_logprob_scores(df).collect()}
    typical = out[0]
    rare = out[100]
    assert typical < 0 and rare < 0
    assert typical > rare  # higher (less negative) = more typical
    assert out[0] == out[8]  # identical docs, identical scores


def test_pii_scrub_redacts_and_counts(spark):
    from polars_numba_spark.operators import text as X

    df = spark.createDataFrame(
        [
            (0, "mail me at a.b+c@test.org or call 555-123-4567."),
            (1, "no pii here"),
            (2, "two mails x@y.io z@w.co and 111.222.3333"),
        ],
        "doc_id long, text string",
    )
    counts = X.pii_counts("text")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            counts["n_emails"].alias("e"),
            counts["n_phones"].alias("p"),
            X.redact_pii("text").alias("clean"),
        ).collect()
    }
    assert out[0]["e"] == 1 and out[0]["p"] == 1
    assert out[0]["clean"] == "mail me at <EMAIL> or call <PHONE>."
    assert out[1]["clean"] == "no pii here"
    assert out[2]["e"] == 2 and out[2]["p"] == 1
    assert out[2]["clean"] == "two mails <EMAIL> <EMAIL> and <PHONE>"


def test_resize_images_header_roundtrips_at_target_dims(spark):
    """The resize plumbing is real even though the raster path is a
    deterministic fake: output payloads must decode (real header parser)
    to exactly the requested dimensions, for every container format."""
    from polars_numba_spark.operators.multimodal import (
        attach_payload,
        decode_image_header,
        resize_images,
        synthesize_image_payload,
    )

    src = spark.createDataFrame(
        [(0, "png"), (1, "jpeg"), (2, "gif")], "doc_id long, fmt string"
    ).select(
        "doc_id",
        synthesize_image_payload(F.col("fmt"), F.lit(640), F.lit(480)).alias("payload"),
    )
    out = resize_images(src, 32, 24).collect()
    assert len(out) == 3
    for r in out:
        header = decode_image_header(bytes(r["payload"]))
        assert header is not None
        assert (header[1], header[2]) == (32, 24)
    # determinism: same inputs → byte-identical outputs
    again = {r["doc_id"]: bytes(r["payload"]) for r in resize_images(src, 32, 24).collect()}
    assert {r["doc_id"]: bytes(r["payload"]) for r in out} == again


def test_sample_frames_shape_and_determinism(spark):
    from polars_numba_spark.operators.multimodal import sample_frames

    df = spark.createDataFrame(
        [(0, bytes(range(256)) * 16), (1, b"x")],  # ~4 KiB → 4s; tiny → 1 frame
        "doc_id long, payload binary",
    )
    rows = sample_frames(df, every_ms=1000, max_frames=8).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0]["ts_ms"] == 0
    assert len(by_doc[0]) == 5  # 4096 B → 4000 ms → frames at 0..4000
    assert [r["ts_ms"] for r in sorted(by_doc[0], key=lambda r: r["frame_idx"])] == [
        0, 1000, 2000, 3000, 4000,
    ]
    # frames are deterministic and distinct per index
    frames = {bytes(r["frame"]) for r in by_doc[0]}
    assert len(frames) == 5


def test_duplicated_shingle_fraction_literals(spark):
    """A pasted passage shared by two docs must show up in BOTH docs'
    fractions; a unique doc scores 0; short docs (< n tokens) score 0."""
    passage = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [
            (0, passage + " alpha beta gamma delta epsilon zeta eta theta"),
            (1, passage + " iota kappa lam mu nu xi omicron pi"),
            (2, "unique words entirely different from all other documents here"),
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in D.duplicated_shingle_fraction(df, shingle_n=8).collect()}
    assert out[0]["dup_shingle_frac"] > 0 and out[1]["dup_shingle_frac"] > 0
    assert out[2]["dup_shingle_frac"] == 0.0
    assert out[3]["n_shingles"] == 0 and out[3]["dup_shingle_frac"] == 0.0
    # exactly ONE shared shingle (the full passage) between docs 0 and 1
    assert out[0]["n_shingles"] == 9  # 16 tokens → 9 distinct 8-shingles
    assert out[0]["dup_shingle_frac"] == pytest.approx(1 / 9)


def test_duplicated_shingle_fraction_window_equals_join(spark):
    """Both physical forms (window count vs count+join) must agree row for
    row — they are skew/perf alternatives, not semantic variants."""
    d = docs(spark).where(F.col("doc_id") < 80)
    a = {tuple(r) for r in D.duplicated_shingle_fraction(d, via="window").collect()}
    b = {tuple(r) for r in D.duplicated_shingle_fraction(d, via="join").collect()}
    assert a == b
    with pytest.raises(ValueError, match="via"):
        D.duplicated_shingle_fraction(d, via="nope")


# --- semantic dedup (SemDeDup) --------------------------------------------


def test_semantic_dedup_pairs_within_cluster_only(spark):
    """Two tight direction-clusters: near-parallel vectors pair, the
    cross-cluster (orthogonal) combinations never appear even though the
    operator scores all WITHIN-cluster pairs."""
    from polars_numba_spark.operators.vector import semantic_dedup_pairs

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.05, 0.0]),   # near-dup of 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.99, 0.05]),   # near-dup of 2
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dedup_pairs(df, k=2, iterations=2, threshold=0.9).collect()
    got = {(r["a_id"], r["b_id"]) for r in pairs}
    assert got == {(0, 1), (2, 3)}
    assert all(r["cosine_sim"] >= 0.9 for r in pairs)


def test_semantic_dedup_keep_drops_higher_id_of_each_pair(spark):
    """The keep policy removes exactly the ids that have a lower-id
    near-duplicate (every b_id), keeping one survivor per chain."""
    from polars_numba_spark.operators.vector import (
        semantic_dedup_keep,
        semantic_dedup_pairs,
    )

    # seeding is first-k ids, so ids 0/1 ARE the k=2 seeds: 0 anchors the
    # x-axis cluster (with 2 and 3 as its near-dup chain), 1 anchors y alone
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),      # unique: kept
        (2, [0.999, 0.01]),
        (3, [0.998, 0.02]),   # chain 0-2-3: keep only 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dedup_pairs(df, k=2, iterations=1, threshold=0.99)
    kept = sorted(
        r["vec_id"] for r in semantic_dedup_keep(df, pairs).collect()
    )
    assert kept == [0, 1]


# --- TF-IDF ----------------------------------------------------------------


def test_tfidf_top_terms_ranks_distinctive_terms_first(spark):
    """A term unique to one doc (df=1) outscores corpus-wide terms
    (df=N → idf=0), and rank/tf/score come back deterministic."""
    import math

    df = spark.createDataFrame(
        [
            (1, "common common zebra"),
            (2, "common yak yak"),
            (3, "common llama"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["tfidf"])
        for r in X.tfidf_top_terms(df, "text", "doc_id", top_k=2).collect()
    }
    idf1 = round(math.log(3.0 / 1.0), 9)
    # doc 2: 'yak' tf=2 df=1 -> 2*ln(3); 'common' idf=0 -> 0.0
    assert rows[(2, 1)] == ("yak", 2, round(2 * math.log(3.0), 9))
    assert rows[(1, 1)] == ("zebra", 1, idf1)
    assert rows[(3, 1)] == ("llama", 1, idf1)
    # ties at tfidf=0.0 break on the term string
    assert rows[(1, 2)][0] == "common"


def test_remove_duplicated_passages_cuts_covered_tokens(spark):
    """The shared 10-token passage is cut from both documents; unique
    suffix/prefix tokens survive; the all-unique doc is untouched (modulo
    token-space normalization)."""
    shared = "p q r s t u v w x y"          # 10 tokens in docs 1+2
    df = spark.createDataFrame(
        [(1, shared + " alpha beta gamma delta"),
         (2, "one two three four " + shared),
         (3, "totally unique words nothing here repeats at all ok")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens_kept"], r["clean_text"])
        for r in D.remove_duplicated_passages(df, shingle_n=8).collect()
    }
    assert got[1] == (4, "alpha beta gamma delta")
    assert got[2] == (4, "one two three four")
    assert got[3] == (9, "totally unique words nothing here repeats at all ok")


def test_remove_duplicated_passages_fully_covered_doc(spark):
    """A document that is one big duplicated passage empties out but stays
    in the output with n_tokens_kept=0."""
    t = "a b c d e f g h"
    df = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens_kept"], r["clean_text"])
        for r in D.remove_duplicated_passages(df, shingle_n=8).collect()
    }
    assert got == {1: (0, ""), 2: (0, "")}


# --- KMV sketch ------------------------------------------------------------


def test_kmv_distinct_exact_below_k_and_close_above(spark):
    """Groups with fewer than k distinct values report the EXACT count
    (the sketch holds every value); larger groups estimate within the
    ~1/sqrt(k) KMV error band."""
    from polars_numba_spark.operators.sketch import kmv_distinct

    rows = [("small", i % 10) for i in range(200)] + [
        ("big", i) for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: r["kmv_estimate"] for r in kmv_distinct(df, "v", "g", k=64).collect()}
    assert got["small"] == 10.0
    assert abs(got["big"] - 5000) / 5000 < 0.35  # 64-value sketch, ~12.5% rsd


def test_containment_catches_subset_pair_jaccard_misses(spark):
    """A short doc fully contained in a long one: containment on the short
    side is 1.0 while jaccard is far below a 0.8 near-dup threshold."""
    short = "alpha beta gamma delta"
    long_ = short + " " + " ".join(f"w{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "a_id long, b_id long")
    r = D.containment_pairs(df, pairs).collect()[0]
    assert r["containment_a"] == 1.0
    assert r["containment_b"] < 0.2
    j = D.jaccard_pairs(df, pairs).collect()[0]["jaccard"]
    assert j < 0.2


def test_containment_join_is_complete_vs_brute_force(spark):
    """Prefix filtering must find EVERY >=0.9-contained directional pair
    that brute-force all-pairs containment finds on the sf0.001 corpus."""
    d = docs(spark)
    ids = d.select("doc_id")
    all_pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
    )
    brute = {
        (r["a_id"], r["b_id"])
        for r in D.containment_pairs(d, all_pairs)
        .where(F.col("containment_a") >= 0.9)
        .collect()
    }
    assert brute, "corpus should contain >=0.9-contained pairs"
    got = {
        (r["a_id"], r["b_id"])
        for r in D.containment_join(d, threshold=0.9).collect()
    }
    assert got == brute  # complete AND precise (verify step)


def test_kmv_distinct_ignores_nulls(spark):
    """NULL values are excluded (COUNT(DISTINCT) semantics) — a null hash
    must never occupy a top-k slot."""
    from polars_numba_spark.operators.sketch import kmv_distinct

    rows = [("g", i) for i in range(10)] + [("g", None)] * 5
    df = spark.createDataFrame(rows, "g string, v long")
    got = kmv_distinct(df, "v", "g", k=64).collect()[0]
    assert got["kmv_estimate"] == 10.0


def test_kmv_partials_bound_the_shuffle(spark):
    """The round-6 bounded-state contract: the rows crossing the group-by
    shuffle are the mapInArrow partials, and a partition holding far more
    than k distinct values must contribute at most k rows per group — the
    sketch no longer pays exact-COUNT-DISTINCT shuffle volume."""
    from polars_numba_spark.operators.sketch import kmv_distinct, kmv_partials

    k, n_parts, n_distinct = 16, 4, 2000
    rows = [("g", i) for i in range(n_distinct)] + [("h", i) for i in range(5)]
    df = spark.createDataFrame(rows, "g string, v long").repartition(n_parts)
    partials = kmv_partials(df, "v", ["g"], k)
    # ≤ k rows per group per partition; group "h" (5 distinct) sends ≤5/part
    assert partials.count() <= k * n_parts * 2
    per_part = (
        partials.groupBy(F.spark_partition_id().alias("pid"), "g")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert per_part <= k
    # and the bounded computation still produces the exact KMV estimate:
    # k-th smallest distinct md5 hash, (k-1)*2^60/h_k
    import hashlib

    hashes = sorted(
        int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        for v in range(n_distinct)
    )
    expect = (k - 1) * float(1 << 60) / float(hashes[k - 1])
    got = {
        r["g"]: r["kmv_estimate"]
        for r in kmv_distinct(df, "v", "g", k=k).collect()
    }
    assert got["g"] == expect
    assert got["h"] == 5.0


# --- heavy hitters (two-pass exact frequent items) -------------------------


def test_heavy_hitters_matches_unbounded_groupby(spark):
    """The two-pass bounded-shuffle computation must equal the unbounded
    GROUP BY + HAVING cnt*k > total spelling exactly — rows, counts, and
    shares — on a zipf-ish skewed corpus spread over several partitions."""
    import numpy as np

    from polars_numba_spark.operators.sketch import heavy_hitters

    rng = np.random.default_rng(7)
    vals = (rng.zipf(1.5, size=4000) % 500).tolist()
    rows = [("a" if i % 3 else "b", int(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, v long").repartition(8)

    k = 25
    got = {
        (r["g"], r["v"]): (r["cnt"], r["share"])
        for r in heavy_hitters(df, "v", "g", k=k).collect()
    }

    from collections import Counter

    expect = {}
    for g in ("a", "b"):
        sub = [v for (gg, v) in rows if gg == g]
        total = len(sub)
        for v, c in Counter(sub).items():
            if c * k > total:
                expect[(g, v)] = (c, round(c / total, 6))
    assert expect, "seed must produce at least one heavy hitter"
    assert got == expect


def test_heavy_hitter_candidates_bounded_per_partition(spark):
    """The MG candidate pass sends ≤k rows per group per partition into
    the shuffle even when the partition holds far more distinct values —
    the frequent-items analogue of the KMV bounded-shuffle contract."""
    from functools import partial

    import pyarrow as pa

    from polars_numba_spark.operators.sketch import (
        _fold_partition,
        _mg_emit,
        _mg_update,
    )

    k = 8
    # one partition's stream: 3000 distinct singletons + one hot value
    batches = [
        pa.record_batch({"g": ["x"] * 1000, "v": list(range(i * 1000, (i + 1) * 1000))})
        for i in range(3)
    ]
    batches.append(pa.record_batch({"g": ["x"] * 500, "v": [42] * 500}))
    mg = partial(_fold_partition, ["g"], partial(_mg_update, "v", k), partial(_mg_emit, "v"))
    out = list(mg(iter(batches)))
    assert len(out) == 1 and out[0].num_rows <= k
    assert 42 in set(out[0].column("v").to_pylist())  # the true heavy hitter survives


def test_heavy_hitters_ignores_nulls(spark):
    """NULL values are excluded from candidates, counts, and the group
    total (COUNT semantics)."""
    from polars_numba_spark.operators.sketch import heavy_hitters

    rows = [("g", 1)] * 6 + [("g", 2)] * 3 + [("g", None)] * 11
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        r["v"]: (r["cnt"], r["share"])
        for r in heavy_hitters(df, "v", "g", k=2).collect()
    }
    # totals exclude nulls: total=9, threshold cnt*2>9 → only v=1 (6>4.5)
    assert got == {1: (6, round(6 / 9, 6))}


def test_heavy_hitters_keep_null_key_groups(spark):
    """A null group key is a group of its own, as in ``groupBy``: the
    recount and the totals join it null-safely."""
    from polars_numba_spark.operators.sketch import heavy_hitters

    rows = [(None, "d")] * 2 + [("x", "e")] * 2
    df = spark.createDataFrame(rows, "g string, v string")
    got = {tuple(r) for r in heavy_hitters(df, "v", "g", k=2).collect()}
    assert got == {(None, "d", 2, 1.0), ("x", "e", 2, 1.0)}


# --- histogram quantiles (bounded-state deterministic sketch) ---------------


def test_histogram_quantiles_within_one_bin_of_exact(spark):
    """The histogram estimate must land within one bin width of the true
    quantile, and be exactly reproducible from the numpy model of the
    same binning arithmetic."""
    import numpy as np

    from polars_numba_spark.operators.sketch import histogram_quantiles

    rng = np.random.default_rng(11)
    vals = rng.uniform(0.0, 100.0, size=5000)
    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], "g string, v double"
    )
    lo, hi, n_bins = 0.0, 100.0, 50
    width = (hi - lo) / n_bins
    got = {
        r["prob"]: r["quantile_est"]
        for r in histogram_quantiles(
            df, "v", "g", probs=(0.5, 0.9), lo=lo, hi=hi, n_bins=n_bins
        ).collect()
    }
    for p in (0.5, 0.9):
        true_q = float(np.quantile(vals, p))
        assert abs(got[p] - true_q) <= width, (p, got[p], true_q)
    # exact numpy model of the same arithmetic
    bins = np.clip(np.floor((vals - lo) / width), 0, n_bins - 1).astype(int)
    counts = np.bincount(bins, minlength=n_bins)
    cum = np.cumsum(counts)
    for p in (0.5, 0.9):
        target = p * len(vals)
        b = int(np.searchsorted(cum, target))
        prev = cum[b] - counts[b]
        expect = lo + width * (b + (target - prev) / counts[b])
        assert got[p] == round(expect, 6)


def test_histogram_quantiles_clamps_out_of_range_and_skips_nulls(spark):
    from polars_numba_spark.operators.sketch import histogram_quantiles

    rows = [("g", -50.0), ("g", 150.0), ("g", None)] + [
        ("g", 10.0 * i) for i in range(1, 10)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = histogram_quantiles(
        df, "v", "g", probs=(1.0,), lo=0.0, hi=100.0, n_bins=10
    ).collect()
    # p=1.0 lands in the top bin (the clamped 150.0); nulls never counted
    assert len(got) == 1
    assert 90.0 <= got[0]["quantile_est"] <= 100.0


def test_histogram_quantiles_has_partial_aggregation(spark):
    """The bin-count aggregate must plan map-side partials — that is the
    bounded-shuffle claim (each partition ships its ≤n_bins counters)."""
    from polars_numba_spark import plans
    from polars_numba_spark.operators.sketch import histogram_quantiles

    df = spark.createDataFrame([("g", 1.0)], "g string, v double")
    out = histogram_quantiles(df, "v", "g", probs=(0.5,), lo=0.0, hi=10.0)
    assert plans.has_partial_aggregation(out)


def test_bigram_logprob_penalizes_shuffled_word_order(spark):
    """The interpolated bigram score must separate fluent word order from
    a bag of the same words (identical unigram distribution): docs that
    follow the corpus's dominant bigrams score higher than a
    token-identical shuffle."""
    from polars_numba_spark.operators import text as X

    fluent = "the quick brown fox jumps over the lazy dog"
    shuffled = "dog the over quick jumps lazy the brown fox"  # same multiset
    rows = [(i, fluent) for i in range(9)] + [(100, shuffled)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    big = {
        r["doc_id"]: r["avg_bigram_logprob"]
        for r in X.bigram_logprob_scores(df).collect()
    }
    uni = {
        r["doc_id"]: r["avg_logprob"]
        for r in X.unigram_logprob_scores(df).collect()
    }
    assert uni[0] == uni[100]          # unigram is order-blind
    assert big[0] > big[100]           # bigram is not
    assert big[0] == big[8]            # deterministic


def test_wav_header_parser_on_handcrafted_bytes():
    """decode_wav_header must read rate/channels/bits/data-size from real
    RIFF bytes — including non-canonical layouts where a LIST chunk
    precedes fmt, and odd-sized chunks (word alignment)."""
    import struct

    from polars_numba_spark.operators import multimodal as M

    def wav(rate, channels, bits, data, pre_chunks=b""):
        fmt = struct.pack(
            "<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
            channels * bits // 8, bits,
        )
        body = (
            pre_chunks
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
        )
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    assert M.decode_wav_header(wav(44100, 2, 16, b"\x00" * 8)) == (44100, 2, 16, 8)
    # LIST chunk before fmt, with an ODD size (word-alignment padding)
    pre = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    assert M.decode_wav_header(wav(8000, 1, 8, b"\x00" * 10, pre)) == (8000, 1, 8, 10)
    # declared data size survives truncated frames (streaming-safe field)
    truncated = wav(16000, 1, 16, b"\x00" * 100)[:-60]
    assert M.decode_wav_header(truncated) == (16000, 1, 16, 100)
    assert M.decode_wav_header(b"plain text, not audio") is None
    assert M.decode_wav_header(b"RIFF\x00\x00\x00\x00AVI ") is None


def test_synthesized_wav_roundtrips_through_extractor(spark):
    from pyspark.sql import functions as F

    from polars_numba_spark.operators import multimodal as M

    df = spark.range(20).select(
        F.col("id").alias("doc_id"),
        M.synthesize_wav_payload(
            (F.lit(8000) + F.col("id").cast("int") * 997 % 40000).cast("int"),
            (F.col("id") % 2 + 1).cast("int"),
            (F.lit(50) + F.col("id") * 13).cast("int"),
        ).alias("payload"),
    )
    rows = {r["doc_id"]: r for r in M.extract_audio_meta(df).collect()}
    for i in range(20):
        rate = 8000 + i * 997 % 40000
        ch = i % 2 + 1
        n = 50 + i * 13
        r = rows[i]
        assert (r["mime"], r["sample_rate"], r["n_channels"]) == ("audio/wav", rate, ch)
        assert r["bits_per_sample"] == 16
        assert r["duration_ms"] == n * 1000 // rate


def test_winnowing_detection_guarantee_and_density(spark):
    """The two properties the winnowing paper proves: (1) any shared
    substring of length >= k + w - 1 contributes at least one identical
    fingerprint to both documents; (2) expected fingerprint density is
    ~2/(w+1) of the k-gram count (pinned loosely)."""
    from pyspark.sql import functions as F

    from polars_numba_spark.operators.text import winnowing_fingerprints

    k, w = 8, 4
    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [
            (1, "PREFIX aaaa " + shared + " zzzz SUFFIX one"),
            (2, "totally different opening text here " + shared),
            (3, "no overlap with anything else at all whatsoever"),
            (4, "tiny"),  # shorter than k -> zero grams, zero fingerprints
        ],
        "doc_id long, text string",
    )
    rows = {
        r["id"]: r
        for r in winnowing_fingerprints(docs, k=k, w=w).collect()
    }
    fp1, fp2, fp3 = (set(rows[i]["fingerprints"]) for i in (1, 2, 3))
    assert fp1 & fp2, "shared substring >= k+w-1 must share a fingerprint"
    assert not (fp1 & fp3 and fp2 & fp3) or (fp1 & fp3) != (fp2 & fp3)
    assert rows[4]["n_grams"] == 0 and rows[4]["fingerprints"] == []
    # density: fingerprints per gram ~ 2/(w+1) = 0.4; allow a wide band
    # (distinctness collapses repeats on real text)
    for i in (1, 2, 3):
        density = len(rows[i]["fingerprints"]) / rows[i]["n_grams"]
        assert 0.1 <= density <= 0.6


def test_mp4_box_parser_on_handcrafted_bytes():
    """decode_mp4_meta must read timescale/duration/width/height from real
    ISO-BMFF bytes — including moov AFTER mdat, unknown boxes skipped by
    declared size, mvhd version 1 (64-bit duration), and must reject
    non-BMFF payloads and corrupt box sizes."""
    import struct

    from polars_numba_spark.operators import multimodal as M

    def box(btype, body):
        return struct.pack(">I", 8 + len(body)) + btype + body

    def mvhd_v0(timescale, duration):
        return box(
            b"mvhd",
            b"\x00\x00\x00\x00" + b"\x00" * 8
            + struct.pack(">II", timescale, duration)
            + b"\x00" * 80,
        )

    def mvhd_v1(timescale, duration):
        return box(
            b"mvhd",
            b"\x01\x00\x00\x00" + b"\x00" * 16
            + struct.pack(">IQ", timescale, duration)
            + b"\x00" * 80,
        )

    def tkhd_v0(width, height):
        return box(
            b"tkhd",
            b"\x00\x00\x00\x07" + b"\x00" * 72
            + struct.pack(">II", width << 16, height << 16),
        )

    ftyp = box(b"ftyp", b"isom\x00\x00\x00\x00isom")
    mdat = box(b"mdat", b"\xab" * 37)
    free = box(b"free", b"\x00" * 11)

    # canonical order, unknown 'free' box between ftyp and moov
    p = ftyp + free + box(b"moov", mvhd_v0(600, 1200) + box(b"trak", tkhd_v0(320, 192)))
    assert M.decode_mp4_meta(p) == (600, 1200, 320, 192)
    # moov AFTER mdat (streaming/faststart-less layout)
    p = ftyp + mdat + box(b"moov", mvhd_v0(1000, 5000) + box(b"trak", tkhd_v0(640, 480)))
    assert M.decode_mp4_meta(p) == (1000, 5000, 640, 480)
    # version-1 mvhd (64-bit ctime/mtime/duration)
    p = ftyp + box(b"moov", mvhd_v1(90000, 123456) + box(b"trak", tkhd_v0(1920, 1080)))
    assert M.decode_mp4_meta(p) == (90000, 123456, 1920, 1080)
    # movie header without any track: duration still parses, size is null
    p = ftyp + box(b"moov", mvhd_v0(600, 600))
    assert M.decode_mp4_meta(p) == (600, 600, None, None)
    # not BMFF at all / text bytes / corrupt (size < 8) box
    assert M.decode_mp4_meta(b"plain text, definitely not video") is None
    assert M.decode_mp4_meta(b"RIFF\x00\x00\x00\x00WAVE" + b"\x00" * 32) is None
    corrupt = ftyp + struct.pack(">I", 3) + b"moov" + b"\x00" * 16
    assert M.decode_mp4_meta(corrupt) is None


def test_synthesized_mp4_roundtrips_through_extractor(spark):
    from pyspark.sql import functions as F

    from polars_numba_spark.operators import multimodal as M

    df = spark.range(20).select(
        F.col("id").alias("doc_id"),
        M.synthesize_mp4_payload(
            (F.lit(600) + F.col("id").cast("int") * 300 % 90000).cast("int"),
            (F.lit(1200) + F.col("id") * 777).cast("long"),
            (F.lit(16) * (F.lit(10) + F.col("id") % 100)).cast("int"),
            (F.lit(16) * (F.lit(9) + F.col("id") % 60)).cast("int"),
            (F.col("id") * 31 % 500).cast("int"),
        ).alias("payload"),
    )
    rows = {r["doc_id"]: r for r in M.extract_video_meta(df).collect()}
    for i in range(20):
        ts = 600 + i * 300 % 90000
        dur = 1200 + i * 777
        r = rows[i]
        assert r["mime"] == "video/mp4"
        assert (r["timescale"], r["duration_ticks"]) == (ts, dur)
        assert r["duration_ms"] == dur * 1000 // ts
        assert (r["width"], r["height"]) == (16 * (10 + i % 100), 16 * (9 + i % 60))
        assert r["n_bytes"] == 244 + i * 31 % 500


def test_bm25_ranking_invariants(spark):
    """BM25 sanity on a hand-built corpus: a document matching ALL query
    terms outranks one matching a single common term; rarer terms carry
    higher idf weight; ranks are 1-based, contiguous, tie-broken by doc_id;
    n_terms counts MATCHED query terms only."""
    from polars_numba_spark.operators.text import bm25_topk

    docs = [
        (0, "apple banana cherry"),          # all three query terms
        (1, "apple apple apple apple"),      # common term, repeated
        (2, "banana cherry"),                # two rarer terms
        (3, "apple plum plum plum"),         # one common term, diluted
        (4, "plum grape melon kiwi"),        # no query terms
        (5, "apple banana cherry"),          # exact tie with doc 0
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = bm25_topk(df, [("q", "apple banana cherry")], k=10).collect()
    by_doc = {r["doc_id"]: r for r in out}

    assert 4 not in by_doc  # zero matched terms -> absent
    assert by_doc[0]["n_terms"] == 3 and by_doc[1]["n_terms"] == 1
    # full-coverage docs take ranks 1-2 (tie broken by doc_id)
    assert by_doc[0]["rank"] == 1 and by_doc[5]["rank"] == 2
    assert by_doc[0]["score"] == by_doc[5]["score"]
    # two rare terms beat one common term
    assert by_doc[2]["score"] > by_doc[1]["score"]
    ranks = sorted(r["rank"] for r in out)
    assert ranks == list(range(1, len(out) + 1))


def test_hll_distinct_accuracy_and_register_bound(spark):
    """Portable HLL at p=12: the estimate lands within the ~3*1.04/sqrt(m)
    error envelope on a 5k-cardinality column, registers never exceed 2^p,
    NULLs are excluded, and a tiny group takes the linear-counting branch
    to near-exactness."""
    from pyspark.sql import functions as F

    from polars_numba_spark.operators.sketch import hll_distinct

    df = spark.range(20000).select(
        F.when(F.col("id") % 4 == 0, F.lit("small")).otherwise("big").alias("g"),
        # 'big' sees ids 1..19999 (non-multiples of 4) -> 15000 distinct;
        # 'small' sees 5000 distinct; plus some NULLs that must not count
        F.when(F.col("id") % 97 == 3, F.lit(None)).otherwise(
            F.col("id").cast("string")
        ).alias("v"),
    )
    out = {r["g"]: r for r in hll_distinct(df, "v", "g", p=12).collect()}
    exact = {
        r["g"]: r["x"]
        for r in df.where(F.col("v").isNotNull())
        .groupBy("g")
        .agg(F.countDistinct("v").alias("x"))
        .collect()
    }
    for g in ("small", "big"):
        assert out[g]["n_registers"] <= 4096
        rel = abs(out[g]["hll_estimate"] - exact[g]) / exact[g]
        assert rel < 0.05, (g, out[g]["hll_estimate"], exact[g])

    tiny = spark.createDataFrame(
        [("t", str(i)) for i in range(30)], "g string, v string"
    )
    est = hll_distinct(tiny, "v", "g", p=12).collect()[0]["hll_estimate"]
    # 30 distinct values, 4096 registers: linear counting is near-exact
    assert abs(est - 30) < 1.0


def test_hll_registers_have_partial_aggregation(spark):
    """The (group, bucket) max-rho aggregate must plan map-side partials —
    the bounded-shuffle claim: each partition ships at most 2^p register
    rows per group, never its raw values."""
    from polars_numba_spark import plans
    from polars_numba_spark.operators.sketch import hll_registers

    df = spark.createDataFrame([("g", "a")], "g string, v string")
    assert plans.has_partial_aggregation(hll_registers(df, "v", "g", p=12))


def test_pagerank_star_graph_invariants(spark):
    """PageRank sanity on a symmetrized star: the hub outranks every spoke,
    spokes tie exactly (equal structure -> equal rounded rank), total mass
    stays ~1 (rounding loses at most iterations x n x 5e-13), and a
    second run is bit-identical (the determinism the oracle relies on)."""
    from polars_numba_spark.operators.graphrank import pagerank

    hub_edges = [("hub", f"s{i}") for i in range(6)] + [
        (f"s{i}", "hub") for i in range(6)
    ]
    edges = spark.createDataFrame(hub_edges, "src string, dst string")
    out = {r["node"]: r["rank"] for r in pagerank(edges, iterations=5).collect()}
    assert all(out["hub"] > out[f"s{i}"] for i in range(6))
    assert len({out[f"s{i}"] for i in range(6)}) == 1
    assert abs(sum(out.values()) - 1.0) < 1e-9
    out2 = {r["node"]: r["rank"] for r in pagerank(edges, iterations=5).collect()}
    assert out == out2


def _ring_edges(spark, a, b):
    """A 5-node ring: every loop below runs more than one round on it."""
    return spark.createDataFrame(
        [(i, (i + 1) % 5) for i in range(5)] + [((i + 1) % 5, i) for i in range(5)],
        f"{a} long, {b} long",
    )


def _loop_pagerank(spark):
    from polars_numba_spark.operators.graphrank import pagerank

    return [pagerank(_ring_edges(spark, "src", "dst"), iterations=3)], 1


def _loop_bfs_hops(spark):
    from polars_numba_spark.operators.graphrank import bfs_hops

    seeds = spark.createDataFrame([(1,)], "id long")
    return [bfs_hops(_ring_edges(spark, "src", "dst"), seeds, max_hops=3)], 1


def _loop_hits(spark):
    from polars_numba_spark.operators.graphrank import hits

    # the final hubs round and the final auths round
    return list(hits(_ring_edges(spark, "src", "dst"), iterations=2)), 2


def _loop_connected_components(spark):
    return [D.connected_components(_ring_edges(spark, "a_id", "b_id"))], 1


def _vectors(spark):
    rows = [(i, [float(i % 3), float(i % 5), 1.0 + i / 10]) for i in range(12)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _loop_kmeans_iterations(spark):
    from polars_numba_spark.operators.vector import kmeans_iterations

    # one centroid round remains: `assignments` reads the centroid rows
    # collected to the driver, not the superseded round's checkpoint
    return list(kmeans_iterations(_vectors(spark), k=3, iterations=3)), 1


def _loop_pq_train_codebooks(spark):
    from polars_numba_spark.operators.vector import pq_train_codebooks

    return [pq_train_codebooks(_vectors(spark), m=1, k=2, iterations=3)], 1


def _loop_label_propagation(spark):
    from test_plans import q

    return [q(spark, "customer_label_propagation")], 1


@pytest.mark.parametrize(
    "build",
    [
        _loop_pagerank,
        _loop_bfs_hops,
        _loop_hits,
        _loop_connected_components,
        _loop_kmeans_iterations,
        _loop_pq_train_codebooks,
        _loop_label_propagation,
    ],
    ids=lambda f: f.__name__.removeprefix("_loop_"),
)
def test_loop_releases_checkpoint_blocks(spark, build):
    """Every checkpoint loop frees superseded rounds and its pinned inputs
    before it returns: while the result is live only the final round's
    blocks persist, and release_session_checkpoints (the bench/gate sweep
    between queries) frees those too — the iterative-algorithm leak
    checkpoint.py documents."""
    from polars_numba_spark.plans.checkpoint import (
        _persistent_ids,
        release_session_checkpoints,
    )

    release_session_checkpoints(spark)
    before = _persistent_ids(spark)
    results, n_final = build(spark)
    for df in results:
        assert df.collect()
    assert len(_persistent_ids(spark) - before) == n_final
    release_session_checkpoints(spark)
    assert _persistent_ids(spark) - before == set()


def test_ks_drift_detects_shifted_group(spark):
    """KS sanity: a group drawn from a shifted distribution scores a large
    statistic, an identically-distributed group scores near 0 (its only
    deviation is the shifted group's contamination of the pooled CDF), and
    the statistic is bounded in [0, 1]."""
    from pyspark.sql import functions as F

    from polars_numba_spark.operators.profile import ks_drift

    rows = [("same", i % 100) for i in range(1000)]
    rows += [("shifted", 200 + i % 100) for i in range(250)]
    rows += [("same2", i % 100) for i in range(1000)]
    df = spark.createDataFrame(rows, "source string, n_chars int")
    out = {r["source"]: r["ks_stat"] for r in ks_drift(df, "n_chars", "source").collect()}
    assert 0.0 <= min(out.values()) and max(out.values()) <= 1.0
    # the shifted group is fully disjoint from the pooled mass below 200:
    # at x=199, CDF_shifted = 0 while CDF_corpus = 2000/2250
    assert abs(out["shifted"] - 2000 / 2250) < 1e-9
    assert out["same"] < 0.15 and out["same2"] < 0.15
    assert out["shifted"] > 5 * out["same"]


def test_conversion_funnel_ordering_semantics(spark, tmp_path):
    """Funnel steps are STRICTLY ordered: a view before the signup does not
    count, a purchase before the first qualifying view does not count, and
    users land in all four depth buckets; completer hours are exact."""
    import datetime as dt

    from polars_numba_spark.queries.catalog import spark_queries

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, uid, typ, hours):
        return (i, t0 + dt.timedelta(hours=hours), uid, typ, 1.0, "{}")

    rows = [
        # u1: full funnel, 2h signup->purchase
        ev(0, 1, "signup", 0), ev(1, 1, "view", 1), ev(2, 1, "purchase", 2),
        # u2: view BEFORE signup only -> depth 1
        ev(3, 2, "view", 0), ev(4, 2, "signup", 1),
        # u3: purchase before its qualifying view -> depth 2
        ev(5, 3, "signup", 0), ev(6, 3, "purchase", 1), ev(7, 3, "view", 2),
        # u4: never signs up -> depth 0
        ev(8, 4, "view", 0), ev(9, 4, "purchase", 1),
        # u5: full funnel, 5h
        ev(10, 5, "signup", 0), ev(11, 5, "view", 4), ev(12, 5, "purchase", 5),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf)
    df.write.parquet(f"{sf}/events.parquet")
    out = {
        r["funnel_depth"]: r
        for r in spark_queries()["user_conversion_funnel"](spark, sf).collect()
    }
    assert {d: out[d]["n_users"] for d in sorted(out)} == {0: 1, 1: 1, 2: 1, 3: 2}
    assert abs(out[3]["avg_hours_to_purchase"] - 3.5) < 1e-9  # (2h + 5h) / 2
    assert out[2]["avg_hours_to_purchase"] is None


def test_gopher_flags_each_rule_fires(spark):
    from polars_numba_spark.operators.text import gopher_quality_flags

    good = "the quick brown fox jumps over a lazy dog and " * 6  # 60 words
    rows = [
        (1, good),                                    # passes all rules
        (2, "the a of to in"),                        # too few words
        (3, "the of " + "ab " * 58),                  # mean word len < 3
        (4, good.replace("quick", "### ... …")),      # symbol ratio > 0.1
        (5, " ".join(["12345"] * 30 + ["the", "a"] + ["67890"] * 30)),  # alpha frac
        (6, ("zzz www qqq rrr sss " * 12)),           # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in gopher_quality_flags(df).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["n_words"] == 5
    assert out[3]["keep"] is False and out[3]["mean_word_len"] < 3.0
    assert out[4]["keep"] is False and out[4]["symbol_word_ratio"] > 0.1
    assert out[5]["keep"] is False and out[5]["frac_alpha_words"] < 0.8
    assert out[6]["keep"] is False and out[6]["stopword_hits"] < 2


def test_char_entropy_values_and_empty_doc(spark):
    from polars_numba_spark.queries.catalog import spark_queries
    import math, tempfile, os

    # uniform 4-char text -> entropy ln(4); single-char -> 0; empty -> absent
    rows = [(1, "abcd"), (2, "aaaa"), (3, "   "), (4, "ab ab")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            r["doc_id"]: r
            for r in spark_queries()["doc_char_entropy"](spark, td).collect()
        }
    assert abs(out[1]["char_entropy"] - math.log(4)) < 1e-8
    assert out[2]["char_entropy"] == 0.0
    assert 3 not in out  # whitespace-only: no chars -> no row (both engines)
    assert abs(out[4]["char_entropy"] - math.log(2)) < 1e-8
    assert out[4]["n_chars"] == 4  # whitespace stripped before counting


def test_hits_bipartite_invariants(spark):
    """hits: a hub pointing at every authority must out-score a hub
    pointing at one; scores L1-normalize to ~1 per side; a rerun is
    bit-identical (the decimal-accumulation determinism contract)."""
    from polars_numba_spark.operators.graphrank import hits

    # hub 1 -> {10, 11, 12}; hub 2 -> {10}; 10 is the strongest authority
    edges = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10)], "src long, dst long"
    )
    hubs, auths = hits(edges, iterations=2)
    h = {r["node"]: r["hub"] for r in hubs.collect()}
    a = {r["node"]: r["auth"] for r in auths.collect()}
    assert h[1] > h[2]
    assert a[10] > a[11] == a[12]
    assert abs(sum(h.values()) - 1.0) < 1e-9
    assert abs(sum(a.values()) - 1.0) < 1e-9
    hubs2, auths2 = hits(edges, iterations=2)
    assert {r["node"]: r["hub"] for r in hubs2.collect()} == h
    assert {r["node"]: r["auth"] for r in auths2.collect()} == a


def test_mp3_decoder_rejects_and_truncates():
    """decode_mp3_frames: non-MP3 bytes -> None; a stream whose second
    frame is corrupted counts only the valid prefix (the desync-truncation
    contract the face's docstring claims)."""
    from polars_numba_spark.operators.multimodal import (
        MP3_BITRATES_KBPS,
        MP3_SAMPLE_RATES,
        decode_mp3_frames,
    )

    assert decode_mp3_frames(b"RIFF....WAVE") is None
    assert decode_mp3_frames(b"") is None
    # build two valid frames by hand: bitrate idx 9 (128k), sr idx 0 (44100)
    size = 144 * 128 * 1000 // 44100
    frame = bytes([0xFF, 0xFB, (9 << 4) | (0 << 2), 0x00]) + b"\x00" * (size - 4)
    assert decode_mp3_frames(frame * 3) == (128, 44100, 3)
    corrupted = frame + b"\x00" + frame[1:]
    assert decode_mp3_frames(corrupted) == (128, 44100, 1)
    assert MP3_BITRATES_KBPS[9] == 128 and MP3_SAMPLE_RATES[0] == 44100
