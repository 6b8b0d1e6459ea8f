"""r15 shared-tokenization checkpoints: the minhash/jaccard pipeline and
the containment SSJoin derive the token/shingle sets several times per
plan (signature explode + both verify sides; 5× in the SSJoin). The r15
optimization materializes the tokenized corpus ONCE via a session-scoped
checkpoint and shares it. These tests pin RESULT EQUALITY between the
checkpointed and pure-lineage plans for every wired path — the checkpoint
may move work, never results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from polars_numba_spark.operators import dedup as D
from polars_numba_spark.plans.checkpoint import release_session_checkpoints


@pytest.fixture(autouse=True)
def _release_checkpoints(spark):
    """The tests take session-scoped checkpoints themselves, and the
    containment paths register their tokenized corpus session-wide;
    release them so no test leaves blocks behind."""
    yield
    release_session_checkpoints(spark)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "a"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "a"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota lambda", "a"),
        (4, "completely different text with no shared runs at all here", "a"),
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "b"),
        (6, "", "b"),          # tokenless: vanishes at the explode both ways
        (7, None, "b"),        # null text: same
        (8, "short", "b"),     # too short for 8-shingles
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def _sorted_rows(df):
    return [tuple(r) for r in df.orderBy(*df.columns).collect()]


def _minhash_pairs(docs, shingle_n, toks):
    """minhash_dedup_pairs' candidate + verify plan with an explicit
    tokenized-corpus feed (``toks=None`` is the pure-lineage plan)."""
    cands = D.minhash_lsh_candidates(
        docs, "text", "doc_id", 16, 4, portable=True,
        shingle_n=shingle_n, toks=toks,
    )
    return D.jaccard_pairs(
        docs, cands, "text", "doc_id", prune_threshold=0.5,
        shingle_n=shingle_n, toks=toks,
    ).where(F.col("jaccard") >= 0.5)


@pytest.mark.parametrize("shingle_n", [None, 8])
def test_minhash_pairs_ckpt_matches_lineage(spark, docs, shingle_n):
    from polars_numba_spark.plans.checkpoint import session_scoped_checkpoint

    toks = session_scoped_checkpoint(
        docs.select(
            F.col("doc_id").alias("id"),
            D._token_sets("text", shingle_n).alias("toks"),
        ).withColumn("n_toks", F.size("toks"))
    )
    lineage = _sorted_rows(_minhash_pairs(docs, shingle_n, None))
    assert _sorted_rows(_minhash_pairs(docs, shingle_n, toks)) == lineage
    assert lineage  # non-degenerate: the dup cluster must pair up
    # the public pipeline (which picks its plan from shingle_n) agrees
    assert lineage == _sorted_rows(
        D.minhash_dedup_pairs(
            docs, num_hashes=16, bands=4, threshold=0.5,
            portable=True, shingle_n=shingle_n,
        )
    )


def test_banded_signatures_toks_feed_matches(spark, docs):
    """The explode-from-pretokenized feed is row-identical to the
    explode-from-text feed (incl. blocks and empty/null docs)."""
    toks = docs.select(
        F.col("doc_id").alias("id"),
        "source",
        D._token_sets("text", None).alias("toks"),
    )
    a = D._banded_signatures(
        docs, "text", "doc_id", 16, 4, True, None, ["source"]
    )
    b = D._banded_signatures(
        docs, "text", "doc_id", 16, 4, True, None, ["source"], toks=toks
    )
    assert _sorted_rows(a) == _sorted_rows(b)


def test_containment_join_ckpt_matches_lineage(spark, docs, monkeypatch):
    from polars_numba_spark.plans import checkpoint as CK

    def run():
        return [
            _sorted_rows(D.containment_join(docs, threshold=0.9)),
            _sorted_rows(D.containment_keep_list(docs, threshold=0.9)),
        ]

    with monkeypatch.context() as m:
        # the identity checkpoint leaves the pure-lineage plan
        m.setattr(CK, "session_scoped_checkpoint", lambda df, *a, **k: df)
        outs = run()
    outs += run()
    assert outs[0] == outs[2]
    assert outs[1] == outs[3]
    assert outs[1]  # keeplist always emits one row per doc
