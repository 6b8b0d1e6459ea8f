"""PNS_CHECKPOINT_MODE=reliable (VERDICT r14 #8): the tracked-checkpoint
helper must route through Spark's reliable checkpoint (checkpoint-dir
backed, survives executor loss) instead of non-replicated executor blocks,
with results and the release() contract unchanged."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from polars_numba_spark.plans import checkpoint as CK


@pytest.fixture
def reliable_env(tmp_path, monkeypatch):
    monkeypatch.setenv("PNS_CHECKPOINT_MODE", "reliable")
    monkeypatch.setenv("PNS_CHECKPOINT_DIR", str(tmp_path / "ck"))
    yield


def test_reliable_mode_checkpoints_and_releases(spark, reliable_env):
    df = spark.range(100).withColumn("x", F.col("id") * 2)
    out, ids = CK.tracked_local_checkpoint(df)
    # reliable checkpoints create no persistent-RDD blocks to track
    assert ids == set()
    assert out.count() == 100
    assert sorted(r["x"] for r in out.collect())[:3] == [0, 2, 4]
    # the checkpoint dir was actually used
    ckdir = str(spark.sparkContext._jsc.sc().getCheckpointDir().get())
    assert "ck" in ckdir
    # release of an empty id set is a no-op, not an error
    CK.release(spark, ids)


def test_default_mode_unchanged(spark, monkeypatch):
    monkeypatch.delenv("PNS_CHECKPOINT_MODE", raising=False)
    df = spark.range(10)
    out, ids = CK.tracked_local_checkpoint(df)
    assert out.count() == 10
    assert ids  # local mode tracks the new persistent-RDD blocks
    CK.release(spark, ids)


def test_reliable_mode_without_dir_raises(spark, monkeypatch):
    monkeypatch.setenv("PNS_CHECKPOINT_MODE", "reliable")
    monkeypatch.delenv("PNS_CHECKPOINT_DIR", raising=False)
    if not spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        pytest.skip("checkpoint dir already set in this session")
    with pytest.raises(RuntimeError, match="PNS_CHECKPOINT_DIR"):
        CK.tracked_local_checkpoint(spark.range(3))


def test_tracked_ids_are_exact_and_thread_safe(spark):
    """r15: checkpoint ids are read DIRECTLY off the returned LogicalRDD
    (not a before/after diff of the JVM's persistent-RDD map), so two
    threads checkpointing concurrently — the RRF face's overlapped BM25 /
    PageRank builds — each track exactly their own blocks."""
    import concurrent.futures as cf

    def build(tag):
        df = spark.range(2000).selectExpr("id", f"id * {tag} as x")
        out, ids = CK.tracked_local_checkpoint(df)
        return out, ids

    with cf.ThreadPoolExecutor(max_workers=2) as ex:
        futs = [ex.submit(build, k) for k in (3, 7)]
        results = [f.result() for f in futs]
    (out_a, ids_a), (out_b, ids_b) = results
    # each checkpoint tracked exactly one id, and they are disjoint
    assert len(ids_a) == 1 and len(ids_b) == 1
    assert ids_a.isdisjoint(ids_b)
    # the tracked ids really are the persisted blocks: releasing one
    # leaves the other frame fully readable with its data intact
    CK.release(spark, ids_a)
    assert out_b.agg(F.sum("x")).collect()[0][0] == sum(i * 7 for i in range(2000))
    CK.release(spark, ids_b)


def test_checkpoint_id_read_is_checked_against_persistent_rdds(spark):
    """The id is read off the plan through private Catalyst surface; a
    plan shape that does not yield a persisted RDD (as a Spark upgrade
    could produce) must fail loudly at that site, not leak blocks."""
    rdd_frame = spark.createDataFrame(spark.sparkContext.parallelize([(1,), (2,)]), "x long")
    with pytest.raises(RuntimeError, match="_checkpoint_rdd_ids.*not a persistent RDD"):
        CK._checkpoint_rdd_ids(rdd_frame)
    with pytest.raises(RuntimeError, match="_checkpoint_rdd_ids.*not a LogicalRDD"):
        CK._checkpoint_rdd_ids(spark.range(3))


def test_reliable_mode_components_match_local(spark, monkeypatch, tmp_path):
    """connected_components' convergence observation is filled by the
    reliable checkpoint job exactly as by the local one: same labels on
    the long-chain graph."""
    from polars_numba_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a_id long, b_id long"
    )
    monkeypatch.delenv("PNS_CHECKPOINT_MODE", raising=False)
    local = sorted(connected_components(edges).collect())
    monkeypatch.setenv("PNS_CHECKPOINT_MODE", "reliable")
    monkeypatch.setenv("PNS_CHECKPOINT_DIR", str(tmp_path / "ck"))
    reliable = sorted(connected_components(edges).collect())
    assert reliable == local
    assert {r["component"] for r in local} == {0} and len(local) == 13
