"""Eager checkpoints with an owned lifetime, for iterative DataFrame
algorithms and for operators whose result reads materialized rows.

``DataFrame.localCheckpoint(eager=True)`` truncates lineage by persisting
the materialized rows as executor block-manager RDD blocks, and Spark
keeps those blocks until the session dies. A loop that checkpoints every
round (connected components, PageRank, BFS, HITS, k-means, PQ training,
label propagation) would leak one working-set copy per round. Every such
loop runs inside :func:`checkpoint_rounds`, which owns the policy::

    with checkpoint_rounds() as ck:
        edges = ck.pin(edges)                 # freed when the block exits
        for _ in range(n):
            labels = ck.step("labels", ...)   # frees the previous "labels"
            labels, n_changed = ck.step("labels", ..., observe=F.count_if(...))

- ``pin`` checkpoints a frame the loop reads every round; it is released
  when the block exits.
- ``step`` checkpoints the next round and frees the superseded round of
  the same name. ``observe`` is an aggregate attached with
  ``DataFrame.observe``; its value comes back from the checkpoint job
  itself, so a convergence test costs no second job.
- On a normal exit the newest checkpoint of each name is registered
  session-scoped (the returned frame still reads it); on an exception
  everything is released.

:func:`session_scoped_checkpoint` is the one-shot form for a single frame
the caller's result reads lazily. Session-scoped blocks are swept between
queries by :func:`release_session_checkpoints` (bench and test harnesses).

Only public-ish JVM surface is touched (``JavaSparkContext.
getPersistentRDDs`` via the standard py4j gateway — the same map the Spark
UI's Storage tab renders).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Observation, SparkSession

# Checkpoint ids whose blocks a RETURNED DataFrame still reads (e.g. the
# parallel prefix scan's partition-stable input, a loop's final round).
# Bench/test harnesses call release_session_checkpoints() between queries
# to sweep these.
_SESSION_SCOPED: list[int] = []

# Plan-audit capture (r14): an eager checkpoint TRUNCATES lineage, so any
# node upstream of it — including the scale-killer shapes the catalog-wide
# plan gate exists to catch — disappears from the returned DataFrame's
# plan tree. When capture is enabled (tools/plan_gate.py and its tests;
# never in production runs — one py4j call per checkpoint otherwise), the
# pre-checkpoint QueryExecution handle is recorded here so the gate can
# audit the truncated subtree alongside the face's final plan.
_PLAN_CAPTURE = False
_CAPTURED_QES: list = []


def set_plan_capture(on: bool) -> None:
    """Enable/disable recording of pre-checkpoint QueryExecution handles
    (plan-gate use only). Disabling also clears the buffer."""
    global _PLAN_CAPTURE
    _PLAN_CAPTURE = on
    if not on:
        _CAPTURED_QES.clear()


def drain_captured_plans() -> list:
    """Return and clear the QueryExecution handles captured since the last
    drain — one per eager checkpoint taken while capture was enabled."""
    out = list(_CAPTURED_QES)
    _CAPTURED_QES.clear()
    return out


def _persistent_ids(spark: SparkSession) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(i) for i in jmap.keySet().toArray()}


def _checkpoint_rdd_ids(out: DataFrame) -> set[int]:
    """The persistent-RDD ids backing an eager localCheckpoint, read
    DIRECTLY off the returned frame's LogicalRDD (verified: the
    LogicalRDD's rdd id IS the persisted id). This replaces the r6-era
    before/after diff of ``getPersistentRDDs`` — the diff was two JVM
    map scans per checkpoint AND attributed ids wrongly when two threads
    checkpoint concurrently (r15: the RRF face materializes its BM25 and
    PageRank subtrees in parallel submitter threads).

    The read goes through private Catalyst surface, so it is checked
    against ``getPersistentRDDs``: if a Spark upgrade changes the plan
    shape, this site raises instead of leaking untracked blocks."""
    site = "plans/checkpoint.py::_checkpoint_rdd_ids"
    try:
        rdd_id = int(out._jdf.queryExecution().analyzed().rdd().id())
    except Py4JError as e:
        raise RuntimeError(
            f"{site}: the checkpointed plan is not a LogicalRDD ({e!r})"
        ) from e
    if not out.sparkSession.sparkContext._jsc.getPersistentRDDs().containsKey(rdd_id):
        raise RuntimeError(
            f"{site}: RDD {rdd_id} read off the checkpointed plan is not a "
            "persistent RDD"
        )
    return {rdd_id}


def _checkpoint_mode() -> str:
    """``local`` (default) or ``reliable`` — VERDICT r14 #8. Eager
    ``localCheckpoint`` stores blocks on executors WITHOUT replication and
    truncates lineage, so on a real cluster one executor loss makes every
    consumer of the checkpoint unrecoverable (no lineage to replay). Local
    mode has a single "executor" whose loss kills the app anyway, so the
    default stays ``local``; cluster deployments set
    ``PNS_CHECKPOINT_MODE=reliable`` (plus ``PNS_CHECKPOINT_DIR`` or a
    pre-set ``sparkContext.setCheckpointDir``) to route every tracked /
    session-scoped checkpoint through Spark's reliable checkpoint (HDFS/
    object-store backed, survives executor loss). See SCALE.md."""
    import os

    return os.environ.get("PNS_CHECKPOINT_MODE", "local")


def _reliable_checkpoint(df: DataFrame) -> DataFrame:
    import os

    spark = df.sparkSession
    sc = spark.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        ckdir = os.environ.get("PNS_CHECKPOINT_DIR")
        if not ckdir:
            raise RuntimeError(
                "PNS_CHECKPOINT_MODE=reliable requires a checkpoint dir: "
                "set PNS_CHECKPOINT_DIR or call sparkContext.setCheckpointDir"
            )
        sc.setCheckpointDir(ckdir)
    return df.checkpoint(eager=True)


def tracked_local_checkpoint(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """Eagerly checkpoint ``df``; return (checkpointed df, the NEW
    persistent-RDD ids backing it) so the caller can free them with
    :func:`release` once the checkpoint is superseded (callers outside
    this module go through :func:`checkpoint_rounds` or
    :func:`session_scoped_checkpoint`). Default is
    ``localCheckpoint`` (executor blocks, fast, non-replicated);
    ``PNS_CHECKPOINT_MODE=reliable`` swaps in a reliable checkpoint for
    cluster deployments (see :func:`_checkpoint_mode`) — the id-tracking
    contract is unchanged (reliable checkpoints create no persistent-RDD
    blocks, so the id set is simply empty and release() is a no-op).

    A checkpoint scan reports UnknownPartitioning and inherits the
    upstream AQE-coalesced block count, so byte-small frames materialize
    as 1-2 blocks and downstream stages up to their next exchange run
    1-2 tasks. An auto-respread remedy ("widen to core count after
    materializing") was built and A/B'd in r15 and REJECTED on
    measurement everywhere it was tried: PageRank's iteration join
    broadcasts the edge table, so widening the probe side multiplied the
    per-task broadcast cost (CPU floor 11.4 → 57.5 on
    doc_pagerank_centrality); the tokenized-corpus checkpoints feed
    stages whose first exchange re-widens anyway (neutral-to-worse).
    Where narrow checkpoint reads genuinely serialize heavy compute, fix
    the CONSUMER with an explicit keyed repartition instead (see
    simhash_dedup_pairs' block-join widening, measured 6.3s → 3.0s)."""
    spark = df.sparkSession
    if _PLAN_CAPTURE:
        _CAPTURED_QES.append(df._jdf.queryExecution())
    if _checkpoint_mode() == "reliable":
        return _reliable_checkpoint(df), set()
    out = df.localCheckpoint(eager=True)
    return out, _checkpoint_rdd_ids(out)


def release(spark: SparkSession, ids: set[int] | list[int]) -> None:
    """Unpersist the given persistent-RDD ids (no-op for already-freed)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist()


class _Rounds:
    """The handle :func:`checkpoint_rounds` yields; see the module doc."""

    def __init__(self) -> None:
        self._spark: SparkSession | None = None
        self._pinned: set[int] = set()
        self._steps: dict[str, set[int]] = {}

    def pin(self, df: DataFrame) -> DataFrame:
        """Eager checkpoint released when the block exits."""
        self._spark = df.sparkSession
        out, ids = tracked_local_checkpoint(df)
        self._pinned |= ids
        return out

    def step(self, name: str, df: DataFrame, observe: Column | None = None):
        """Eager checkpoint that supersedes the previous one under ``name``
        (freed once this one is materialized). With ``observe`` (an
        aggregate Column) return ``(frame, value)``: the value comes from
        the checkpoint job, and NULL (an empty frame) reads as 0."""
        self._spark = df.sparkSession
        obs = Observation() if observe is not None else None
        if obs is not None:
            df = df.observe(obs, observe.alias("v"))
        out, ids = tracked_local_checkpoint(df)
        release(self._spark, self._steps.get(name, set()))
        self._steps[name] = ids
        if obs is None:
            return out
        return out, obs.get["v"] or 0


@contextmanager
def checkpoint_rounds() -> Iterator[_Rounds]:
    """Scope for an iterative algorithm's checkpoints (module doc): pinned
    frames are released at exit, the newest ``step`` of each name is
    registered session-scoped, and an exception releases everything."""
    ck = _Rounds()
    try:
        yield ck
    except BaseException:
        if ck._spark is not None:
            release(ck._spark, ck._pinned.union(*ck._steps.values()))
        raise
    if ck._spark is not None:
        release(ck._spark, ck._pinned)
        _SESSION_SCOPED.extend(set().union(*ck._steps.values()))


def session_scoped_checkpoint(df: DataFrame) -> DataFrame:
    """Checkpoint whose blocks must outlive the creating function (the
    returned DataFrame reads them lazily). Ids are recorded session-wide;
    harnesses sweep them between queries via
    :func:`release_session_checkpoints`."""
    out, ids = tracked_local_checkpoint(df)
    _SESSION_SCOPED.extend(ids)
    return out


def release_session_checkpoints(spark: SparkSession) -> None:
    """Free every session-scoped checkpoint registered so far. Safe only
    BETWEEN queries (after the consuming DataFrame has been fully
    evaluated); bench.py and the local gate call this per query."""
    release(spark, list(_SESSION_SCOPED))
    _SESSION_SCOPED.clear()
