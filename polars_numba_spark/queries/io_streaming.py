"""Driver-gated queries for the I/O-format and Structured Streaming
surfaces — the two SURVEY.md §2.B families that previously had pytest
coverage but no CORRECTNESS row.

Both queries keep the (spark, sf_dir) -> batch DataFrame contract:

- the formats query materializes a deterministic slice of ``orders`` as CSV
  and JSON-lines, reads both back through the schema-mandatory readers, and
  aggregates — the oracle aggregates the same slice straight off parquet, so
  any value lost or mangled in either text codec (double shortest-roundtrip,
  ISO-8601 timestamps) breaks the hash;
- the streaming queries run real Structured Streaming jobs (file source →
  stateful operator / event-time windows → sink) and return a read of the
  sink; with bounded input the final streaming state must equal the batch
  computation the oracle performs.

Sink policy: every streaming face except the foreachBatch near-dup ingest
runs its query through :func:`_run_available_now` — ``availableNow``
trigger, a fresh checkpoint dir removed afterwards. Complete mode, which
file sinks do not support, writes a ``pns_``-prefixed memory table, and
that memory sink is the result: the returned frame is resolved from the
table and the view is dropped, so the rows stay reachable only through
the caller's frame (a ``LocalTableScan``: no parquet write, no listing, no
schema job). The sink already holds those rows on the driver. Append mode
writes a parquet streaming sink, read back with the stream's schema; an
append output grows with its input, so it is not collected to the driver.
Either way no session-lived state survives a query — the round-2 driver
bench showed leaked memory sinks degrading every later query in a
91-query single-session run.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import time
import uuid
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_numba_spark.queries.catalog import (
    _DSUM,
    EWMA_ORACLE as _EWMA_STREAM_ORACLE,
    SCAN_BALANCE_ORACLE,
    _t,
    register,
)
from polars_numba_spark.queries.relational import (
    _BURST_ORACLE_SQL as _BURST_ORACLE_SQL_STREAM,
    _CMS_ORACLE_SQL as _CMS_ORACLE_SQL_STREAM,
    _SPRT_ORACLE_SQL as _SPRT_ORACLE_SQL_STREAM,
)
from polars_numba_spark.sources import load_stream
from polars_numba_spark.sources.formats import (
    read_csv,
    read_jsonl,
    read_orc,
    write_csv,
    write_jsonl,
    write_orc,
    write_partitioned_parquet,
    write_sorted_parquet,
    write_zorder_parquet,
)
from polars_numba_spark.streaming import windowed_rollup


_SCRATCH_ROOT: str | None = None


def _scratch_root() -> str:
    """This process's scratch root: one ``mkdtemp`` dir in the system temp
    dir, removed when the process exits (by the process that made it, not
    by a forked child)."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="pns_scratch_")
        atexit.register(_remove_scratch_root, _SCRATCH_ROOT, os.getpid())
    return _SCRATCH_ROOT


def _remove_scratch_root(root: str, owner_pid: int) -> None:
    if os.getpid() == owner_pid:
        shutil.rmtree(root, ignore_errors=True)


def _scratch_dir(tag: str, sf_dir: str) -> str:
    """Deterministic per-(tag, sf) scratch dir under the process's
    :func:`_scratch_root`: the lazily-returned DataFrame still references
    these files when the caller collects (a format round-trip's read-back,
    an append-mode stream's parquet sink; a complete-mode stream returns
    its memory sink and makes no dir), so they cannot be deleted here —
    instead every rerun overwrites the SAME directory (mode 'overwrite'),
    bounding disk at one copy per sf rather than one per invocation, and
    the root goes at exit. A root per process keeps two CONCURRENT
    gate/bench processes from overwriting files the other's lazy DataFrame
    still references (within one process, reruns are sequential — the
    overwrite is safe)."""
    sf_key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(_scratch_root(), f"{tag}_{sf_key}")
    os.makedirs(path, exist_ok=True)
    return path


def _fresh_dir(tag: str, sf_dir: str) -> str:
    """Wipe the ``tag`` scratch dir (previous runs' output — same
    bounded-disk contract as the overwrite-mode scratch writes) and return
    a fresh run-specific subdir of it."""
    base = _scratch_dir(tag, sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    path = os.path.join(base, uuid.uuid4().hex[:8])
    os.makedirs(path, exist_ok=True)
    return path


def _await(query, name: str) -> None:
    if not query.awaitTermination(300):
        query.stop()
        raise TimeoutError(f"{name}: availableNow stream did not finish in 300s")


@contextmanager
def _pinned_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the block, then put each back as it
    was: a conf the session had set gets its value back, and one it had not
    set is unset again rather than left at its default."""
    before = spark.conf.getAll
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key in confs:
            if key in before:
                spark.conf.set(key, before[key])
            else:
                spark.conf.unset(key)


def _run_available_now(
    df: DataFrame,
    name: str,
    sf_dir: str,
    complete: bool = False,
) -> DataFrame:
    """Run the bounded stream ``df`` to completion and return a batch frame
    of its output (the module's sink policy).

    ``complete`` selects complete output mode, and the memory sink is the
    result: the frame is resolved from the sink's table before the view
    is dropped, so only the caller's frame reaches the rows, and Spark
    plans it as a ``LocalTableScan`` with no job. Append mode writes a
    parquet sink and reads it back with ``df``'s schema, so no
    schema-inference job runs.

    The query starts under two pinned confs (:func:`_pinned_confs`), set
    back afterwards. They must be set before ``start()``, where the stream
    clones the session; its state store reads them from the Hadoop conf
    captured at planning, so restoring them once the run is over is safe.

    - ``spark.sql.shuffle.partitions`` is the session's
      ``defaultParallelism``: one state partition per task slot. The
      state-store partition count is fixed at the stream's first
      checkpoint, and each state partition costs a fixed amount per
      micro-batch whatever its size: on ``local[2]`` at sf0.01, 120-160 ms
      of task time per extra partition for the JVM state store alone (a
      streaming ``groupBy().count()``) and about 100 ms with the
      ``applyInPandasWithState`` Python runner (SCALE.md). Partitions
      beyond the task slots only add waves of that cost. ``get_spark``
      sessions already set the conf to the core count; the pin holds the
      rule for sessions built elsewhere.
    - ``spark.sql.streaming.checkpointFileManagerClass`` writes the
      offset, commit and state-store files through Hadoop's
      ``FileSystem`` API. Without libhadoop, the default ``FileContext``
      manager resolves each local file by launching a ``readlink``
      process: 80-88 launches, about 100 ms, per face run (SCALE.md,
      "Process launches in local checkpoint I/O"). Its atomic
      overwrite-rename protects only a restart, and this checkpoint is a
      fresh directory that is deleted after the run and never resumed.
      Checkpoints that callers own (the ``streaming`` package's operators
      and sinks) keep Spark's default. Turning off the checkpoint's
      checksum files as well saved 4 more launches per face run and no
      measurable time, so they stay on."""
    spark = df.sparkSession
    table = f"pns_{name}_{uuid.uuid4().hex[:8]}"
    # a fresh checkpoint per run: a reused one would mark the input
    # processed and emit nothing; the sink holds the results
    ckpt = tempfile.mkdtemp(prefix=f"pns_ckpt_{name}_")
    try:
        writer = df.writeStream.option("checkpointLocation", ckpt).trigger(
            availableNow=True
        )
        if complete:
            writer = writer.format("memory").queryName(table).outputMode("complete")
        else:
            out_dir = _fresh_dir(f"{name}_out", sf_dir)
            writer = writer.format("parquet").option("path", out_dir).outputMode("append")
        pins = {
            "spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism),
            "spark.sql.streaming.checkpointFileManagerClass": (
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager"
            ),
        }
        with _pinned_confs(spark, pins):
            _await(writer.start(), name)
        # resolved before the view is dropped: the frame keeps the sink
        if complete:
            return spark.table(table)
        return spark.read.schema(df.schema).parquet(out_dir)
    finally:
        if complete:
            spark.catalog.dropTempView(table)
        shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "formats_csv_jsonl_roundtrip",
    oracle=f"""
    SELECT fmt, o_orderstatus, COUNT(*) AS n_orders,
           {_DSUM.format(x='o_totalprice')} AS total_price,
           CAST(MAX(o_orderdate) AS TIMESTAMP) AS last_order
    FROM orders, (SELECT UNNEST(['csv', 'jsonl']) AS fmt) f
    WHERE o_orderkey < 5000
    GROUP BY fmt, o_orderstatus
    """,
)
def formats_csv_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV + JSON-lines round-trip differential: parquet slice → write both
    text formats → schema-mandatory read back → per-format aggregate. The
    oracle computes the identical aggregate from parquet for each format
    tag, so the hash proves byte-exact codec round-trips (doubles survive
    via shortest-roundtrip repr, timestamps via ISO-8601 at UTC)."""
    base = _scratch_dir("formats", sf_dir)
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 5000)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    )
    write_csv(o, f"{base}/csv")
    write_jsonl(o, f"{base}/jsonl")
    schema = (
        "o_orderkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp"
    )
    c = read_csv(spark, f"{base}/csv", schema).withColumn("fmt", F.lit("csv"))
    j = read_jsonl(spark, f"{base}/jsonl", schema).withColumn("fmt", F.lit("jsonl"))
    return (
        c.unionByName(j)
        .groupBy("fmt", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(_DSUM.format(x="o_totalprice")).alias("total_price"),
            F.max("o_orderdate").alias("last_order"),
        )
    )


@register(
    "formats_orc_roundtrip",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n_items,
           {_DSUM.format(x='l_extendedprice')} AS total_price,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
    FROM lineitem
    WHERE l_orderkey < 5000 AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def formats_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip differential (round 6 — ORC ships inside spark-sql,
    no external jar): parquet slice → ORC write → read back → aggregate,
    with the ship-date filter applied ON THE ORC READ so ORC's own
    predicate pushdown is on the hot path (plan-asserted in
    tests/test_plans.py). The oracle computes the identical aggregate
    straight off parquet — the hash proves the columnar codec round-trips
    doubles and timestamps bit-exactly."""
    base = _scratch_dir("orc", sf_dir)
    l = (  # noqa: E741
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 5000)
        .select("l_orderkey", "l_returnflag", "l_extendedprice",
                "l_quantity", "l_shipdate")
    )
    write_orc(l, f"{base}/lineitem_orc")
    back = read_orc(spark, f"{base}/lineitem_orc").where(
        F.col("l_shipdate") >= "1995-01-01"
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr(_DSUM.format(x="l_extendedprice")).alias("total_price"),
        F.expr(
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)"
        ).alias("total_qty"),
    )


@register(
    "formats_partitioned_pruning",
    oracle=f"""
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           {_DSUM.format(x='o_totalprice')} AS total_price
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderstatus
    """,
)
def formats_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout partitioned parquet end-to-end: write orders partitioned
    by o_orderstatus, read back with a filter on the partition column —
    non-matching partition directories are never opened (partition pruning,
    asserted in tests/test_formats.py) — and aggregate; the oracle computes
    the same aggregate from the unpartitioned source."""
    base = _scratch_dir("part", sf_dir)
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    write_partitioned_parquet(o, base, "o_orderstatus")
    # explicit schema: schema-on-read is the production posture (no
    # inference job at 100 TB) and keeps the read valid when the write
    # produced zero partition directories (empty source)
    back = spark.read.schema(o.schema).parquet(base).where(
        F.col("o_orderstatus") == "O"
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(_DSUM.format(x="o_totalprice")).alias("total_price"),
    )


@register(
    "formats_sorted_skipping",
    oracle=f"""
    SELECT l_returnflag, COUNT(*) AS n_items,
           {_DSUM.format(x='l_extendedprice')} AS total_price,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_order,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_order
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-04-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def formats_sorted_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping end-to-end: lineitem rewritten once through
    ``write_sorted_parquet`` (range-partitioned + sorted by l_shipdate, so
    row-group min/max stats tile the time axis), then a one-month range
    filter reads it back — the predicate reaches the parquet reader
    (PushedFilters, plan-asserted) where footer stats eliminate every
    non-overlapping row group before any page I/O. The oracle aggregates
    the same month straight off the original table, so the hash proves the
    sorted rewrite lost nothing. tests/test_formats.py additionally checks
    the footers: ≲2 of 32 row groups overlap the month, i.e. the layout
    makes the scan ~16× narrower regardless of file count."""
    base = _scratch_dir("sorted", sf_dir)
    l = _t(spark, sf_dir, "lineitem").select(  # noqa: E741
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_shipdate"
    )
    write_sorted_parquet(l, f"{base}/lineitem_sorted", "l_shipdate")
    back = spark.read.parquet(f"{base}/lineitem_sorted").where(
        (F.col("l_shipdate") >= "1995-03-01") & (F.col("l_shipdate") < "1995-04-01")
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr(_DSUM.format(x="l_extendedprice")).alias("total_price"),
        F.min("l_orderkey").alias("min_order"),
        F.max("l_orderkey").alias("max_order"),
    )


@register(
    "formats_zorder_skipping",
    oracle=f"""
    SELECT 'orderkey_slice' AS probe, COUNT(*) AS n_items,
           {_DSUM.format(x='l_extendedprice')} AS total_price
    FROM lineitem WHERE l_orderkey < 2000
    UNION ALL
    SELECT 'march_1995' AS probe, COUNT(*) AS n_items,
           {_DSUM.format(x='l_extendedprice')} AS total_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-04-01 00:00:00'
    """,
)
def formats_zorder_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout end-to-end (sources/formats.py::write_zorder_parquet
    — the lakehouse OPTIMIZE ZORDER): lineitem rewritten once with
    l_orderkey and epoch-day(l_shipdate) bit-interleaved into a Morton
    value, then probed by a RANGE FILTER ON EACH DIMENSION SEPARATELY —
    the case a single-sort layout cannot serve (sorted-by-shipdate makes
    orderkey footer stats useless; the Z layout keeps BOTH narrow,
    fraction-of-the-row-groups overlap per dim pinned by
    tests/test_formats.py). Both probes' filters reach the parquet
    reader; the oracle computes the same two aggregates straight off the
    original table, so the hash proves the Morton rewrite lost nothing."""
    base = _scratch_dir("zorder", sf_dir)
    l = _t(spark, sf_dir, "lineitem").select(  # noqa: E741
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )
    path = f"{base}/lineitem_z"
    write_zorder_parquet(
        l,
        path,
        ["l_orderkey", F.expr("CAST(unix_timestamp(l_shipdate) DIV 86400 AS BIGINT)")],
    )
    back = spark.read.parquet(path)
    by_key = (
        back.where(F.col("l_orderkey") < 2000)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.expr(_DSUM.format(x="l_extendedprice")).alias("total_price"),
        )
        .select(F.lit("orderkey_slice").alias("probe"), "n_items", "total_price")
    )
    by_date = back.where(
        (F.col("l_shipdate") >= "1995-03-01") & (F.col("l_shipdate") < "1995-04-01")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr(_DSUM.format(x="l_extendedprice")).alias("total_price"),
    ).select(F.lit("march_1995").alias("probe"), "n_items", "total_price")
    return by_key.unionByName(by_date)


@register("streaming_user_cms", oracle=_CMS_ORACLE_SQL_STREAM)
def streaming_user_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min sketch maintained AS STREAMING STATE — and the
    mergeability proof: CMS counters add, so the streaming aggregate's
    state is the fixed 4x1024 counter table itself (never per-key
    state), updated incrementally across micro-batches; with bounded
    input the final counters MUST equal the batch sketch, so this face
    shares the batch face's oracle verbatim (_CMS_ORACLE_SQL,
    single-sourced — the same pattern as the EWMA twins). Runs as a real
    complete-mode availableNow job; the probe/top-20 join is batch
    post-processing over the final counter table."""
    from polars_numba_spark.operators.sketch import cms_coords, cms_probe

    stream = load_stream(spark, "events", sf_dir).select("user_id")
    coords = cms_coords(stream, "user_id", depth=4, width=1024, portable=True)
    agg = coords.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    sketch = _run_available_now(agg, "streaming_user_cms", sf_dir, complete=True)
    e = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    exact = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(20)
    )
    probed = cms_probe(sketch, exact.select("user_id"), "user_id")
    return exact.join(probed, "user_id").select(
        "user_id",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overest"),
    )


@register("streaming_burst_windows", oracle=_BURST_ORACLE_SQL_STREAM)
def streaming_burst_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The burst monitor run as an actual Structured Streaming job — the
    deployment shape the face exists for: event-time 1-HOUR tumbling
    windows per type maintained by the streaming engine (availableNow,
    complete mode), then the trailing-24h RANGE baseline + flags computed
    over the final hourly state exactly as the batch face does. Bounded input ⇒ the sink state
    must equal the batch hourly aggregate (unified semantics), so this
    face shares the batch oracle verbatim (_BURST_ORACLE_SQL,
    single-sourced — the CMS/EWMA-twin pattern). Streaming state is
    |types|×|hours| counters — bounded, watermark-free in availableNow
    replay."""
    from pyspark.sql import Window as W

    stream = load_stream(spark, "events", sf_dir)
    hourly = (
        stream.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        ).agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    base = _run_available_now(
        hourly, "streaming_burst_windows", sf_dir, complete=True
    ).select(
        "event_type",
        F.floor(F.unix_timestamp("window_start") / 3600).alias("hour_idx"),
        "n_events",
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hour_idx")
        .rangeBetween(-24, -1)
    )
    flagged = base.withColumn("trailing_avg", F.avg("n_events").over(w))
    return flagged.select(
        "event_type",
        "hour_idx",
        "n_events",
        "trailing_avg",
        (
            F.col("trailing_avg").isNotNull()
            & (F.col("n_events") > F.lit(2.0) * F.col("trailing_avg"))
            & (F.col("n_events") >= 10)
        ).alias("is_burst"),
    )


@register(
    "streaming_daily_rollup",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', CAST(ts AS TIMESTAMP)) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The windowed rollup executed as an actual Structured Streaming job:
    file-stream the events parquet, event-time 1-day tumbling windows per
    event_type, complete output mode, availableNow trigger. Bounded
    input ⇒ the final sink state must equal the batch aggregate (Spark's
    unified semantics), which the oracle computes independently — a hard
    driver signal for the streaming engine path, not just its batch twin."""
    stream = load_stream(spark, "events", sf_dir)
    out = windowed_rollup(
        stream,
        "ts",
        "1 day",
        group_by=["event_type"],
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_cents": F.sum(F.round(F.col("value") * 100).cast("long")),
        },
    ).select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_cents",
    )
    return _run_available_now(out, "streaming_daily_rollup", sf_dir, complete=True)


def staged_streaming_scan_balance(
    spark: SparkSession,
    sf_dir: str,
    n_staging_files: int | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Core of ``streaming_scan_user_balance``, exposed so tests can force
    multi-batch delivery (``max_files_per_trigger=1``) and prove
    batch-count independence.

    ``n_staging_files`` defaults to ``defaultParallelism``: one staging
    file per task slot, as the stream has one state partition per task
    slot (:func:`_run_available_now`). A test passes more files to force
    more micro-batches.

    Round-2 verdict #3 ("robustness cliff"): the old spelling asserted the
    input arrived as ONE micro-batch, because ``order_by`` only sorts
    within a batch and cross-batch order is arrival order. This version
    guarantees per-key ordering STRUCTURALLY instead of asserting the
    environment:

    1. **Stage** (batch): hash-repartition events by ``user_id`` into
       ``n_staging_files`` files. Every user's rows now live entirely
       inside ONE parquet file (row order within the file is irrelevant —
       the scan sorts each batch's group by ``order_by``).
    2. **Stream** the staged layout through the stateful scan
       (``applyInPandasWithState``, accumulator in the state store). A file
       stream source assigns whole files to micro-batches, so no matter how
       the files are batched — one batch, or one PER FILE under
       ``maxFilesPerTrigger=1`` — each key's rows arrive together and the
       per-batch ``order_by`` sort is a global per-key sort. This is the
       per-key cross-batch ordering guarantee, by layout rather than luck.
    3. Sink is a parquet streaming sink (append mode).

    At cluster scale step 1 is one extra shuffle+write of the stream's
    working set — the standard stage-then-replay pattern for folds that
    need event-time order over a file-backed stream."""
    def add(acc, cents):
        return acc + cents

    events = (
        _t(spark, sf_dir, "events")
        .withColumn("cents", F.round(F.col("value") * 100).cast("long"))
        .select("user_id", "event_id", "ts", "cents")
    )
    return _staged_streaming_scan(
        spark,
        sf_dir,
        events,
        step=add,
        initial=0,
        dtype="long",
        columns=["cents"],
        query_name="streaming_scan_user_balance",
        n_staging_files=n_staging_files,
        max_files_per_trigger=max_files_per_trigger,
    ).select("user_id", "event_id", "scan")


def _staged_streaming_scan(
    spark: SparkSession,
    sf_dir: str,
    events: DataFrame,
    step,
    initial,
    dtype: str,
    columns: list,
    query_name: str,
    n_staging_files: int | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The stage-then-replay stateful-scan core shared by the balance and
    EWMA streaming faces (see staged_streaming_scan_balance's docstring
    for the per-key ordering-by-layout argument and the
    ``n_staging_files`` default)."""
    from polars_numba_spark.streaming import streaming_grouped_scan

    if n_staging_files is None:
        n_staging_files = spark.sparkContext.defaultParallelism
    staging = _fresh_dir(f"{query_name}_stage", sf_dir)

    # hash-repartition only: the per-key file co-location is what carries
    # the ordering guarantee (whole files per micro-batch); row order WITHIN
    # a file is irrelevant because the stateful scan sorts each batch's
    # group by order_by anyway — a staging sort would be a wasted pass
    (
        events.repartition(n_staging_files, "user_id")
        .write.mode("overwrite")
        .parquet(staging)
    )

    reader = spark.readStream.schema(events.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(staging)

    out = streaming_grouped_scan(
        stream,
        "user_id",
        step,
        initial,
        dtype,
        columns=columns,
        order_by=["ts", "event_id"],
    )
    return _run_available_now(out, query_name, sf_dir)


@register(
    "streaming_scan_user_balance",
    oracle=SCAN_BALANCE_ORACLE.format(alias="scan"),
)
def streaming_scan_user_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STATEFUL STREAMING kernel scan through the hard gate: per-user
    running balance via applyInPandasWithState (accumulator in the state
    store), driven as a real availableNow job, compared against the plain
    SQL window oracle (shared with the batch kernel and SQL-UDTF spellings
    — SCAN_BALANCE_ORACLE). Batch-count-INDEPENDENT by construction — see
    :func:`staged_streaming_scan_balance`; the forced-multi-batch proof
    lives in tests/test_streaming_scan.py."""
    return staged_streaming_scan_balance(spark, sf_dir)


@register(
    "streaming_dedup_docs",
    oracle="""
    SELECT COUNT(*) AS n_unique,
           CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT) AS total_chars
    FROM (SELECT DISTINCT text FROM documents)
    """,
)
def streaming_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup as a REAL streaming job: file-stream the
    documents table through streaming_exact_dedup (stateful first-arrival
    per content digest), availableNow → parquet sink, then aggregate the
    sink. Which copy survives a digest race is arbitrary across partitions,
    so the result projects only digest-determined values (count + summed
    text length over distinct texts) — deterministic regardless of arrival
    order, and equal to the batch DISTINCT the oracle computes."""
    from polars_numba_spark.streaming import streaming_exact_dedup

    stream = load_stream(spark, "documents", sf_dir)
    deduped = streaming_exact_dedup(stream, "text")
    return _run_available_now(deduped, "streaming_dedup_docs", sf_dir).agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.sum(F.length("text").cast("long")).cast("long").alias("total_chars"),
    )


@register(
    "streaming_user_sessions",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), marked AS (
        SELECT user_id, ts, cents,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM e
    ), islands AS (
        SELECT user_id, ts, cents,
               SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           COUNT(*) AS n_events, CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM islands GROUP BY user_id, session_id
    """,
)
def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization executed as an actual Structured Streaming
    job: file-stream the events parquet through ``session_window`` (merging
    gap-session state in the state store), complete output mode,
    availableNow trigger. Bounded input ⇒ the final sink equals the batch
    sessions (Spark's unified semantics), checked against the SAME
    independent gaps-and-islands oracle as the batch ``user_sessions`` —
    closing the streaming family on its last un-gated face (rollup, dedup
    and the stateful kernel scan already run as real jobs)."""
    from polars_numba_spark.operators.sessionize import sessionize

    stream = load_stream(spark, "events", sf_dir).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    sessions = sessionize(
        stream,
        "ts",
        gap="30 minutes",
        group_by="user_id",
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_cents": F.sum("cents"),
        },
        watermark="1 hour",
    ).select("user_id", "session_start", "n_events", "total_cents")
    return _run_available_now(
        sessions, "streaming_user_sessions", sf_dir, complete=True
    )


@register(
    "streaming_users_kmv",
    oracle="""
    WITH vals AS (
        SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS v
        FROM events WHERE user_id IS NOT NULL
    ), hashed AS (
        SELECT DISTINCT event_type,
               CAST(CAST(('0x' || substr(md5(v), 1, 15)) AS UBIGINT) AS BIGINT) AS h
        FROM vals
    ), ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed
    ), agg AS (
        SELECT event_type, MAX(h) AS hk, COUNT(*) AS nk
        FROM ranked WHERE rn <= 64 GROUP BY event_type
    )
    SELECT event_type,
           ROUND(CASE WHEN nk < 64 THEN CAST(nk AS DOUBLE)
                      ELSE 63.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE)
                 END, 6) AS kmv_users
    FROM agg
    """,
)
def streaming_users_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING sketch face, fully oracled: per-event-type KMV
    distinct-user estimate maintained as bounded applyInPandasWithState
    state (k smallest distinct hashes — ≤ k longs per key, unlike exact
    streaming COUNT DISTINCT), run as a real availableNow job → parquet
    sink. The merge is associative, so the final state — and therefore the
    estimate DuckDB independently rebuilds — is batch-split invariant
    (forced multi-batch equivalence pinned in tests/test_streaming.py).
    Hash-level distinct matches streaming_kmv_distinct's state semantics
    (streaming/stateful.py)."""
    from polars_numba_spark.streaming import streaming_kmv_distinct

    stream = load_stream(spark, "events", sf_dir).select("event_type", "user_id")
    est = streaming_kmv_distinct(stream, "user_id", "event_type", k=64)
    sink = _run_available_now(est, "streaming_users_kmv", sf_dir)
    # the last emitted row per key carries the final state's estimate
    return (
        sink.groupBy("event_type")
        .agg(
            F.max_by("kmv_estimate", "batches_seen").alias("__est")
        )
        .select("event_type", F.round(F.col("__est"), 6).alias("kmv_users"))
    )


@register(
    "streaming_enriched_segments",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join, the standard streaming-enrichment shape: the
    event stream joins a static broadcast customer dimension per
    micro-batch (stateless — no join state, the dim is re-read/broadcast
    each batch), then rolls up per (segment, event_type) in complete mode.
    Bounded input ⇒ the final sink state equals the batch join+aggregate,
    which the oracle computes independently. At cluster scale the dim-side
    broadcast is exactly how a 100-TB stream enriches against a
    1000-row-to-1-GB dimension without shuffling the stream."""
    from polars_numba_spark.sources import load_table

    stream = load_stream(spark, "events", sf_dir).select(
        "user_id", "event_type", "value"
    )
    dim = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_mktsegment"
    )
    enriched = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey, "inner"
    )
    out = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )
    return _run_available_now(
        out, "streaming_enriched_segments", sf_dir, complete=True
    )


@register(
    "streaming_user_latest_state",
    oracle="""
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           CAST(ts AS TIMESTAMP) AS last_ts
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn FROM events
    ) WHERE rn = 1
    """,
)
def streaming_user_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC: the last-write-wins snapshot maintained as BOUNDED
    keyed state (one row per live key —
    streaming/stateful.py::streaming_latest_snapshot), run as a real
    availableNow job. The winner-merge is associative/commutative so the
    final snapshot is micro-batch-split invariant; the oracle is the batch
    window spelling over the same changelog."""
    from polars_numba_spark.streaming import streaming_latest_snapshot

    stream = load_stream(spark, "events", sf_dir).select(
        "user_id", "event_id", "event_type", "ts"
    )
    snap = streaming_latest_snapshot(
        stream, keys="user_id", seq_col="ts", tiebreak="event_id"
    )
    sink = _run_available_now(snap, "streaming_user_latest_state", sf_dir)
    return (
        sink.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("event_id", "event_type", "ts"), "batches_seen"
            ).alias("__s")
        )
        .select(
            "user_id",
            F.col("__s.event_id").alias("last_event_id"),
            F.col("__s.event_type").alias("last_type"),
            F.col("__s.ts").alias("last_ts"),
        )
    )


@register(
    "streaming_signup_purchase_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           s.event_id AS signup_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts,
           CAST(s.ts AS TIMESTAMP) AS signup_ts
    FROM events p JOIN events s
      ON p.user_id = s.user_id
     AND p.event_type = 'purchase' AND s.event_type = 'signup'
     AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 7 DAY
    """,
)
def streaming_signup_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: purchases matched to each signup by
    the same user within the preceding 7 days, both sides live streams
    with watermarks bounding the join state (each side buffers only rows
    younger than watermark + interval — the mechanism that keeps a
    perpetual two-stream join's state finite at cluster scale). Bounded
    input ⇒ the emitted append-mode rows equal the batch interval join,
    which the oracle computes independently."""
    purchases = (
        load_stream(spark, "events", sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    signups = (
        load_stream(spark, "events", sf_dir)
        .where(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "1 hour")
    )
    joined = purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("signup_ts") <= F.col("purchase_ts"))
        & (
            F.col("signup_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 7 DAYS")
        ),
        "inner",
    ).select("purchase_id", "user_id", "signup_id", "purchase_ts", "signup_ts")
    # 4 state stores per stream-stream-join partition, one partition per
    # task slot (the runner's pin)
    return _run_available_now(joined, "streaming_signup_purchase_join", sf_dir)


@register(
    "streaming_signup_conversion_outer",
    oracle="""
    SELECT s.event_id AS signup_id, s.user_id,
           CAST(s.ts AS TIMESTAMP) AS signup_ts,
           p.event_id AS purchase_id,
           CAST(p.ts AS TIMESTAMP) AS purchase_ts
    FROM (SELECT * FROM events
          WHERE event_type = 'signup' AND user_id IS NOT NULL) s
    LEFT JOIN (SELECT * FROM events
               WHERE event_type = 'purchase' AND user_id IS NOT NULL) p
      ON p.user_id = s.user_id
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 7 DAY
    """,
)
def streaming_signup_conversion_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every signup, matched to the
    purchases the same user made in the following 7 days — signups that
    never converted emit a null-purchase row. The outer side makes the
    WATERMARK itself load-bearing: Spark may only emit an unmatched signup
    once both watermarks prove no matching purchase can still arrive
    (signup_ts + 7 days < watermark), at which point the buffered row is
    evicted — the state-finiteness contract for a perpetual outer join.

    A file-backed bounded stream never advances the watermark past its own
    tail, so the honest tail of unmatched signups would stay unemitted
    forever. The standard fix is PUNCTUATION: stage the events plus two
    far-future sentinel rows in strictly later files (``maxFilesPerTrigger``
    splits them into their own micro-batches) — sentinel A advances the
    watermark past every real row's eviction horizon, sentinel B drives the
    one further micro-batch in which that advanced watermark actually
    evicts and emits. Sentinels use user_id = -1 and are filtered from the
    sink read; at cluster scale the same barrier is an ordinary heartbeat
    topic. With the barrier, append-mode output equals the batch LEFT JOIN
    the oracle runs."""
    staging = _fresh_dir("ssouter_stage", sf_dir)

    events = _t(spark, sf_dir, "events").where(
        F.col("event_type").isin("signup", "purchase")
        # identified users only: a stateful stream-stream join keys its
        # state store on user_id, and NULL keys never match an equality
        # join anyway — mirrored in the oracle's WHERE
        & F.col("user_id").isNotNull()
    ).select("event_id", "user_id", "event_type", "ts")
    max_ts = events.agg(F.max("ts")).first()[0]
    n_real_files = 4
    (
        events.repartition(n_real_files)
        .write.mode("overwrite")
        .parquet(os.path.join(staging, "real"))
    )
    # Two sentinel batches in strictly later files: A moves the watermark
    # past max_ts + 7d eviction horizon, B triggers the evicting batch.
    # Built JVM-side (spark.range + literals): a 2-row Python-list
    # createDataFrame is an RDD-backed local relation whose WRITE spawns a
    # Python worker — measured 4.5s per sentinel vs 0.2s for this form.
    import datetime as _dt

    if max_ts is None:
        # empty source: any fixed sentinel anchor works — sentinels are
        # filtered from the sink read, so the join result stays empty
        max_ts = _dt.datetime(2024, 1, 1)

    def _sentinel(tag: str, days: int, bump: int) -> None:
        ts = max_ts + _dt.timedelta(days=days)
        pdf = spark.range(2).select(
            F.lit(-1).cast("long").alias("event_id"),
            F.lit(-1).cast("long").alias("user_id"),
            F.when(F.col("id") == 0, F.lit("signup"))
            .otherwise(F.lit("purchase"))
            .alias("event_type"),
            F.lit(ts).alias("ts"),
        )
        path = os.path.join(staging, tag)
        pdf.coalesce(1).write.mode("overwrite").parquet(path)
        # file-source batch order is modification-time order; force strict
        # ordering regardless of filesystem timestamp resolution
        now = time.time()
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (now + bump, now + bump))

    _sentinel("sentinel_a", 40, 60)
    _sentinel("sentinel_b", 80, 120)

    reader = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", str(n_real_files))
    )
    stream = reader.parquet(os.path.join(staging, "*"))
    signups = (
        stream.where(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            "user_id",
            F.col("ts").alias("signup_ts"),
        )
        .withWatermark("signup_ts", "10 minutes")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = signups.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("signup_ts") + F.expr("INTERVAL 7 DAYS")
        ),
        "leftOuter",
    ).select("signup_id", "user_id", "signup_ts", "purchase_id", "purchase_ts")
    # 4 state stores per stream-stream-join partition, one partition per
    # task slot (the runner's pin)
    out = _run_available_now(joined, "streaming_signup_conversion_outer", sf_dir)
    return out.where(F.col("user_id") >= 0)


def _streaming_neardup_oracle() -> str:
    """The UNVERIFIED minhash keep-list closure (bucket co-membership IS
    the duplicate relation — the large-corpus LSH posture the streaming
    incremental face commits to; its store keeps bands, not texts, so
    there is nothing to verify against, streaming/neardup.py). Same md5
    band table as dedup_minhash_keeplist's oracle, no verify stage."""
    from polars_numba_spark.queries.pipeline import _CLUSTER_BANDS, _CLUSTER_SIG

    return f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_sort(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS t
        FROM documents WHERE doc_id < 1000
    ), sigs AS (
        -- t IS NOT NULL: a failed fetch has no signature (concat_ws would
        -- otherwise hash every null doc into one md5('') bucket and merge
        -- all failed fetches into a single garbage component); the lab
        -- anchor below still carries every doc as its own component
        SELECT doc_id, t, [ {_CLUSTER_SIG} ] AS sig FROM toks
        WHERE t IS NOT NULL
    ), banded AS (
        {_CLUSTER_BANDS}
    ), star AS (
        SELECT MIN(doc_id) OVER (PARTITION BY band_idx, band_hash) AS u,
               doc_id AS v
        FROM banded
    ), edges AS (
        SELECT u, v FROM star WHERE u <> v
        UNION
        SELECT v AS u, u AS v FROM star WHERE u <> v
    ), lab AS (
        SELECT doc_id AS id, doc_id AS label FROM toks
        UNION
        SELECT e.v AS id, l.label
        FROM lab l JOIN edges e ON e.u = l.id
        WHERE l.label < e.v
    )
    SELECT id, MIN(label) AS component,
           CAST(id = MIN(label) AS BOOLEAN) AS keep
    FROM lab GROUP BY id
    """


@register("streaming_neardup_keeplist", oracle=_streaming_neardup_oracle())
def streaming_neardup_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup dedup as a REAL incremental Structured Streaming
    job (the 100-TB ingest story): the capped documents slice is staged as
    5 parquet files and file-streamed one file per micro-batch through
    ``streaming_minhash_keep_list`` — each batch bands ONLY its own docs
    and appends its band rows to the store; the final verdict is the
    window-MIN star over the stored band table, then connected
    components. Banding is per document, so the stored bands are the
    slice's band table and that verdict is IDENTICAL to the batch
    ``minhash_dedup_keep_list(verify_threshold=None)`` over the full slice
    whatever the batch boundaries (streaming/neardup.py) — which is
    exactly what the DuckDB oracle computes (md5 band table → window-MIN
    star → recursive min-label closure), so the hash gate pins the
    streamed ingest end to end, not just a replayed batch plan."""
    from polars_numba_spark.streaming.neardup import (
        neardup_verdict,
        streaming_minhash_keep_list,
    )

    staging = _fresh_dir("neardup_stage", sf_dir)
    store = _fresh_dir("neardup_store", sf_dir)
    ckpt = tempfile.mkdtemp(prefix="pns_ckpt_streaming_neardup_keeplist_")

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 1000).select(
        "doc_id", "text"
    )
    docs.repartition(5).write.mode("overwrite").parquet(staging)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staging)
    )
    query = streaming_minhash_keep_list(
        stream, store, ckpt, num_hashes=32, bands=8, portable=True
    )
    try:
        _await(query, "streaming_neardup_keeplist")
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return (
        neardup_verdict(spark, store)
        .orderBy("id")
        .select("id", "component", "keep")
    )


@register(
    "streaming_users_hll",
    oracle="""
    WITH h AS (
        SELECT event_type,
               CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                         AS UBIGINT) AS BIGINT) AS h
        FROM events WHERE user_id IS NOT NULL
    ), br AS (
        SELECT event_type, h >> 48 AS bucket,
               CASE WHEN strpos(lpad(bin(h & ((1::BIGINT << 48) - 1)), 48, '0'),
                                '1') = 0
                    THEN 49
                    ELSE strpos(lpad(bin(h & ((1::BIGINT << 48) - 1)), 48, '0'),
                                '1')
               END AS rho
        FROM h
    ), regs AS (
        SELECT event_type, bucket, MAX(rho) AS rho FROM br GROUP BY 1, 2
    ), g AS (
        SELECT event_type, COUNT(*) AS used,
               SUM(1::BIGINT << (49 - rho)) AS zp
        FROM regs GROUP BY event_type
    ), raws AS (
        SELECT event_type, used, (4096 - used) AS nz,
               (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0
                   * CAST(1::BIGINT << 49 AS DOUBLE)
                   / CAST(zp + (4096 - used) * (1::BIGINT << 49) AS DOUBLE)
                   AS raw
        FROM g
    )
    SELECT event_type, CAST(used AS INTEGER) AS n_registers,
           ROUND(CASE WHEN raw <= 2.5 * 4096 AND nz > 0
                      THEN 4096.0 * LN(4096.0 / CAST(nz AS DOUBLE))
                      ELSE raw END, 6) AS hll_users
    FROM raws
    """,
)
def streaming_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming register sketch, fully oracled: per-event-type HLL
    registers maintained as bounded applyInPandasWithState state (≤4096
    bucket→max-rho ints per key — the streaming analog of the batch
    bounded-shuffle claim), run as a real availableNow job → parquet sink.
    Register merge is elementwise max — associative, commutative AND
    idempotent, so the final registers are invariant to batch boundaries
    and to duplicate replay; the state emits only the two EXACT integers
    (n_registers, z_present) and the estimate is computed JVM-side with
    the same hll_estimate_expr as the batch face, so streaming, batch, and
    the DuckDB oracle agree hash-for-hash
    (streaming/stateful.py::streaming_hll_distinct)."""
    from polars_numba_spark.operators.sketch import hll_estimate_expr
    from polars_numba_spark.streaming import streaming_hll_distinct

    stream = load_stream(spark, "events", sf_dir).select("event_type", "user_id")
    est = streaming_hll_distinct(stream, "user_id", "event_type", p=12)
    sink = _run_available_now(est, "streaming_users_hll", sf_dir)
    final = sink.groupBy("event_type").agg(
        F.max_by(F.struct("n_registers", "z_present"), "batches_seen").alias(
            "__st"
        )
    )
    return final.select(
        "event_type",
        F.col("__st.n_registers").cast("int").alias("n_registers"),
        F.round(
            hll_estimate_expr(
                F.col("__st.n_registers").cast("int"),
                F.col("__st.z_present"),
                p=12,
            ),
            6,
        ).alias("hll_users"),
    )


@register("streaming_user_ewma", oracle=_EWMA_STREAM_ORACLE)
def streaming_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NON-associative float recurrence through the STREAMING hard
    gate: per-user EWMA via applyInPandasWithState — the double
    accumulator lives in the state store across micro-batches, so this
    pins that state serialization round-trips the float bit-exactly and
    that batch boundaries cannot perturb a recurrence with no merge
    function. Same staged per-key-ordering-by-layout construction as the
    balance face; same recursive-CTE oracle as the batch kernel face
    (EWMA_ORACLE — one spelling for both gated paths), so batch kernel,
    streaming state, and DuckDB recursion agree hash-for-hash on every
    intermediate value."""
    from polars_numba_spark.queries.catalog import EWMA_ALPHA

    def ewma_step(acc, value):
        return (1.0 - EWMA_ALPHA) * acc + EWMA_ALPHA * value

    # frame order, so the staging exchange merges any upstream repartition
    events = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    return _staged_streaming_scan(
        spark,
        sf_dir,
        events,
        step=ewma_step,
        initial=0.0,
        dtype="double",
        columns=["value"],
        query_name="streaming_user_ewma",
    ).select("event_id", "user_id", F.col("scan").alias("ewma"))


@register(
    "formats_schema_evolution",
    oracle=f"""
    WITH unioned AS (
        SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT COALESCE(o_orderstatus, '__pre_evolution__') AS status,
           COUNT(*) AS n_orders,
           {_DSUM.format(x='o_totalprice')} AS total_price,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM unioned GROUP BY 1
    """,
)
def formats_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION end-to-end — the lakehouse reality that columns
    arrive later: generation 1 of the table is written WITHOUT
    o_orderstatus, generation 2 appends WITH it, and the read stitches
    both through parquet schema merging (``mergeSchema`` — a footer-level
    union, no rewrite of the old files), with the missing column
    surfacing as NULLs in the old generation exactly as the oracle's
    explicit NULL union models. The aggregate proves values, nulls, and
    the evolved column all survive the merge. At 100 TB this is the
    cheap path for additive evolution — the alternative is rewriting
    every historical file."""
    base = _scratch_dir("schemaevo", sf_dir)
    path = f"{base}/orders_evolving"
    o = _t(spark, sf_dir, "orders")
    gen1 = o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    gen2 = o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    gen1.write.mode("overwrite").parquet(path)
    gen2.write.mode("append").parquet(path)
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return back.groupBy(
        F.coalesce(F.col("o_orderstatus"), F.lit("__pre_evolution__")).alias(
            "status"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(_DSUM.format(x="o_totalprice")).alias("total_price"),
        F.min("o_orderkey").alias("min_key"),
    )


@register("streaming_sprt_monitor", oracle=_SPRT_ORACLE_SQL_STREAM)
def streaming_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPRT early-stopping monitor run as an actual Structured
    Streaming job — sequential testing IS a streaming problem, so this is
    the face's deployment shape: the stream maintains the per-user
    sufficient statistic (purchase count per user — bounded by users, the
    same state size the CMS/EWMA twins carry per key) in a complete-mode
    aggregate, and the SPRT readout (self-calibrating median conversion
    cut, md5 '#ab' arm assignment, exact-decimal LLR prefix sum, first
    boundary crossing) runs over the final state exactly as the batch
    face does. Bounded input ⇒ the sink state equals the batch per-user
    aggregate, so the face shares ab_sequential_sprt's oracle verbatim
    (_SPRT_ORACLE_SQL, single-sourced — the burst/CMS/EWMA-twin
    pattern)."""
    from polars_numba_spark.operators.dedup import md5_long
    from polars_numba_spark.queries.relational import sprt_decision

    stream = load_stream(spark, "events", sf_dir)
    per_user = (
        stream.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(
                F.when(F.col("event_type") == "purchase", 1)
            ).alias("n_purchases")
        )
    )
    state = _run_available_now(
        per_user, "streaming_sprt_monitor", sf_dir, complete=True
    )
    med = (
        state.where(F.col("n_purchases") > 0)
        .agg(
            F.percentile(
                F.col("n_purchases").cast("double"), F.lit(0.5)
            ).alias("m")
        )
    )
    a = state.crossJoin(F.broadcast(med)).select(
        "user_id",
        F.pmod(
            md5_long(F.concat(F.col("user_id").cast("string"), F.lit("#ab"))),
            F.lit(2),
        ).alias("variant"),
        F.coalesce(
            (F.col("n_purchases") > 0)
            & (F.col("n_purchases").cast("double") > F.col("m")),
            F.lit(False),
        ).alias("converted"),
    )
    return sprt_decision(a)
