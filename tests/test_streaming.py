"""Structured Streaming tests: the streaming fold (accumulator as keyed
state) must agree with its batch counterpart, and the windowed rollup must
produce identical results in batch and streaming execution (Spark's unified
semantics).
"""

from __future__ import annotations

import glob
import inspect
import os
import tempfile
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from polars_numba_spark.operators.fold import grouped_fold
from polars_numba_spark.sources import load_stream, load_table
from polars_numba_spark.streaming import streaming_grouped_fold, windowed_rollup

SF = "/root/testdata/sf0.001"


def add_cents(acc, cents):
    return acc + cents


def test_streaming_fold_matches_batch(spark, tmp_path):
    """Stream the events table (availableNow) through the stateful fold and
    compare final per-user accumulators with the batch grouped_fold."""
    batch = load_table(spark, "events", SF).withColumn(
        "cents", F.round(F.col("value") * 100).cast("double")
    )
    expected = {
        r["user_id"]: r["fold"]
        for r in grouped_fold(
            batch, "user_id", add_cents, 0.0, "double",
            columns=["cents"], order_by=["ts", "event_id"],
        ).collect()
    }

    stream = load_stream(spark, "events", SF).withColumn(
        "cents", F.round(F.col("value") * 100).cast("double")
    )
    out = streaming_grouped_fold(
        stream.select("user_id", "ts", "event_id", "cents"),
        "user_id", add_cents, 0.0, "double",
        columns=["cents"], order_by=["ts", "event_id"],
    )
    query = (
        out.writeStream.format("memory")
        .queryName("fold_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120), "stream did not finish within timeout"
    got = {
        r["user_id"]: r["fold"]
        for r in spark.sql(
            "SELECT user_id, fold FROM fold_stream"
        ).collect()
    }
    assert got == expected


def test_windowed_rollup_batch_stream_parity(spark, tmp_path):
    batch = load_table(spark, "events", SF)
    aggs = {
        "n_events": F.count(F.lit(1)),
        "total_cents": F.sum(F.round(F.col("value") * 100).cast("long")),
    }
    expected = {
        (r["window"]["start"], r["n_events"], r["total_cents"])
        for r in windowed_rollup(batch, "ts", "6 hours", "1 hour", aggs=aggs).collect()
    }

    stream = load_stream(spark, "events", SF)
    out = windowed_rollup(stream, "ts", "6 hours", "1 hour", aggs=aggs)
    query = (
        out.writeStream.format("memory")
        .queryName("rollup_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120), "stream did not finish within timeout"
    got = {
        (r["window"]["start"], r["n_events"], r["total_cents"])
        for r in spark.sql("SELECT * FROM rollup_stream").collect()
    }
    assert got == expected


def test_sessionize_batch_stream_parity(spark, tmp_path):
    """Session windows under readStream (complete mode + watermark) must
    equal the batch sessionization — Spark's unified semantics, pinned."""
    from polars_numba_spark.operators.sessionize import sessionize

    batch = load_table(spark, "events", SF)
    expected = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in sessionize(batch, "ts", gap="30 minutes", group_by="user_id").collect()
    }

    stream = load_stream(spark, "events", SF)
    out = sessionize(
        stream, "ts", gap="30 minutes", group_by="user_id", watermark="1 hour"
    )
    query = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120), "stream did not finish within timeout"
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }
    assert got == expected


def test_streaming_fold_integer_state_not_degraded(spark, tmp_path):
    """The state store holds PICKLED accumulators — an integer accumulator
    stays an int across micro-batches (the old DoubleType state store would
    silently coerce it to float)."""
    from polars_numba_spark.operators.fold import grouped_fold
    from polars_numba_spark.streaming import streaming_grouped_fold

    stream = load_stream(spark, "events", SF)
    batch = load_table(spark, "events", SF)

    def count_only(acc, v):
        return acc + 1

    sout = streaming_grouped_fold(
        stream.select("user_id", "ts", "event_id", "value"),
        "user_id", count_only, 0, "long",
        columns=["value"], order_by=["ts", "event_id"],
    )
    q = (
        sout.writeStream.format("memory").queryName("fold_int_state")
        .outputMode("update").option("checkpointLocation", str(tmp_path / "ck4"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120), "stream did not finish within timeout"
    got = {
        r["user_id"]: r["fold"]
        for r in spark.sql("SELECT * FROM fold_int_state").collect()
    }
    expected = {
        r["user_id"]: r["fold"]
        for r in grouped_fold(batch, "user_id", count_only, 0, "long",
                              columns=["value"], order_by=["ts", "event_id"]).collect()
    }
    assert got == expected and all(isinstance(v, int) for v in got.values())


def test_streaming_exact_dedup(spark, tmp_path):
    """Streaming dedup keeps one row per content digest; count matches the
    batch dedup of the same data."""
    from polars_numba_spark.streaming import streaming_exact_dedup

    batch = load_table(spark, "events", SF).select("event_id", "ts", "event_type")
    expected = streaming_exact_dedup(batch, "event_type").count()  # batch path

    stream = load_stream(spark, "events", SF).select("event_id", "ts", "event_type")
    out = streaming_exact_dedup(stream, "event_type", time_col="ts", watermark="90 days")
    q = (
        out.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append").option("checkpointLocation", str(tmp_path / "ckd"))
        .trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120), "stream did not finish within timeout"
    got = spark.sql("SELECT COUNT(*) c FROM dedup_stream").collect()[0]["c"]
    assert got == expected == 5  # 5 distinct event types


def test_windowed_rollup_drops_late_rows_past_watermark(spark, tmp_path):
    """The core watermark semantic, pinned end-to-end: once a micro-batch
    advances the watermark past a window's end, late rows for that window
    are DROPPED (append mode emits the window once, without them).

    Timing nuance (real engine behavior, verified): the watermark computed
    from batch N takes effect in batch N+1, and a window is emitted+evicted
    at the end of the first batch that RUNS with the watermark past its
    end — a straggler arriving in that same batch still merges. The drop
    only hits rows arriving after eviction, so the test needs three
    batches under maxFilesPerTrigger=1: A advances event time to 10:30,
    B (filler) runs with watermark 10:20 and evicts+emits [9:00, 9:30),
    C delivers the 9:10 straggler — dropped, the sink keeps the on-time
    count."""
    import time

    from polars_numba_spark.streaming import windowed_rollup

    src = tmp_path / "late_src"
    src.mkdir()

    def write_file(rows, name):
        spark.createDataFrame(rows, "ts timestamp, v long").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / ("stage_" + name)))
        import glob
        import shutil

        part = glob.glob(str(tmp_path / ("stage_" + name) / "part-*.parquet"))[0]
        shutil.copy(part, str(src / name))

    import datetime as dt

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    write_file([(t(9, 0), 1), (t(9, 5), 1), (t(10, 30), 1)], "a.parquet")
    time.sleep(1.1)  # file-source processes in mtime order; keep A < B < C
    write_file([(t(10, 31), 1)], "b.parquet")
    time.sleep(1.1)
    write_file([(t(9, 10), 1)], "c.parquet")

    stream = (
        spark.readStream.schema("ts timestamp, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    rolled = windowed_rollup(
        stream, "ts", window_duration="30 minutes", watermark="10 minutes"
    )
    query = (
        rolled.writeStream.format("memory")
        .queryName("late_rollup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_late"))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120), "stream did not finish within timeout"
    got = {
        (r["window"]["start"], r["n_events"])
        for r in spark.sql("SELECT * FROM late_rollup").collect()
    }
    # [9:00, 9:30) emitted with the 2 on-time events; the 9:10 straggler
    # arrived after the watermark passed 9:30 and must NOT be counted.
    assert (t(9, 0), 2) in got, got
    assert (t(9, 0), 3) not in got, got


def test_streaming_dedup_state_expires_past_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark's contract, pinned end-to-end: a
    duplicate arriving while the digest is in state is suppressed, but one
    arriving after the watermark expired the digest is emitted AGAIN (the
    duplicates-arrive-close-together contract — state is bounded, not a
    forever-set). Like window eviction, state expiry lags the watermark by
    one batch (the watermark computed from batch N takes effect in N+1 and
    expiry happens at the end of the batch that runs with it), so four
    mtime-ordered batches: the original, an advance, a filler during which
    the digest expires, then the re-arrival."""
    import datetime as dt
    import glob
    import shutil
    import time

    from polars_numba_spark.streaming import streaming_exact_dedup

    src = tmp_path / "dedup_src"
    src.mkdir()

    def write_file(rows, name):
        spark.createDataFrame(rows, "ts timestamp, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / ("stage_" + name)))
        part = glob.glob(str(tmp_path / ("stage_" + name) / "part-*.parquet"))[0]
        shutil.copy(part, str(src / name))

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    write_file([(t(9, 0), "dup"), (t(9, 0, ), "dup"), (t(9, 0), "other")], "a.parquet")
    time.sleep(1.1)
    write_file([(t(12, 0), "advance")], "b.parquet")  # watermark → 11:59
    time.sleep(1.1)
    write_file([(t(12, 0), "filler")], "b2.parquet")  # expiry runs this batch
    time.sleep(1.1)
    write_file([(t(12, 1), "dup")], "c.parquet")  # digest expired → re-emitted

    stream = (
        spark.readStream.schema("ts timestamp, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    out = streaming_exact_dedup(stream, "text", time_col="ts", watermark="1 minute")
    query = (
        out.writeStream.format("memory")
        .queryName("dedup_expiry")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120), "stream did not finish within timeout"
    emitted = [r["text"] for r in spark.sql("SELECT * FROM dedup_expiry").collect()]
    # batch A: "dup" once (in-state duplicate suppressed) + "other";
    # batch C: "dup" again — its digest expired when the watermark passed
    assert sorted(emitted) == ["advance", "dup", "dup", "filler", "other"], emitted


def test_streaming_kmv_batch_split_invariant(spark, tmp_path):
    """The KMV state merge (union -> keep k smallest) is associative, so a
    forced 3-batch run (maxFilesPerTrigger=1) must land on the SAME final
    estimate as the batch kmv_distinct over the union of the files."""
    from polars_numba_spark.operators.sketch import kmv_distinct
    from polars_numba_spark.streaming import streaming_kmv_distinct

    src = tmp_path / "src"
    batch = load_table(spark, "events", SF).select("event_type", "user_id")
    # three disjoint slices, one file each -> three micro-batches
    for i in range(3):
        batch.where(F.pmod(F.col("user_id"), F.lit(3)) == i).coalesce(
            1
        ).write.mode("append").parquet(str(src))

    expected = {
        r["event_type"]: round(r["kmv_estimate"], 6)
        for r in kmv_distinct(
            spark.read.parquet(str(src)), "user_id", "event_type", k=32
        ).collect()
    }

    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    out = streaming_kmv_distinct(stream, "user_id", "event_type", k=32)
    query = (
        out.writeStream.format("memory")
        .queryName("kmv_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert query.awaitTermination(120), "stream did not finish in time"
        got = {
            r["event_type"]: round(r["est"], 6)
            for r in spark.sql(
                "SELECT event_type, max_by(kmv_estimate, batches_seen) AS est "
                "FROM kmv_stream GROUP BY event_type"
            ).collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS kmv_stream")
    assert got == expected


def test_streaming_latest_snapshot_batch_split_invariant(spark, tmp_path):
    """The last-write-wins merge (newer beats older) is associative and
    commutative, so a forced 3-batch run must land on the SAME snapshot as
    the batch latest_snapshot over the union of the files — including when
    the winning row arrives in an EARLY batch."""
    from polars_numba_spark.operators.cdc import latest_snapshot
    from polars_numba_spark.streaming import streaming_latest_snapshot

    src = tmp_path / "lww_src"
    batch = load_table(spark, "events", SF).select(
        "user_id", "event_id", "event_type", "ts"
    )
    # slice by event_id mod 3: winners land in arbitrary batches
    for i in range(3):
        batch.where(F.pmod(F.col("event_id"), F.lit(3)) == i).coalesce(
            1
        ).write.mode("append").parquet(str(src))

    expected = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in latest_snapshot(
            spark.read.parquet(str(src)), "user_id", "ts", tiebreak="event_id"
        ).collect()
    }

    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    out = streaming_latest_snapshot(
        stream, keys="user_id", seq_col="ts", tiebreak="event_id"
    )
    query = (
        out.writeStream.format("memory")
        .queryName("lww_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "lww_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert query.awaitTermination(120), "stream did not finish in time"
        got = {
            r["user_id"]: (r["event_id"], r["event_type"])
            for r in spark.sql(
                "SELECT user_id, max_by(event_id, batches_seen) AS event_id, "
                "max_by(event_type, batches_seen) AS event_type "
                "FROM lww_stream GROUP BY user_id"
            ).collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS lww_stream")
    assert got == expected


def test_stream_stream_outer_join_emits_unmatched(spark):
    """The LEFT OUTER stream-stream join must emit BOTH faces: matched
    signup→purchase pairs AND null-purchase rows for signups that never
    converted — the latter only exist if the sentinel punctuation actually
    advances the watermark past the bounded stream's tail (without it, the
    unmatched tail stays buffered in the join state forever and the result
    silently equals the inner join)."""
    from polars_numba_spark.queries.io_streaming import (
        streaming_signup_conversion_outer,
    )

    got = streaming_signup_conversion_outer(spark, SF).toPandas()

    ev = load_table(spark, "events", SF).where(
        F.col("event_type").isin("signup", "purchase")
    )
    s = ev.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("signup_ts"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = (
        s.join(
            p,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("purchase_ts") >= F.col("signup_ts"))
            & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 7 DAYS")),
            "left",
        )
        .select("signup_id", "user_id", "signup_ts", "purchase_id", "purchase_ts")
        .toPandas()
    )
    assert len(got) == len(want)
    n_unmatched = int(want["purchase_id"].isna().sum())
    assert n_unmatched > 0, "corpus has no unmatched signups — test is vacuous"
    assert int(got["purchase_id"].isna().sum()) == n_unmatched
    key = lambda df: sorted(  # noqa: E731
        zip(df["signup_id"].tolist(),
            [None if x != x else int(x) for x in df["purchase_id"]])
    )
    assert key(got) == key(want)


def test_stream_stream_join_state_is_evicted(spark, tmp_path):
    """The watermark must BOUND the join state, not just gate output: after
    the sentinel advances it, the state stores shed the buffered real rows.
    Asserted from the engine's own state-operator metrics (numRowsTotal per
    micro-batch), not inferred from output."""
    import datetime as dt
    import os
    import time as _time

    staging = str(tmp_path / "stage")
    rows = []
    t0 = dt.datetime(2020, 1, 1)
    for i in range(500):
        rows.append((i, i % 50, "signup", t0 + dt.timedelta(minutes=i)))
        rows.append((1000 + i, i % 50, "purchase", t0 + dt.timedelta(minutes=i, seconds=30)))
    df = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, ts timestamp")
    df.coalesce(2).write.parquet(os.path.join(staging, "real"))
    sent = spark.range(2).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(-1).cast("long").alias("user_id"),
        F.when(F.col("id") == 0, F.lit("signup")).otherwise(F.lit("purchase")).alias("event_type"),
        F.lit(t0 + dt.timedelta(days=400)).alias("ts"),
    )
    for tag, bump in [("sa", 60), ("sb", 120)]:
        p = os.path.join(staging, tag)
        sent.coalesce(1).write.parquet(p)
        now = _time.time()
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (now + bump, now + bump))

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(os.path.join(staging, "*"))
    )
    s = (
        stream.where(F.col("event_type") == "signup")
        .select(F.col("event_id").alias("signup_id"), "user_id", F.col("ts").alias("signup_ts"))
        .withWatermark("signup_ts", "10 minutes")
    )
    p = (
        stream.where(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
    )
    j = s.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    )
    q = (
        j.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    totals = [
        sop["numRowsTotal"]
        for pr in q.recentProgress
        for sop in pr["stateOperators"]
        if pr["stateOperators"]
    ]
    assert totals, "no state-operator metrics captured"
    peak, final = max(totals), totals[-1]
    # real rows buffered at peak; after the sentinel batches only the
    # sentinels themselves (and nothing from the real window) may remain
    assert peak >= 1000, totals
    assert final <= 4, totals


def test_foreach_batch_upsert_sink_is_exactly_once(spark, tmp_path):
    """The versioned-snapshot sink must (a) equal the batch last-write-wins
    snapshot after a real streamed run, and (b) be IDEMPOTENT: replaying a
    committed micro-batch (foreachBatch's at-least-once failure mode)
    leaves the published state byte-identical."""
    import os

    from polars_numba_spark.operators.cdc import latest_snapshot
    from polars_numba_spark.streaming.sinks import (
        read_snapshot,
        upsert_batch_handler,
    )

    events = load_table(spark, "events", SF).select(
        "user_id", "event_id", "ts", "event_type"
    )
    staging = str(tmp_path / "stage")
    events.repartition(4).write.parquet(staging)

    snap_dir = str(tmp_path / "snap")
    handler = upsert_batch_handler(
        spark, snap_dir, "user_id", "ts", tiebreak="event_id"
    )
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")  # force multiple micro-batches
        .parquet(staging)
    )
    q = (
        stream.writeStream.foreachBatch(handler)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    got = read_snapshot(spark, snap_dir).orderBy("user_id").toPandas()
    want = (
        latest_snapshot(events, "user_id", "ts", tiebreak="event_id")
        .select(got.columns.tolist())
        .orderBy("user_id")
        .toPandas()
    )
    assert got.equals(want)

    # replay the LAST committed batch verbatim: published state must not move
    last = max(
        int(n[1:]) for n in os.listdir(snap_dir)
        if n.startswith("v") and n[1:].isdigit()
    )
    before = sorted(os.listdir(snap_dir))
    handler(events.limit(50), last)          # replayed batch id
    handler(events.limit(50), last - 1)      # stale batch id
    assert sorted(os.listdir(snap_dir)) == before
    again = read_snapshot(spark, snap_dir).orderBy("user_id").toPandas()
    assert again.equals(want)


def test_streaming_hll_batch_split_invariant(spark, tmp_path):
    """The HLL register merge (elementwise max) is associative, commutative
    AND idempotent, so a forced 3-batch run (maxFilesPerTrigger=1) — with
    one slice written TWICE to simulate replay — must land on the exact
    same registers, and therefore bit-identical estimate, as the batch
    hll_distinct over the distinct union."""
    from polars_numba_spark.operators.sketch import hll_distinct, hll_estimate_expr
    from polars_numba_spark.streaming import streaming_hll_distinct

    src = tmp_path / "src"
    batch = load_table(spark, "events", SF).select("event_type", "user_id")
    for i in range(3):
        batch.where(F.pmod(F.col("user_id"), F.lit(3)) == i).coalesce(
            1
        ).write.mode("append").parquet(str(src))
    # replayed slice: duplicate delivery must not move any register
    batch.where(F.pmod(F.col("user_id"), F.lit(3)) == 0).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))

    expected = {
        r["event_type"]: (r["n_registers"], r["hll_estimate"])
        for r in hll_distinct(batch, "user_id", "event_type", p=12).collect()
    }

    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    out = streaming_hll_distinct(stream, "user_id", "event_type", p=12)
    query = (
        out.writeStream.format("memory")
        .queryName("hll_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert query.awaitTermination(120), "stream did not finish in time"
        final = spark.sql(
            "SELECT event_type, "
            "max_by(struct(n_registers, z_present), batches_seen) AS st "
            "FROM hll_stream GROUP BY event_type"
        )
        got = {
            r["event_type"]: (r["n_registers"], r["est"])
            for r in final.select(
                "event_type",
                F.col("st.n_registers").cast("int").alias("n_registers"),
                F.round(
                    hll_estimate_expr(
                        F.col("st.n_registers").cast("int"),
                        F.col("st.z_present"),
                        p=12,
                    ),
                    6,
                ).alias("est"),
            ).collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS hll_stream")
    assert got == expected


def test_streaming_cms_batch_split_invariant(spark, tmp_path):
    """CMS counters add (the count-min merge), so a forced 3-batch
    complete-mode run must land on the EXACT counter table cms_build
    produces over the union of the files — every (j, bucket, cnt) row
    equal, not just the probed estimates."""
    from polars_numba_spark.operators.sketch import cms_build, cms_coords

    src = tmp_path / "cms_src"
    batch = load_table(spark, "events", SF).select("user_id")
    for i in range(3):
        batch.where(F.pmod(F.col("user_id"), F.lit(3)) == i).coalesce(
            1
        ).write.mode("append").parquet(str(src))

    expected = sorted(
        tuple(r)
        for r in cms_build(
            spark.read.parquet(str(src)), "user_id", depth=4, width=256
        ).collect()
    )

    stream = spark.readStream.schema(batch.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(src))
    agg = (
        cms_coords(stream, "user_id", depth=4, width=256)
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    query = (
        agg.writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert query.awaitTermination(120), "stream did not finish in time"
        got = sorted(
            tuple(r) for r in spark.table("cms_stream").collect()
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS cms_stream")
    assert got == expected


def _drain(spark, out, name, mode, ckpt):
    """Run the bounded stream ``out`` into a memory table in ``mode`` and
    return its rows."""
    query = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    assert query.awaitTermination(120), "stream did not finish within timeout"
    try:
        return spark.table(name).collect()
    finally:
        spark.catalog.dropTempView(name)


def test_streaming_fold_scan_keep_nan_and_exact_int64(spark, tmp_path):
    """The streaming fold/scan must give the batch operators' results: NaN
    is a value, not null, a bigint stays exact past 2^53, and rows sort as
    Spark's ``asc`` sorts them (null order first, NaN order last)."""
    from polars_numba_spark.operators.scan import grouped_scan
    from polars_numba_spark.streaming import streaming_grouped_scan

    rows = [
        (1, 0.0, 1.0, 2**53 + 1),
        (1, 1.0, float("nan"), None),
        (1, 2.0, 2.0, 1),
        (1, 3.0, None, 1),
        (1, None, 4.0, 2),
        (1, float("nan"), 8.0, 4),
    ]
    schema = "k long, o double, x double, n long"
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / "in"))
    batch = spark.read.parquet(str(tmp_path / "in"))

    def scans(rows, col):
        return sorted((repr(r["o"]), repr(r[col]), repr(r["scan"])) for r in rows)

    for col, acc0, dtype in (("x", 0.0, "double"), ("n", 0, "long")):
        args = ("k", add_cents, acc0, dtype)
        kwargs = {"columns": [col], "order_by": "o"}
        stream = spark.readStream.schema(schema).parquet(str(tmp_path / "in"))
        got_scan = _drain(spark, streaming_grouped_scan(stream, *args, **kwargs),
                          f"nan_scan_{col}", "append", tmp_path / f"scan_{col}")
        got_fold = _drain(spark, streaming_grouped_fold(stream, *args, **kwargs),
                          f"nan_fold_{col}", "update", tmp_path / f"fold_{col}")
        assert scans(got_scan, col) == scans(
            grouped_scan(batch, *args, **kwargs).collect(), col
        )
        assert [repr(r["fold"]) for r in got_fold] == [
            repr(r["fold"]) for r in grouped_fold(batch, *args, **kwargs).collect()
        ]
    # the bigint scan (the loop's last pass), in Spark's asc order
    assert {repr(r["o"]): r["scan"] for r in got_scan} == {
        "None": 2, "0.0": 2**53 + 3, "1.0": None, "2.0": 2**53 + 4,
        "3.0": 2**53 + 5, "nan": 2**53 + 9,
    }


def test_streaming_latest_snapshot_keeps_int64_exact_beside_null(spark, tmp_path):
    """A bigint winner stays exact past 2^53 when its key has a null in the
    same column in the same micro-batch, and a null winner stays null."""
    from polars_numba_spark.streaming import streaming_latest_snapshot

    rows = [(1, 1, 2**53 + 1), (1, 0, None), (2, 0, 5), (2, 1, None)]
    schema = "k long, seq long, v long"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp_path / "in"))
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "in"))
    got = _drain(spark, streaming_latest_snapshot(stream, "k", "seq"),
                 "lww_exact", "append", tmp_path / "ckpt")
    assert {r["k"]: (r["seq"], r["v"]) for r in got} == {
        1: (1, 2**53 + 1), 2: (1, None)
    }


def test_streaming_fold_scan_list_results_match_batch(spark, tmp_path):
    """A ``SizedArray`` (tuple accumulator) result streams as the batch
    operators give it: a list per row, None for a null input row."""
    from pyspark.sql import types as T

    from polars_numba_spark import SizedArray
    from polars_numba_spark.operators.scan import grouped_scan
    from polars_numba_spark.streaming import streaming_grouped_scan

    prices = [100.0, 800.0, 300.0, None, 0.0, 60.0]
    units = [20.0, 2.0, 5.0, 9.0, 0.0, 1.0]
    schema = "k string, price double, units double, ord long"
    spark.createDataFrame(
        [("o", p, u, i) for i, (p, u) in enumerate(zip(prices, units))], schema
    ).write.parquet(str(tmp_path / "in"))
    batch = spark.read.parquet(str(tmp_path / "in"))

    def step(acc, max_price, max_units, price, units):
        bal, got = acc
        if bal + price > max_price or got + units > max_units:
            return acc
        return (bal + price, got + units)

    args = ("k", step, (0.0, 0.0), SizedArray(T.DoubleType(), 2))
    kwargs = {"columns": ["price", "units"], "order_by": "ord",
              "extra_args": (1000.0, 25.0)}
    stream = spark.readStream.schema(schema).parquet(str(tmp_path / "in"))
    got_scan = _drain(spark, streaming_grouped_scan(stream, *args, **kwargs),
                      "list_scan", "append", tmp_path / "scan")
    got_fold = _drain(spark, streaming_grouped_fold(stream, *args, **kwargs),
                      "list_fold", "update", tmp_path / "fold")

    def by_ord(rows):
        return {r["ord"]: r["scan"] for r in rows}

    assert by_ord(got_scan) == by_ord(grouped_scan(batch, *args, **kwargs).collect())
    assert by_ord(got_scan)[3] is None
    assert [r["fold"] for r in got_fold] == [
        r["fold"] for r in grouped_fold(batch, *args, **kwargs).collect()
    ] == [[960.0, 23.0]]


def _bucket_of(spark, keys: list[int]) -> dict[int, int]:
    """Each bigint key's keyed-state hash bucket, computed on the JVM as
    ``_keyed_state`` computes it."""
    from polars_numba_spark.streaming import stateful

    return {
        r["k"]: r["b"]
        for r in spark.createDataFrame([(k,) for k in keys], "k long")
        .select("k", F.expr(f"pmod(xxhash64(k), {stateful._BUCKETS})").alias("b"))
        .collect()
    }


def test_keys_sharing_a_bucket_keep_separate_state(spark, tmp_path):
    """Two keys that hash into one bucket keep their own accumulators
    across micro-batches: a file per micro-batch, three files, each with
    rows of both keys, give the batch operators' results."""
    from polars_numba_spark.operators.scan import grouped_scan
    from polars_numba_spark.streaming import streaming_grouped_scan

    seen: dict[int, int] = {}
    for k, b in _bucket_of(spark, list(range(64))).items():
        if b in seen:
            pair = (seen[b], k)
            break
        seen[b] = k
    schema = "k long, o long, v double"
    for i in range(3):
        spark.createDataFrame(
            [(k, 10 * i + j, float(k + 1) * (j + 1)) for k in pair for j in range(2)],
            schema,
        ).coalesce(1).write.parquet(str(tmp_path / "in" / f"part{i}"))
    batch = spark.read.parquet(str(tmp_path / "in" / "part*"))
    args = ("k", add_cents, 0.0, "double")
    kwargs = {"columns": ["v"], "order_by": "o"}

    def drain(op, name, mode):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "in" / "part*"))
        )
        query = (
            op(stream, *args, **kwargs).writeStream.format("memory")
            .queryName(name).outputMode(mode)
            .option("checkpointLocation", str(tmp_path / name))
            .trigger(availableNow=True).start()
        )
        assert query.awaitTermination(120), "stream did not finish within timeout"
        batches = [p for p in query.recentProgress if p["numInputRows"]]
        try:
            return spark.table(name).collect(), len(batches)
        finally:
            spark.catalog.dropTempView(name)

    got_scan, n_batches = drain(streaming_grouped_scan, "shared_bucket_scan", "append")
    assert n_batches == 3
    assert sorted((r["k"], r["o"], r["scan"]) for r in got_scan) == sorted(
        (r["k"], r["o"], r["scan"]) for r in grouped_scan(batch, *args, **kwargs).collect()
    )
    # the running sums only grow, so a key's last fold is its largest
    got_fold, n_batches = drain(streaming_grouped_fold, "shared_bucket_fold", "update")
    assert n_batches == 3
    final: dict[int, float] = {}
    for r in got_fold:
        final[r["k"]] = max(final.get(r["k"], r["fold"]), r["fold"])
    assert final == {
        r["k"]: r["fold"] for r in grouped_fold(batch, *args, **kwargs).collect()
    }


def test_streaming_odd_keys_match_batch(spark, tmp_path):
    """Null, NaN, -0.0 and 0.0 floating keys, and bigint keys one apart past
    2^53, group and emit as the batch fold and scan do: -0.0 and 0.0 are
    one group keyed 0.0 by the fold, and a scan row keeps its own key."""
    from polars_numba_spark.operators.scan import grouped_scan
    from polars_numba_spark.streaming import streaming_grouped_scan

    nan = float("nan")
    fkeys = [None, nan, -0.0, 0.0, 1.5, None, nan, -0.0, 0.0, 1.5]
    ikeys = [2**53, 2**53 + 1, None, 2**53 + 1, 2**53, 7, None, 7, 2**53, 2**53 + 1]
    rows = [(f, i, o, float(o + 1)) for o, (f, i) in enumerate(zip(fkeys, ikeys))]
    schema = "f double, i long, o long, v double"
    spark.createDataFrame(rows, schema).write.parquet(str(tmp_path / "in"))
    batch = spark.read.parquet(str(tmp_path / "in"))
    folds = {}
    for key in ("f", "i"):
        args = (key, add_cents, 0.0, "double")
        kwargs = {"columns": ["v"], "order_by": "o"}
        stream = spark.readStream.schema(schema).parquet(str(tmp_path / "in"))
        got_scan = _drain(spark, streaming_grouped_scan(stream, *args, **kwargs),
                          f"odd_scan_{key}", "append", tmp_path / f"scan_{key}")
        got_fold = _drain(spark, streaming_grouped_fold(stream, *args, **kwargs),
                          f"odd_fold_{key}", "update", tmp_path / f"fold_{key}")
        assert sorted((r["o"], repr(r[key]), r["scan"]) for r in got_scan) == sorted(
            (r["o"], repr(r[key]), r["scan"])
            for r in grouped_scan(batch, *args, **kwargs).collect()
        )
        folds[key] = sorted(
            (repr(r[key]), r["fold"]) for r in grouped_fold(batch, *args, **kwargs).collect()
        )
        assert sorted((repr(r[key]), r["fold"]) for r in got_fold) == folds[key]
    assert folds == {
        "f": [("0.0", 24.0), ("1.5", 15.0), ("None", 7.0), ("nan", 9.0)],
        "i": [("7", 14.0), ("9007199254740992", 15.0), ("9007199254740993", 16.0),
              ("None", 10.0)],
    }


def test_restart_under_another_bucket_count_raises(spark, tmp_path, monkeypatch):
    """A checkpoint written with one bucket count, restarted by a query
    built with another, fails and names both counts rather than looking
    for its keys in other buckets."""
    from polars_numba_spark.streaming import stateful, streaming_grouped_scan

    # a key in a low bucket keeps its bucket under half the count
    key = next(k for k, b in _bucket_of(spark, list(range(16))).items()
               if b < stateful._BUCKETS // 2)
    schema = "k long, o long, v double"
    src = tmp_path / "in"

    def run(part):
        """Add a file of ``key``'s rows and run the stream on from the one
        checkpoint into a parquet sink (a memory sink does not restart)."""
        spark.createDataFrame([(key, part, 1.0)], schema).write.parquet(
            str(src / f"part{part}"))
        stream = spark.readStream.schema(schema).parquet(str(src / "part*"))
        out = streaming_grouped_scan(stream, "k", add_cents, 0.0, "double",
                                     columns=["v"], order_by="o")
        query = (
            out.writeStream.format("parquet").option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start()
        )
        assert query.awaitTermination(120), "stream did not finish within timeout"

    run(0)
    assert [r["scan"] for r in spark.read.parquet(str(tmp_path / "out")).collect()] == [1.0]
    monkeypatch.setattr(stateful, "_BUCKETS", stateful._BUCKETS // 2)
    with pytest.raises(Exception, match=(
        f"written with {2 * stateful._BUCKETS} buckets, "
        f"but this query hashes keys into {stateful._BUCKETS}"
    )):
        run(1)


_RUNNER_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.checkpointFileManagerClass",
)


def _runner_state(spark, name):
    """What the availableNow runner must leave as it found it: ``pns_``
    temp views, its checkpoint dirs, and each conf it pins, with whether
    the session had set it (an unset conf must come back unset, not set to
    its default)."""
    views = {t.name for t in spark.catalog.listTables() if t.name.startswith("pns_")}
    ckpts = glob.glob(os.path.join(tempfile.gettempdir(), f"pns_ckpt_{name}_*"))
    explicit = spark.conf.getAll
    confs = {k: (k in explicit, spark.conf.get(k, None)) for k in _RUNNER_CONFS}
    return views, ckpts, confs


@pytest.mark.parametrize(
    "face",
    [
        "streaming_daily_rollup",  # complete mode: the memory sink is the result
        "streaming_signup_purchase_join",  # append mode, stream-stream join
        "streaming_user_ewma",  # staged stateful scan
    ],
)
def test_runner_leaves_no_session_state(spark, face):
    from polars_numba_spark.queries import io_streaming

    before = _runner_state(spark, face)
    assert getattr(io_streaming, face)(spark, SF).count() > 0
    assert _runner_state(spark, face) == before


def test_complete_mode_returns_its_memory_sink(spark):
    """A complete-mode stream hands back its memory sink: a
    ``LocalTableScan`` with no parquet write or read, which keeps its rows
    after the runner has dropped the sink's view."""
    from polars_numba_spark.queries.io_streaming import _run_available_now, _scratch_root

    name = "runner_handoff_probe"
    out_dirs = os.path.join(_scratch_root(), f"{name}_out_*")
    dirs_before = glob.glob(out_dirs)
    before = _runner_state(spark, name)
    counts = load_stream(spark, "events", SF).groupBy("event_type").count()
    out = _run_available_now(counts, name, SF, complete=True)
    assert _runner_state(spark, name) == before
    assert glob.glob(out_dirs) == dirs_before
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "FileScan parquet" not in plan
    expected = sorted(load_table(spark, "events", SF).groupBy("event_type").count().collect())
    assert sorted(out.collect()) == sorted(out.collect()) == expected


def test_scratch_dirs_go_with_their_process(tmp_path):
    """Every scratch dir sits under one per-process root, which the process
    removes at exit: repeated gate and bench runs leave nothing behind in
    the system temp dir."""
    import subprocess
    import sys

    probe = (
        "from polars_numba_spark.queries import io_streaming as m\n"
        "print(m._scratch_dir('probe', 'sf'))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, check=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "TMPDIR": str(tmp_path)},
    )
    made = out.stdout.strip().splitlines()[-1]
    assert made.startswith(str(tmp_path))
    assert not os.path.exists(made)
    assert os.listdir(tmp_path) == []


def test_append_mode_reads_back_without_a_job(spark, jobs_in_group):
    """An append-mode stream's parquet sink is read back with the schema
    the stream wrote. The query's own jobs run in its job group, so the
    caller's group sees none: no schema inference after termination."""
    from polars_numba_spark.queries.io_streaming import _run_available_now

    picked = load_stream(spark, "events", SF).select("event_id", "value")
    out = []
    assert jobs_in_group(
        lambda: out.append(_run_available_now(picked, "runner_append_probe", SF))
    ) == 0
    expected = load_table(spark, "events", SF).select("event_id", "value")
    assert sorted(out[0].collect()) == sorted(expected.collect())


@pytest.fixture
def off_slot_shuffle_partitions(spark):
    """The session's shuffle partitions set away from its 4 task slots, as
    a session not built by ``get_spark`` may have them."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_runner_cleans_up_after_a_failed_stream(spark, off_slot_shuffle_partitions):
    from polars_numba_spark.queries.io_streaming import _run_available_now

    failing = (
        load_stream(spark, "events", SF)
        .groupBy("event_type")
        .agg(F.count(F.raise_error(F.lit("runner probe failure"))).alias("n"))
    )
    before = _runner_state(spark, "runner_probe")
    with pytest.raises(Exception, match="runner probe failure"):
        _run_available_now(failing, "runner_probe", SF, complete=True)
    assert _runner_state(spark, "runner_probe") == before


def test_runner_pins_its_confs_while_the_stream_runs(spark, monkeypatch):
    """While the stream runs, the session has one shuffle partition per task
    slot and the throwaway checkpoint goes through the FileSystem manager;
    afterwards the manager conf is unset again."""
    from polars_numba_spark.queries import io_streaming

    seen = {}
    real_await = io_streaming._await

    def await_and_read(query, name):
        seen.update({k: spark.conf.get(k, None) for k in _RUNNER_CONFS})
        real_await(query, name)

    monkeypatch.setattr(io_streaming, "_await", await_and_read)
    counts = load_stream(spark, "events", SF).groupBy("event_type").count()
    before = _runner_state(spark, "runner_conf_probe")
    assert not before[2]["spark.sql.streaming.checkpointFileManagerClass"][0]
    out = io_streaming._run_available_now(counts, "runner_conf_probe", SF, complete=True)
    assert out.count() > 0
    assert seen == {
        "spark.sql.shuffle.partitions": "4",
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
    }
    assert _runner_state(spark, "runner_conf_probe") == before


def test_pinned_confs_put_back_set_and_unset_confs(spark):
    """``_pinned_confs`` gives a set conf its value back and unsets an unset
    one, on a normal exit and on an exception."""
    from polars_numba_spark.queries.io_streaming import _pinned_confs

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        with _pinned_confs(spark, {key: "3"}):
            assert spark.conf.get(key) == "3"
        assert key not in spark.conf.getAll
        with pytest.raises(RuntimeError, match="probe"):
            with _pinned_confs(spark, {key: "3"}):
                raise RuntimeError("probe")
        assert key not in spark.conf.getAll
        spark.conf.set(key, "7")
        with _pinned_confs(spark, {key: "3"}):
            assert spark.conf.get(key) == "3"
        assert spark.conf.getAll[key] == "7"
    finally:
        spark.conf.set(key, prev)


class _StateOperatorPartitions(StreamingQueryListener):
    """Records ``numShufflePartitions`` of every state operator in every
    progress event, the state rows each progress event reports over all
    its state operators, and how many queries have terminated."""

    def __init__(self):
        self.partitions: set[int] = set()
        self.rows: list[int] = []
        self.terminated = 0

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        ops = event.progress.stateOperators
        self.partitions |= {op.numShufflePartitions for op in ops}
        self.rows.append(sum(op.numRowsTotal for op in ops))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1


def _state_partitions(spark, run) -> set[int]:
    """The state partition counts the streaming query started by ``run()``
    reports."""
    return _state_report(spark, run).partitions


def _state_report(spark, run) -> _StateOperatorPartitions:
    """What the state operators of the streaming query started by ``run()``
    report. Listener events arrive asynchronously, in order: wait for the
    query's termination event, which follows its progress events."""
    listener = _StateOperatorPartitions()
    spark.streams.addListener(listener)
    try:
        assert run().count() > 0
        deadline = time.monotonic() + 60
        while not listener.terminated and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert listener.terminated == 1
    return listener


def test_ewma_runs_one_state_partition_per_task_slot(spark):
    """The EWMA face's stream has one state partition per task slot: 4 on
    ``local[4]``."""
    from polars_numba_spark.queries.io_streaming import streaming_user_ewma

    assert spark.sparkContext.defaultParallelism == 4
    assert _state_partitions(spark, lambda: streaming_user_ewma(spark, SF)) == {4}


def test_ewma_state_is_one_row_per_bucket(spark):
    """The EWMA face's state operator holds one row per touched hash
    bucket, not one per user: never more than the bucket count, though the
    stream has more users than that."""
    from polars_numba_spark.queries.io_streaming import streaming_user_ewma
    from polars_numba_spark.streaming import stateful

    sf = os.path.join(os.path.dirname(SF), "sf0.01")  # sf0.001: fewer users than buckets
    rows = _state_report(spark, lambda: streaming_user_ewma(spark, sf)).rows
    users = load_table(spark, "events", sf).select("user_id").distinct().count()
    assert users > stateful._BUCKETS
    assert rows and 0 < max(rows) <= stateful._BUCKETS


def test_runner_pins_state_partitions_to_the_task_slots(
    spark, off_slot_shuffle_partitions
):
    """Whatever the session's shuffle partitions, the runner's query has
    one state partition per task slot, and the session keeps its value."""
    from polars_numba_spark.queries.io_streaming import _run_available_now

    counts = load_stream(spark, "events", SF).groupBy("event_type").count()
    assert _state_partitions(
        spark,
        lambda: _run_available_now(counts, "runner_pin_probe", SF, complete=True),
    ) == {4}
    assert spark.conf.get("spark.sql.shuffle.partitions") == "7"


def test_streaming_faces_share_one_runner():
    """Every streaming face starts and awaits its query through
    ``_run_available_now`` / ``_await``, never through its own writer."""
    from polars_numba_spark.queries import io_streaming

    src = inspect.getsource(io_streaming)
    assert src.count("writeStream") == 1
    assert src.count("awaitTermination") == 1


def test_stateful_operators_share_one_keyed_state_helper():
    """The five state operators run on ``_keyed_state``: one
    ``applyInPandasWithState`` call, and no pandas sort, fill or null-mask
    code in the module."""
    from polars_numba_spark.streaming import stateful

    src = inspect.getsource(stateful)
    assert src.count("applyInPandasWithState(") == 1
    for pandas_idiom in ("sort_values", "fillna", "dropna", ".isna("):
        assert pandas_idiom not in src, pandas_idiom
