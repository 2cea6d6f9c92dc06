"""Checkpoint recovery: the exactly-once property Structured Streaming
actually promises.

A windowed aggregation is killed mid-stream (after at least one micro-batch,
before the last) and restarted from the SAME checkpoint over the same
source. If state restore or source offset tracking dropped or replayed
anything, the recovered aggregate diverges from the batch twin computed on
the same rows — count AND decimal-exact value sums would both show it.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from sqlrs_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def multi_file_events(spark, sf_dir):
    """events as a directory of small files so maxFilesPerTrigger can slice
    the bounded source into several micro-batches."""
    out = tempfile.mkdtemp(prefix="sqlrs_stream_src_") + "/events"
    load_table(spark, sf_dir, "events").repartition(8).write.mode("overwrite").parquet(out)
    return out


def _agg(df):
    return df.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("total"),
    )


def _start(spark, src_dir, ckpt, name):
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    return (
        _agg(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def test_aggregation_survives_kill_and_restart(spark, multi_file_events):
    ckpt = tempfile.mkdtemp(prefix="sqlrs_ckpt_")

    # phase 1: process SOME batches, then kill mid-stream
    q1 = _start(spark, multi_file_events, ckpt, "rec_phase1")
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        done = len(q1.recentProgress)
        if done >= 2:
            break
        if not q1.isActive:  # finished before we could kill it — still valid
            break
        time.sleep(0.2)
    was_active = q1.isActive
    q1.stop()
    q1.awaitTermination()
    batches_before = len(q1.recentProgress)

    # phase 2: restart from the SAME checkpoint, run to completion
    q2 = _start(spark, multi_file_events, ckpt, "rec_phase2")
    q2.awaitTermination()

    recovered = {
        r.event_type: (r.n, r.total) for r in spark.table("rec_phase2").collect()
    }
    expected = {
        r.event_type: (r.n, r.total)
        for r in _agg(spark.read.parquet(multi_file_events)).collect()
    }
    assert recovered == expected, (
        f"recovered aggregate diverged after kill@batch{batches_before}"
        f" (was_active={was_active}): {recovered} != {expected}"
    )
    # the restart must RESUME, not reprocess everything: with 8 source
    # files at 1 file/trigger, phase 2 sees only the remainder
    if was_active and batches_before >= 2:
        assert len(q2.recentProgress) < 8


# --- s10: native session_window state recovery ---------------------------


@pytest.fixture(scope="module")
def chunked_events(spark, sf_dir):
    """events split into 5 TIME-CONTIGUOUS chunks with increasing mtimes
    (FileStreamSource picks oldest first) — session_window runs in append
    mode under a watermark, so chunks must arrive in event-time order or
    later chunks would be dropped as late data."""
    src = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp_ltz")  # watermarks reject NTZ
    )
    rows = src.orderBy("ts", "event_id").collect()
    d = tempfile.mkdtemp(prefix="sqlrs_s10_src_")
    n_chunks, step = 5, (len(rows) + 4) // 5
    import os

    for i in range(n_chunks):
        chunk = rows[i * step : (i + 1) * step]
        spark.createDataFrame(chunk, src.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/chunk={i:02d}")
        for root, _, files in os.walk(f"{d}/chunk={i:02d}"):
            for f in files:
                os.utime(os.path.join(root, f), (1_700_000_000 + i,) * 2)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _start_sessions(spark, src_dir, ckpt, out_dir):
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


# --- s11: applyInPandasWithState argmax recovery -------------------------


def _start_cdc(spark, src_dir, ckpt, out):
    from sqlrs_spark.streaming.ops import s11_emitted

    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    )
    return (
        s11_emitted(stream)
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda df, _bid: df.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def test_cdc_apply_state_survives_kill_and_restart(spark, multi_file_events):
    """s11's GroupState (one argmax winner per key) killed mid-stream and
    restarted from the same checkpoint.  Lost state would NOT error — the
    restarted run would silently restart winners from scratch, so the
    per-key (n_changes, winner) in the final reduction would diverge from
    the batch twin.  The sink is an append-only parquet emission log
    (foreachBatch — the memory sink resets on restart); s11_finalize's
    monotone-counter max absorbs any replayed-batch duplicates, which is
    exactly the operator's recovery contract."""
    import shutil as _sh

    ckpt = tempfile.mkdtemp(prefix="sqlrs_s11_ckpt_")
    out_root = tempfile.mkdtemp(prefix="sqlrs_s11_out_")
    out = out_root + "/emissions"

    q1 = _start_cdc(spark, multi_file_events, ckpt, out)
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if len(q1.recentProgress) >= 2 or not q1.isActive:
            break
        time.sleep(0.2)
    was_active = q1.isActive
    q1.stop()
    q1.awaitTermination()
    batches_before = len(q1.recentProgress)

    q2 = _start_cdc(spark, multi_file_events, ckpt, out)
    q2.awaitTermination()

    from sqlrs_spark.streaming.ops import s11_finalize
    from pyspark.sql.window import Window

    recovered = sorted(
        tuple(r) for r in s11_finalize(spark.read.parquet(out)).collect()
    )
    # batch twin, independent path: ROW_NUMBER()=1 over (ts, event_id)
    # desc per key (p27's textbook formulation) on the same source rows
    ev = spark.read.parquet(multi_file_events)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    twin = sorted(
        tuple(r)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n_changes", F.count("*").over(Window.partitionBy("user_id")))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "view"))
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("last_value_cents"),
            F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("last_ts_us"),
            "n_changes",
        )
        .collect()
    )
    assert recovered == twin, (
        f"CDC state diverged after kill@batch{batches_before}"
        f" (was_active={was_active}): {len(recovered)} vs {len(twin)} keys"
    )
    assert len(recovered) > 0
    # restart must RESUME from checkpointed offsets: 8 source files at
    # 1 file/trigger, phase 2 sees only the remainder
    if was_active and batches_before >= 2:
        assert len(q2.recentProgress) < 8
    _sh.rmtree(ckpt, ignore_errors=True)
    _sh.rmtree(out_root, ignore_errors=True)


def test_session_window_state_survives_kill_and_restart(spark, chunked_events):
    """s10's engine-managed merging session state, killed mid-stream and
    restarted from the same checkpoint into a parquet sink (exactly-once
    across restarts via _spark_metadata).  If HDFSBackedStateStore dropped
    or double-counted any open session across the restart, the recovered
    session set diverges from the batch twin — session_window in a batch
    groupBy over the same rows."""
    ckpt = tempfile.mkdtemp(prefix="sqlrs_s10_ckpt_")
    out_root = tempfile.mkdtemp(prefix="sqlrs_s10_out_")
    out = out_root + "/sessions"

    q1 = _start_sessions(spark, chunked_events, ckpt, out)
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if len(q1.recentProgress) >= 2 or not q1.isActive:
            break
        time.sleep(0.2)
    was_active = q1.isActive
    q1.stop()
    q1.awaitTermination()
    batches_before = len(q1.recentProgress)

    q2 = _start_sessions(spark, chunked_events, ckpt, out)
    q2.awaitTermination()

    ev = spark.read.parquet(chunked_events)
    max_ts = ev.agg(F.max("ts").alias("m")).collect()[0]["m"]
    margin = F.unix_micros(
        F.lit(max_ts).cast("timestamp_ltz") - F.expr("INTERVAL 2 HOURS")
    )
    # conservative margin on BOTH sides (s10's registry contract): the
    # stream only emits sessions the final watermark closed, so compare
    # the confidently-closed subset
    recovered = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .filter(F.col("session_end_us") <= margin)
        .collect()
    )
    twin = sorted(
        tuple(r)
        for r in ev.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
        )
        .filter(F.col("session_end_us") <= margin)
        .collect()
    )
    assert recovered == twin, (
        f"session state diverged after kill@batch{batches_before}"
        f" (was_active={was_active}): {len(recovered)} vs {len(twin)} sessions"
    )
    assert len(recovered) > 0
    # the restart must RESUME from checkpointed offsets, not reprocess:
    # 5 chunks at 1 file/trigger, phase 2 sees only the remainder
    if was_active and batches_before >= 2:
        assert len(q2.recentProgress) < 5
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out_root, ignore_errors=True)


# --- s12: streaming SCD2 version-history recovery --------------------------


@pytest.fixture(scope="module")
def time_chunked_events(spark, sf_dir):
    """events as TIME-CONTIGUOUS small files with increasing mtimes
    (FileStreamSource reads oldest-first): s12 declares a 2 h watermark,
    so the random 8-way slicing multi_file_events uses would make early
    rows arrive after the watermark passed them and get dropped — a
    source-slicing artifact, not an operator property.  Contiguous
    chunks keep every arrival on-time (the test_streaming_multibatch
    fixture discipline)."""
    rows = (
        load_table(spark, sf_dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .orderBy("ts", "event_id")
        .collect()
    )
    d = tempfile.mkdtemp(prefix="sqlrs_s12_src_") + "/events"
    schema = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp_ltz")
    ).schema
    n_chunks = 5
    step = (len(rows) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        chunk = rows[i * step : (i + 1) * step]
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/chunk={i:02d}")
        for root, _, files in os.walk(f"{d}/chunk={i:02d}"):
            for fname in files:
                os.utime(
                    os.path.join(root, fname),
                    (1_700_000_000 + i, 1_700_000_000 + i),
                )
    return d


def _start_scd2(spark, src_dir, ckpt, out):
    from sqlrs_spark.streaming.ops import s12_emitted

    schema = spark.read.option("recursiveFileLookup", "true").parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .withWatermark("ts", "2 hours")
    )
    return (
        s12_emitted(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(out))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def test_scd2_state_survives_kill_and_restart(spark, sf_dir, time_chunked_events):
    """s12's GroupState (the unfinalized version-history suffix + the
    finalized-count base) killed mid-stream and restarted from the same
    checkpoint.  Lost state would silently RESTART version numbering
    from 1 for keys whose prefix was already finalized and pruned —
    diverging from the batch twin without any error.  The append-only
    parquet emission log + s12_finalize's (is_final, n_seen) max absorb
    replayed-batch duplicates, the operator's recovery contract."""
    import shutil as _sh

    from pyspark.sql.window import Window

    from sqlrs_spark.streaming.ops import s12_finalize

    ckpt = tempfile.mkdtemp(prefix="sqlrs_s12_ckpt_")
    out_root = tempfile.mkdtemp(prefix="sqlrs_s12_out_")
    out = out_root + "/emissions"

    q1 = _start_scd2(spark, time_chunked_events, ckpt, out)
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if len(q1.recentProgress) >= 2 or not q1.isActive:
            break
        time.sleep(0.2)
    was_active = q1.isActive
    q1.stop()
    q1.awaitTermination()
    batches_before = len(q1.recentProgress)

    q2 = _start_scd2(spark, time_chunked_events, ckpt, out)
    q2.awaitTermination()

    recovered = sorted(
        tuple(r) for r in s12_finalize(spark.read.parquet(out)).collect()
    )
    # batch twin, independent path: x32's window formulation on the same rows
    ev = spark.read.option("recursiveFileLookup", "true").parquet(
        time_chunked_events
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    twin = sorted(
        tuple(r)
        for r in ev.select(
            "user_id",
            F.row_number().over(w).cast("bigint").alias("version"),
            "event_id",
            F.col("event_type").alias("attr"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("value_cents"),
            F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("valid_from_us"),
            F.unix_micros(nxt.cast("timestamp_ltz")).alias("valid_to_us"),
            nxt.isNull().alias("is_current"),
        ).collect()
    )
    assert recovered == twin, (
        f"SCD2 history diverged after kill@batch{batches_before}"
        f" (was_active={was_active}): {len(recovered)} vs {len(twin)} versions"
    )
    assert len(recovered) > 0
    # restart must RESUME from checkpointed offsets: 5 chunks at 1
    # file/trigger, phase 2 sees only the remainder
    if was_active and batches_before >= 2:
        assert len(q2.recentProgress) < 5
    _sh.rmtree(ckpt, ignore_errors=True)
    _sh.rmtree(out_root, ignore_errors=True)
