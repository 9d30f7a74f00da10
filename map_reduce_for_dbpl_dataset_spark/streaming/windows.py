"""Structured Streaming windowed aggregations over the events table.

The reference is batch-only (SURVEY.md §2.2: streaming is an
[extension]); this module gives the engine's event-time surface:
tumbling/sliding/session windows with watermark-based late-data
handling. The same aggregation logic exists in batch form in
queries/tpch.py (q_events_tumbling/…); the streaming twins here are
checked against those DuckDB oracles by running with
Trigger.AvailableNow into a memory sink — batch/stream parity is the
test.

Scale notes:
- the file source is partitioned and rate-limited via
  maxFilesPerTrigger; on a cluster this is Kafka with the same plan;
- watermark(10 min) bounds state: windows older than the watermark
  are evicted from the state store — without it, state grows without
  bound at 100 TB/day;
- session_window state merges adjacent sessions per key; skewed keys
  are the usual hazard, mitigated by key-salting upstream if one
  user dominates.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import load_table

D = "decimal(18,2)"
# seconds an AvailableNow stream gets to drain its input
STREAM_DRAIN_TIMEOUT_S = 120


class StreamTimeoutError(RuntimeError):
    """An AvailableNow stream had not drained its input in time."""


def await_drained(q) -> None:
    """Block until the AvailableNow streaming query ``q`` finishes.
    A stream still running after STREAM_DRAIN_TIMEOUT_S is stopped and
    raises StreamTimeoutError: its sink holds only part of the input,
    so it must not be read as the answer."""
    if not q.awaitTermination(STREAM_DRAIN_TIMEOUT_S):
        q.stop()
        raise StreamTimeoutError(
            f"streaming query did not drain its input within "
            f"STREAM_DRAIN_TIMEOUT_S={STREAM_DRAIN_TIMEOUT_S} s; stopped it"
        )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the (nanos-normalized) events parquet. Schema is
    pinned from the batch reader — file streams require an explicit
    schema, inference is a batch-only convenience."""
    batch = load_table(spark, sf_dir, "events")
    path = batch.inputFiles()[0].removeprefix("file:")
    # The file-stream source wants a DIRECTORY it can monitor (that is
    # its contract: new files arriving in the dir are new data). Stage
    # a symlink dir per source file — on a cluster this is simply the
    # landing directory.
    stage = f"/tmp/mrdbpl_stream_{abs(hash(path))}"
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, os.path.basename(path))
    if not os.path.exists(link):
        os.symlink(path, link)
    return (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


def stream_events_duplicated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events file staged TWICE (two links, two
    micro-batches under maxFilesPerTrigger=1) — an at-least-once
    delivery simulation for exercising streaming deduplication: every
    event arrives exactly twice, across different micro-batches."""
    batch = load_table(spark, sf_dir, "events")
    path = batch.inputFiles()[0].removeprefix("file:")
    stage = f"/tmp/mrdbpl_stream_dup_{abs(hash(path))}"
    os.makedirs(stage, exist_ok=True)
    for copy in ("a", "b"):
        link = os.path.join(stage, f"events_{copy}.parquet")
        if not os.path.exists(link):
            os.symlink(path, link)
    return (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


# Late copies delivered in the final micro-batch of
# stream_events_phased_late.
N_LATE = 50


def stream_events_phased_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events table delivered in THREE ordered
    micro-batches so genuinely-late rows meet an advanced watermark:

      batch 0 — the full on-time table (computes watermark W =
                max(ts) - 10 min at batch end);
      batch 1 — one re-stamped copy of the max-ts event (a watermark
                CARRIER: under Spark's two-watermark model,
                SPARK-40925, the late-event filter of batch N uses
                batch N-1's EVICTION watermark, so the filter lags
                one batch — without this carrier batch the late rows
                would be filtered against the pre-advance watermark
                and sail through, which is exactly what the first
                two-file draft of this source measured);
      batch 2 — N_LATE re-stamped copies of the first events
                (ts = corpus minimum, shifted ids): every one is now
                late against W and must be DROPPED.

    The carrier lands in the final (max-ts) window, which the
    watermark never passes, so it is invisible in append output. No
    other staged source exercises the drop semantics — a single
    ordered file has no late data, so its watermark only bounds
    state.

    Delivery order is forced with file modification times (the file
    source schedules oldest-mtime first; maxFilesPerTrigger=1 keeps
    the files in separate micro-batches under AvailableNow). The
    staging writes are driver-side test plumbing; on a cluster this
    is a Kafka topic with disordered producers."""
    import glob
    import shutil

    batch = load_table(spark, sf_dir, "events")
    stage = f"/tmp/mrdbpl_stream_late_{abs(hash(sf_dir))}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    min_ts, max_ts = batch.agg(F.min("ts"), F.max("ts")).collect()[0]
    carrier = (
        batch.filter(F.col("ts") == max_ts)
        .limit(1)
        .withColumn("event_id", F.col("event_id") + 20_000_000)
    )
    late = (
        batch.filter(F.col("event_id") < N_LATE)
        .withColumn("ts", F.lit(min_ts).cast("timestamp_ntz"))
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )

    def _stage_one(df: DataFrame, name: str, mtime: int) -> None:
        tmp = os.path.join(stage, f"_tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(stage, name)
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (mtime, mtime))

    _stage_one(batch, "a_ontime.parquet", 1_000_000_000)
    _stage_one(carrier, "b_carrier.parquet", 1_000_000_100)
    _stage_one(late, "c_late.parquet", 1_000_000_200)
    return (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


def stream_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact deduplication on event_id. State = the set of
    seen ids, carried ACROSS micro-batches (the second delivery of
    every event is dropped even though it arrives in a later batch).
    At 100 TB/day, bound the state with dropDuplicatesWithinWatermark
    so ids older than the delivery-lag bound are evicted."""
    return events.dropDuplicates(["event_id"])


def stream_tumbling_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling windows with a 10-minute watermark.

    Watermarks require TIMESTAMP (with-local-tz); the fixture column is
    TIMESTAMP_NTZ. The ntz->ltz cast at ingest and the ltz->ntz cast on
    the window bound compose to the identity under any fixed session
    timezone, so the emitted window_start matches the batch/oracle
    value exactly."""
    return (
        events.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_ltz", "10 minutes")
        .groupBy(F.window("ts_ltz", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D)).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_sliding_counts(events: DataFrame) -> DataFrame:
    """1-hour windows sliding every 30 min (each event in exactly two
    windows), watermarked; mirrors batch q_events_sliding."""
    return (
        events.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_ltz", "10 minutes")
        .groupBy(F.window("ts_ltz", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
        )
    )


def stream_session_stats(events: DataFrame) -> DataFrame:
    """Session windows (30-min gap) per user with watermark (same
    ntz<->ltz identity round-trip as stream_tumbling_counts)."""
    return (
        events.withColumn("ts_ltz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_ltz", "10 minutes")
        .groupBy("user_id", F.session_window("ts_ltz", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(D)).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def stream_click_purchase_join(
    clicks: DataFrame, purchases: DataFrame
) -> DataFrame:
    """Stream-stream inner join: purchases within 1 hour AFTER a click
    by the same user. Both sides are watermarked and the join carries
    an event-time range condition — that pair is what lets the state
    store evict rows once the watermark passes the range bound (an
    unbounded stream-stream join without them holds both streams
    forever). Inner-join matches emit as soon as both rows arrive."""
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").cast("timestamp").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").cast("timestamp").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("user_id", "click_id", "purchase_id")


def run_stream_to_table(
    sdf: DataFrame, spark: SparkSession, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming aggregation to completion
    (Trigger.AvailableNow) into a memory sink and return the final
    result as a batch DataFrame. Complete output mode: every trigger
    rewrites the full aggregate state, so the memory table holds the
    final answer once the stream drains. Update mode (required for
    applyInPandasWithState) appends each trigger's updated rows — with
    a single-file source that is exactly one row per key."""
    name = f"stream_out_{uuid.uuid4().hex[:10]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)
    return spark.table(name)
