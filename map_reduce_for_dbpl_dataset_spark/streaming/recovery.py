"""Checkpointed streaming with restart: exactly-once state recovery.

The fault-tolerance contract a 100 TB streaming pipeline rests on:
aggregate state and source progress live in the checkpoint, so a
restarted query (a) does NOT reprocess files already committed and
(b) resumes its aggregation state, not a fresh zero. This module
demonstrates it end-to-end: run a counting query over one file to
completion, "deliver" a second file, restart the SAME query from the
SAME checkpoint under a new sink table — the final complete-mode
output must reflect BOTH files counted exactly once each.

The demonstrator makes the second file a duplicate delivery of the
first, so correct recovery yields exactly 2x the original counts —
any reprocessing of file A (broken offset tracking) or state loss
(broken state store) breaks the oracle hash.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import load_table
from .windows import await_drained


def _counting_query(spark: SparkSession, stage: str, schema) -> DataFrame:
    events = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    return events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


def _run_to_completion(sdf: DataFrame, spark: SparkSession, ckpt: str) -> DataFrame:
    name = f"ckpt_out_{uuid.uuid4().hex[:10]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q)
    return spark.table(name)


def checkpoint_recovery_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase run described in the module docstring; returns the
    post-restart complete-mode counts (2x the batch counts).

    State-store partition count is pinned low for the 5-key aggregate:
    the checkpoint records it at first start, every restart must match,
    and 32 near-empty state partitions would pay ~6x the store-init
    cost for nothing. (On a cluster this is sized to key cardinality.)
    """
    batch = load_table(spark, sf_dir, "events")
    src = batch.inputFiles()[0].removeprefix("file:")
    base = f"/tmp/mrdbpl_ckpt_{abs(hash(src))}"
    shutil.rmtree(base, ignore_errors=True)
    stage, ckpt = os.path.join(base, "files"), os.path.join(base, "checkpoint")
    os.makedirs(stage)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        os.symlink(src, os.path.join(stage, "delivery_a.parquet"))
        _run_to_completion(_counting_query(spark, stage, batch.schema), spark, ckpt)

        # second delivery arrives AFTER the first query terminated; the
        # restarted query must pick up only this file, with prior state.
        os.symlink(src, os.path.join(stage, "delivery_b.parquet"))
        out = _run_to_completion(
            _counting_query(spark, stage, batch.schema), spark, ckpt
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out
