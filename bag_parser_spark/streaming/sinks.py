"""Streaming sinks with exactly-once delivery semantics.

The reference's sink is a single-writer SQLite transaction (reference
bag_parser.py:456-469 — parse parallel, write serial); the streaming
equivalent at scale is a DISTRIBUTED sink that stays correct when Spark
replays a micro-batch after failure. Structured Streaming guarantees
at-least-once delivery to ``foreachBatch``; exactly-once is the sink's
job, and the standard recipe is idempotent-by-batch-id: route every
micro-batch to a partition derived from ``batch_id`` with dynamic
partition overwrite, so a replayed batch OVERWRITES its own previous
(possibly partial) output instead of appending duplicates.

This composes with the checkpoint: offsets in the checkpoint say which
batches are done; a crash between "data written" and "offsets committed"
replays the batch, the overwrite makes the replay a no-op. That pair is
the distributed version of the reference's one-big-transaction commit.

At 100 TB/day: partition by (batch_id) alone creates one directory per
micro-batch — fine for audit/replay, but compact downstream or add a
time column to the partition spec so consumers prune on event time, not
arrival batch.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def idempotent_batch_writer(out_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: write the micro-batch under its own
    ``batch_id=N`` partition with dynamic overwrite — replay-safe."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(int(batch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return write_batch
