"""Streaming sketch maintenance: count-min partials per micro-batch,
merged on read.

Extension surface — the continuous-ingest companion to the batch
sketches (operators/sketches.py): a 100 TB/day feed cannot re-scan
history to answer "how often has key X appeared so far?", but a
count-min sketch is LINEAR (cells sum), so per-batch partial sketches
are all the state the stream ever needs to persist.

Design: each micro-batch writes its own d*w-cell partial sketch under a
``batch_id=N`` partition with dynamic overwrite (the exactly-once recipe
of streaming/sinks.py — a replayed batch overwrites its own partial
instead of double-counting, which is precisely the failure mode a
read-modify-write sketch state would have). The queryable sketch is a
merge-on-read: sum cells across all partials. No state store, no
read-modify-write race, and compaction (folding old partials into one)
is a pure optimization that never changes the answer — by linearity the
merged sketch is bit-identical to a batch build over the full history,
which is what the parity test asserts.

The same shape works for any linear/idempotent-merge sketch: Bloom
filters (set-bit rows, merge = distinct union) and HLL (register max)
drop into the identical partial-per-batch layout.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from bag_parser_spark.operators.sketches import (
    bloom_build,
    count_min_build,
    count_min_merge,
)
from bag_parser_spark.streaming.sinks import idempotent_batch_writer


def countmin_partials_writer(
    out_dir: str, key_col: str, depth: int, width: int
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function: reduce the micro-batch to its d*w-cell
    partial count-min sketch and write it under ``batch_id=N`` with
    dynamic overwrite — replay-safe, and the shuffle per batch carries
    at most d*w cell rows, never the batch's raw keys."""
    write = idempotent_batch_writer(out_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write(count_min_build(batch_df, key_col, depth=depth, width=width),
              batch_id)

    return write_batch


def read_merged_sketch(spark: SparkSession, out_dir: str) -> DataFrame:
    """The queryable sketch: sum cells across every persisted partial.
    By linearity this equals a single batch build over the full history
    — point-query it with operators.sketches.count_min_estimate."""
    return count_min_merge(
        spark.read.parquet(out_dir).select("row", "pos", "cell")
    )


def bloom_partials_writer(
    out_dir: str, key_col: str, k: int, m: int
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function for the Bloom twin: the micro-batch reduces
    to its set-bit position rows (<= m per batch) under ``batch_id=N``.
    Merge is DISTINCT union (idempotent, not just linear), so the
    merged filter equals a batch build over the full history and a
    replayed batch is doubly harmless — overwritten by partition AND a
    set-union no-op."""
    write = idempotent_batch_writer(out_dir)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write(bloom_build(batch_df, key_col, k=k, m=m), batch_id)

    return write_batch


def read_merged_bloom(spark: SparkSession, out_dir: str) -> DataFrame:
    """The queryable Bloom filter: distinct set-bit positions across all
    partials — probe it with operators.sketches.bloom_candidates."""
    return spark.read.parquet(out_dir).select("pos").dropDuplicates(["pos"])
