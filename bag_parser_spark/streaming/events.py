"""Structured Streaming extension (SURVEY §2.9 extension; reference has no
streaming — its iterparse is memory management, not stream processing).

The events table doubles as a stream: file-source readStream → watermarked
tumbling-window aggregate → sink. The batch twin (catalog query
``events_windowed_agg``) computes the same grouping with the same exact-
decimal sum, so stream output is verifiable against the batch result —
tested with Trigger.AvailableNow into a memory sink.

Scale notes: the windowed aggregate is stateful; the watermark bounds state
(late rows beyond it are dropped). State lives in the state store, keyed by
(window, event_type) — partitioned by the grouping key, no skew here. For
custom stateful logic beyond windows, applyInPandasWithState slots into the
same readStream → writeStream shape (see sessionize_stream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bag_parser_spark.functions.scalars import ts_micros

def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over the events parquet.

    Streaming sources require an explicit schema, and the driver has
    shipped the events table with two different physical ts encodings
    across rounds — INT64 TIMESTAMP(NANOS) (unsupported by vanilla Spark;
    read as long + rebuilt) and plain TIMESTAMP(MICROS) without
    isAdjustedToUTC (reads as TIMESTAMP_NTZ). One parquet-footer peek on
    the driver picks the right schema, so the stream survives either
    regeneration. ``path`` may be a directory or a single file — the file
    source wants a directory, so a file path becomes (dirname,
    pathGlobFilter=basename).

    Requires a homogeneous encoding: ALL existing files under ``path``
    must use the same physical ts type, and this is VERIFIED (one
    metadata-only footer read per file, driver-side) rather than assumed —
    a directory mixing the two encodings would otherwise be read with the
    wrong schema for half the files, silently shifting their timestamps
    by 10^3. Files arriving AFTER the stream starts are outside the
    check's reach, which is the file source's inherent contract; the
    driver regenerates whole directories atomically.
    """
    import glob
    import os

    import pyarrow.parquet as pq

    def _is_nanos(f: str) -> bool:
        # timestamp[ns] = INT64 TIMESTAMP(NANOS); plain int64 =
        # pre-converted nano epochs (the redelivery fixtures write
        # these) — both take the read-as-long + rebuild path.
        return str(pq.read_schema(f).field("ts").type) in (
            "timestamp[ns]",
            "int64",
        )

    if path.endswith(".parquet"):
        nanos = _is_nanos(path)
    else:
        found = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not found:
            raise FileNotFoundError(
                f"read_events_stream: no *.parquet files under {path!r} — "
                "the file stream source needs at least one existing file "
                "to infer the physical ts encoding. Create the directory "
                "with an initial (possibly empty-rows) parquet file, or "
                "point at a populated source."
            )
        kinds = {f: _is_nanos(f) for f in found}
        if len(set(kinds.values())) > 1:
            by_kind = {
                "nanos-as-long": [
                    os.path.basename(f) for f, k in kinds.items() if k
                ],
                "timestamp-micros": [
                    os.path.basename(f) for f, k in kinds.items() if not k
                ],
            }
            raise ValueError(
                f"read_events_stream: mixed physical ts encodings under "
                f"{path!r}: {by_kind} — one stream schema cannot read "
                "both; rewrite the minority files to the majority "
                "encoding (a silent read would shift their timestamps "
                "by 1000x)."
            )
        nanos = next(iter(kinds.values()))

    ts_type = T.LongType() if nanos else T.TimestampNTZType()
    # watermarks/event-time require TIMESTAMP (with local tz); pin the
    # session to UTC so the NTZ→TIMESTAMP cast below is the identity on
    # wall-clock values (same rule as sources/parquet.load_table).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(_events_schema(ts_type))
    if path.endswith(".parquet"):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    raw = reader.parquet(path)
    if nanos:
        # integer div — float division of nano epochs loses the last micro
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window aggregate — the streaming twin of the
    batch ``events_windowed_agg`` catalog query (same columns, same
    exact-decimal sum)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def dedup_events_stream(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exactly-once dedup — the streaming twin of the batch
    last-write-wins/exact-dedup family (SURVEY §2.1 S7): at-least-once
    sources (Kafka, file backfills, retried producers) re-deliver records,
    and ``dropDuplicatesWithinWatermark`` keeps the first arrival per key
    while the watermark bounds the dedup state (a plain dropDuplicates on a
    stream grows state forever — unusable at corpus scale).

    First-arrival-wins vs the batch operator's last-write-wins is inherent
    to unbounded input (there is no "last" yet); replaying the deduped
    stream through the batch operator yields identical sets when keys are
    unique per event, which is what the parity test asserts.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def enrich_events_stream(
    events: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Stream-static enrichment join — the streaming twin of the batch
    ``events_stream_enrich`` catalog query: each event picks up its
    customer name and nation from static dimension tables.

    Stream-static joins are STATELESS: the static side is bounded, so no
    watermark and no state store are needed — Spark re-plans the dim scan
    per micro-batch and the broadcast hint keeps the fact stream from
    ever shuffling (same plan shape as the batch J1 snowflake). This is
    the canonical 100 TB/day ingest shape: a firehose enriched against
    slowly-changing dims, each micro-batch a broadcast-join map job."""
    return (
        events.join(
            F.broadcast(customer),
            events["user_id"] == customer["c_custkey"],
        )
        .join(
            F.broadcast(nation),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            "c_name",
            F.col("n_name").alias("nation_name"),
        )
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    max_lag_s: int = 600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join — the streaming twin of the batch
    ``ts_interval_join`` catalog query (operators/timeseries.py:
    interval_join): each left event pairs with every right event of the
    same key in ``(left.ts - max_lag_s, left.ts]``.

    Both sides carry watermarks so the join STATE is bounded: Spark keeps
    a right-side row only until ``watermark + max_lag_s`` has passed its
    event time (the range condition tells the state store when a buffered
    row can never match again). An unwatermarked stream-stream join grows
    state forever — the difference between a demo and a 100 TB/day
    pipeline. Time-range arithmetic is the same integer-microsecond
    predicate the batch twin uses, so stream/batch parity is exact.
    """
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    diff = ts_micros(F.col("l.ts")) - ts_micros(F.col("r.ts"))
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (diff >= 0)
        & (diff < max_lag_s * 1_000_000)
    )
    return l.join(r, cond, "inner").select(
        F.col("l.event_id").alias("event_id"),
        F.col(f"l.{on}").alias(on),
        F.col("l.ts").alias("ts"),
        F.col("r.ts").alias("r_ts"),
        F.col("r.event_id").alias("r_event_id"),
        F.col("r.value").alias("r_value"),
    )


def ohlc_stream(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked OHLC candlestick aggregate — the streaming twin of the
    batch ``ts_ohlc_bars`` catalog query (operators/timeseries.py:
    ohlc_bars). Same total-order selection key, so open/close are
    deterministic under timestamp ties in the stream too.

    min_by/max_by/min/max/count/sum are all algebraic aggregates with a
    merge: the state store keeps ONE partial bar per (window, key) — O(
    #open-bars) state, bounded by the watermark, never per-event state.
    The tumbling window start equals date_trunc('hour') for hour-aligned
    bars, which is what the batch twin groups by."""
    from bag_parser_spark.operators.timeseries import event_order_key

    # same helper as the batch twin — stream/batch parity depends on the
    # two selection keys staying byte-identical
    order_key = event_order_key("ts", "event_id")
    v = F.col("value")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.min_by(v, order_key).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order_key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(v.cast("decimal(28,6)")).cast("double"), 6
            ).alias("volume"),
        )
        .select(
            F.col("w.start").alias("bar_start"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
            "volume",
        )
    )


def interval_join_stream_left_outer(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    max_lag_s: int = 600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every left event emits —
    matched rows as soon as both sides arrive, unmatched rows with NULL
    right columns once the watermark proves no match can still come.

    This is the state-management-complete sibling of the inner
    ``interval_join_stream``: the state store must hold an unmatched left
    row until ``watermark + max_lag_s`` passes its event time before it
    may emit the NULL-padded result (emitting earlier would be wrong the
    moment a late match arrives; never emitting leaks the row). Both
    watermarks bound state exactly as in the inner join. AvailableNow
    caveat for tests/backfills: rows younger than the final watermark
    stay in state and their NULL-padded results are NOT emitted in that
    run — the parity test scopes its assertion to the proven region.
    """
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    # The range condition must sit DIRECTLY on the watermarked event-time
    # columns (no epoch-math wrapping): Spark's outer-join analyzer only
    # derives the state-eviction watermark for the nullable side from a
    # recognizable time-interval predicate. Same semantics as the inner
    # twin's micros arithmetic: r.ts <= l.ts < r.ts + max_lag.
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col("l.ts") >= F.col("r.ts"))
        & (F.col("l.ts") < F.col("r.ts") + F.expr(
            f"INTERVAL {max_lag_s} SECONDS"))
    )
    return l.join(r, cond, "left_outer").select(
        F.col("l.event_id").alias("event_id"),
        F.col(f"l.{on}").alias(on),
        F.col("l.ts").alias("ts"),
        F.col("r.ts").alias("r_ts"),
        F.col("r.event_id").alias("r_event_id"),
        F.col("r.value").alias("r_value"),
    )
