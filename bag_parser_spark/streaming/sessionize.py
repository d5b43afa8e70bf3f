"""Gap-based sessionization — the custom stateful operator the windowed
aggregate can't express (session boundaries depend on *data* gaps, not
fixed windows).

Two implementations with identical semantics:

- ``sessionize_batch``: lag() gap-flag → running-sum session number →
  groupBy — pure window functions, oracle-checkable (catalog query
  ``events_sessionize``). Shuffles once on user_id; the running sum and
  the session groupBy reuse that partitioning (grouping keys (user_id,
  session_no) are a superset of the partitioning key — no new exchange).
- ``sessionize_stream``: Structured Streaming ``applyInPandasWithState``
  — per-user state holds the open session (start, last-seen, count, sum);
  a closed session is emitted as soon as a later event arrives past the
  gap, and the final open session is flushed on event-time timeout after
  the watermark passes. State is O(1) per user regardless of stream
  length — the 100 TB shape: state store partitioned by user_id, Arrow
  batches in/out of the pandas function.

Stream/batch parity is tested in tests/test_streaming.py: closed sessions
from the stream must equal the batch result (minus each user's final
session, whose timeout may not fire before an AvailableNow drain ends).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bag_parser_spark.functions.scalars import ts_micros

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

# open-session state: epoch-micros bounds + running count/sum
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def sessionize_batch(
    events: DataFrame, gap_minutes: int = 360
) -> DataFrame:
    """Batch sessionization over (user_id, ts, event_id, value).

    Total order (ts, event_id) makes session numbering deterministic under
    ties; sums go through exact decimals so the grouped result is
    partition-order independent.
    """
    from pyspark.sql import Window

    gap_us = gap_minutes * 60_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull()
        | ((ts_micros(F.col("ts")) - ts_micros(prev)) > gap_us),
        1,
    ).otherwise(0)
    numbered = events.select(
        "user_id", "ts", "event_id", "value", is_new.alias("is_new")
    ).withColumn(
        "session_no",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            "session_no",
            "session_start",
            "session_end",
            "n_events",
            "total_value",
        )
    )


def sessionize_batch_oracle_sql(gap_minutes: int = 360) -> str:
    gap_us = gap_minutes * 60_000_000
    return f"""
    WITH l AS (
      SELECT user_id, ts, event_id, value,
             lag(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS prev
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN prev IS NULL
                       OR epoch_us(ts) - epoch_us(prev) > {gap_us}
                     THEN 1 ELSE 0 END AS is_new
      FROM l
    ),
    numbered AS (
      SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS session_no
      FROM flagged
    )
    SELECT user_id, session_no,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM numbered
    GROUP BY user_id, session_no
    """


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 360,
    watermark: str = "1 minute",
) -> DataFrame:
    """Streaming sessionization via applyInPandasWithState.

    Events must carry (user_id, ts, event_id, value). Closed sessions are
    appended as soon as an event beyond the gap arrives; the final open
    session per user flushes on event-time timeout once the watermark
    passes session_end + gap. Per-user state is 4 scalars — bounded no
    matter how long the stream runs.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000

    def fn(key, pdf_iter, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
            return
        pdf = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        if state.exists:
            start_us, last_us, n, total = state.get
        else:
            start_us = last_us = n = -1
            total = 0.0
        out = []
        for ts, value in zip(pdf["ts"], pdf["value"]):
            ts_us = ts.value // 1000
            if n == -1:
                start_us, last_us, n, total = ts_us, ts_us, 1, float(value)
            elif ts_us - last_us > gap_us:
                out.append((start_us, last_us, n, total))
                start_us, last_us, n, total = ts_us, ts_us, 1, float(value)
            else:
                last_us, n, total = ts_us, n + 1, total + float(value)
        state.update((start_us, last_us, n, total))
        state.setTimeoutTimestamp(last_us // 1000 + gap_minutes * 60_000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": user_id,
                    "session_start": [
                        pd.Timestamp(s, unit="us") for s, _, _, _ in out
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="us") for _, e, _, _ in out
                    ],
                    "n_events": [n_ for _, _, n_, _ in out],
                    "total_value": [t for _, _, _, t in out],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
