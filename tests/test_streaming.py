"""Streaming extension test: the watermarked windowed aggregate drained with
AvailableNow must equal the batch twin exactly (decimal sums are order-
independent, so stream/batch parity is bit-exact)."""

from __future__ import annotations

import pytest

from bag_parser_spark.plans.catalog import registry
from bag_parser_spark.streaming.events import read_events_stream

SF = "/root/testdata/sf0.01"
EVENTS = f"{SF}/events.parquet"
DRAIN_TIMEOUT_S = 600


def _drain(stream, *, name=None, path=None, batch=None, checkpoint=None,
           mode="append"):
    """Run ``stream`` with Trigger.AvailableNow until its input is drained
    (at most ``DRAIN_TIMEOUT_S``), into the foreachBatch function
    ``batch``, the parquet directory ``path`` or else the memory table
    ``name``."""
    w = stream.writeStream.outputMode(mode)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    if batch is not None:
        w = w.foreachBatch(batch)
    elif path is not None:
        w = w.format("parquet").option("path", path)
    else:
        w = w.format("memory").queryName(name)
    q = w.trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(DRAIN_TIMEOUT_S), "stream did not drain"
    finally:
        q.stop()


def _errors_and_purchases(ev):
    """The two sides of the interval-join twins: error events on the
    left, purchase events on the right."""
    from pyspark.sql import functions as F

    left = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    return left, right


def test_stream_matches_batch(spark):
    from bag_parser_spark.streaming.events import windowed_event_counts

    _drain(
        windowed_event_counts(read_events_stream(spark, EVENTS)),
        name="ev_win_test",
        mode="complete",
    )
    stream_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("ev_win_test").collect()
    }
    batch = registry()["events_windowed_agg"].fn(spark, SF)
    batch_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in batch.collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_sessionize_stream_matches_batch(spark):
    """Closed sessions from the applyInPandasWithState stream must equal
    the batch twin's sessions, excluding each user's FINAL session (its
    event-time timeout may not fire before the AvailableNow drain ends —
    that emission path is exercised, not awaited). Float sums accumulate
    in the same per-session event order but stream-side in float64 vs
    batch-side exact decimal, so totals compare to 1e-9."""
    from pyspark.sql import functions as F

    from bag_parser_spark.streaming.sessionize import (
        sessionize_batch,
        sessionize_stream,
    )

    _drain(
        sessionize_stream(
            read_events_stream(spark, EVENTS).select(
                "user_id", "ts", "event_id", "value"
            ),
            gap_minutes=360,
        ),
        name="ev_sess_test",
    )
    stream_rows = {
        (r["user_id"], r["session_start"]): (
            r["session_end"],
            r["n_events"],
            r["total_value"],
        )
        for r in spark.table("ev_sess_test").collect()
    }
    from bag_parser_spark.sources.parquet import load_table

    events = load_table(spark, SF, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    batch = sessionize_batch(events, gap_minutes=360)
    last_no = batch.groupBy("user_id").agg(
        F.max("session_no").alias("last_no")
    )
    closed = batch.join(last_no, on="user_id").filter(
        F.col("session_no") != F.col("last_no")
    )
    batch_rows = {
        (r["user_id"], r["session_start"]): (
            r["session_end"],
            r["n_events"],
            r["total_value"],
        )
        for r in closed.collect()
    }
    assert len(batch_rows) > 100  # non-trivial session structure
    assert set(stream_rows) >= set(batch_rows)
    for key, (end, n, total) in batch_rows.items():
        s_end, s_n, s_total = stream_rows[key]
        assert (s_end, s_n) == (end, n)
        assert abs(s_total - total) < 1e-9


def test_countmin_stream_partials_match_batch_and_survive_replay(
    spark, tmp_path
):
    """Streaming count-min maintenance: per-micro-batch partial sketches
    merged on read must equal a single batch build over the full history
    (linearity), a newly arrived file adds exactly its own partial, and a
    REPLAYED micro-batch (same batch_id) overwrites its previous partial
    instead of double-counting — the exactly-once contract of the
    batch_id-partitioned sink."""
    import shutil

    from pyspark.sql import functions as F

    from bag_parser_spark.operators.sketches import count_min_build
    from bag_parser_spark.sources.parquet import load_table
    from bag_parser_spark.streaming.sketches import (
        countmin_partials_writer,
        read_merged_sketch,
    )

    src = tmp_path / "evsrc"
    src.mkdir()
    shutil.copy(f"{SF}/events.parquet", src / "c1.parquet")
    out, ck = str(tmp_path / "cm"), str(tmp_path / "ck")

    def merged():
        return {
            (r["row"], r["pos"]): r["cell"]
            for r in read_merged_sketch(spark, out).collect()
        }

    def drain():
        _drain(
            read_events_stream(spark, str(src)),
            batch=countmin_partials_writer(out, "user_id", 3, 256),
            checkpoint=ck,
        )

    drain()
    ev = load_table(spark, SF, "events")
    direct = {
        (r["row"], r["pos"]): r["cell"]
        for r in count_min_build(ev, "user_id", depth=3, width=256).collect()
    }
    assert merged() == direct and len(direct) > 100

    # a new file arrives -> the next micro-batch appends its OWN partial;
    # the merged sketch is the sum (here: every cell doubles)
    shutil.copy(f"{SF}/events.parquet", src / "c2.parquet")
    drain()
    assert merged() == {k: 2 * v for k, v in direct.items()}

    # replayed micro-batch: foreachBatch re-delivers the same batch_id
    # after a crash; the dynamic partition overwrite makes it a no-op
    w = countmin_partials_writer(out, "user_id", 3, 256)
    w(ev.select("user_id"), 0)
    w(ev.select("user_id"), 0)
    assert merged() == {k: 2 * v for k, v in direct.items()}

    # Bloom twin: per-batch set-bit partials, distinct-union merge —
    # the merged filter equals a batch build, and a replayed batch is a
    # set-union no-op even across DIFFERENT batch compositions
    from bag_parser_spark.operators.sketches import bloom_build
    from bag_parser_spark.streaming.sketches import (
        bloom_partials_writer,
        read_merged_bloom,
    )

    bout = str(tmp_path / "bloom")
    bw = bloom_partials_writer(bout, "event_type", 3, 4096)
    half = ev.filter(F.col("event_id") % 2 == 0)
    bw(half, 0)
    bw(ev, 1)  # second batch overlaps the first — union must dedupe
    bw(ev, 1)  # replay
    got_bits = {r["pos"] for r in read_merged_bloom(spark, bout).collect()}
    want_bits = {
        r["pos"] for r in bloom_build(ev, "event_type", 3, 4096).collect()
    }
    assert got_bits == want_bits and len(want_bits) > 0


def test_dedup_stream_matches_batch(spark):
    """Streaming dropDuplicatesWithinWatermark over a duplicated input
    equals batch exact dedup on the same data."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from bag_parser_spark.sources.parquet import load_table
    from bag_parser_spark.streaming.events import dedup_events_stream

    base = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # simulate at-least-once redelivery: every event appears twice, as two
    # files so the stream sees duplicates across micro-batch boundaries too
    with tempfile.TemporaryDirectory() as d:
        dup_dir = os.path.join(d, "dups")
        nanos = F.unix_micros(F.col("ts").cast("timestamp")) * 1000
        base.withColumn("ts", nanos).write.parquet(dup_dir)
        base.withColumn("ts", nanos).write.mode("append").parquet(dup_dir)
        _drain(
            dedup_events_stream(read_events_stream(spark, dup_dir)),
            name="events_deduped_t",
        )
        got = spark.table("events_deduped_t")
        assert got.count() == base.count()
        assert got.select("event_id").distinct().count() == base.count()
        # value-level equality, not just counts
        assert (
            got.select("event_id", "user_id", "event_type", "value")
            .exceptAll(
                base.select("event_id", "user_id", "event_type", "value")
            )
            .count()
            == 0
        )


def test_interval_join_stream_matches_batch(spark):
    """The watermarked stream-stream interval join must emit exactly the
    batch twin's pairs: with AvailableNow draining a finite file source,
    every match is within the watermark by end-of-input, so the inner
    join's emission is complete — set-equality, not containment."""
    from bag_parser_spark.streaming.events import interval_join_stream

    left, right = _errors_and_purchases(read_events_stream(spark, EVENTS))
    _drain(interval_join_stream(left, right), name="ev_ij_test")
    stream_rows = {
        (r["event_id"], r["r_event_id"]): (r["ts"], r["r_ts"], r["r_value"])
        for r in spark.table("ev_ij_test").collect()
    }
    batch = registry()["ts_interval_join"].fn(spark, SF)
    batch_rows = {
        (r["event_id"], r["r_event_id"]): (r["ts"], r["r_ts"], r["r_value"])
        for r in batch.collect()
    }
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_exactly_once_sink_replay_idempotent(spark, tmp_path):
    """At-least-once replay of a micro-batch must not duplicate rows:
    the idempotent writer overwrites the batch's own partition."""
    from bag_parser_spark.streaming.sinks import idempotent_batch_writer

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _drain(
        read_events_stream(spark, EVENTS),
        batch=idempotent_batch_writer(out),
        checkpoint=ckpt,
    )
    n_src = spark.read.parquet(f"{SF}/events.parquet").count()
    first = spark.read.parquet(out)
    assert first.count() == n_src

    # simulate a failure replay: the SAME batch delivered again
    writer = idempotent_batch_writer(out)
    batch_ids = [r["batch_id"] for r in first.select("batch_id").distinct().collect()]
    replay = spark.read.parquet(f"{SF}/events.parquet")
    writer(replay, batch_ids[0])
    assert spark.read.parquet(out).count() == n_src  # no duplicates

    # a genuinely NEW batch id appends (proves overwrite is per-partition)
    writer(replay.limit(10), max(batch_ids) + 1)
    assert spark.read.parquet(out).count() == n_src + 10


def test_enrich_stream_matches_batch(spark):
    """Stream-static enrichment: the drained stream must emit exactly the
    batch twin's rows (stateless joins — no watermark semantics to
    complicate parity; a finite file source drains completely)."""
    from bag_parser_spark.sources.parquet import load_table
    from bag_parser_spark.streaming.events import enrich_events_stream

    _drain(
        enrich_events_stream(
            read_events_stream(spark, EVENTS),
            load_table(spark, SF, "customer"),
            load_table(spark, SF, "nation"),
        ),
        name="ev_enr_test",
    )
    cols = ["event_id", "user_id", "event_type", "value", "c_name", "nation_name"]
    stream_rows = {tuple(r[c] for c in cols) for r in spark.table("ev_enr_test").collect()}
    batch = registry()["events_stream_enrich"].fn(spark, SF)
    batch_rows = {tuple(r[c] for c in cols) for r in batch.collect()}
    assert stream_rows == batch_rows
    assert len(stream_rows) > 0


def test_native_session_window_stream_matches_batch(spark):
    """The built-in session_window aggregate — the stream-deployable form
    the events_session_window catalog query documents — emits, under a
    watermark with an AvailableNow drain, exactly a subset of the batch
    twin's sessions (append mode withholds sessions the final watermark
    hasn't sealed), value-equal on every emitted row."""
    from pyspark.sql import functions as F

    ev = read_events_stream(spark, EVENTS)
    agg = (
        ev.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "360 minutes"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    _drain(agg, name="ev_sw_native")
    stream_rows = {
        (r["user_id"], r["session_start"]): (
            r["session_end"],
            r["n_events"],
            r["total_value"],
        )
        for r in spark.table("ev_sw_native").collect()
    }
    batch_rows = {
        (r["user_id"], r["session_start"]): (
            r["session_end"],
            r["n_events"],
            r["total_value"],
        )
        for r in registry()["events_session_window"].fn(spark, SF).collect()
    }
    assert len(stream_rows) > 100  # the drain seals most historic sessions
    assert set(stream_rows).issubset(set(batch_rows))
    for key, (end, n, total) in stream_rows.items():
        b_end, b_n, b_total = batch_rows[key]
        assert (end, n) == (b_end, b_n)
        assert abs(total - b_total) < 1e-9


def test_stream_checkpoint_recovery_no_reprocessing(spark, tmp_path):
    """Checkpointed restart is exactly-once end-to-end: a second launch of
    the same query (same checkpoint, same sink) picks up ONLY files that
    arrived after the first drain — nothing from the first batch is
    re-emitted, and nothing from the second is lost. This is the
    recovery contract a 100 TB/day ingest stands on: crash, restart,
    no dupes, no holes."""
    from pyspark.sql import functions as F

    from bag_parser_spark.sources.parquet import load_table

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")

    base = load_table(spark, "/root/testdata/sf0.001", "events")
    n = base.count()
    base.write.parquet(src)

    def drain():
        _drain(
            read_events_stream(spark, src).select(
                "event_id", "user_id", "event_type", "value"
            ),
            path=out,
            checkpoint=cp,
        )

    drain()  # first launch: processes the initial files
    assert spark.read.parquet(out).count() == n

    # new arrivals between launches (disjoint ids), then a cold restart
    base.withColumn(
        "event_id", F.col("event_id") + F.lit(1_000_000_000)
    ).write.mode("append").parquet(src)
    drain()

    back = spark.read.parquet(out)
    assert back.count() == 2 * n  # no dupes (would be > 2n), no holes (< 2n)
    assert back.select("event_id").distinct().count() == 2 * n


def test_native_hopping_window_stream_matches_batch(spark):
    """The hopping-window aggregate (events_hopping_agg's declaration)
    under readStream + watermark emits, on an AvailableNow drain in
    append mode, a subset of the batch twin's windows, value-equal on
    every emitted row — same contract as the session-window parity
    test."""
    from pyspark.sql import functions as F

    ev = read_events_stream(spark, EVENTS)
    agg = (
        ev.withWatermark("ts", "1 minute")
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
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
    _drain(agg, name="ev_hop_native")
    stream_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.table("ev_hop_native").collect()
    }
    batch_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in registry()["events_hopping_agg"].fn(spark, SF).collect()
    }
    assert len(stream_rows) > 1000  # most historic windows seal on drain
    assert set(stream_rows).issubset(set(batch_rows))
    for key, (n, total) in stream_rows.items():
        b_n, b_total = batch_rows[key]
        assert n == b_n
        assert abs(total - b_total) < 1e-9


def test_ohlc_stream_matches_batch(spark):
    """Streamed OHLC bars must equal the batch ts_ohlc_bars twin:
    open/high/low/close/n_events exactly (pure selections — no float
    accumulation), volume to 1e-6 (double sums re-associate between the
    stream's state-store merges and the batch partial aggregation)."""
    from bag_parser_spark.streaming.events import ohlc_stream

    _drain(
        ohlc_stream(read_events_stream(spark, EVENTS)),
        name="ev_ohlc_test",
        mode="complete",
    )
    stream_rows = {
        (r["bar_start"], r["event_type"]): r
        for r in spark.table("ev_ohlc_test").collect()
    }
    batch_rows = {
        (r["bar_start"], r["event_type"]): r
        for r in registry()["ts_ohlc_bars"].fn(spark, SF).collect()
    }
    assert set(stream_rows) == set(batch_rows) and len(stream_rows) > 0
    for key, s in stream_rows.items():
        b = batch_rows[key]
        assert (s["open"], s["high"], s["low"], s["close"], s["n_events"]) == (
            b["open"], b["high"], b["low"], b["close"], b["n_events"]
        ), key
        assert abs(s["volume"] - b["volume"]) <= 1e-6, key


def test_interval_join_outer_stream_matches_batch(spark):
    """Left-outer stream-stream join parity, scoped to the provable
    region: matched rows must equal the batch inner join exactly;
    NULL-padded rows must be a subset of the batch unmatched set; and
    every unmatched left event old enough that the final watermark
    provably passed it (ts < max_ts - watermark - lag) MUST have been
    emitted — silently dropping those would leak rows forever."""
    import datetime

    from pyspark.sql import functions as F

    from bag_parser_spark.sources.parquet import load_table
    from bag_parser_spark.streaming.events import (
        interval_join_stream_left_outer,
    )

    left, right = _errors_and_purchases(read_events_stream(spark, EVENTS))
    _drain(interval_join_stream_left_outer(left, right), name="ev_ijo_test")
    out = spark.table("ev_ijo_test").collect()
    stream_matched = {
        (r["event_id"], r["r_event_id"]) for r in out
        if r["r_event_id"] is not None
    }
    stream_null = {r["event_id"] for r in out if r["r_event_id"] is None}

    batch_matched_rows = registry()["ts_interval_join"].fn(spark, SF).collect()
    batch_matched = {
        (r["event_id"], r["r_event_id"]) for r in batch_matched_rows
    }
    matched_left_ids = {r["event_id"] for r in batch_matched_rows}
    ev = load_table(spark, SF, "events")
    errors = {
        (r["event_id"], r["ts"])
        for r in ev.filter(F.col("event_type") == "error")
        .select("event_id", "ts")
        .collect()
    }
    batch_unmatched = {e for e, _ in errors} - matched_left_ids

    assert stream_matched == batch_matched and len(stream_matched) > 0
    assert stream_null <= batch_unmatched and len(stream_null) > 0
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(hours=2, seconds=600 + 1)
    must_emit = {e for e, ts in errors if e in batch_unmatched and ts < horizon}
    assert must_emit <= stream_null, (
        f"{len(must_emit - stream_null)} provably-expired unmatched rows "
        "were never emitted"
    )


def test_read_events_stream_rejects_mixed_ts_encodings(spark, tmp_path):
    """A directory mixing INT64-nanos and TIMESTAMP-micros files must fail
    loudly: one stream schema would silently misread half the files,
    shifting their timestamps by 1000x (VERDICT r4)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    cols = {
        "event_id": pa.array([1], pa.int64()),
        "user_id": pa.array([1], pa.int64()),
        "event_type": pa.array(["view"], pa.string()),
        "value": pa.array([1.0], pa.float64()),
        "props": pa.array(["{}"], pa.string()),
    }
    micros = pa.table(
        {**cols, "ts": pa.array([1_700_000_000_000_000], pa.timestamp("us"))}
    )
    nanos = pa.table(
        {**cols, "ts": pa.array([1_700_000_000_000_000_000], pa.int64())}
    )
    d = tmp_path / "mixed"
    d.mkdir()
    pq.write_table(micros, d / "a.parquet")
    pq.write_table(nanos, d / "b.parquet")
    with pytest.raises(ValueError, match="mixed physical ts encodings"):
        read_events_stream(spark, str(d))
    # a homogeneous directory still reads fine
    h = tmp_path / "homog"
    h.mkdir()
    pq.write_table(micros, h / "a.parquet")
    pq.write_table(micros, h / "b.parquet")
    df = read_events_stream(spark, str(h))
    assert df.isStreaming and dict(df.dtypes)["ts"] == "timestamp"


@pytest.mark.slow
def test_incremental_ingest_stream_dedups_across_batches(spark, tmp_path):
    """Streaming corpus ingestion: each micro-batch dedups against itself
    AND the accepted state (exact via content hash, near via incremental
    LSH + exact-Jaccard verify), first arrival wins, and replaying the
    whole source converges without duplicating state."""
    from bag_parser_spark.streaming.corpus import run_ingest_stream

    w = [f"w{i}" for i in range(30)]
    t1 = " ".join(w)
    t2 = " ".join(f"q{i}" for i in range(30))
    t3 = " ".join(f"z{i}" for i in range(30))
    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    chunk1 = spark.createDataFrame(
        [
            (1, t1),
            (2, t2),
            (3, t1),                        # exact dup of 1 (in batch)
            (4, t1 + " extra tail words"),  # near dup of 1 (in batch)
        ],
        "doc_id long, text string",
    )
    chunk1.coalesce(1).write.parquet(str(src / "c1.parquet"))
    run_ingest_stream(spark, f"{src}/*", state, ckpt)
    accepted = {
        r["doc_id"] for r in spark.read.parquet(f"{state}/accepted").collect()
    }
    assert accepted == {1, 2}

    chunk2 = spark.createDataFrame(
        [
            (11, t1),                        # exact dup vs accepted
            (12, t1 + " other tail here"),   # near dup vs accepted 1
            (13, t3),                        # fresh -> accepted
            (14, t2 + " more words again"),  # near dup vs accepted 2
        ],
        "doc_id long, text string",
    )
    chunk2.coalesce(1).write.parquet(str(src / "c2.parquet"))
    run_ingest_stream(spark, f"{src}/*", state, ckpt)
    accepted = {
        r["doc_id"] for r in spark.read.parquet(f"{state}/accepted").collect()
    }
    assert accepted == {1, 2, 13}
    sigs = spark.read.parquet(f"{state}/signatures")
    assert {r["__id__"] for r in sigs.collect()} == {1, 2, 13}

    # at-least-once replay: a fresh checkpoint re-delivers EVERY file;
    # the state must converge (no new rows, no duplicates)
    run_ingest_stream(spark, f"{src}/*", state, str(tmp_path / "ckpt2"))
    rows = spark.read.parquet(f"{state}/accepted").collect()
    assert {r["doc_id"] for r in rows} == {1, 2, 13} and len(rows) == 3


def test_ingest_batch_survives_missing_signature_dir(spark, tmp_path):
    """Crash-recovery edge: accepted/ present but signatures/ missing
    (the documented mid-append failure window) must not fail the next
    batch — the signature state reads as empty and exact dedup still
    rejects content duplicates."""
    import shutil

    from bag_parser_spark.streaming.corpus import ingest_batch

    t1 = " ".join(f"w{i}" for i in range(30))
    state = str(tmp_path / "state")
    b1 = spark.createDataFrame([(1, t1)], "doc_id long, text string")
    assert ingest_batch(spark, b1, state) == 1
    shutil.rmtree(f"{state}/signatures")  # simulate the crash window
    b2 = spark.createDataFrame(
        [(2, t1), (3, " ".join(f"q{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    assert ingest_batch(spark, b2, state) == 1  # exact dup 2 rejected
    acc = {r["doc_id"] for r in spark.read.parquet(f"{state}/accepted").collect()}
    assert acc == {1, 3}


@pytest.mark.slow
def test_ingest_crash_window_backfill(spark, tmp_path, monkeypatch):
    """Crash injection for the documented mid-append window: kill the
    batch BETWEEN the two state appends (accepted/ written, signatures/
    not), prove the orphaned doc's near-dups then sneak past LSH, repair
    with backfill_signatures, and prove they are caught again."""
    import shutil

    import pytest

    from bag_parser_spark.operators import dedup
    from bag_parser_spark.streaming.corpus import (
        backfill_signatures,
        ingest_batch,
    )

    t1 = " ".join(f"w{i}" for i in range(30))
    t2 = " ".join(f"q{i}" for i in range(30))
    state = str(tmp_path / "state")
    b = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    assert ingest_batch(spark, b([(1, t1)]), state) == 1

    real = dedup.minhash_signatures
    calls = {"n": 0}

    def crash_on_state_append(*a, **k):
        # call 1 = step-2 LSH candidates; call 2 = the step-5 signature
        # append, which runs AFTER the accepted/ append — raising here is
        # exactly the crash window the module docstring documents
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash between state appends")
        return real(*a, **k)

    monkeypatch.setattr(dedup, "minhash_signatures", crash_on_state_append)
    with pytest.raises(RuntimeError, match="injected crash"):
        ingest_batch(spark, b([(2, t2)]), state)
    monkeypatch.setattr(dedup, "minhash_signatures", real)

    acc = {r["doc_id"] for r in spark.read.parquet(f"{state}/accepted").collect()}
    sig = {r["__id__"] for r in spark.read.parquet(f"{state}/signatures").collect()}
    assert acc == {1, 2} and sig == {1}  # doc 2 accepted but unsignatured

    # the bug is real: without repair, a near-dup of the orphan passes LSH
    near = t2 + " extra tail words"
    broken = str(tmp_path / "state_norepair")
    shutil.copytree(state, broken)
    assert ingest_batch(spark, b([(3, near)]), broken) == 1  # wrongly kept

    assert backfill_signatures(spark, state) == 1
    assert {
        r["__id__"] for r in spark.read.parquet(f"{state}/signatures").collect()
    } == {1, 2}
    assert backfill_signatures(spark, state) == 0  # idempotent
    assert ingest_batch(spark, b([(3, near)]), state) == 0  # caught now


def test_ingest_batch_zero_cache_residue(spark, tmp_path):
    """A continuous stream runs ingest_batch forever on one session: the
    per-batch persists (candidate pairs, shingle rows, banded signatures,
    the survivors localCheckpoint) must all be freed when the batch ends
    — cached-block count must not grow across batches (ADVICE r5)."""
    from bag_parser_spark.streaming.corpus import ingest_batch

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    state = str(tmp_path / "state")
    t1 = " ".join(f"w{i}" for i in range(30))
    for i, txt in enumerate(
        [t1, t1 + " tail one", " ".join(f"q{j}" for j in range(30))]
    ):
        df = spark.createDataFrame(
            [(10 * i + 1, txt)], "doc_id long, text string"
        )
        ingest_batch(spark, df, state)
        after = set(jsc.getPersistentRDDs().keys())
        assert after <= before, (
            f"batch {i} leaked persistent RDDs: {sorted(after - before)}"
        )


def test_ingest_batch_string_ids_fresh_state(spark, tmp_path):
    """ingest_batch with a string id column on a FRESH state (no
    signature dir): the empty base-signature table must carry the
    caller's id type, not a hardcoded long (ADVICE r5), and in-batch
    near-dup rejection must still work."""
    from bag_parser_spark.streaming.corpus import ingest_batch

    t1 = " ".join(f"w{i}" for i in range(30))
    state = str(tmp_path / "state")
    batch = spark.createDataFrame(
        [("a", t1), ("b", t1 + " extra tail words")],
        "doc_id string, text string",
    )
    assert ingest_batch(spark, batch, state) == 1
    acc = spark.read.parquet(f"{state}/accepted")
    assert [r["doc_id"] for r in acc.collect()] == ["a"]
    sigs = spark.read.parquet(f"{state}/signatures")
    assert dict(sigs.dtypes)["__id__"] == "string"


@pytest.mark.slow
def test_ingest_domain_quota_across_batches(spark, tmp_path):
    """Streaming domain stage: blocklisted domains are dropped up front,
    the per-domain quota is enforced ACROSS batches (first-arrival wins
    — earlier batches consume slots first), registered_domain lands in
    the accepted state, replay is idempotent, and mixed-mode reuse of
    the state raises."""
    import pytest

    from bag_parser_spark.streaming.corpus import ingest_batch

    state = str(tmp_path / "state")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, text string, url string"
    )
    txt = lambda i: " ".join(f"w{j}-{i}" for j in range(30))  # noqa: E731
    # batch 1: two a.com docs (quota 3), one blocked.net doc
    b1 = mk([
        (1, txt(1), "https://WWW.a.com/p/1"),
        (2, txt(2), "https://a.com:443/p/2"),
        (10, txt(10), "http://blocked.net/x"),
    ])
    blocked = spark.createDataFrame([("blocked.net",)], "d string")
    kw = dict(url_col="url", max_per_domain=3, domain_blocklist=blocked)
    assert ingest_batch(spark, b1, state, **kw) == 2
    # batch 2: three more a.com docs -> only ONE slot left; b.org fits
    b2 = mk([
        (3, txt(3), "https://a.com/p/3"),
        (4, txt(4), "https://a.com/p/4"),
        (5, txt(5), "https://a.com/p/5"),
        (6, txt(6), "https://b.org/p/6"),
    ])
    assert ingest_batch(spark, b2, state, **kw) == 2
    acc = spark.read.parquet(f"{state}/accepted")
    by_dom = {
        r["registered_domain"]: r["n"]
        for r in acc.groupBy("registered_domain").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert by_dom == {"a.com": 3, "b.org": 1}
    ids = {r["doc_id"] for r in acc.collect()}
    assert {1, 2, 6} <= ids and 10 not in ids
    # replay batch 2: content dedup removes accepted docs BEFORE the
    # quota stage, so nothing is double-counted and nothing new lands
    assert ingest_batch(spark, b2, state, **kw) == 0
    assert spark.read.parquet(f"{state}/accepted").count() == 4
    # mixed-mode reuse must fail loudly, both directions
    plain = spark.createDataFrame(
        [(99, txt(99))], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="consistent"):
        ingest_batch(spark, plain, state)
    state2 = str(tmp_path / "state2")
    assert ingest_batch(spark, plain, state2) == 1
    with pytest.raises(ValueError, match="consistent"):
        ingest_batch(spark, b1, state2, **kw)


@pytest.mark.slow
def test_ingest_politeness_budget_across_batches(spark, tmp_path):
    """Delay-derived per-BATCH politeness budget (VERDICT r9 #6): with
    crawl_delays + batch_window_sec, each micro-batch admits at most
    max(1, floor(window/delay)) docs per domain — a slow-delay host is
    capped EVERY batch while a fast host fills; domains without a delay
    row are budget-uncapped; the TOTAL quota (max_per_domain) composes
    on the same fair-draw rank; replay is idempotent; half-configured
    budgets fail loudly."""
    import pytest

    from bag_parser_spark.streaming.corpus import ingest_batch

    state = str(tmp_path / "state")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, text string, url string"
    )
    txt = lambda i: " ".join(f"w{j}-{i}" for j in range(30))  # noqa: E731
    delays = spark.createDataFrame(
        [("slow.com", "*", 10.0), ("fast.com", "*", 1.0)],
        "domain string, agent string, crawl_delay double",
    )
    # window 4 s: slow budget = max(1, floor(4/10)) = 1, fast = 4;
    # c.net has no delay row -> budget-uncapped, only the quota (5) bites
    kw = dict(
        url_col="url", max_per_domain=5,
        crawl_delays=delays, batch_window_sec=4.0,
    )
    b1 = mk(
        [(i, txt(i), f"https://slow.com/p/{i}") for i in range(3)]
        + [(10 + i, txt(10 + i), f"https://fast.com/p/{i}") for i in range(5)]
        + [(20 + i, txt(20 + i), f"https://c.net/p/{i}") for i in range(6)]
    )
    # slow 3->1 (budget), fast 5->4 (budget), c.net 6->5 (quota)
    assert ingest_batch(spark, b1, state, **kw) == 10
    b2 = mk(
        [(100 + i, txt(100 + i), f"https://slow.com/q/{i}") for i in range(2)]
        + [(110 + i, txt(110 + i), f"https://fast.com/q/{i}") for i in range(2)]
        + [(120, txt(120), "https://c.net/q/0")]
    )
    # slow capped at 1 AGAIN this batch; fast budget 4 but only 1 quota
    # slot left (4 of 5 consumed); c.net quota exhausted
    assert ingest_batch(spark, b2, state, **kw) == 2
    acc = spark.read.parquet(f"{state}/accepted")
    by_dom = {
        r["registered_domain"]: r["n"]
        for r in acc.groupBy("registered_domain").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert by_dom == {"slow.com": 2, "fast.com": 5, "c.net": 5}
    # replay semantics: admitted docs dedup away (never double-admit);
    # budget-REJECTED docs are DEFERRALS the engine persisted — each
    # replayed window is a new crawl window, so one more slow doc rides
    # its budget slot per call, while the quota-rejected fast/c.net
    # docs stay rejected (never deferred)
    assert ingest_batch(spark, b2, state, **kw) == 1
    acc2 = spark.read.parquet(f"{state}/accepted")
    assert acc2.count() == 13
    assert acc2.select("doc_id").distinct().count() == 13  # no dupes
    # the backlog keeps draining at one slow doc per window — even with
    # an EMPTY source batch (the engine owns the re-offer) — until all
    # 5 slow docs are in (quota 5 never bites for slow.com)
    empty = mk([])
    assert ingest_batch(spark, empty, state, **kw) == 1
    assert ingest_batch(spark, empty, state, **kw) == 1
    acc3 = spark.read.parquet(f"{state}/accepted")
    assert acc3.count() == 15
    assert acc3.select("doc_id").distinct().count() == 15
    # backlog drained: the deferred table is gone and further windows
    # admit nothing
    import os as _os

    assert not _os.path.isdir(f"{state}/deferred")
    assert ingest_batch(spark, empty, state, **kw) == 0
    assert ingest_batch(spark, b2, state, **kw) == 0
    assert spark.read.parquet(f"{state}/accepted").count() == 15
    # half-configured budget or missing url_col fail loudly
    with pytest.raises(ValueError, match="together"):
        ingest_batch(
            spark, b1, state, url_col="url", crawl_delays=delays
        )
    with pytest.raises(ValueError, match="url_col"):
        ingest_batch(
            spark, b1.drop("url"), state,
            crawl_delays=delays, batch_window_sec=4.0,
        )


@pytest.mark.slow
def test_ingest_budget_deferral_engine_owned(spark, tmp_path):
    """VERDICT r10 #3: a budget reject is a deferral the ENGINE owns.
    ingest_batch persists beyond-budget docs to deferred/ and prepends
    the backlog to the next batch's candidates — so a slow-host doc
    rejected in batch N is admitted in batch N+1 with NO re-delivery
    from the source; quota rejects are never deferred; replay stays
    idempotent; the backlog schema survives round trips (original
    input columns, every gate re-runs); mode drift fails loudly."""
    import os

    import pytest

    from bag_parser_spark.streaming.corpus import ingest_batch

    state = str(tmp_path / "state")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, text string, url string"
    )
    txt = lambda i: " ".join(f"w{j}-{i}" for j in range(30))  # noqa: E731
    delays = spark.createDataFrame(
        [("slow.com", "*", 10.0)],
        "domain string, agent string, crawl_delay double",
    )
    kw = dict(url_col="url", crawl_delays=delays, batch_window_sec=4.0)
    # batch 1: three slow.com docs, budget max(1, floor(4/10)) = 1
    b1 = mk([(i, txt(i), f"https://slow.com/p/{i}") for i in (1, 2, 3)])
    assert ingest_batch(spark, b1, state, **kw) == 1
    # the two beyond-budget docs are PERSISTED, in original input schema
    backlog = spark.read.parquet(f"{state}/deferred")
    assert sorted(backlog.columns) == ["doc_id", "text", "url"]
    assert backlog.count() == 2
    deferred_ids = {r["doc_id"] for r in backlog.collect()}
    assert deferred_ids <= {1, 2, 3} and len(deferred_ids) == 2
    # batch 2: EMPTY source batch — the engine re-offers the backlog
    # itself; one more slow doc rides this window's budget slot
    empty = mk([])
    assert ingest_batch(spark, empty, state, **kw) == 1
    assert spark.read.parquet(f"{state}/deferred").count() == 1
    # batch 3: another doc from ANOTHER host arrives; the deferred slow
    # doc and the new doc both admit (independent budgets)
    b3 = mk([(9, txt(9), "https://other.org/x")])
    assert ingest_batch(spark, b3, state, **kw) == 2
    # backlog drained -> deferred/ removed, accepted complete + unique
    assert not os.path.isdir(f"{state}/deferred")
    acc = spark.read.parquet(f"{state}/accepted")
    assert {r["doc_id"] for r in acc.collect()} == {1, 2, 3, 9}
    assert acc.count() == 4
    # replay of batch 1: all three docs content-dedup away; nothing is
    # re-deferred and no backlog reappears
    assert ingest_batch(spark, b1, state, **kw) == 0
    assert not os.path.isdir(f"{state}/deferred")
    assert spark.read.parquet(f"{state}/accepted").count() == 4
    # quota rejects are NOT deferred: a fresh state with quota 1 and no
    # delay row for the host drops the overflow permanently
    state2 = str(tmp_path / "state2")
    b = mk([(i, txt(100 + i), f"https://q.com/{i}") for i in (1, 2)])
    assert ingest_batch(
        spark, b, state2, url_col="url", max_per_domain=1,
        crawl_delays=delays, batch_window_sec=4.0,
    ) == 1
    assert not os.path.isdir(f"{state2}/deferred")
    # bounded backlog: max_deferred_per_domain keeps only that many
    # fair-draw slots past the budget; the overflow is dropped, so the
    # backlog never outgrows budget + cap per domain
    state4 = str(tmp_path / "state4")
    b5 = mk([(i, txt(200 + i), f"https://slow.com/z/{i}") for i in range(5)])
    assert ingest_batch(
        spark, b5, state4, url_col="url",
        crawl_delays=delays, batch_window_sec=4.0,
        max_deferred_per_domain=2,
    ) == 1  # budget 1 admitted; 2 deferred; 2 dropped
    assert spark.read.parquet(f"{state4}/deferred").count() == 2
    with pytest.raises(ValueError, match="max_deferred_per_domain"):
        ingest_batch(
            spark, b5, state4, url_col="url", max_deferred_per_domain=2
        )
    # mode drift: a backlog written with url mode cannot be consumed by
    # a url-less batch — fail loudly, never union mismatched schemas
    state3 = str(tmp_path / "state3")
    assert ingest_batch(spark, b1, state3, **kw) == 1
    with pytest.raises(ValueError, match="deferred/"):
        ingest_batch(
            spark,
            spark.createDataFrame([(7, txt(7))], "doc_id long, text string"),
            state3,
        )


@pytest.mark.slow
def test_ingest_domain_counts_partials_and_rebuild(spark, tmp_path):
    """The quota's consumed counts come from per-batch domain_counts
    partials (never a full accepted/ aggregate per batch); deleting the
    partials simulates the documented crash window — the next quota
    batch fails loudly, rebuild_domain_counts repairs (and compacts),
    and the stream resumes with correct quota."""
    import shutil

    import pytest

    from bag_parser_spark.streaming.corpus import (
        ingest_batch,
        rebuild_domain_counts,
    )

    state = str(tmp_path / "state")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "doc_id long, text string, url string"
    )
    txt = lambda i: " ".join(f"w{j}-{i}" for j in range(30))  # noqa: E731
    kw = dict(url_col="url", max_per_domain=2)
    assert ingest_batch(
        spark, mk([(1, txt(1), "https://a.com/1")]), state, **kw
    ) == 1
    assert ingest_batch(
        spark, mk([(2, txt(2), "https://a.com/2")]), state, **kw
    ) == 1
    # partials: one (domain, n) file per batch, summing to accepted
    counts = spark.read.parquet(f"{state}/domain_counts")
    assert [(r["registered_domain"], r["n"]) for r in counts.collect()] \
        == [("a.com", 1), ("a.com", 1)]
    # crash window: counts gone but accepted present -> loud failure
    shutil.rmtree(f"{state}/domain_counts")
    with pytest.raises(ValueError, match="rebuild_domain_counts"):
        ingest_batch(spark, mk([(3, txt(3), "https://a.com/3")]), state, **kw)
    assert rebuild_domain_counts(spark, state) == 1  # one domain, n=2
    rebuilt = spark.read.parquet(f"{state}/domain_counts").collect()
    assert [(r["registered_domain"], r["n"]) for r in rebuilt] \
        == [("a.com", 2)]
    # quota correct after repair: a.com is full, b.org still admits
    b3 = mk([
        (3, txt(3), "https://a.com/3"),
        (4, txt(4), "https://b.org/4"),
    ])
    assert ingest_batch(spark, b3, state, **kw) == 1
    acc = {r["doc_id"] for r in
           spark.read.parquet(f"{state}/accepted").collect()}
    assert acc == {1, 2, 4}


def test_ingest_blocklist_without_url_col_raises(spark, tmp_path):
    """ADVICE r7: a blocklist with no url_col has nothing to block
    against — it must raise (the same guard prepare_corpus has), not
    silently filter nothing."""
    import pytest

    from bag_parser_spark.streaming.corpus import ingest_batch

    b = spark.createDataFrame(
        [(1, "some words here")], "doc_id long, text string"
    )
    blocked = spark.createDataFrame([("a.com",)], "domain string")
    with pytest.raises(ValueError, match="domain_blocklist needs url_col"):
        ingest_batch(
            spark, b, str(tmp_path / "state"),
            domain_blocklist=blocked,
        )


def test_ingest_robots_gate_and_jsonl_stream(spark, tmp_path):
    """Streaming politeness + JSONL source: ingest_batch with
    robots_rules drops star-disallowed paths (specific agent shadows
    '*' per RFC 9309) before dedup, the guard rejects robots without
    url_col, and run_ingest_stream(source_format='jsonl') drains
    gzipped JSONL files through the same pipeline."""
    import gzip
    import json as _json
    import os

    import pytest

    from bag_parser_spark.streaming.corpus import (
        ingest_batch,
        run_ingest_stream,
    )

    txt = lambda i: " ".join(f"w{j}-{i}" for j in range(30))  # noqa: E731
    rules = spark.createDataFrame(
        [
            ("a.com", "*", "disallow", "/private/"),
            ("shadow.org", "*", "disallow", "/"),
            ("shadow.org", "corpusbot", "allow", "/"),
        ],
        "domain string, agent string, rule_type string, "
        "path_prefix string",
    )
    b1 = spark.createDataFrame(
        [
            (1, txt(1), "https://WWW.a.com/public/1"),
            (2, txt(2), "https://a.com/private/2"),
            (3, txt(3), "https://shadow.org/x"),
        ],
        "doc_id long, text string, url string",
    )
    state = str(tmp_path / "state")
    n = ingest_batch(
        spark, b1, state,
        url_col="url", robots_rules=rules, robots_agent="CorpusBot",
    )
    assert n == 2  # /private/2 disallowed; shadow allowed for the agent
    acc = {r["doc_id"] for r in
           spark.read.parquet(f"{state}/accepted").collect()}
    assert acc == {1, 3}
    with pytest.raises(ValueError, match="url_col"):
        ingest_batch(
            spark,
            b1.select("doc_id", "text"), str(tmp_path / "s2"),
            robots_rules=rules,
        )
    # jsonl stream: two gz files, a cross-file exact dup, robots gate on
    src = str(tmp_path / "jsonl")
    os.makedirs(src)
    def jl(path, rows):
        with gzip.open(path, "wt") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
    jl(f"{src}/part0.jsonl.gz", [
        {"doc_id": 11, "text": txt(11), "url": "https://b.org/ok/1"},
        {"doc_id": 12, "text": txt(12), "url": "https://a.com/private/3"},
    ])
    jl(f"{src}/part1.jsonl.gz", [
        {"doc_id": 13, "text": txt(11), "url": "https://b.org/ok/2"},  # dup
        {"doc_id": 14, "text": txt(14), "url": "https://b.org/ok/3"},
    ])
    st2, ckpt = str(tmp_path / "state2"), str(tmp_path / "ckpt")
    run_ingest_stream(
        spark, f"{src}/*", st2, ckpt,
        schema="doc_id long, text string, url string",
        source_format="jsonl",
        url_col="url",
        robots_rules=rules,
        robots_agent="CorpusBot",
    )
    acc2 = {r["doc_id"] for r in
            spark.read.parquet(f"{st2}/accepted").collect()}
    # 12 robots-blocked; 13 exact dup of 11 (either file order wins one)
    assert 14 in acc2 and 12 not in acc2
    assert len(acc2 & {11, 13}) == 1 and len(acc2) == 2


@pytest.mark.slow
def test_ingest_dsir_gate_batch_split_invariant(spark, tmp_path):
    """VERDICT r8 #6: the DSIR gate in the streaming ingest selects
    against the FROZEN distribution persisted by init_dsir_state, so
    the kept set is identical however the corpus is batched — one
    ingest_batch call vs three over the same docs accept exactly the
    same documents, and both equal the direct frozen-score threshold
    applied to the whole corpus at once."""
    from pyspark.sql import functions as F

    from bag_parser_spark.operators import sampling
    from bag_parser_spark.streaming.corpus import (
        _DSIR_BUCKETS,
        _DSIR_SEED,
        ingest_batch,
        init_dsir_state,
    )

    # target looks like "alpha beta" text; half the pool matches it
    def doc(i):
        if i % 2 == 0:
            return f"alpha beta gamma delta doc {i} alpha beta unique{i}"
        return f"zeta eta theta iota doc {i} kappa lambda unique{i}"

    rows = [(i, doc(i)) for i in range(1, 25)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(j, "alpha beta gamma alpha beta delta") for j in range(3)],
        "doc_id long, text string",
    )
    # threshold = the 12th-highest frozen score: selects exactly half
    # the pool (add-one smoothing over 512 buckets pushes every logw
    # negative on a 24-doc corpus, so a fixed 0.0 would select nobody —
    # real deployments calibrate the threshold from a reference-corpus
    # quantile the same way)
    lam0 = sampling.dsir_lam_table(
        docs, target, n_buckets=_DSIR_BUCKETS, seed=_DSIR_SEED
    )
    keys = sorted(
        (
            r["sample_key"]
            for r in sampling.dsir_score_frozen(
                docs, lam0, n_buckets=_DSIR_BUCKETS, seed=_DSIR_SEED
            ).collect()
        ),
        reverse=True,
    )
    thr = keys[11]

    def run(state_name, batches):
        state = str(tmp_path / state_name)
        n = init_dsir_state(spark, state, target, docs)
        assert n == _DSIR_BUCKETS
        for lo, hi in batches:
            b = docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            ingest_batch(spark, b, state, dsir_min_key=thr)
        acc = spark.read.parquet(f"{state}/accepted")
        return sorted(r["doc_id"] for r in acc.select("doc_id").collect())

    one = run("one", [(1, 25)])
    three = run("three", [(1, 9), (9, 17), (17, 25)])
    assert one == three and one  # non-empty and batching-invariant

    # equals the direct whole-corpus frozen-threshold selection
    lam = spark.read.parquet(str(tmp_path / "one" / "dsir_lam"))
    direct = sorted(
        r["doc_id"]
        for r in sampling.dsir_score_frozen(
            docs, lam, n_buckets=_DSIR_BUCKETS, seed=_DSIR_SEED
        )
        .filter(F.col("sample_key") >= thr)
        .select("doc_id")
        .collect()
    )
    assert one == direct
    # the quantile threshold kept exactly half the pool
    assert len(one) == 12

    # missing state fails loudly with the init pointer
    import pytest

    with pytest.raises(ValueError, match="init_dsir_state"):
        ingest_batch(
            spark, docs, str(tmp_path / "nostate"), dsir_min_key=0.0
        )
