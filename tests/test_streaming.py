"""Structured Streaming tests: dedup with watermark state, stream-
static enrich join, windowed counts, parquet archive — the
implemented version of the reference's design.pdf streaming prose
(SURVEY.md §2.10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_combiner_spark.schemas import DATA_A_SCHEMA
from parquet_combiner_spark.streaming import (
    archive_stream,
    dedup_stream,
    enrich_with_locations,
    stream_detections,
    top_items_per_window,
    windowed_item_counts,
)
from tests.conftest import make_data_b

BASE = 1_700_000_000  # epoch seconds


def _write_detections(spark, path, rows):
    spark.createDataFrame(rows, DATA_A_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def _run_to_memory(stream_df, name, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


@pytest.fixture()
def detections_dir(spark, tmp_path):
    rows = [
        # loc 1: items with a planted duplicate detection_oid 100
        (1, 11, 100, "car", BASE + 10),
        (1, 11, 100, "car", BASE + 15),  # dup, within watermark
        (1, 12, 101, "car", BASE + 20),
        (1, 12, 102, "bike", BASE + 30),
        # loc 2 (absent from dataB -> "Unknown")
        (2, 21, 200, "dog", BASE + 40),
    ]
    p = str(tmp_path / "stream_in")
    _write_detections(spark, p, rows)
    return p


def test_stream_dedup_drops_duplicates(spark, detections_dir):
    stream = stream_detections(spark, detections_dir)
    assert stream.isStreaming
    deduped = dedup_stream(stream, ["detection_oid"])
    _run_to_memory(deduped, "t_dedup")
    got = spark.sql("SELECT detection_oid FROM t_dedup").collect()
    oids = sorted(r[0] for r in got)
    assert oids == [100, 101, 102, 200]  # 5 input rows, 4 survive


def test_stream_static_enrich_join(spark, detections_dir):
    data_b = make_data_b(spark, [(1, "New York"), (3, "Tokyo")])
    stream = stream_detections(spark, detections_dir)
    enriched = enrich_with_locations(stream, data_b)
    _run_to_memory(enriched, "t_enrich")
    got = {
        (r["geographical_location_oid"], r["geographical_location"])
        for r in spark.sql(
            "SELECT geographical_location_oid, geographical_location FROM t_enrich"
        ).collect()
    }
    assert got == {(1, "New York"), (2, "Unknown")}


def test_stream_enrich_preserves_null_dim_name(spark, detections_dir):
    data_b = make_data_b(spark, [(1, None), (2, "Osaka")])
    stream = stream_detections(spark, detections_dir)
    enriched = enrich_with_locations(stream, data_b)
    _run_to_memory(enriched, "t_enrich_null")
    got = {
        (r["geographical_location_oid"], r["geographical_location"])
        for r in spark.sql(
            "SELECT geographical_location_oid, geographical_location"
            " FROM t_enrich_null"
        ).collect()
    }
    # matched key with NULL name stays NULL (not "Unknown")
    assert got == {(1, None), (2, "Osaka")}


def test_windowed_counts_and_topk(spark, tmp_path):
    # two 10-minute windows; second window has a late-closing tail
    rows = (
        [(1, 11, i, "car", BASE + i) for i in range(3)]
        + [(1, 11, 10 + i, "bike", BASE + 60 + i) for i in range(2)]
        + [(1, 11, 100 + i, "dog", BASE + 700 + i) for i in range(4)]
        # watermark pusher: far-future row finalizes earlier windows
        + [(9, 91, 999, "cat", BASE + 7200)]
    )
    p = str(tmp_path / "win_in")
    _write_detections(spark, p, rows)
    counts = windowed_item_counts(
        stream_detections(spark, p), "10 minutes", delay="5 minutes"
    )
    _run_to_memory(counts, "t_win", output_mode="append")
    batch = spark.sql(
        "SELECT window, geographical_location_oid, item_name, count FROM t_win"
    )
    got = {
        (r["geographical_location_oid"], r["item_name"]): r["count"]
        for r in batch.collect()
    }
    # first window: 3 cars + 2 bikes; second window: 4 dogs
    assert got[(1, "car")] == 3
    assert got[(1, "bike")] == 2
    assert got[(1, "dog")] == 4

    ranked = top_items_per_window(batch, top_x=1)
    top = {
        (r["geographical_location_oid"], r["window"]): r["item_name"]
        for r in ranked.collect()
    }
    # per window, loc 1's top item is car (w1) and dog (w2)
    assert set(top.values()) >= {"car", "dog"}
    assert all(r["item_rank"] == 1 for r in ranked.collect())


def test_sessionize_stream_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: in-batch gap splits AND
    watermark-timeout closure across micro-batches."""
    import os

    from parquet_combiner_spark.streaming import sessionize_stream

    src = str(tmp_path / "sess_in")
    os.makedirs(src)
    # batch 1 (file 1): user 1 has two sessions split by a >30min gap;
    # user 2 has one session
    batch1 = [
        (1, 11, 1, "a", BASE),
        (1, 11, 2, "a", BASE + 60),        # same session (1 min later)
        (1, 11, 3, "a", BASE + 60 * 60),   # 59min gap -> new session
        (2, 21, 4, "b", BASE + 10),
    ]
    # batch 2 (file 2): far-future event pushes the watermark past
    # every open session's timeout -> they close via state timeout
    batch2 = [(9, 91, 9, "z", BASE + 6 * 3600)]
    spark.createDataFrame(batch1, DATA_A_SCHEMA).coalesce(1).write.parquet(
        src, mode="append"
    )
    spark.createDataFrame(batch2, DATA_A_SCHEMA).coalesce(1).write.parquet(
        src, mode="append"
    )

    stream = stream_detections(spark, src, max_files_per_trigger=1)
    ev = stream.select(
        F.col("geographical_location_oid").alias("user_id"), "event_time"
    )
    sessions = sessionize_stream(ev, gap_minutes=30.0, watermark_delay="1 minute")
    _run_to_memory(sessions, "t_sessions")
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM t_sessions").collect()
    }
    base_ms = BASE * 1000
    # user 1: first session (2 events) closed by the in-stream gap;
    # second session (1 event) closed by watermark timeout
    assert got[(1, base_ms)] == 2
    assert got[(1, base_ms + 3600 * 1000)] == 1
    # user 2: single event closed by timeout
    assert got[(2, base_ms + 10_000)] == 1


def test_archive_stream_round_trip(spark, detections_dir, tmp_path):
    out = str(tmp_path / "archive")
    ckpt = str(tmp_path / "ckpt")
    stream = stream_detections(spark, detections_dir)
    q = archive_stream(stream, out, ckpt, trigger_available_now=True)
    q.awaitTermination(120)
    back = spark.read.parquet(out)
    assert back.count() == 5  # raw archive: no dedup
    assert "event_time" in back.columns
    # restart with no new data: checkpoint prevents re-ingestion
    q2 = archive_stream(
        stream_detections(spark, detections_dir), out, ckpt,
        trigger_available_now=True,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 5


def test_sessionize_late_event_does_not_regress_session(spark, tmp_path):
    """A late (out-of-order, within-watermark) event arriving in a
    later micro-batch must extend the session backwards — never move
    session_end or the timeout earlier."""
    import os

    from parquet_combiner_spark.streaming import sessionize_stream

    src = str(tmp_path / "late_in")
    os.makedirs(src)
    batches = [
        [(1, 11, 1, "a", BASE + 100)],
        # late: behind the state's last event, above the watermark
        # (wm after batch 1 = BASE+100 - 60s = BASE+40)
        [(1, 11, 2, "a", BASE + 50)],
        # watermark pusher: closes user 1's session via timeout
        [(9, 91, 9, "z", BASE + 6 * 3600)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, DATA_A_SCHEMA).coalesce(1).write.parquet(
            src, mode="append"
        )

    stream = stream_detections(spark, src, max_files_per_trigger=1)
    ev = stream.select(
        F.col("geographical_location_oid").alias("user_id"), "event_time"
    )
    sessions = sessionize_stream(
        ev, gap_minutes=30.0, watermark_delay="1 minute"
    )
    _run_to_memory(sessions, "t_late_sessions")
    got = {
        r["user_id"]: (r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM t_late_sessions").collect()
    }
    base_ms = BASE * 1000
    # both events in one session; start stretched back to the late
    # event, end stays at the newest event
    assert got[1] == (base_ms + 50_000, base_ms + 100_000, 2)


def test_sessionize_ms_floor_boundary_diverges_from_batch_nanos(
    spark, tmp_path
):
    """Pin the INTENDED batch/stream divergence at sub-ms resolution:
    batch ``user_sessions`` decides gaps on exact nanos
    (queries.user_sessions), the streaming sessionizer on ms-floored
    event times (sessionize.py floors micros→ms). An event pair whose
    30-min gap straddles the threshold only below 1 ms must therefore
    SPLIT in batch and STAY ONE SESSION in streaming. If a refactor
    ever changes either side's time resolution, this test moves."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_combiner_spark.queries import user_sessions
    from parquet_combiner_spark.streaming.sessionize import (
        sessionize_events_available_now,
    )

    gap_ns = 30 * 60 * 1_000_000_000
    base_ns = 1_700_000_000 * 1_000_000_000
    t1 = base_ns + 900_000  # 0.9 ms past the ms boundary
    # 30 min + 0.05 ms later: nanos gap exceeds the threshold, but both
    # timestamps floor to ms values exactly 30 min (== gap, not >) apart
    t2 = t1 + gap_ns + 50_000
    assert (t2 - t1) > gap_ns
    assert (t2 // 1_000_000) - (t1 // 1_000_000) == gap_ns // 1_000_000
    pusher = t1 + 6 * 3600 * 1_000_000_000  # closes user 1 via watermark
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], type=pa.int64()),
            "ts": pa.array([t1, t2, pusher], type=pa.timestamp("ns")),
            "user_id": pa.array([1, 1, 9], type=pa.int64()),
        }
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path)

    batch = {
        (r["user_id"], r["session_id"]): r["n_events"]
        for r in user_sessions(spark, str(tmp_path)).collect()
    }
    # nanos side: the 0.05 ms-over gap splits user 1 into two sessions
    assert batch[(1, 1)] == 1 and batch[(1, 2)] == 1

    stream = {
        r["user_id"]: (r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize_events_available_now(spark, path).collect()
    }
    # ms side: both events land in one closed session spanning exactly
    # the 30-min gap
    base_ms = base_ns // 1_000_000
    assert stream[1] == (base_ms, base_ms + 1_800_000, 2)


def test_native_session_window_exact_gap_boundary(spark, tmp_path):
    """Pin the exact-gap MERGE boundary for all three sessionizers:
    Spark's ``session_window`` merges INCLUSIVELY at the gap (two
    events exactly gap apart share a session) — the same ``<= gap``
    rule the custom operator implements. The testdata contains no
    exact-gap pairs (checked each round), so only planted data can
    catch a regression in either implementation or a Spark behavior
    change; the native oracles' strict-> split predicate rests on
    exactly this."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_combiner_spark.queries import user_sessions_native
    from parquet_combiner_spark.streaming.sessionize import (
        sessionize_events_available_now,
        sessionize_events_available_now_native,
    )

    gap_ns = 30 * 60 * 1_000_000_000
    base_ns = 1_700_000_000 * 1_000_000_000
    t1 = base_ns
    t2 = t1 + gap_ns  # EXACTLY the gap
    pusher = t1 + 6 * 3600 * 1_000_000_000
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], type=pa.int64()),
            "ts": pa.array([t1, t2, pusher], type=pa.timestamp("ns")),
            "user_id": pa.array([1, 1, 9], type=pa.int64()),
        }
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path)
    base_ms = base_ns // 1_000_000
    gap_ms = gap_ns // 1_000_000
    one_session = [(1, base_ms, base_ms + gap_ms, 2)]

    custom = [
        tuple(r)
        for r in sessionize_events_available_now(spark, path)
        .where(F.col("user_id") == 1)
        .collect()
    ]
    assert custom == one_session

    native = [
        tuple(r)
        for r in sessionize_events_available_now_native(spark, path)
        .where(F.col("user_id") == 1)
        .collect()
    ]
    assert native == one_session

    batch_native = [
        tuple(r)
        for r in user_sessions_native(spark, str(tmp_path))
        .where(F.col("user_id") == 1)
        .collect()
    ]
    assert batch_native == one_session


def test_native_emission_boundary_at_watermark_equality(spark, tmp_path):
    """Pin the INTENDED custom/native divergence: when the final
    watermark lands EXACTLY on ``session_end + gap``, the custom
    operator's event-time timeout (fires strictly below the
    watermark) holds the session open, while the native
    session_window's append-mode eviction (``end <= watermark``)
    emits it. The native oracle's ``<=`` emission predicate and the
    custom oracle's ``<`` rest on exactly this."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_combiner_spark.streaming.sessionize import (
        sessionize_events_available_now,
        sessionize_events_available_now_native,
    )

    gap_ns = 30 * 60 * 1_000_000_000
    delay_ns = 10 * 60 * 1_000_000_000
    base_ns = 1_700_000_000 * 1_000_000_000
    # pusher makes final watermark == base + gap, exactly user 1's
    # single-event session timeout
    pusher = base_ns + gap_ns + delay_ns
    table = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": pa.array([base_ns, pusher], type=pa.timestamp("ns")),
            "user_id": pa.array([1, 9], type=pa.int64()),
        }
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path)

    custom = (
        sessionize_events_available_now(spark, path)
        .where(F.col("user_id") == 1)
        .collect()
    )
    assert custom == []  # strictly-below timeout: not yet fired

    base_ms = base_ns // 1_000_000
    native = [
        tuple(r)
        for r in sessionize_events_available_now_native(spark, path)
        .where(F.col("user_id") == 1)
        .collect()
    ]
    assert native == [(1, base_ms, base_ms, 1)]  # inclusive eviction


def test_native_stream_sessions_agree_with_custom_off_boundary(spark):
    """On the real testdata (no exact-gap pairs) the JVM-native
    session_window stream and the custom applyInPandasWithState
    stream must produce session sets that differ ONLY by the two
    pinned boundary rules (gap split and watermark-emission
    inclusivity) — over sf0.001 that means the interiors agree: every
    custom-closed session is native-closed or watermark-held, and
    vice versa."""
    from parquet_combiner_spark.streaming.sessionize import (
        sessionize_events_available_now,
        sessionize_events_available_now_native,
    )

    sf = "/root/testdata/sf0.001"
    custom = {
        tuple(r)
        for r in sessionize_events_available_now(
            spark, f"{sf}/events.parquet"
        ).collect()
    }
    native = {
        tuple(r)
        for r in sessionize_events_available_now_native(
            spark, f"{sf}/events.parquet"
        ).collect()
    }
    assert custom and native
    # no exact-gap pairs -> identical session partitioning; the only
    # admissible asymmetry is watermark emission (< vs <=), which can
    # only add sessions to the native side
    assert custom <= native
    assert len(native - custom) <= len(
        {u for (u, *_rest) in native}
    )  # at most one extra (each user's last) session per user


def test_sessionize_available_now_matches_batch_closed_sessions(spark):
    # the driver-checkable streaming query: availableNow run over the
    # real events table must equal the batch sessionization restricted
    # to closed sessions (every session but each user's last, plus
    # last sessions whose end + gap fell strictly below the final
    # watermark). Independent batch computation in Spark SQL on the
    # same ms-floored timestamps.
    from parquet_combiner_spark.streaming.sessionize import (
        sessionize_events_available_now,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r)
        for r in sessionize_events_available_now(
            spark, f"{sf}/events.parquet"
        ).collect()
    )
    from parquet_combiner_spark.sources.io import ensure_ts_nanos

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ensure_ts_nanos(
        spark.read.parquet(f"{sf}/events.parquet")
    ).createOrReplaceTempView("__ev_batch")
    expected = sorted(
        tuple(r)
        for r in spark.sql(
            """
            WITH g AS (
                SELECT user_id, ts div 1000000 AS tms, event_id
                FROM __ev_batch
            ), l AS (
                SELECT user_id, tms,
                       lag(tms) OVER (
                           PARTITION BY user_id ORDER BY tms, event_id
                       ) AS prev
                FROM g
            ), s AS (
                SELECT user_id, tms,
                       sum(CASE WHEN prev IS NULL OR tms - prev > 1800000
                           THEN 1 ELSE 0 END) OVER (
                           PARTITION BY user_id ORDER BY tms
                           ROWS UNBOUNDED PRECEDING
                       ) AS sid
                FROM l
            ), agg AS (
                SELECT user_id, min(tms) AS session_start,
                       max(tms) AS session_end, count(*) AS n_events
                FROM s GROUP BY user_id, sid
            )
            SELECT user_id, session_start, session_end, n_events FROM agg
            WHERE session_end + 1800000 <
                  (SELECT max(ts div 1000000) FROM __ev_batch) - 600000
            """
        ).collect()
    )
    assert len(got) > 0
    assert got == expected


def test_stream_stream_interval_join_boundaries(spark, tmp_path):
    """Stream-stream interval join: inclusive at BOTH window edges
    (matching the batch BETWEEN), per-user correlation only, and
    exhaustive emission once both streams drain."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_combiner_spark.streaming.pipeline import (
        purchases_after_errors_stream_available_now,
    )

    win_ms = 60_000
    base_ns = 1_700_000_000 * 1_000_000_000
    ms = 1_000_000  # ns per ms

    def ev(eid, etype, user, t_ms):
        return (eid, etype, user, base_ns + t_ms * ms)

    rows = [
        ev(100, "error", 1, 0),
        ev(1, "purchase", 1, 0),            # at win_start: included
        ev(2, "purchase", 1, win_ms),       # at win_end: included
        ev(3, "purchase", 1, win_ms + 1),   # 1 ms past: excluded
        ev(4, "purchase", 2, 10),           # other user: excluded
        ev(5, "purchase", 1, -1),           # before the error: excluded
    ]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "event_type": pa.array([r[1] for r in rows]),
            "user_id": pa.array([r[2] for r in rows], type=pa.int64()),
            "ts": pa.array([r[3] for r in rows], type=pa.timestamp("ns")),
        }
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path)

    out = purchases_after_errors_stream_available_now(
        spark, path, window_ms=win_ms
    )
    got = {
        (r["event_id"], r["error_event_id"], r["tms"], r["win_start"])
        for r in out.collect()
    }
    base_ms = base_ns // ms
    assert got == {
        (1, 100, base_ms, base_ms),
        (2, 100, base_ms + win_ms, base_ms),
    }


def test_streaming_cdc_apply_converges_to_batch_compaction(spark, tmp_path):
    """apply_cdc over multiple micro-batches must equal the one-shot
    batch merge of the same rows, and re-running over the same source
    from a fresh checkpoint (a full replay) must leave the state
    unchanged (idempotent MERGE sink)."""
    from pyspark.sql import functions as F

    from parquet_combiner_spark.queries import current_user_state
    from parquet_combiner_spark.streaming.apply_cdc import (
        apply_cdc_available_now,
    )

    sf = "/root/testdata/sf0.001"
    from parquet_combiner_spark.queries import _events

    ev = _events(spark, sf).select(
        "user_id", "event_type", "ts", "event_id", "value"
    )
    src = str(tmp_path / "cdc_src")
    ev.repartition(3).write.parquet(src)
    schema = spark.read.parquet(src).schema
    state = str(tmp_path / "cdc_state")

    out = apply_cdc_available_now(
        spark, src, state,
        keys=["user_id", "event_type"],
        version_cols=["ts", "event_id"],
        schema=schema,
    )
    got = {tuple(r) for r in out.select(*ev.columns).collect()}
    want = {tuple(r) for r in current_user_state(spark, sf).collect()}
    assert got == want

    # full replay into the EXISTING state (fresh checkpoint): no-op
    replay = apply_cdc_available_now(
        spark, src, state,
        keys=["user_id", "event_type"],
        version_cols=["ts", "event_id"],
        schema=schema,
    )
    assert {tuple(r) for r in replay.select(*ev.columns).collect()} == want


def test_stream_to_txlog_one_version_per_batch_and_replay_skip(
    spark, tmp_path
):
    """Streaming ingestion into the versioned table: each micro-batch
    commits exactly one version with its epoch in the commit meta, the
    final snapshot equals the source, a replayed epoch is absorbed
    without a new version (the exactly-once contract), and time travel
    reproduces the partial table mid-ingestion."""
    from pyspark.sql import Row

    from parquet_combiner_spark.streaming.txlog_sink import (
        stream_to_txlog_available_now,
        txlog_append_batch,
    )
    from parquet_combiner_spark.tools import txlog

    src = str(tmp_path / "src")
    rows = [Row(k=i, v=f"r{i}") for i in range(12)]
    df = spark.createDataFrame(rows)
    # 3 source files → 3 micro-batches at maxFilesPerTrigger=1
    df.repartition(3).write.parquet(src)
    table = str(tmp_path / "tbl")

    final = stream_to_txlog_available_now(spark, src, table, df.schema)
    assert sorted(tuple(r) for r in final.collect()) == sorted(
        tuple(r) for r in rows
    )
    log = txlog._read_log(table)
    assert len(log) == 3
    assert sorted(c["meta"]["epoch"] for c in log) == [0, 1, 2]
    # time travel to mid-ingestion: version 0 holds only batch 0
    v0 = txlog.read_table(spark, table, version=0)
    assert 0 < v0.count() < 12

    # replayed epoch: no new version, no duplicate rows
    before = txlog.current_version(table)
    committed = txlog_append_batch(
        spark.createDataFrame(rows[:4]), 1, table
    )
    assert committed is False
    assert txlog.current_version(table) == before
    # a NEW epoch does commit
    assert txlog_append_batch(spark.createDataFrame(rows[:1]), 7, table)
    assert txlog.current_version(table) == before + 1


def test_stream_metrics_collector_captures_state_and_inputs(spark):
    """The listener captures per-batch vitals for a real stateful run
    (windowed counts over the events table): input rows observed,
    state rows tracked, a watermark recorded — all without touching
    the query plan."""
    import time

    from parquet_combiner_spark.queries import user_sessions_stream_native
    from parquet_combiner_spark.streaming.metrics import (
        StreamMetricsCollector,
    )

    collector = StreamMetricsCollector().attach(spark)
    try:
        out = user_sessions_stream_native(spark, "/root/testdata/sf0.001")
        n = out.count()
        assert n > 0
        # listener events are delivered asynchronously on the bus
        deadline = time.time() + 30
        while not collector.batches and time.time() < deadline:
            time.sleep(0.5)
    finally:
        collector.detach(spark)
    assert collector.batches, "no progress events captured"
    assert sum(m.num_input_rows for m in collector.batches) > 0
    assert any(m.state_rows_total > 0 for m in collector.batches)
    assert any(m.watermark for m in collector.batches)
    assert all(m.rows_dropped_by_watermark == 0 for m in collector.batches)


def test_stream_to_txlog_second_run_ingests_new_files(spark, tmp_path):
    """The epoch idempotence key must survive re-invocation: the
    checkpoint persists per (table, query_id), so a second run against
    a source that GAINED files resumes at the next epoch and commits
    exactly the new batches — a throwaway checkpoint would restart
    epochs at 0 and silently drop them as 'replays' (data loss)."""
    from pyspark.sql import Row

    from parquet_combiner_spark.streaming.txlog_sink import (
        stream_to_txlog_available_now,
    )
    from parquet_combiner_spark.tools import txlog

    src = str(tmp_path / "src")
    table = str(tmp_path / "tbl")
    first = [Row(k=i, v=f"r{i}") for i in range(4)]
    df1 = spark.createDataFrame(first)
    df1.coalesce(1).write.mode("append").parquet(src)

    out1 = stream_to_txlog_available_now(spark, src, table, df1.schema)
    assert out1.count() == 4
    v1 = txlog.current_version(table)

    # source gains files; same table, same (persisted) checkpoint
    second = [Row(k=i, v=f"r{i}") for i in range(4, 10)]
    spark.createDataFrame(second).coalesce(1).write.mode("append").parquet(src)
    out2 = stream_to_txlog_available_now(spark, src, table, df1.schema)
    assert sorted(tuple(r) for r in out2.collect()) == sorted(
        tuple(r) for r in first + second
    )
    assert txlog.current_version(table) > v1
    # and a third run with NOTHING new commits nothing
    v2 = txlog.current_version(table)
    out3 = stream_to_txlog_available_now(spark, src, table, df1.schema)
    assert out3.count() == 10
    assert txlog.current_version(table) == v2
    # commit identity is (query_id, epoch) — Delta's txnAppId shape
    metas = [c["meta"] for c in txlog._read_log(table)]
    assert all(m["query_id"] == "ingest" for m in metas)
    assert len({m["epoch"] for m in metas}) == len(metas)


def test_windowed_topn_update_mode_reemits_and_converges(spark):
    """The update-mode windowed top-N must actually be update-mode:
    every micro-batch emits changed window counts (not one final
    emission), at least one (window, event_type) key is re-emitted in
    a later batch with a newer total (the dashboard-refresh
    signature), and the converged store ranks to exactly the batch
    top-N over ALL events — including the unfinalized last window
    append mode withholds."""
    from pyspark.sql import functions as F

    from parquet_combiner_spark.streaming.pipeline import (
        windowed_top_events_update_available_now,
    )

    sf = "/root/testdata/sf0.001"
    seen: list[tuple[int, int]] = []
    got = windowed_top_events_update_available_now(
        spark,
        f"{sf}/events.parquet",
        "1 hour",
        3,
        "10 minutes",
        on_batch=lambda bid, n: seen.append((bid, n)),
    )
    rows = got.collect()
    # three time-band micro-batches emitted changes (availableNow may
    # append a final empty flush batch)
    emitting = [n for _, n in seen if n > 0]
    assert len(emitting) == 3, seen
    total_emitted = sum(n for _, n in seen)

    # convergence: equals the batch ranking over ALL events (no
    # watermark cut) — computed directly here
    from pyspark.sql import Window

    from parquet_combiner_spark.sources.io import ensure_ts_nanos

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = ensure_ts_nanos(spark.read.parquet(f"{sf}/events.parquet"))
    c = (
        ev.select(
            (
                F.expr("(ts div 1000000) div 3600000") * 3600000
            ).alias("window_start_ms"),
            "event_type",
        )
        .groupBy("window_start_ms", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("window_start_ms").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    want = (
        c.withColumn("item_rank", F.row_number().over(w))
        .where(F.col("item_rank") <= 3)
        .collect()
    )
    assert sorted(
        (r["window_start_ms"], r["event_type"], r["n"], r["item_rank"])
        for r in rows
    ) == sorted(
        (r["window_start_ms"], r["event_type"], r["n"], r["item_rank"])
        for r in want
    )
    # update-mode signature: more emissions than final keys
    assert total_emitted > len(rows)


def test_outer_interval_join_null_gating(spark, tmp_path):
    """Left-outer stream-stream join: matched purchases emit with
    their error; matchless purchases below watermark − window emit
    with NULLs; a matchless purchase near the stream head (window
    still open at shutdown) is withheld, never wrongly NULLed."""
    from pyspark.sql import Row

    from parquet_combiner_spark.streaming.pipeline import (
        purchases_with_errors_outer_stream_available_now,
    )

    base = 1_700_000_000_000_000_000  # ns
    HOUR = 3_600_000_000_000
    rows = [
        # old matchless purchase: provably final -> NULL row
        Row(event_id=1, ts=base, user_id=1, event_type="purchase",
            value=1.0, props=None),
        # error + purchase inside its window -> matched row
        Row(event_id=2, ts=base + 10 * HOUR, user_id=2, event_type="error",
            value=0.0, props=None),
        Row(event_id=3, ts=base + 10 * HOUR + HOUR // 2, user_id=2,
            event_type="purchase", value=2.0, props=None),
        # matchless purchase at the head: window open -> withheld
        Row(event_id=4, ts=base + 12 * HOUR, user_id=3,
            event_type="purchase", value=3.0, props=None),
        # head error keeps the error-side watermark advanced
        Row(event_id=5, ts=base + 12 * HOUR, user_id=9,
            event_type="error", value=0.0, props=None),
    ]
    src = str(tmp_path / "ev.parquet")
    schema = (
        "event_id bigint, ts bigint, user_id bigint, "
        "event_type string, value double, props string"
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    got = {
        r["event_id"]: r
        for r in purchases_with_errors_outer_stream_available_now(
            spark, src
        ).collect()
    }
    assert got[3]["error_event_id"] == 2  # matched emits with its error
    assert 1 in got and got[1]["error_event_id"] is None  # finalized NULL
    # event 4 is within window of the final watermark: withheld
    assert 4 not in got


def test_full_outer_interval_join_both_null_classes(spark, tmp_path):
    """Full-outer stream-stream join: matched pairs emit once; an old
    matchless purchase emits a NULL-error row; an old matchless error
    emits a NULL-purchase row (the class left outer never produces);
    a head matchless ERROR is withheld because its proof point —
    watermark passing e_time + window — is a full window later than
    the purchase side's."""
    from pyspark.sql import Row

    from parquet_combiner_spark.streaming.pipeline import (
        purchases_errors_full_outer_stream_available_now,
    )

    base = 1_700_000_000_000_000_000  # ns
    HOUR = 3_600_000_000_000
    rows = [
        # old matchless purchase -> NULL-error row
        Row(event_id=1, ts=base, user_id=1, event_type="purchase",
            value=1.0, props=None),
        # old matchless error -> NULL-purchase row (full-outer only)
        Row(event_id=2, ts=base + HOUR, user_id=7, event_type="error",
            value=0.0, props=None),
        # error + purchase inside its window -> matched row
        Row(event_id=3, ts=base + 10 * HOUR, user_id=2, event_type="error",
            value=0.0, props=None),
        Row(event_id=4, ts=base + 10 * HOUR + HOUR // 2, user_id=2,
            event_type="purchase", value=2.0, props=None),
        # head matchless error: purchases may still land in
        # [e_time, e_time + window] -> withheld
        Row(event_id=5, ts=base + 12 * HOUR, user_id=3,
            event_type="error", value=0.0, props=None),
        # head purchase keeps the purchase-side watermark advanced
        Row(event_id=6, ts=base + 12 * HOUR, user_id=9,
            event_type="purchase", value=3.0, props=None),
    ]
    src = str(tmp_path / "ev.parquet")
    schema = (
        "event_id bigint, ts bigint, user_id bigint, "
        "event_type string, value double, props string"
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    out = purchases_errors_full_outer_stream_available_now(
        spark, src
    ).collect()
    matched = {
        (r["event_id"], r["error_event_id"])
        for r in out
        if r["event_id"] is not None and r["error_event_id"] is not None
    }
    assert matched == {(4, 3)}
    null_err = {r["event_id"] for r in out if r["error_event_id"] is None}
    null_pur = {r["error_event_id"] for r in out if r["event_id"] is None}
    assert 1 in null_err  # finalized matchless purchase
    assert 2 in null_pur  # finalized matchless error — full-outer-only class
    assert 5 not in null_pur  # head error window still open: withheld
    # user_id is coalesced across sides: never NULL
    assert all(r["user_id"] is not None for r in out)


def test_cdc_txlog_state_time_travel_and_replay(spark, tmp_path):
    """The txlog-backed CDC apply: state versions accrete one per
    micro-batch (time travel reproduces the state mid-stream), a full
    replay of an already-applied source commits NOTHING (epoch keys
    in the commit log), and deletes behave as in the swap variant."""
    from pyspark.sql import Row

    from parquet_combiner_spark.streaming.apply_cdc import (
        apply_cdc_txlog_available_now,
    )
    from parquet_combiner_spark.tools import txlog

    src = str(tmp_path / "src")
    table = str(tmp_path / "state")
    rows = [
        Row(k=1, v=10, val="a", op="U"),
        Row(k=2, v=10, val="b", op="U"),
        Row(k=1, v=20, val=None, op="D"),   # delete k=1 later
        Row(k=3, v=5, val="c", op="U"),
    ]
    df = spark.createDataFrame(
        rows, "k bigint, v bigint, val string, op string"
    )
    df.repartition(2).write.parquet(src)

    final = apply_cdc_txlog_available_now(
        spark, src, table, keys=["k"], version_cols=["v"],
        schema=df.schema, op_col="op",
    )
    got = {r["k"]: r["val"] for r in final.collect()}
    assert got == {2: "b", 3: "c"}  # k=1 deleted by the newer D

    n_versions = txlog.current_version(table) + 1
    assert n_versions == 2  # one commit per micro-batch
    # time travel: version 0 is the state after batch 0 only
    v0 = txlog.read_table(spark, table, version=0)
    assert 0 < v0.count() <= 4

    # full replay (fresh checkpoint, same epochs 0..N): no new commits
    before = txlog.current_version(table)
    replay = apply_cdc_txlog_available_now(
        spark, src, table, keys=["k"], version_cols=["v"],
        schema=df.schema, op_col="op",
    )
    assert txlog.current_version(table) == before
    assert {r["k"]: r["val"] for r in replay.collect()} == got


def test_dedup_events_stream_suppresses_double_delivery(spark, tmp_path):
    """The banded-replay dedup harness: each event-time band is staged
    TWICE (stage_time_bands copies=2, byte-identical files with
    consecutive mtimes), yet the watermark-bounded dedup emits the
    distinct set exactly once — every redelivered row is suppressed
    either as a within-state duplicate or as sub-watermark late
    input. Pins both halves: the staged source really carries 2x
    rows, and the output is exactly 1x."""
    from parquet_combiner_spark.sources.io import ensure_ts_nanos
    from parquet_combiner_spark.streaming.pipeline import (
        dedup_events_stream_available_now,
        stage_time_bands,
    )

    sf = "/root/testdata/sf0.001"
    events = f"{sf}/events.parquet"
    n = spark.read.parquet(events).count()

    # the staging half: copies=2 doubles the delivered rows
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = ensure_ts_nanos(spark.read.parquet(events))
    stage = str(tmp_path / "bands")
    stage_time_bands(ev, stage, n_batches=3, copies=2)
    staged = spark.read.schema(ev.schema).parquet(stage + "/*")
    assert staged.count() == 2 * n
    # mtime discipline: band k's files (original + dup) all precede
    # band k+1's, so the file source replays in event-time order
    import os

    def band_mtimes(prefix):
        out = []
        for d in sorted(os.listdir(stage)):
            if d == prefix or d.startswith(prefix + "_dup"):
                fdir = os.path.join(stage, d)
                out += [
                    os.path.getmtime(os.path.join(fdir, f))
                    for f in os.listdir(fdir)
                    if f.endswith(".parquet")
                ]
        return out

    assert max(band_mtimes("b0")) < min(band_mtimes("b1"))
    assert max(band_mtimes("b1")) < min(band_mtimes("b2"))

    # the dedup half: the end-to-end run emits each row exactly once
    out = dedup_events_stream_available_now(spark, events)
    assert out.count() == n
    assert out.select("event_id").distinct().count() == n


def test_txtable_changes_stream_per_commit_batches_and_restart(
    spark, tmp_path
):
    """The versioned-table streaming source: offsets are commit
    versions; the first micro-batch of a (re)start is unthrottled
    (latestOffset cannot see the checkpointed position, so the table
    head is the only regression-safe advertisement) while LATER
    commits drain one per micro-batch under the rate limit (rows
    stamped with the version that added them, in commit order); a
    checkpointed restart resumes AFTER the consumed versions (no
    re-delivery); a data-rewriting commit is refused without
    ignore_changes but re-emits its files with it."""
    from pyspark.sql import Row

    from parquet_combiner_spark.sources.txtable_source import (
        TxTableChangesDataSource,
    )
    from parquet_combiner_spark.tools import txlog

    try:
        spark.dataSource.register(TxTableChangesDataSource)
    except Exception:
        pass
    table = str(tmp_path / "cdc_src")
    for v in range(3):
        txlog.commit(
            spark.createDataFrame(
                [Row(k=v * 10 + j, val=f"v{v}") for j in range(4)]
            ).coalesce(1),
            table,
            stats_cols=["k"],
        )

    batches: list[tuple[int, list]] = []

    def sink(df, eid):
        rows = sorted(tuple(r) for r in df.collect())
        if rows:
            batches.append((eid, rows))

    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("txtable_changes")
        .option("path", table)
        .option("max_versions_per_trigger", 1)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    q.processAllAvailable()
    # the pre-existing backlog lands in ONE unthrottled first batch
    # (stamped per originating commit), because latestOffset cannot
    # yet know the query's position
    assert len(batches) == 1
    first = batches[0][1]
    assert sorted({r[2] for r in first}) == [0, 1, 2]  # _commit_version
    assert sorted(r[0] for r in first) == [
        v * 10 + j for v in range(3) for j in range(4)
    ]
    # once the position is known, the rate limit drains NEW commits
    # one per micro-batch, in commit order
    batches.clear()
    for v in (3, 4):
        txlog.commit(
            spark.createDataFrame(
                [Row(k=v * 10 + j, val=f"v{v}") for j in range(4)]
            ).coalesce(1),
            table,
            stats_cols=["k"],
        )
    q.processAllAvailable()
    q.stop()
    assert len(batches) == 2
    for i, (_eid, rows) in enumerate(batches):
        v = i + 3
        assert {r[2] for r in rows} == {v}
        assert sorted(r[0] for r in rows) == [v * 10 + j for j in range(4)]

    # restart from the checkpoint: only NEW commits stream
    txlog.commit(
        spark.createDataFrame([Row(k=99, val="v3")]).coalesce(1),
        table,
        stats_cols=["k"],
    )
    batches.clear()
    q = (
        spark.readStream.format("txtable_changes")
        .option("path", table)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) == 1
    assert [tuple(r)[:2] for r in batches[0][1]] == [(99, "v3")]

    # a rewriting commit refuses without ignore_changes...
    txlog.delete_where(spark, table, "k", 0, 0)
    batches.clear()
    q = (
        spark.readStream.format("txtable_changes")
        .option("path", table)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="ignore_changes"):
        q.awaitTermination()
    # ...and re-emits the rewritten file with it (fresh checkpoint,
    # from_version pins the already-consumed prefix)
    batches.clear()
    q = (
        spark.readStream.format("txtable_changes")
        .option("path", table)
        .option("from_version", 5)
        .option("ignore_changes", "true")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) == 1
    replayed = sorted(r[0] for r in batches[0][1])
    assert replayed == [1, 2, 3]  # survivors of the touched file, k=0 gone


def test_txtable_changes_rate_limited_restart_no_redelivery(
    spark, tmp_path
):
    """Restarting a RATE-LIMITED stream must not re-deliver consumed
    versions: the fresh reader instance's cursor starts below the
    checkpointed offset, and a latestOffset() that advertised it
    would move the committed offset backward (regression pinned —
    the first post-restart batch runs unthrottled instead)."""
    from pyspark.sql import Row

    from parquet_combiner_spark.sources.txtable_source import (
        TxTableChangesDataSource,
    )
    from parquet_combiner_spark.tools import txlog

    try:
        spark.dataSource.register(TxTableChangesDataSource)
    except Exception:
        pass
    table = str(tmp_path / "rl_src")
    for v in range(3):
        txlog.commit(
            spark.createDataFrame([Row(k=v, val=f"v{v}")]).coalesce(1),
            table,
        )
    seen: list[tuple] = []

    def sink(df, eid):
        seen.extend(tuple(r) for r in df.collect())

    def run():
        q = (
            spark.readStream.format("txtable_changes")
            .option("path", table)
            .option("max_versions_per_trigger", 1)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "rl_ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run()
    assert sorted(r[0] for r in seen) == [0, 1, 2]
    # new commits land, the query restarts from its checkpoint with
    # the SAME rate limit: only the new versions may appear
    for v in range(3, 5):
        txlog.commit(
            spark.createDataFrame([Row(k=v, val=f"v{v}")]).coalesce(1),
            table,
        )
    seen.clear()
    run()
    assert sorted(r[0] for r in seen) == [3, 4], (
        f"re-delivered rows: {sorted(seen)}"
    )


def test_drain_table_changes_commit_order_and_replay(spark, tmp_path):
    """The key-level CDF drain: one change batch per commit in order
    (v0 classifies everything 'added'), correct add/change/remove
    classification per step, version-keyed consumers skip replays
    (re-draining an applied version hands the identical batch), and
    expired history raises instead of fabricating a diff."""
    from pyspark.sql import Row

    from parquet_combiner_spark.streaming.cdf import drain_table_changes
    from parquet_combiner_spark.tools import txlog

    table = str(tmp_path / "mv_src")
    txlog.commit(
        spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")]), table
    )
    txlog.commit(spark.createDataFrame([Row(k=3, v="c")]), table)
    # v2 rewrites: k=2 changed, k=3 removed
    txlog.commit(
        spark.createDataFrame(
            [Row(k=1, v="a"), Row(k=2, v="B2")]
        ),
        table,
        action="overwrite",
    )

    seen: list[tuple[int, dict]] = []

    def apply_fn(batch, version):
        seen.append(
            (version, {r["k"]: r["change"] for r in batch.collect()})
        )

    last = drain_table_changes(spark, table, apply_fn, keys=["k"])
    assert last == 2
    assert [v for v, _ in seen] == [0, 1, 2]
    assert seen[0][1] == {1: "added", 2: "added"}
    assert seen[1][1] == {1: "unchanged", 2: "unchanged", 3: "added"}
    assert seen[2][1] == {1: "unchanged", 2: "changed", 3: "removed"}

    # replay determinism + version-keyed idempotence: the re-drain
    # produces byte-identical classifications, so a consumer keyed on
    # version applies nothing twice
    applied: dict[int, dict] = {v: d for v, d in seen}
    replays: list[int] = []

    def idempotent_apply(batch, version):
        d = {r["k"]: r["change"] for r in batch.collect()}
        if version in applied:
            assert d == applied[version]
            replays.append(version)
            return
        applied[version] = d

    assert drain_table_changes(spark, table, idempotent_apply) == 2
    assert replays == [0, 1, 2]

    # incremental continuation: only versions after from_version
    seen.clear()
    txlog.commit(spark.createDataFrame([Row(k=9, v="z")]), table)
    drain_table_changes(spark, table, apply_fn, keys=["k"], from_version=2)
    assert [v for v, _ in seen] == [3]
    assert seen[0][1][9] == "added"

    # an EMPTY range (stale to_version, or nothing new) returns the
    # cursor UNCHANGED — a persisted cursor must never move backward
    # and re-deliver applied versions
    seen.clear()
    assert (
        drain_table_changes(
            spark, table, apply_fn, keys=["k"], from_version=3, to_version=1
        )
        == 3
    )
    assert (
        drain_table_changes(
            spark, table, apply_fn, keys=["k"], from_version=3
        )
        == 3
    )
    assert seen == []


def test_stage_time_bands_single_band(spark, tmp_path):
    """n_batches=1 stages ONE full-range band instead of crashing in
    an empty approx_percentile aggregation (agg(*[]) is rejected);
    bad counts raise loudly."""
    import os

    import pytest
    from pyspark.sql import Row

    from parquet_combiner_spark.streaming.pipeline import stage_time_bands

    ev = spark.createDataFrame(
        [Row(ts=i * 1_000_000_000, event_id=i) for i in range(10)]
    )
    stage = str(tmp_path / "bands")
    stage_time_bands(ev, stage, 1)
    bands = sorted(d for d in os.listdir(stage) if d.startswith("b"))
    assert bands == ["b0"]
    back = spark.read.parquet(os.path.join(stage, "b0"))
    assert back.count() == 10
    with pytest.raises(ValueError, match="n_batches"):
        stage_time_bands(ev, str(tmp_path / "bad"), 0)


def test_txlog_sink_checkpoint_cadence(spark, tmp_path):
    """The ingestion sink checkpoints the LOG every Nth version
    (Delta's cadence): after version N a checkpoint record + pointer
    exist and reads are unchanged; replayed epochs never re-commit or
    re-checkpoint; checkpoint_every=None disables."""
    import json as _json
    import os as _os

    from pyspark.sql import Row

    from parquet_combiner_spark.streaming.txlog_sink import (
        txlog_append_batch,
    )
    from parquet_combiner_spark.tools import txlog

    table = str(tmp_path / "tbl")
    seen: set = set()
    for epoch in range(11):  # versions 0..10
        assert txlog_append_batch(
            spark.createDataFrame([Row(k=epoch)]),
            epoch,
            table,
            seen,
            checkpoint_every=5,
        )
    d = txlog._ckpt_dir(table)
    assert sorted(int(n.split(".")[0]) for n in _os.listdir(d)) == [5, 10]
    ptr = _os.path.join(table, txlog._LOG_DIR, "_last_checkpoint")
    assert _json.load(open(ptr))["version"] == 10
    assert {
        r["k"] for r in txlog.read_table(spark, table).collect()
    } == set(range(11))
    # replayed epoch: no commit, no new checkpoint
    assert not txlog_append_batch(
        spark.createDataFrame([Row(k=99)]), 10, table, seen,
        checkpoint_every=1,
    )
    assert txlog.current_version(table) == 10
    assert sorted(int(n.split(".")[0]) for n in _os.listdir(d)) == [5, 10]


def test_txtable_native_stream_writer_exactly_once(spark, tmp_path):
    """writeStream.format("txtable"): per-task staged files published
    as one version per micro-batch with (query_id, epoch) stamps; a
    REPLAYED epoch publishes nothing (exactly-once); a batch
    violating a CHECK constraint fails the stream with nothing
    staged; schema drift is rejected by the session-less DDL check."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from parquet_combiner_spark.sources.txtable_source import (
        TxTableDataSource,
        TxTableStreamWriter,
        _StagedFiles,
    )
    from parquet_combiner_spark.tools import txlog

    spark.dataSource.register(TxTableDataSource)
    root = str(tmp_path)
    table = os.path.join(root, "sink")
    src = os.path.join(root, "src")
    spark.range(60).select("id", (F.col("id") % 5).alias("k")).repartition(
        3
    ).write.parquet(src)
    q = (
        spark.readStream.schema("id long, k long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.format("txtable")
        .option("path", table)
        .option("query_id", "t1")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert txlog.fast_count(table) == 60
    n_versions = txlog.current_version(table) + 1
    assert n_versions >= 2  # one per micro-batch
    metas = [r["meta"] for r in txlog.history(table)]
    assert all(m["query_id"] == "t1" and "epoch" in m for m in metas)
    assert (
        txlog.read_table(spark, table).agg(F.sum("id")).head()[0]
        == sum(range(60))
    )

    # REPLAY: re-commit an epoch that already published -> no-op
    w = TxTableStreamWriter(table, "t1", spark.range(1).schema)
    w.ddl = "id bigint, k bigint"
    seen_epoch = metas[0]["epoch"]
    w.commit([_StagedFiles(["data/phantom/p.parquet"])], seen_epoch)
    assert txlog.current_version(table) + 1 == n_versions

    # constraint violation: the task rejects before staging
    txlog.add_constraint(spark, table, "id_small", "id < 1000")
    bad_src = os.path.join(root, "bad")
    spark.range(5000, 5003).select(
        "id", F.lit(0).cast("long").alias("k")
    ).write.parquet(bad_src)
    q2 = (
        spark.readStream.schema("id long, k long")
        .parquet(bad_src)
        .writeStream.format("txtable")
        .option("path", table)
        .option("query_id", "t2")
        .option("checkpointLocation", os.path.join(root, "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="id_small"):
        q2.awaitTermination()
    assert txlog.fast_count(table) == 60  # nothing published

    # schema drift rejected without a session
    with pytest.raises(TypeError, match="staged schema"):
        txlog.publish_files(
            table, [], "id bigint, wrong string", meta={}
        )

    # missing query_id is rejected up front: a shared implicit
    # default would let two different queries drop each other's
    # batches as replays
    with pytest.raises(Exception, match="query_id"):
        (
            spark.readStream.schema("id long, k long")
            .parquet(src)
            .writeStream.format("txtable")
            .option("path", table)
            .option(
                "checkpointLocation", os.path.join(root, "ckpt3")
            )
            .trigger(availableNow=True)
            .start()
        ).awaitTermination()

    # a constraint landing between validation and publish forces
    # re-validation instead of being rebased past: publish_files
    # compares the caller's validated set to the live head's
    with pytest.raises(txlog.ConstraintViolation, match="changed"):
        txlog.publish_files(
            table,
            [],
            "id bigint, k bigint",
            meta={"query_id": "t9", "epoch": 0},
            validated_constraints={},  # caller saw no constraints...
        )  # ...but id_small is active on the table now


def test_session_less_gates_reject_nested_case_drift(spark, tmp_path):
    """Both session-less schema gates compare nested field names
    case-exactly: ``publish_files`` refuses staged files whose schema
    renames a nested field by case only, and
    ``_is_metadata_only_republish`` classifies such an ALTER-shaped
    record as a real schema change."""
    from parquet_combiner_spark.tools import txlog

    table = str(tmp_path / "t")
    df = spark.createDataFrame([((1,), 7)], "s struct<A:int>, id bigint")
    txlog.commit(df, table)
    with pytest.raises(TypeError, match="staged schema"):
        txlog.publish_files(table, [], "s struct<a:int>, id bigint")
    head = txlog._last_commit(table)
    rec = {
        "version": head["version"] + 1,
        "action": "overwrite",
        "add": list(head["add"]),
        "schema": head["schema"],
    }
    assert txlog._is_metadata_only_republish(table, rec)
    rec["schema"] = "s struct<a:int>, id bigint"
    assert not txlog._is_metadata_only_republish(table, rec)
    # the same-case publish goes through
    assert txlog.publish_files(table, [], "S struct<A:int>, ID bigint") == 1


def test_normalize_ddl_nested_types():
    """The session-less DDL normalizer splits only TOP-LEVEL commas
    (struct/array/map types carry commas inside <>), ignores field
    order, folds the case of top-level names and type keywords, and
    keeps the case of NESTED field names (a case-only nested rename
    is a schema change to the case-sensitive Arrow-side reader)."""
    from parquet_combiner_spark.tools.txlog import _normalize_ddl

    a = _normalize_ddl(
        "id bigint, s struct<a:int,b:array<string>>, m map<string,int>"
    )
    b = _normalize_ddl(
        "M MAP<STRING,INT>, ID BIGINT, S STRUCT<a:INT,b:ARRAY<STRING>>"
    )
    assert a == b
    assert len(a) == 3
    assert a != _normalize_ddl(
        "M MAP<STRING,INT>, ID BIGINT, S STRUCT<A:INT,B:ARRAY<STRING>>"
    )
    assert _normalize_ddl("id bigint") != _normalize_ddl("id int")
    # decimal's () nests a comma too: swapped scales must NOT compare
    # equal (a <>-only splitter scrambles them into the same multiset)
    assert _normalize_ddl("a decimal(10,2), b decimal(12,4)") != (
        _normalize_ddl("a decimal(10,4), b decimal(12,2)")
    )
    assert _normalize_ddl("a decimal(10,2), b int") == (
        _normalize_ddl("B INT, A DECIMAL(10,2)")
    )


def test_txtable_changes_stream_rides_through_metadata_only_alters(
    spark, tmp_path
):
    """An ALTER must not kill every streaming consumer of a table:
    CHECK-constraint and partition-spec commits re-reference the same
    files under the same schema, so the source emits nothing for them
    and keeps draining — while RESTORE (a real file-list change)
    still refuses without ignore_changes."""
    from pyspark.sql import Row

    from parquet_combiner_spark.sources.txtable_source import (
        TxTableChangesDataSource,
    )
    from parquet_combiner_spark.tools import txlog

    try:
        spark.dataSource.register(TxTableChangesDataSource)
    except Exception:
        pass
    table = str(tmp_path / "alter_src")
    txlog.commit(
        spark.createDataFrame(
            [Row(k=i, day=i % 2) for i in range(4)], "k int, day int"
        ).coalesce(1),
        table,
    )
    batches: list[list] = []

    def sink(df, eid):
        rows = sorted(tuple(r)[:2] for r in df.collect())
        if rows:
            batches.append(rows)

    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("txtable_changes")
            .option("path", table)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert len(batches) == 1 and len(batches[0]) == 4
    # two ALTERs land mid-stream, then a real append
    txlog.add_constraint(spark, table, "k_pos", "k >= 0")
    txlog.set_partition_spec(table, ["day"])
    txlog.commit(
        spark.createDataFrame([Row(k=100, day=0)], "k int, day int"),
        table,
    )
    batches.clear()
    drain()  # no refusal, ALTER versions contribute nothing
    assert batches == [[(100, 0)]]
    # RESTORE is a real change: refuse without ignore_changes
    txlog.restore(table, 0)
    batches.clear()
    q = (
        spark.readStream.format("txtable_changes")
        .option("path", table)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="ignore_changes"):
        q.awaitTermination()


def test_txtable_changes_stream_rides_through_compaction(spark, tmp_path):
    """dataChange=false commits (OPTIMIZE / compaction) emit nothing
    and never require ignore_changes: the stream keeps draining real
    appends across a maintenance rewrite, with no re-feed of the
    rearranged rows."""
    from pyspark.sql import Row

    from parquet_combiner_spark.sources.txtable_source import (
        TxTableChangesDataSource,
    )
    from parquet_combiner_spark.tools import txlog

    try:
        spark.dataSource.register(TxTableChangesDataSource)
    except Exception:
        pass
    table = str(tmp_path / "opt_src")
    for v in range(2):
        txlog.commit(
            spark.createDataFrame(
                [Row(k=v * 10 + j) for j in range(3)], "k int"
            ).coalesce(1),
            table,
            stats_cols=["k"],
        )
    batches: list[list] = []

    def sink(df, eid):
        rows = sorted(r["k"] for r in df.collect())
        if rows:
            batches.append(rows)

    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("txtable_changes")
            .option("path", table)
            .load()
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert batches == [[0, 1, 2, 10, 11, 12]]
    txlog.optimize(spark, table, target_file_mb=64)
    txlog.commit(
        spark.createDataFrame([Row(k=77)], "k int"), table
    )
    batches.clear()
    drain()  # no refusal, no re-emission of compacted rows
    assert batches == [[77]]


def test_txtable_changes_read_change_feed_mode(spark, tmp_path):
    """Delta's readChangeFeed streaming mode (VERDICT r11 order #4):
    with read_change_feed, appends stream as ``insert`` rows, a
    cdf=True cow DELETE and dv UPDATE flow through as their RECORDED
    row-level change files (delete / update_preimage /
    update_postimage, stamped with the committing version), and a
    data-changing commit with NO recorded change data still refuses.
    Replaying the feed reconstructs the table's end state exactly."""
    from pyspark.sql import Row

    from parquet_combiner_spark.sources.txtable_source import (
        TxTableChangesDataSource,
    )
    from parquet_combiner_spark.tools import txlog

    try:
        spark.dataSource.register(TxTableChangesDataSource)
    except Exception:
        pass
    table = str(tmp_path / "cdf_src")
    txlog.commit(
        spark.createDataFrame(
            [Row(k=i, v=float(i)) for i in range(10)], "k int, v double"
        ).coalesce(1),
        table,
        stats_cols=["k"],
    )
    txlog.commit(
        spark.createDataFrame(
            [Row(k=i, v=float(i)) for i in range(10, 20)],
            "k int, v double",
        ).coalesce(1),
        table,
        stats_cols=["k"],
    )
    txlog.delete_where_expr(spark, table, "k < 3", cdf=True)
    txlog.update_where_expr(
        spark, table, "k >= 18", {"v": "v + 100"}, mode="dv", cdf=True
    )

    rows: list = []

    def sink(df, _eid):
        rows.extend(
            (r.k, r.v, r._change_type, r._commit_version)
            for r in df.collect()
        )

    q = (
        spark.readStream.format("txtable_changes")
        .option("path", table)
        .option("read_change_feed", "true")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r[2], []).append(r)
    assert len(by_type["insert"]) == 20
    assert sorted(x[0] for x in by_type["delete"]) == [0, 1, 2]
    assert all(x[3] == 2 for x in by_type["delete"])
    assert sorted(x[0] for x in by_type["update_preimage"]) == [18, 19]
    assert sorted((x[0], x[1]) for x in by_type["update_postimage"]) == [
        (18, 118.0),
        (19, 119.0),
    ]
    # feed replay == committed end state
    ins = {(x[0], x[1]) for x in by_type["insert"]}
    dead = {
        (x[0], x[1])
        for t in ("delete", "update_preimage")
        for x in by_type[t]
    }
    state = sorted(
        (ins - dead) | {(x[0], x[1]) for x in by_type["update_postimage"]}
    )
    now = sorted(
        (r.k, r.v) for r in txlog.read_table(spark, table).collect()
    )
    assert state == now

    # non-CDF DML (no recorded change data) refuses in CDF mode too
    txlog.delete_where_expr(spark, table, "k = 5")  # no cdf=True
    q2 = (
        spark.readStream.format("txtable_changes")
        .option("path", table)
        .option("read_change_feed", "true")
        .load()
        .writeStream.foreachBatch(lambda d, e: None)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="no recorded change data"):
        q2.awaitTermination()
