"""Structured Streaming tests: shared cleaning, windows, DLQ routing,
foreachBatch upsert. Uses a JSON file source + memory sinks."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from edu_data_pipeline_spark.operators.warehouse import ParquetMergeWriter
from edu_data_pipeline_spark.streaming import jobs

EVENTS_BATCH_1 = [
    {"event_id": "evt-001", "student_id": "STU001", "course_id": "CRS001",
     "event_type": "video_watched", "event_timestamp": "2024-02-01T10:00:00",
     "duration_seconds": "600", "score": "80.0", "module_id": "MOD001",
     "completion_percentage": "50.0"},
    {"event_id": "evt-002", "student_id": "stu-2", "course_id": "CRS001",
     "event_type": "quiz_completed", "event_timestamp": "2024-02-01T10:02:00",
     "duration_seconds": "300", "score": "150.0", "module_id": "MOD001",
     "completion_percentage": "100.0"},
    {"event_id": "evt-003", "student_id": "STU001", "course_id": "CRS002",
     "event_type": "quiz_completed", "event_timestamp": "2024-02-01T10:03:00",
     "duration_seconds": "x", "score": "not-a-score", "module_id": "MOD002",
     "completion_percentage": "10.0"},
]

EVENTS_BATCH_2 = [
    # same key as evt-001 -> upsert overwrite
    {"event_id": "evt-001", "student_id": "STU001", "course_id": "CRS001",
     "event_type": "video_watched", "event_timestamp": "2024-02-01T10:10:00",
     "duration_seconds": "900", "score": "90.0", "module_id": "MOD001",
     "completion_percentage": "75.0"},
    {"event_id": "evt-004", "student_id": "STU003", "course_id": "CRS003",
     "event_type": "assignment_submitted", "event_timestamp": "2024-02-01T10:11:00",
     "duration_seconds": "100", "score": "70.0", "module_id": "MOD003",
     "completion_percentage": "20.0"},
]


def write_events(path: str, events: list[dict], name: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def ref_ts():
    return F.lit("2026-08-13 00:00:00").cast("timestamp")


def test_stream_clean_and_route(spark, tmp_path):
    src = str(tmp_path / "events")
    write_events(src, EVENTS_BATCH_1, "b1.json")
    stream = jobs.read_event_stream_json(spark, src)
    assert stream.isStreaming
    cleaned = jobs.clean_event_stream(stream, ref_ts=ref_ts())
    good, dlq = jobs.route_streams(cleaned)

    q1 = good.writeStream.format("memory").queryName("good_sink").outputMode("append").start()
    q2 = dlq.writeStream.format("memory").queryName("dlq_sink").outputMode("append").start()
    q1.processAllAvailable()
    q2.processAllAvailable()
    q1.stop(); q2.stop()

    good_rows = {r.event_id: r for r in spark.sql("SELECT * FROM good_sink").collect()}
    dlq_rows = {r.event_id: r for r in spark.sql("SELECT * FROM dlq_sink").collect()}
    assert set(good_rows) == {"evt-001"}
    # evt-002: score 150 capped -> is_score_valid False -> routed to DLQ
    assert set(dlq_rows) == {"evt-002", "evt-003"}
    assert float(dlq_rows["evt-002"].score) == 100.0
    assert dlq_rows["evt-002"].student_id == "STU002"  # shared C1 rule applied
    assert dlq_rows["evt-003"].score is None
    assert good_rows["evt-001"].quality_score == 100


def test_stream_windowed_metrics(spark, tmp_path):
    src = str(tmp_path / "events")
    write_events(src, EVENTS_BATCH_1 + EVENTS_BATCH_2, "all.json")
    stream = jobs.read_event_stream_json(spark, src)
    cleaned = jobs.clean_event_stream(stream, ref_ts=ref_ts())
    metrics = jobs.windowed_student_metrics(
        cleaned, window_duration="5 minutes", slide="5 minutes"
    )
    q = (
        metrics.writeStream.format("memory")
        .queryName("win_sink")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM win_sink").collect()
    by_key = {(str(r.window_start), r.student_id): r for r in rows}
    # STU001: evt-001+evt-003 in 10:00 window, evt-001b in 10:10 window
    r1 = by_key[("2024-02-01 10:00:00", "STU001")]
    assert (r1["count"], r1.duration, r1.errors) == (2, 600, 1)
    assert bool(r1.anomaly) is True  # 1/2 error rate > 0.2
    assert r1.avg_score == 80.0  # evt-003's unparseable score is ignored
    r2 = by_key[("2024-02-01 10:10:00", "STU001")]
    assert (r2["count"], r2.errors, bool(r2.anomaly)) == (1, 0, False)
    assert r2.avg_score == 90.0
    # STU002's capped score -> error in its window
    r3 = by_key[("2024-02-01 10:00:00", "STU002")]
    assert (r3["count"], r3.errors) == (1, 1)


def test_rolling_student_metrics(spark, tmp_path):
    """A7/A8: un-windowed running per-student count/duration/errors and
    the errors/count > 0.2 anomaly flag, updated across two batches."""

    def ev(i, student, score):
        return {"event_id": f"evt-r{i}", "student_id": student,
                "course_id": "CRS001", "event_type": "quiz_completed",
                "event_timestamp": "2024-02-01T10:20:00",
                "duration_seconds": "10", "score": score,
                "module_id": "MOD001", "completion_percentage": "50.0"}

    extra = [ev(0, "STU004", "bad"), ev(1, "STU004", "200.0")]  # all invalid
    # STU005: 1 error in 5 events -> rate exactly 0.2, not anomalous
    extra += [ev(2 + i, "STU005", "bad" if i == 0 else "60.0") for i in range(5)]
    src = str(tmp_path / "events")
    write_events(src, EVENTS_BATCH_1, "b1.json")
    stream = jobs.read_event_stream_json(spark, src)
    cleaned = jobs.clean_event_stream(stream, ref_ts=ref_ts())
    q = (
        jobs.rolling_student_metrics(cleaned)
        .writeStream.format("memory")
        .queryName("rolling_sink")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    write_events(src, EVENTS_BATCH_2 + extra, "b2.json")
    q.processAllAvailable()
    q.stop()
    latest = {}
    for r in spark.sql("SELECT * FROM rolling_sink").collect():
        latest[r.student_id] = r  # update mode: last emit per student wins
    got = {
        s: (r["count"], r.duration, r.errors, bool(r.anomaly))
        for s, r in latest.items()
    }
    assert got == {
        # evt-001 twice (no dedup here), evt-003's "x" duration counts 0
        "STU001": (3, 1500, 1, True),
        "STU002": (1, 300, 1, True),
        "STU003": (1, 100, 0, False),
        "STU004": (2, 20, 2, True),
        "STU005": (5, 50, 1, False),
    }


def test_stream_active_students(spark, tmp_path):
    """Docx "active students in last 5 min": global sliding-window distinct
    count (HLL; exact at these cardinalities)."""
    src = str(tmp_path / "events")
    write_events(src, EVENTS_BATCH_1 + EVENTS_BATCH_2, "all.json")
    stream = jobs.read_event_stream_json(spark, src)
    cleaned = jobs.clean_event_stream(stream, ref_ts=ref_ts())
    active = jobs.active_students_window(cleaned, slide=None)
    q = (
        active.writeStream.format("memory")
        .queryName("active_sink")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM active_sink").collect()
    by_win = {str(r.window_start): r for r in rows}
    # 10:00 window: STU001 (x2) + STU002 -> 2 distinct, 3 events
    assert (by_win["2024-02-01 10:00:00"].active_students,
            by_win["2024-02-01 10:00:00"].n_events) == (2, 3)
    # 10:10 window: STU001 + STU003 -> 2 distinct, 2 events
    assert (by_win["2024-02-01 10:10:00"].active_students,
            by_win["2024-02-01 10:10:00"].n_events) == (2, 2)


def test_stream_foreach_batch_upsert(spark, tmp_path):
    src = str(tmp_path / "events")
    target = str(tmp_path / "stg_progress")
    ckpt = str(tmp_path / "ckpt")
    write_events(src, EVENTS_BATCH_1, "b1.json")

    writer = ParquetMergeWriter(spark, target, keys=["event_id"])
    stream = jobs.read_event_stream_json(spark, src)
    cleaned = jobs.clean_event_stream(stream, ref_ts=ref_ts())
    q = (
        cleaned.writeStream.foreachBatch(jobs.foreach_batch_upsert(writer))
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    write_events(src, EVENTS_BATCH_2, "b2.json")
    q.processAllAvailable()
    q.stop()

    final = {r.event_id: r for r in spark.read.parquet(target).collect()}
    assert set(final) == {"evt-001", "evt-002", "evt-003", "evt-004"}
    # evt-001 overwritten by batch 2 (upsert on event_id)
    assert final["evt-001"].duration_seconds == 900
    assert float(final["evt-001"].score) == 90.0


def test_simulated_stream_shape(spark):
    stream = jobs.simulated_event_stream(spark, rows_per_second=5)
    assert stream.isStreaming
    assert set(jobs.PROGRESS_EVENT_SCHEMA.fieldNames()) <= set(stream.columns)


def test_count_bounded_stateful_metrics(spark, tmp_path):
    src = str(tmp_path / "events_state")
    write_events(src, EVENTS_BATCH_1, "b1.json")
    stream = jobs.read_event_stream_json(spark, src)
    cleaned = jobs.clean_event_stream(stream, ref_ts=ref_ts())
    metrics = jobs.count_bounded_metrics(cleaned, max_events=1000)
    q = (
        metrics.writeStream.format("memory")
        .queryName("state_sink")
        .outputMode("update")
        .start()
    )
    q.processAllAvailable()
    # second batch updates existing state
    write_events(src, EVENTS_BATCH_2, "b2.json")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM state_sink").collect()
    latest = {}
    for r in rows:  # update mode: last emit per student wins
        latest[r.student_id] = r
    s1 = latest["STU001"]
    # batch1: evt-001 (valid) + evt-003 (invalid); batch2: evt-001b valid
    assert s1["count"] == 3
    assert s1.errors == 1
    assert bool(s1.anomaly) is True  # 1/3 > 0.2
    s2 = latest["STU002"]
    assert (s2["count"], s2.errors) == (1, 1)


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Late-data policy (documented in jobs.py): events older than the
    watermark are dropped. Append-mode windows finalize once the watermark
    passes window end; a subsequent too-late event never re-opens them."""
    src = str(tmp_path / "late_events")

    def ev(eid, sid, ts):
        return {"event_id": eid, "student_id": sid, "course_id": "C1",
                "event_type": "x", "event_timestamp": ts,
                "duration_seconds": "60", "score": "50", "module_id": "M",
                "completion_percentage": "10"}

    # batch 1: two events in the 10:00 5-min window
    write_events(src, [ev("e1", "STU001", "2024-02-01T10:00:30"),
                       ev("e2", "STU001", "2024-02-01T10:02:00")], "b1.json")
    stream = jobs.read_event_stream_json(spark, src)
    cleaned = jobs.clean_event_stream(stream, ref_ts=ref_ts())
    metrics = jobs.windowed_student_metrics(
        cleaned, window_duration="5 minutes", slide="5 minutes", watermark="10 minutes"
    )
    q = (metrics.writeStream.format("memory").queryName("late_sink")
         .outputMode("append").start())
    q.processAllAvailable()
    # batch 2: event far in the future -> advances watermark beyond 10:05
    write_events(src, [ev("e3", "STU002", "2024-02-01T12:00:00")], "b2.json")
    q.processAllAvailable()
    # batch 3: too-late event for the (finalized) 10:00 window
    write_events(src, [ev("e4", "STU001", "2024-02-01T10:01:00")], "b3.json")
    q.processAllAvailable()
    q.stop()

    rows = spark.sql(
        "SELECT * FROM late_sink WHERE student_id = 'STU001'"
    ).collect()
    assert len(rows) == 1  # the 10:00 window emitted exactly once
    assert rows[0]["count"] == 2  # e4 (late) was dropped, not merged


def test_stream_session_windows(spark, tmp_path):
    """Gap-based streaming sessions (session_window): events 2-3 min apart
    coalesce into one session per student; the 10-min-later event opens a
    second session only if beyond the gap (here gap=5 min splits 10:00-03
    from 10:10-11)."""
    src = str(tmp_path / "events")
    write_events(src, EVENTS_BATCH_1 + EVENTS_BATCH_2, "all.json")
    stream = jobs.read_event_stream_json(spark, src)
    cleaned = jobs.clean_event_stream(stream, ref_ts=ref_ts())
    sessions = jobs.session_metrics_stream(cleaned, gap="5 minutes")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_sink")
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM sess_sink").collect()
    by_key = {(r.student_id, str(r.session_start)): r for r in rows}
    # STU001: 10:00 + 10:03 merge (3-min gap < 5), 10:10 is a new session
    s1 = by_key[("STU001", "2024-02-01 10:00:00")]
    assert s1.n_events == 2
    assert str(s1.session_end) == "2024-02-01 10:08:00"  # last event + gap
    s2 = by_key[("STU001", "2024-02-01 10:10:00")]
    assert s2.n_events == 1
    assert s2.avg_score == 90.0


def test_stream_stream_attribution(spark, tmp_path):
    """Stream-stream interval join: completions attribute to same-student
    watches within the preceding 30 min; outside-window and cross-student
    watches do not match."""
    src = str(tmp_path / "events")

    def ev(eid, sid, etype, ts):
        return {"event_id": eid, "student_id": sid, "course_id": "C1",
                "event_type": etype, "event_timestamp": ts,
                "duration_seconds": "60", "score": "50", "module_id": "M",
                "completion_percentage": "10"}

    write_events(src, [
        ev("w1", "STU001", "video_watched", "2024-02-01T10:00:00"),
        ev("w2", "STU001", "video_watched", "2024-02-01T09:00:00"),  # > 30 min before
        ev("w3", "STU002", "video_watched", "2024-02-01T10:05:00"),  # other student
        ev("q1", "STU001", "quiz_completed", "2024-02-01T10:10:00"),
    ], "b1.json")
    stream = jobs.read_event_stream_json(spark, src)
    cleaned = jobs.clean_event_stream(stream, ref_ts=ref_ts())
    watched = cleaned.where("event_type = 'video_watched'")
    completed = cleaned.where("event_type = 'quiz_completed'")
    joined = jobs.stream_stream_attribution(watched, completed)
    q = (
        joined.writeStream.format("memory")
        .queryName("attr_sink")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM attr_sink").collect()
    assert [(r.completion_event_id, r.watch_event_id) for r in rows] == [("q1", "w1")]


def test_stream_static_dim_enrichment(spark, tmp_path):
    src = str(tmp_path / "events_in")
    write_events(src, EVENTS_BATCH_1, "b1.jsonl")
    events = jobs.read_event_stream_json(spark, src)
    cleaned = jobs.clean_event_stream(events, ref_ts=ref_ts())
    dim = spark.createDataFrame(
        [("STU001", "Mumbai", "gold"), ("STU002", "Delhi", "silver")],
        ["student_id", "city", "tier"],
    )
    enriched = jobs.enrich_stream_with_dim(cleaned, dim)
    q = (
        enriched.writeStream.format("memory")
        .queryName("dim_enriched_sink")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = {
        r.event_id: (r.city, r.tier)
        for r in spark.table("dim_enriched_sink").collect()
    }
    # STU001 events decorated; the cleaned stu-2 -> STU002 row matches the
    # dim (shared cleaning normalizes the key before the join)
    assert rows["evt-001"] == ("Mumbai", "gold")
    assert rows["evt-003"] == ("Mumbai", "gold")
    assert rows["evt-002"] == ("Delhi", "silver")


def test_available_now_incremental_runs(spark, tmp_path):
    src = str(tmp_path / "backlog_in")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    write_events(src, EVENTS_BATCH_1, "b1.jsonl")
    events = jobs.read_event_stream_json(spark, src)
    cleaned = jobs.clean_event_stream(events, ref_ts=ref_ts())
    jobs.run_available_now(cleaned, sink, ckpt)
    assert spark.read.parquet(sink).count() == 3
    # second run with no new data: no-op (checkpoint remembers the files)
    jobs.run_available_now(
        jobs.clean_event_stream(
            jobs.read_event_stream_json(spark, src), ref_ts=ref_ts()
        ),
        sink,
        ckpt,
    )
    assert spark.read.parquet(sink).count() == 3
    # new backlog file: only its rows are appended
    write_events(src, EVENTS_BATCH_2, "b2.jsonl")
    jobs.run_available_now(
        jobs.clean_event_stream(
            jobs.read_event_stream_json(spark, src), ref_ts=ref_ts()
        ),
        sink,
        ckpt,
    )
    assert spark.read.parquet(sink).count() == 5


def test_foreach_batch_fanout_three_sinks(spark, tmp_path):
    src = str(tmp_path / "fan_in")
    good_p, dlq_p, alert_p = (
        str(tmp_path / d) for d in ("fan_good", "fan_dlq", "fan_alerts")
    )
    errors = [
        {"event_id": f"err-{i}", "student_id": "STU009", "course_id": "CRS001",
         "event_type": "error_occurred", "event_timestamp": f"2024-02-01T11:0{i}:00",
         "duration_seconds": "10", "score": "50.0", "module_id": "MOD001",
         "completion_percentage": "10.0"}
        for i in range(3)
    ]
    write_events(src, EVENTS_BATCH_1 + errors, "b1.jsonl")
    events = jobs.read_event_stream_json(spark, src)
    cleaned = jobs.clean_event_stream(events, ref_ts=ref_ts())
    q = (
        cleaned.writeStream.foreachBatch(
            jobs.foreach_batch_fanout(good_p, dlq_p, alert_p)
        )
        .option("checkpointLocation", str(tmp_path / "fan_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    good = spark.read.parquet(good_p)
    # evt-002 (capped score) and evt-003 (unparseable score) -> DLQ
    assert good.count() == 4
    assert spark.read.parquet(dlq_p).count() == 2
    alerts = spark.read.parquet(alert_p).collect()
    # STU009 is 100% errors -> alerted; others below threshold
    assert [r.student_id for r in alerts] == ["STU009"]
    assert alerts[0].n_errors == 3


def test_dedup_state_survives_restart(spark, tmp_path):
    """The dedup state store is part of the checkpoint: a NEW query
    started from the same checkpoint must still suppress an event_id
    seen before the restart (exactly-once across restarts, not just
    within one query lifetime)."""
    src = str(tmp_path / "restart_in")
    sink = str(tmp_path / "restart_sink")
    ckpt = str(tmp_path / "restart_ckpt")
    write_events(src, EVENTS_BATCH_1, "b1.jsonl")

    def start_query():
        cleaned = jobs.clean_event_stream(
            jobs.read_event_stream_json(spark, src), ref_ts=ref_ts()
        )
        deduped = jobs.dedup_event_stream(cleaned)
        return (
            deduped.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start_query()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(sink).count() == 3

    # restart: replay evt-001 (dup, different payload) + one new event
    write_events(src, EVENTS_BATCH_2, "b2.jsonl")
    q = start_query()
    q.processAllAvailable()
    q.stop()
    out = spark.read.parquet(sink)
    assert out.count() == 4  # only evt-004 got through
    assert out.where(out.event_id == "evt-001").count() == 1


def test_window_state_keeps_checkpoint_partitions_on_restart(spark, tmp_path):
    """A stateful stream's partition count belongs to its checkpoint: a
    windowed query started under 8 shuffle partitions and restarted
    under 4 (the session default follows the cores) reads and
    updates its 8 state partitions, and its output still equals a batch
    recompute over every file."""
    src = str(tmp_path / "parts_in")
    ckpt = str(tmp_path / "parts_ckpt")
    out: dict[tuple, tuple] = {}

    def sink(df, _batch_id):
        for r in df.collect():
            out[(r.window_start, r.student_id)] = (r["count"], r.duration, r.errors)

    def run_once():
        metrics = jobs.windowed_student_metrics(
            jobs.clean_event_stream(
                jobs.read_event_stream_json(spark, src), ref_ts=ref_ts()
            )
        )
        q = (
            metrics.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "8")
        write_events(src, EVENTS_BATCH_1, "b1.jsonl")
        run_once()
        spark.conf.set(key, "4")
        # evt-005 lands in STU001's open 10:00 windows, so the restart
        # must update state written under 8 partitions, not start afresh
        evt_005 = {**EVENTS_BATCH_1[0], "event_id": "evt-005",
                   "event_timestamp": "2024-02-01T10:04:00"}
        write_events(src, EVENTS_BATCH_2 + [evt_005], "b2.jsonl")
        q = run_once()
    finally:
        spark.conf.set(key, saved)

    state0 = os.path.join(ckpt, "state", "0")
    assert {d for d in os.listdir(state0) if d.isdigit()} == {str(i) for i in range(8)}
    assert {
        op["numShufflePartitions"]
        for p in q.recentProgress for op in p["stateOperators"]
    } == {8}
    batch = jobs.windowed_student_metrics(
        jobs.clean_event_stream(
            spark.read.schema(jobs.PROGRESS_EVENT_SCHEMA).json(src), ref_ts=ref_ts()
        )
    ).collect()
    assert out == {
        (r.window_start, r.student_id): (r["count"], r.duration, r.errors)
        for r in batch
    }


def test_stream_stream_left_outer_emits_unmatched(spark, tmp_path):
    """left_outer interval join: a completion with no qualifying watch is
    emitted with NULL watch columns — but only after the watermark
    passes, which a later batch must advance."""
    watch_dir = str(tmp_path / "so_watch")
    done_dir = str(tmp_path / "so_done")
    # batch 1: a completion with NO prior watch for that student
    write_events(done_dir, [
        {"event_id": "done-1", "student_id": "STU077", "course_id": "C1",
         "event_type": "quiz_completed", "event_timestamp": "2024-02-01T10:00:00",
         "duration_seconds": "60", "score": "90", "module_id": "M1",
         "completion_percentage": "100"}], "b1.jsonl")
    write_events(watch_dir, [
        {"event_id": "watch-x", "student_id": "STU001", "course_id": "C1",
         "event_type": "video_watched", "event_timestamp": "2024-02-01T09:50:00",
         "duration_seconds": "60", "score": "10", "module_id": "M1",
         "completion_percentage": "5"}], "b1.jsonl")

    def cleaned(path):
        return jobs.clean_event_stream(
            jobs.read_event_stream_json(spark, path), ref_ts=ref_ts()
        )

    joined = jobs.stream_stream_attribution(
        cleaned(watch_dir), cleaned(done_dir),
        window="30 minutes", watermark="10 minutes", how="left_outer",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("so_sink")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    # advance the watermark far past done-1's window on BOTH sides
    late = {"event_id": "late", "student_id": "STU099", "course_id": "C1",
            "event_type": "video_watched", "event_timestamp": "2024-02-01T13:00:00",
            "duration_seconds": "1", "score": "1", "module_id": "M1",
            "completion_percentage": "1"}
    write_events(watch_dir, [late], "b2.jsonl")
    write_events(done_dir, [dict(late, event_id="late-d",
                                 event_type="quiz_completed")], "b2.jsonl")
    q.processAllAvailable()
    q.processAllAvailable()
    q.stop()
    rows = {r.completion_event_id: r for r in spark.table("so_sink").collect()}
    assert "done-1" in rows
    assert rows["done-1"].watch_event_id is None  # unmatched, NULL-joined
