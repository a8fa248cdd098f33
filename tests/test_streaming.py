"""Structured Streaming tests: shared cleaning, windows, DLQ routing and
the event-stream entry point. Uses JSON file sources with memory,
``foreachBatch`` and warehouse sinks."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from edu_data_pipeline_spark import pipeline
from edu_data_pipeline_spark.operators import cleaning
from edu_data_pipeline_spark.streaming import jobs
from tests.test_pipeline import write_fixture_csvs

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


def _event(eid, student, ts, score="60.0"):
    e = {"event_id": eid, "student_id": student, "course_id": "CRS001",
         "event_type": "quiz_completed", "event_timestamp": ts,
         "duration_seconds": "10", "score": score, "module_id": "MOD001",
         "completion_percentage": "50.0"}
    if eid is None:
        del e["event_id"]
    return e


# Beside the two batches: STU004 only fails validation (anomalous),
# STU005 fails 1 of 5 (rate exactly 0.2, not anomalous), and two identical
# events without an id share their derived id.
EVENTS_EXTRA = (
    [_event("evt-r0", "STU004", "2024-02-01T10:20:00", "bad"),
     _event("evt-r1", "STU004", "2024-02-01T10:20:00", "200.0")]
    + [_event(f"evt-r{2 + i}", "STU005", "2024-02-01T10:20:00",
              "bad" if i == 0 else "60.0") for i in range(5)]
    + [_event(None, "STU006", "2024-02-01T10:21:00")] * 2
)


def write_events(path: str, events: list[dict], name: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def ref_ts():
    return F.lit("2026-08-13 00:00:00").cast("timestamp")


def drain(queries) -> None:
    for q in queries:
        q.processAllAvailable()


def stop(queries) -> None:
    for q in queries:
        q.stop()


def stg_dir(wh: str) -> str:
    return os.path.join(wh, "staging", "stg_progress")


def outputs(spark, wh: str) -> dict[str, list]:
    """The four outputs of ``start_event_stream`` under ``wh``, each as
    its sorted rows."""
    paths = {
        "stg_progress": stg_dir(wh),
        "dlq": os.path.join(wh, "stream", "dlq"),
        "student_metrics": os.path.join(wh, "stream", "student_metrics"),
        "alerts": os.path.join(wh, "stream", "alerts"),
    }
    return {
        name: sorted(spark.read.parquet(path).collect(), key=repr)
        for name, path in paths.items()
    }


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
    """S7: the events query upserts each micro-batch's valid rows into
    stg_progress on event_id, so a later batch's evt-001 replaces the
    first one's."""
    src, wh, ckpt = (str(tmp_path / d) for d in ("events", "wh", "ckpt"))
    write_events(src, EVENTS_BATCH_1, "b1.json")
    queries = jobs.start_event_stream(spark, src, wh, ckpt)
    try:
        drain(queries)
        write_events(src, EVENTS_BATCH_2, "b2.json")
        drain(queries)
    finally:
        stop(queries)

    final = {r.event_id: r for r in spark.read.parquet(stg_dir(wh)).collect()}
    # evt-002 and evt-003 fail validation and go to the DLQ instead
    assert set(final) == {"evt-001", "evt-004"}
    assert final["evt-001"].duration_seconds == 900
    assert float(final["evt-001"].score) == 90.0


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


def test_event_stream_full_run_matches_batch_recompute(spark, tmp_path):
    """One run over every stream fixture: stg_progress holds each valid
    event once with its cleaned values, the DLQ exactly the invalid rows,
    and the metrics and alerts equal a batch recompute of the same files."""
    src, wh, ckpt = (str(tmp_path / d) for d in ("events", "wh", "ckpt"))
    write_events(src, EVENTS_BATCH_1, "b1.json")
    write_events(src, EVENTS_BATCH_2 + EVENTS_EXTRA, "b2.json")
    queries = jobs.start_event_stream(spark, src, wh, ckpt)
    try:
        drain(queries)
    finally:
        stop(queries)
    got = outputs(spark, wh)

    raw = spark.read.schema(jobs.PROGRESS_EVENT_SCHEMA).json(src)
    cleaned = jobs.clean_event_stream(raw).collect()
    latest = {}
    for r in sorted((r for r in cleaned if r.is_valid),
                    key=lambda r: r.event_timestamp):
        latest[r.event_id] = r.asDict()
    for r in latest.values():
        del r["is_valid"]
    stg = {r.event_id: r.asDict() for r in got["stg_progress"]}
    assert len(got["stg_progress"]) == len(stg)  # each event_id once
    assert stg == latest
    assert stg["evt-001"]["duration_seconds"] == 900  # the later evt-001
    ids = [i for i in stg if i.startswith("stream-")]
    assert len(ids) == 1 and len(ids[0]) == len("stream-") + 64
    # the stream writes the batch load's columns, in its order
    assert spark.read.parquet(stg_dir(wh)).columns == cleaning.clean_progress(raw).columns

    dlq = {r.event_id for r in got["dlq"]}
    assert dlq == {r.event_id for r in cleaned if not r.is_valid}
    assert dlq == {"evt-002", "evt-003", "evt-r0", "evt-r1", "evt-r2"}
    assert {r.error for r in got["dlq"]} == {"failed-validation"}

    recompute = jobs.windowed_student_metrics(jobs.clean_event_stream(raw)).collect()
    assert sorted(map(tuple, got["student_metrics"]), key=repr) == sorted(
        map(tuple, recompute), key=repr
    )
    alerts = sorted((tuple(r)[:-1] for r in got["alerts"]), key=repr)  # drop batch_id
    assert alerts == sorted((tuple(r) for r in recompute if r.anomaly), key=repr)
    assert {r.student_id for r in got["alerts"]} == {"STU001", "STU002", "STU004"}


def test_event_stream_restart_matches_uninterrupted_run(spark, tmp_path):
    """Stopping after the first file and restarting from the same
    checkpoints leaves all four outputs as one uninterrupted run fed the
    same files leaves them; evt-001, seen before the restart, is still
    held once."""

    def run(name: str, restart: bool) -> dict[str, list]:
        src, wh, ckpt = (str(tmp_path / name / d) for d in ("events", "wh", "ckpt"))
        write_events(src, EVENTS_BATCH_1, "b1.json")
        queries = jobs.start_event_stream(spark, src, wh, ckpt)
        try:
            drain(queries)
            if restart:
                stop(queries)
                queries = jobs.start_event_stream(spark, src, wh, ckpt)
            write_events(src, EVENTS_BATCH_2 + EVENTS_EXTRA, "b2.json")
            drain(queries)
        finally:
            stop(queries)
        return outputs(spark, wh)

    restarted = run("restarted", restart=True)
    assert restarted == run("uninterrupted", restart=False)
    assert [r.event_id for r in restarted["stg_progress"]].count("evt-001") == 1


def test_event_stream_replayed_batch_changes_nothing(spark, tmp_path):
    """foreachBatch is at-least-once: a micro-batch whose sinks were
    written but whose commit was lost runs again on restart. The replay
    must leave every output as it was, id-less events included."""
    src, wh, ckpt = (str(tmp_path / d) for d in ("events", "wh", "ckpt"))
    write_events(src, EVENTS_BATCH_1 + EVENTS_EXTRA, "b1.json")
    queries = jobs.start_event_stream(spark, src, wh, ckpt)
    try:
        drain(queries)
    finally:
        stop(queries)
    before = outputs(spark, wh)

    last = {}
    for name in ("events", "metrics"):  # lose each query's last commit
        commits = os.path.join(ckpt, name, "commits")
        last[name] = max(int(f) for f in os.listdir(commits) if f.isdigit())
        for f in (str(last[name]), f".{last[name]}.crc"):
            os.remove(os.path.join(commits, f))
    queries = jobs.start_event_stream(spark, src, wh, ckpt)
    try:
        drain(queries)
    finally:
        stop(queries)
    for q, name in zip(queries, ("events", "metrics")):
        assert last[name] in {p["batchId"] for p in q.recentProgress}
    assert queries[0].recentProgress[0]["numInputRows"] == len(EVENTS_BATCH_1 + EVENTS_EXTRA)
    assert outputs(spark, wh) == before


@pytest.mark.parametrize("stream_first", [False, True], ids=["batch_first", "stream_first"])
def test_batch_load_and_event_stream_share_stg_progress(spark, tmp_path, stream_first):
    """The batch load and the stream merge into the one stg_progress in
    either order; the later writer's evt-001 and evt-004 win."""
    input_dir, src, wh, ckpt = (
        str(tmp_path / d) for d in ("input", "events", "wh", "ckpt")
    )
    write_fixture_csvs(input_dir)
    write_events(src, EVENTS_BATCH_1 + EVENTS_BATCH_2, "b1.json")

    def stream():
        queries = jobs.start_event_stream(spark, src, wh, ckpt)
        try:
            drain(queries)
        finally:
            stop(queries)

    if stream_first:
        stream()
    counts = pipeline.run_batch_pipeline(spark, input_dir, wh)
    if not stream_first:
        stream()
    stg = {r.event_id: r for r in spark.read.parquet(stg_dir(wh)).collect()}
    # the batch's 50 events already include evt-001 and evt-004
    assert len(stg) == counts["staging.stg_progress"] == 50
    stream_won = stg["evt-004"].duration_seconds == 100
    assert stream_won is not stream_first
    assert (stg["evt-001"].duration_seconds == 900) is not stream_first
