"""Corrupt-record routing, streaming dedup."""

from __future__ import annotations

from edu_data_pipeline_spark.sources import csv_ingest


def test_corrupt_record_routing(spark, tmp_path):
    path = tmp_path / "student_progress.csv"
    path.write_text(
        "event_id,student_id,course_id,event_type,event_timestamp,"
        "duration_seconds,score,module_id,completion_percentage\n"
        "evt-001,STU001,CRS001,video,2024-02-01T10:00:00,600,80,MOD1,50\n"
        'evt-002,"unclosed quote,CRS001,video,2024-02-01T10:00:00,600,80\n'
        "evt-003,STU003,CRS002,quiz,2024-02-01T11:00:00,300,70,MOD2,60\n"
    )
    good, corrupt = csv_ingest.read_with_corrupt_routing(
        spark, str(path), csv_ingest.REQUIRED_COLUMNS["student_progress"]
    )
    assert {r.event_id for r in good.collect()} == {"evt-001", "evt-003"}
    bad = corrupt.collect()
    assert len(bad) == 1 and "unclosed quote" in bad[0].raw_line


def test_streaming_dedup(spark, tmp_path):
    from edu_data_pipeline_spark.streaming import jobs
    from tests.test_streaming import EVENTS_BATCH_1, write_events, ref_ts

    src = str(tmp_path / "ev")
    dup_batch = EVENTS_BATCH_1 + [EVENTS_BATCH_1[0]]  # evt-001 twice
    write_events(src, dup_batch, "b.json")
    stream = jobs.read_event_stream_json(spark, src)
    cleaned = jobs.clean_event_stream(stream, ref_ts=ref_ts())
    deduped = jobs.dedup_event_stream(cleaned)
    q = deduped.writeStream.format("memory").queryName("dedup_sink").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    ids = [r.event_id for r in spark.sql("SELECT event_id FROM dedup_sink").collect()]
    assert sorted(ids) == ["evt-001", "evt-002", "evt-003"]  # duplicate collapsed
