"""Streaming dedup."""

from __future__ import annotations


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
