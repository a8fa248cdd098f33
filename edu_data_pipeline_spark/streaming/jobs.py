"""Structured Streaming jobs (reference kafka/streaming.py + docx Part 2).

This module is the EduFlow event path and nothing else. Its entry point,
``start_event_stream``, runs the reference's one-consumer, four-output
topology (SURVEY §3 E3b) as two queries on one cleaned source:

- the events query upserts the valid events into ``staging.stg_progress``
  (S7) and writes the invalid ones to a DLQ (S8);
- the metrics query keeps the per-student sliding windows with their
  anomaly flag (A7/A8), upserts them into ``stream/student_metrics`` and
  writes the anomalous rows to an alerts sink (S9).

The parts it is built from are public: the JSON file source
(``read_event_stream_json``), the shared cleaning
(``clean_event_stream``), the DLQ split (``route_streams``) and the
windows (``windowed_student_metrics``). It imports no query registry
(``suite``) code; ``tests/test_module_reachability.py`` checks that.
Key wins over the reference:

- The SAME Column expressions clean batch and stream (the reference
  duplicates cleaning logic between operators and the Kafka consumer),
  and the stream upserts into the batch load's own table.
- The count-bounded "window" placeholder (kafka/streaming.py:72-75)
  becomes real event-time sliding windows with a watermark — the
  docx-specified 1-min/5-min windows.
- Late-data policy (the reference has none): events later than the
  watermark are dropped by Spark; the watermark is a parameter of
  ``windowed_student_metrics``.

Scale: window state is keyed by (window, student_id) in the state store,
with no driver-side dicts; both upserts go through the batch load's
merge writer.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..operators.cleaning import clean_progress
from ..operators.warehouse import ParquetMergeWriter

PROGRESS_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.StringType()),
        T.StructField("student_id", T.StringType()),
        T.StructField("course_id", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_timestamp", T.StringType()),
        T.StructField("duration_seconds", T.StringType()),
        T.StructField("score", T.StringType()),
        T.StructField("module_id", T.StringType()),
        T.StructField("completion_percentage", T.StringType()),
    ]
)


def read_event_stream_json(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """S6-equivalent file-replay source: JSON event files appear in a dir
    (the test/dev stand-in for the Kafka topic ``raw.student.events``)."""
    return (
        spark.readStream.schema(PROGRESS_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def clean_event_stream(events: DataFrame, ref_ts: Column | None = None) -> DataFrame:
    """Shared-rules cleaning on the stream (S7's cleaning half).

    Identical Column expressions to the batch staging job — the design win
    SURVEY §2.8 calls out. ``is_valid`` mirrors the reference's per-event
    flag (score parse failure -> invalid, kafka/streaming.py:119-127).
    """
    # default a missing event id like the reference's streaming writer
    # (event_id or f"stream-{uuid4()}" — kafka/streaming.py:176), but
    # derived from the event itself, so a replayed micro-batch gets the
    # same ids. Two identical id-less events therefore share one id and
    # the keyed upsert keeps one row of them.
    raw = F.to_json(F.struct(*[F.col(c) for c in events.columns]))
    with_ids = events.withColumn(
        "event_id",
        F.coalesce(F.col("event_id"), F.concat(F.lit("stream-"), F.sha2(raw, 256))),
    )
    cleaned = clean_progress(with_ids, ref_ts=ref_ts, mark_dupes=False)
    return cleaned.withColumn(
        "is_valid",
        F.col("is_score_valid") & F.col("is_timestamp_valid") & F.col("is_student_valid"),
    )


def route_streams(cleaned: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split into (good, dlq): the DLQ carries rows whose cleaning failed
    (reference: per-event exception -> dlq topic, kafka/streaming.py:112-114)."""
    dlq = cleaned.where(~F.col("is_valid")).withColumn(
        "error", F.lit("failed-validation")
    )
    good = cleaned.where(F.col("is_valid"))
    return good, dlq


def windowed_student_metrics(
    cleaned: DataFrame,
    window_duration: str = "5 minutes",
    slide: str | None = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """A7 as real event-time windows (docx 1-min/5-min spec): per-student
    sliding-window count/duration/errors + A8 anomaly flag."""
    win = (
        F.window("event_timestamp", window_duration, slide)
        if slide
        else F.window("event_timestamp", window_duration)
    )
    agg = (
        cleaned.withWatermark("event_timestamp", watermark)
        .groupBy(win.alias("win"), F.col("student_id"))
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.sum(F.coalesce(F.col("duration_seconds"), F.lit(0))).alias("duration"),
            F.sum((~F.col("is_valid")).cast("int")).alias("errors"),
            F.avg("score").alias("avg_score"),
        )
    )
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        "student_id",
        "count",
        "duration",
        "errors",
        "avg_score",
        ((F.col("errors") / F.greatest(F.col("count"), F.lit(1))) > 0.2).alias("anomaly"),
    )


def active_students_window(
    cleaned: DataFrame,
    window_duration: str = "5 minutes",
    slide: str | None = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Docx "active students in the last 5 minutes": a global sliding
    window counting distinct students. Streaming aggregation cannot do an
    exact COUNT(DISTINCT) incrementally, so this uses the HLL sketch
    (approx_count_distinct, default rsd 5%) — the standard scale answer;
    the batch twin (daily_metrics) keeps the exact count for parity."""
    win = (
        F.window("event_timestamp", window_duration, slide)
        if slide
        else F.window("event_timestamp", window_duration)
    )
    return (
        cleaned.withWatermark("event_timestamp", watermark)
        .groupBy(win.alias("win"))
        .agg(
            F.approx_count_distinct("student_id").alias("active_students"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "active_students",
            "n_events",
        )
    )


def start_event_stream(
    spark: SparkSession, source_dir: str, warehouse_dir: str, checkpoint_dir: str
) -> list[StreamingQuery]:
    """Start the event stream (SURVEY §3 E3b) on the JSON files in
    ``source_dir`` and return its two running queries.

    A stateful window cannot run inside ``foreachBatch``, so the topology
    is two queries on the one cleaned source, each with its own checkpoint
    under ``checkpoint_dir``:

    - ``events``: each micro-batch is persisted once; its valid rows are
      upserted on ``event_id`` into ``<warehouse_dir>/staging/stg_progress``
      (S7) with the batch load's columns, so batch loads and the stream
      merge into the one table in either order; its invalid rows, with
      their ``error``, overwrite ``<warehouse_dir>/stream/dlq/batch_id=N``
      (S8).
    - ``metrics``: ``windowed_student_metrics`` in update mode; each
      micro-batch upserts its updated rows on (``window_start``,
      ``student_id``) into ``<warehouse_dir>/stream/student_metrics`` (A7)
      and writes the rows whose ``anomaly`` flag is set (A8:
      ``errors / count > 0.2``) to ``<warehouse_dir>/stream/alerts/batch_id=N``
      (S9). An alert is one emission: a window still anomalous after a
      later micro-batch updates it is alerted again, with its new figures.

    ``foreachBatch`` is at-least-once. Every write is keyed or per batch
    id, and the cleaning's default event id is derived from the event, so
    a replayed micro-batch leaves every output as it was.
    """
    cleaned = clean_event_stream(read_event_stream_json(spark, source_dir))
    stg_progress = ParquetMergeWriter(
        spark, os.path.join(warehouse_dir, "staging", "stg_progress"), ["event_id"]
    )
    student_metrics = ParquetMergeWriter(
        spark, os.path.join(warehouse_dir, "stream", "student_metrics"),
        ["window_start", "student_id"],
    )

    def per_batch(sink: str, batch_id: int) -> str:
        return os.path.join(warehouse_dir, "stream", sink, f"batch_id={batch_id}")

    def write_events(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            good, dlq = route_streams(batch)
            stg_progress.merge(good.drop("is_valid"), order_col="event_timestamp")
            dlq.write.mode("overwrite").parquet(per_batch("dlq", batch_id))
        finally:
            batch.unpersist()

    def write_metrics(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            student_metrics.merge(batch)
            alerts = batch.where(F.col("anomaly"))
            alerts.write.mode("overwrite").parquet(per_batch("alerts", batch_id))
        finally:
            batch.unpersist()

    def start(frame: DataFrame, write, name: str, mode: str) -> StreamingQuery:
        return (
            frame.writeStream.foreachBatch(write)
            .outputMode(mode)
            .option("checkpointLocation", os.path.join(checkpoint_dir, name))
            .start()
        )

    events = start(cleaned, write_events, "events", "append")
    try:
        metrics = start(windowed_student_metrics(cleaned), write_metrics, "metrics", "update")
    except BaseException:
        events.stop()  # leave no half-started topology running
        raise
    return [events, metrics]
