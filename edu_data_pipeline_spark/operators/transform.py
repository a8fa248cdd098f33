"""Aggregates & enrichment (reference A1-A10) as DataFrame operators.

Citations map to ``dags/utils/transformations.py`` and
``agents/langgraph_workflow.py``; the stream's A7/A8 metrics live in
``streaming/jobs.py``. Every aggregate is a plain hash aggregate
(map-side partials for free); "now" is injectable for determinism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _days_since(now: Column, ts: Column) -> Column:
    """Python ``(now - ts).days`` — floor of the exact second difference."""
    return F.floor((now.cast("long") - ts.cast("long")) / 86400)


def student_progress_summary(
    progress: DataFrame, now: Column, per_student: bool = True
) -> DataFrame:
    """A1 (transformations.py:60-100): per-student progress rollup.

    The reference DAG invokes this unkeyed over all events (one global
    summary — dags/data_transformation_pipeline.py:50-54); pass
    ``per_student=False`` for that parity variant.
    """
    course_present = F.col("course_id").isNotNull() & (F.col("course_id") != "")
    student_present = F.col("student_id").isNotNull() & (F.col("student_id") != "")
    ts = F.col("event_timestamp")
    aggs = [
        F.count_distinct(F.when(course_present, F.col("course_id"))).alias(
            "total_courses_enrolled"
        ),
        F.count(
            F.when(F.coalesce(F.col("completion_percentage").cast("double"), F.lit(0.0)) >= 100, 1)
        ).alias("total_modules_completed"),
        F.avg(F.col("score").cast("double")).alias("avg_score"),
        (
            F.sum(F.coalesce(F.col("duration_seconds").cast("long"), F.lit(0))) / 3600.0
        ).alias("total_time_spent_hours"),
        F.max(ts).cast("date").alias("last_activity_date"),
        F.count(F.when(_days_since(now, ts) < 7, 1)).alias("activity_count_7_days"),
        F.count(F.when(_days_since(now, ts) < 30, 1)).alias("activity_count_30_days"),
    ]
    if per_student:
        return progress.where(student_present).groupBy("student_id").agg(*aggs)
    return progress.agg(*aggs)


# ---------------------------------------------------------------------------
# AI enrichment (deterministic stubs — agents/langgraph_workflow.py)
# ---------------------------------------------------------------------------


def risk_score(
    recent_activity: Column, completion_rate: Column, payment_status: Column
) -> tuple[Column, Column]:
    """A9 (langgraph_workflow.py:13-25,47-54): additive rule score + bucket.

    +20 no recent activity, +25 completion<30 (null -> 0), +15 payment not
    'completed' (case-insensitive); capped at 100. Bucket thresholds use the
    UNCAPPED score in the reference (risk max is 60 here so it's moot, but
    we bucket the capped value which is identical on the reachable range).
    """
    score = (
        F.when(~F.coalesce(recent_activity, F.lit(True)), 20).otherwise(0)
        + F.when(F.coalesce(completion_rate, F.lit(0.0)) < 30, 25).otherwise(0)
        + F.when(
            F.lower(F.coalesce(payment_status, F.lit(""))) != "completed", 15
        ).otherwise(0)
    )
    capped = F.least(score, F.lit(100))
    bucket = (
        F.when(capped >= 75, "Critical")
        .when(capped >= 50, "High")
        .when(capped >= 25, "Medium")
        .otherwise("Low")
    )
    return capped, bucket


def ticket_sentiment(subject: Column, description: Column) -> tuple[Column, Column, Column]:
    """A10 (langgraph_workflow.py:28-32): substring-'not' sentiment stub.

    Note the substring semantics: "Cannot access" contains "not" and is
    therefore Negative — faithful to the reference.
    """
    text = F.lower(
        F.concat_ws(" ", F.coalesce(subject, F.lit("")), F.coalesce(description, F.lit("")))
    )
    negative = text.contains("not")
    sentiment = F.when(negative, "Negative").otherwise("Neutral")
    score = F.when(negative, F.lit(-0.2)).otherwise(F.lit(0.0))
    category = F.lit("general")
    return sentiment, score, category


def constant_enrichment_stub() -> tuple[Column, Column]:
    """The DAG-level fallback stub (dags/data_transformation_pipeline.py:77-81):
    every student gets ai_risk_score=42.0, ai_risk_category='Medium'."""
    return F.lit(42.0), F.lit("Medium")
