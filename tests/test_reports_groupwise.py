"""Summary report formatting."""

from __future__ import annotations

from pyspark.sql import functions as F

from edu_data_pipeline_spark.operators import reports


def test_summary_report(spark):
    counts = {"staging.stg_students": 30, "warehouse.dim_date": 2557}
    quality = spark.createDataFrame(
        [(30,)], "total int"
    ).select(
        F.lit(5).alias("records_with_issues"),
        F.col("total").alias("total_records"),
        F.lit(93.33333).alias("avg_quality_score"),
    )
    insights = spark.createDataFrame(
        [("High Risk Students", 2, "risk > 70")],
        "metric_name string, metric_value long, description string",
    )
    md = reports.summary_report(counts, quality, insights)
    assert "| staging.stg_students | 30 |" in md
    assert "average quality score: 93.33" in md
    assert "- High Risk Students: 2 (risk > 70)" in md
    assert "Remediate invalid emails" in md
