"""observe() metrics, quality log, fuzzy duplicates."""

from __future__ import annotations

from pyspark.sql import functions as F

from edu_data_pipeline_spark.operators import cleaning, metrics


def test_observe_cleaning_metrics(spark):
    df = spark.createDataFrame(
        [(100, False), (80, True), (90, False), (100, True)],
        "quality_score int, is_duplicate boolean",
    )
    obs = metrics.observe_cleaning(df)
    obs.df.write.format("noop").mode("overwrite").save()  # action triggers metrics
    m = obs.metrics
    assert m["records_total"] == 4
    assert m["records_flagged"] == 2
    assert m["avg_quality_score"] == 92.5
    assert m["duplicate_rate"] == 0.5


def test_quality_log_population(spark):
    raw = spark.createDataFrame(
        [("STU001", "JOHN DOE", "bad@email", "123", "1999-05-15", "Male",
          "Mumbai", "MH", "2024-01-15", "P1", "100", "paid")],
        "student_id string, full_name string, email string, phone string, dob string, "
        "gender string, city string, state string, enrollment_date string, "
        "program_id string, fee_paid string, payment_status string",
    )
    stg = cleaning.clean_students(raw, ref_date=F.lit("2026-08-13").cast("date"),
                                  batch_id="b1")
    log = cleaning.quality_log(stg, "stg_students", "student_id")
    rows = {r.rule_applied: r for r in log.collect()}
    assert len(rows) == 10  # one row per rule
    assert rows["email"].is_valid is False
    assert rows["email"].error_message == "invalid-format"
    assert rows["phone"].is_valid is False
    assert rows["student_id"].is_valid is True
    assert rows["student_id"].error_message is None
    assert rows["dob"].is_valid is True  # note is the matched format string
    assert rows["city"].is_valid is True


def test_fuzzy_duplicates(spark):
    df = spark.createDataFrame(
        [
            ("A", "a@x.com", "John Doe", "+91-1"),
            ("B", "a@x.com", "Jane Roe", "+91-2"),  # same email as A
            ("C", None, "Sam Poe", "+91-3"),
            ("D", "d@x.com", "Sam Poe", "+91-3"),  # same name+phone as C
            ("E", None, "Solo Person", "+91-5"),
        ],
        "student_id string, email string, full_name string, phone string",
    )
    out = {r.student_id: r for r in cleaning.fuzzy_duplicates(df).collect()}
    assert out["A"].is_email_dup and out["B"].is_email_dup
    assert out["C"].is_name_phone_dup and out["D"].is_name_phone_dup
    assert not out["C"].is_email_dup  # NULL emails never match each other
    assert out["E"].is_fuzzy_duplicate is False

