"""Staging-layer pipeline tests: fused cleaning, city-master match, dedup."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from edu_data_pipeline_spark.operators import cleaning

STUDENT_COLS = (
    "student_id full_name email phone dob gender city state enrollment_date "
    "program_id fee_paid payment_status"
)
STUDENT_SCHEMA = ", ".join(f"{c} string" for c in STUDENT_COLS.split())


def ref_date():
    return F.lit("2026-08-13").cast("date")


def make_students(spark):
    rows = [
        # clean row
        ("STU001", "JOHN DOE", "John@Example.com", "9876543210", "1999-05-15",
         "Male", "Mumbai", "Maharashtra", "2024-01-15", "PROG001", "50000", "Paid"),
        # duplicate key of the first row (dirty variant)
        ("stu-001", "john doe", "john2@example.com", "9876543299", "1999-05-15",
         "M", "mumbai", "maharashtra", "2024-01-16", "prog001", "50,000", "PAID"),
        # typo city fixed by corrections dict
        ("STU002", "jane smith", "jane@email", "+91-9876543211", "15/05/1999",
         "F", "Mumabi", "MH", "15-Jan-2024", "PROG002", "₹50000", "pending"),
        # fuzzy city (Mumbay ~ Mumbai = 5/6 ≈ 0.83)
        ("STU003", "  Bob  Wilson  ", "bob@co.in", "98765-43212", "May 15, 1999",
         "female", "Mumbay", "Karnataka", "18-Jan-24", "", "-100", "partial"),
        # unmatched city + bad everything
        ("nodigits", "123", "x@y", "123", "1940-01-01",
         "x", "Bhopal", None, "2030-01-01", None, "", None),
    ]
    return spark.createDataFrame(rows, STUDENT_SCHEMA)


def test_clean_students_golden(spark):
    out = cleaning.clean_students(make_students(spark), ref_date=ref_date())
    rows = {r.full_name: r for r in out.collect()}
    assert out.count() == 5

    r1 = rows["John Doe"]
    assert r1.student_id == "STU001"
    assert r1.is_duplicate is True  # every copy flagged, including the first
    assert r1.quality_score == 100
    assert r1.city == "Mumbai"

    r2 = rows["Jane Smith"]
    assert r2.city == "Mumbai"  # corrections dict
    assert r2.email is None and r2.is_email_valid is False
    assert r2.enrollment_date is None  # 15-Jan-2024 unparseable (reference)
    assert r2.dob == datetime.date(1999, 5, 15)
    assert float(r2.fee_paid) == 50000.0
    assert r2.quality_score == 80  # bad email + bad enrollment date

    r3 = rows["Bob Wilson"]
    assert r3.city == "Mumbai"  # fuzzy 0.83 >= 0.8
    assert r3.gender == "Female"
    assert r3.enrollment_date == datetime.date(2024, 1, 18)
    assert float(r3.fee_paid) == 100.0  # abs() of negative, flagged
    assert r3.payment_status == "Partial"
    assert r3.quality_score == 90  # only fee flag invalid

    r4 = rows[None]  # name "123" -> empty -> None
    assert r4.student_id is None
    assert r4.city == "Bhopal"  # kept, unmatched
    assert r4.quality_score == 0  # floor (>=10 invalid flags)
    assert r4.is_duplicate is False


def test_city_fuzzy_note(spark):
    df = spark.createDataFrame(
        [("Mumbay",), ("Mumbai",), ("Bhopal",), (None,)], "city string"
    )
    out = cleaning.with_city_cleaned(df, "city").select(
        "city_value", "city_valid", "city_note"
    )
    got = {(r.city_value, r.city_valid, r.city_note) for r in out.collect()}
    assert ("Mumbai", True, "fuzzy-0.83") in got
    assert ("Mumbai", True, "matched") in got
    assert ("Bhopal", False, "unmatched") in got
    assert (None, False, "missing") in got


def test_dedup_last_wins(spark):
    df = spark.createDataFrame(
        [("K1", 1, "a"), ("K1", 2, "b"), ("K2", 1, "c")],
        "key string, seq int, payload string",
    )
    out = cleaning.dedup_last_wins(df, "key", "seq")
    got = {(r.key, r.payload) for r in out.collect()}
    assert got == {("K1", "b"), ("K2", "c")}


def test_clean_progress_and_tickets(spark):
    progress = spark.createDataFrame(
        [
            ("evt-001", "STU001", "CRS001", "video_watched",
             "2024-02-01T10:30:00Z", "480", "85.5", "MOD001", "50.0"),
            ("evt-001", "STU001", "CRS001", "video_watched",
             "2024-02-01T10:30:00Z", "480", "85.5", "MOD001", "50.0"),
            ("evt-022", "STU002", "CRS002", "quiz_completed",
             "2024-02-02 11:00:00", "NULL", "150.0", "MOD002", "100.0"),
            ("evt-041", "stu3", "CRS003", "quiz_completed",
             "2030-12-01T10:00:00Z", "600", "NULL", "MOD003", "10.0"),
        ],
        "event_id string, student_id string, course_id string, event_type string, "
        "event_timestamp string, duration_seconds string, score string, "
        "module_id string, completion_percentage string",
    )
    out = cleaning.clean_progress(progress, ref_ts=F.lit("2026-08-13").cast("timestamp"))
    rows = {r.event_id: r for r in out.collect()}
    dup_rows = [r for r in out.collect() if r.event_id == "evt-001"]
    assert all(r.is_duplicate for r in dup_rows) and len(dup_rows) == 2
    e22 = rows["evt-022"]
    assert float(e22.score) == 100.0 and e22.is_score_valid is False  # capped
    assert e22.duration_seconds is None  # literal "NULL"
    assert float(e22.completion_percentage) == 100.0
    assert e22.quality_score == 80  # score + duration invalid
    e41 = rows["evt-041"]
    assert e41.event_timestamp is None and e41.is_timestamp_valid is False  # future
    assert e41.student_id == "STU003"
    assert e41.score is None
    assert e41.quality_score == 80  # score + timestamp invalid

    tickets = spark.createDataFrame(
        [
            ("TKT001", "STU001", "Cannot access course", "It does not load",
             "High", "Open", "Technical", "2024-02-01", ""),
            ("TKT002", "stu-002", "Refund", "Please refund",
             "Low", "Resolved", "Payment", "2024-02-02", "2024-02-05"),
        ],
        "ticket_id string, student_id string, subject string, description string, "
        "priority string, status string, category string, created_date string, "
        "resolved_date string",
    )
    tout = cleaning.clean_tickets(tickets, ref_date=ref_date())
    trows = {r.ticket_id: r for r in tout.collect()}
    assert trows["TKT001"].resolved_date is None
    assert trows["TKT001"].quality_score == 90  # open ticket: resolved flag invalid
    assert trows["TKT002"].quality_score == 100
    assert trows["TKT002"].student_id == "STU002"
