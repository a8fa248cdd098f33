"""normalize_city is a PUBLIC rules helper (ADVICE r14): it must work on
a raw ANSI-on Spark-4 session, where plain element_at(map, key) throws
MAP_KEY_DOES_NOT_EXIST for any city not in CITY_CORRECTIONS — the
common case. try_element_at is NULL-on-miss under both ANSI settings.
Also pins the correction-map invariant (VERDICT r14 "what's wrong" #6):
the map lookup is single-step, so no correction VALUE may be another
entry's KEY (the old when-chain cascaded; the map must stay collapsed).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from edu_data_pipeline_spark.functions import rules


def test_normalize_city_under_ansi(spark):
    saved = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        df = spark.createDataFrame(
            [("Mumabi",), ("banglore",), ("  pune ",), ("Unknownville",), (None,)],
            ["city"],
        ).select(rules.normalize_city("city").alias("c"))
        got = [r.c for r in df.collect()]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", saved)
    assert got == ["Mumbai", "Bangalore", "Pune", "Unknownville", None]


def test_city_corrections_never_cascade():
    for k, v in rules.CITY_CORRECTIONS.items():
        assert v == k or v not in rules.CITY_CORRECTIONS, (
            f"correction {k!r} -> {v!r} cascades; normalize_city's map "
            "lookup is single-step — collapse the chain"
        )


def test_cleaning_is_the_same_under_ansi(spark, tmp_path):
    """The shared cleaning returns the same rows with ANSI on as with it
    off: the stream cleaning over the dirty stream fixtures, and the
    students, progress and tickets cleaning over the FIXTURES.md-shaped
    corpus. An unparseable number must become a flag, not an error."""
    from edu_data_pipeline_spark.operators import cleaning
    from edu_data_pipeline_spark.sources import csv_ingest
    from edu_data_pipeline_spark.streaming import jobs
    from tests.test_cleaning import make_students
    from tests.test_pipeline import write_fixture_csvs
    from tests.test_streaming import (
        EVENTS_BATCH_1, EVENTS_BATCH_2, EVENTS_EXTRA, write_events,
    )

    src, input_dir = str(tmp_path / "events"), str(tmp_path / "input")
    write_events(src, EVENTS_BATCH_1 + EVENTS_BATCH_2 + EVENTS_EXTRA, "b1.json")
    write_fixture_csvs(input_dir)
    ref_date = F.lit("2026-08-13").cast("date")
    ref_ts = F.lit("2026-08-13 00:00:00").cast("timestamp")

    def raw(name):
        return csv_ingest.read_raw_csv(
            spark, f"{input_dir}/{name}.csv",
            csv_ingest.REQUIRED_COLUMNS[name],
        )

    cleaned = {
        "stream": lambda: jobs.clean_event_stream(
            spark.read.schema(jobs.PROGRESS_EVENT_SCHEMA).json(src), ref_ts=ref_ts
        ),
        "students": lambda: cleaning.clean_students(
            raw("students_enrollment").unionByName(make_students(spark)),
            ref_date=ref_date,
        ),
        "progress": lambda: cleaning.clean_progress(
            raw("student_progress"), ref_ts=ref_ts
        ),
        "tickets": lambda: cleaning.clean_tickets(
            raw("support_tickets"), ref_date=ref_date
        ),
    }

    def run(ansi: str) -> dict[str, list]:
        saved = spark.conf.get("spark.sql.ansi.enabled")
        try:
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            return {
                name: sorted(build().collect(), key=repr)
                for name, build in cleaned.items()
            }
        finally:
            spark.conf.set("spark.sql.ansi.enabled", saved)

    off = run("false")
    assert all(off.values())
    on = run("true")
    for name in cleaned:
        assert on[name] == off[name], name


def test_number_too_large_for_staging_type_is_null_and_flagged(spark):
    """A number that does not fit its staging column (duration_seconds
    int, fee_paid decimal(15,2)) becomes NULL and fails its rule, so the
    row's quality score drops — the same rows with ANSI on and off. A
    plain cast raised CAST_OVERFLOW with ANSI on and saturated the int
    to 2147483647 with it off."""
    from edu_data_pipeline_spark.operators import cleaning
    from edu_data_pipeline_spark.sources import csv_ingest
    from tests.test_cleaning import STUDENT_SCHEMA

    cols = csv_ingest.REQUIRED_COLUMNS["student_progress"]
    progress = {
        size: spark.createDataFrame(
            [("E1", "STU001", "C1", "quiz", "2024-01-15 10:00:00", size,
              "80", "M1", "50")],
            ", ".join(f"{c} string" for c in cols),
        )
        for size in ("99999999999", "120")
    }
    student = {
        fee: spark.createDataFrame(
            [("STU001", "John Doe", "john@example.com", "9876543210",
              "1999-05-15", "Male", "Mumbai", "Maharashtra", "2024-01-15",
              "PROG001", fee, "Paid")],
            STUDENT_SCHEMA,
        )
        for fee in ("99999999999999999", "50000")
    }
    ref_date = F.lit("2026-08-13").cast("date")
    ref_ts = F.lit("2026-08-13 00:00:00").cast("timestamp")

    def run(ansi: str) -> dict:
        saved = spark.conf.get("spark.sql.ansi.enabled")
        try:
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            out = {}
            for size, raw in progress.items():
                (r,) = cleaning.clean_progress(raw, ref_ts=ref_ts).collect()
                out[size] = (r.duration_seconds, r.quality_score)
            for fee, raw in student.items():
                (r,) = cleaning.clean_students(raw, ref_date=ref_date).collect()
                out[fee] = (r.fee_paid, r.quality_score, r.cleaning_notes)
            return out
        finally:
            spark.conf.set("spark.sql.ansi.enabled", saved)

    off = run("false")
    assert run("true") == off
    assert off["99999999999"][0] is None
    assert off["120"][0] == 120
    assert off["99999999999"][1] < off["120"][1]
    assert off["99999999999999999"][0] is None
    assert float(off["50000"][0]) == 50000.0
    assert off["99999999999999999"][1] < off["50000"][1]
    assert '"fee_paid":"overflow"' in off["99999999999999999"][2]
