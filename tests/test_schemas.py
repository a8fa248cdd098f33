"""Declared-schema conformance of the live cleaning outputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from edu_data_pipeline_spark import schemas
from edu_data_pipeline_spark.operators import cleaning, warehouse


def test_staging_schemas_conform(spark):
    students_raw = spark.createDataFrame(
        [("STU001", "John Doe", "j@x.com", "9876543210", "1999-05-15", "M",
          "Mumbai", "MH", "2024-01-15", "P1", "100", "paid")],
        ", ".join(f"{c} string" for c in schemas.REQUIRED_COLUMNS["students_enrollment"]),
    )
    stg = cleaning.clean_students(
        students_raw, ref_date=F.lit("2026-08-13").cast("date"), batch_id="b"
    )
    assert schemas.conforms(stg.schema, schemas.STG_STUDENTS) == []

    progress_raw = spark.createDataFrame(
        [("e1", "STU001", "C1", "x", "2024-02-01T10:00:00", "60", "50", "M1", "10")],
        ", ".join(f"{c} string" for c in schemas.REQUIRED_COLUMNS["student_progress"]),
    )
    stg_p = cleaning.clean_progress(
        progress_raw, ref_ts=F.lit("2026-08-13 00:00:00").cast("timestamp"), batch_id="b"
    )
    assert schemas.conforms(stg_p.schema, schemas.STG_PROGRESS) == []

    tickets_raw = spark.createDataFrame(
        [("t1", "STU001", "s", "d", "High", "Open", "Tech", "2024-02-01", "")],
        ", ".join(f"{c} string" for c in schemas.REQUIRED_COLUMNS["support_tickets"]),
    )
    stg_t = cleaning.clean_tickets(
        tickets_raw, ref_date=F.lit("2026-08-13").cast("date"), batch_id="b"
    )
    assert schemas.conforms(stg_t.schema, schemas.STG_TICKETS) == []


def test_dim_date_schema_conforms(spark):
    dim = warehouse.build_dim_date(spark)
    assert schemas.conforms(dim.schema, schemas.DIM_DATE) == []


def test_conforms_reports_problems(spark):
    df = spark.createDataFrame([(1, "x")], "date_key string, extra string")
    problems = schemas.conforms(df.schema, schemas.DIM_DATE)
    assert any("type mismatch date_key" in p for p in problems)
    assert any("missing column: full_date" in p for p in problems)
    assert any("undeclared column: extra" in p for p in problems)
