"""Declared-schema conformance of the live cleaning outputs.

The declared schemas mirror the reference DDL (``init_db/init_schema.sql``;
SURVEY §1.2 type mapping: VARCHAR -> string, DATE -> date, TIMESTAMPTZ ->
timestamp with a UTC session, DECIMAL kept exact).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from edu_data_pipeline_spark.operators import cleaning, warehouse
from edu_data_pipeline_spark.sources.csv_ingest import REQUIRED_COLUMNS

STG_STUDENTS = T.StructType(
    [
        T.StructField("student_id", T.StringType()),
        T.StructField("first_name", T.StringType()),
        T.StructField("last_name", T.StringType()),
        T.StructField("full_name", T.StringType()),
        T.StructField("email", T.StringType()),
        T.StructField("phone", T.StringType()),
        T.StructField("dob", T.DateType()),
        T.StructField("gender", T.StringType()),
        T.StructField("city", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("enrollment_date", T.DateType()),
        T.StructField("program_id", T.StringType()),
        T.StructField("fee_paid", T.DecimalType(15, 2)),
        T.StructField("payment_status", T.StringType()),
        T.StructField("is_email_valid", T.BooleanType()),
        T.StructField("is_phone_valid", T.BooleanType()),
        T.StructField("is_date_valid", T.BooleanType()),
        T.StructField("quality_score", T.IntegerType()),
        T.StructField("cleaning_notes", T.StringType()),
        T.StructField("batch_id", T.StringType()),
        T.StructField("is_duplicate", T.BooleanType()),
    ]
)

STG_PROGRESS = T.StructType(
    [
        T.StructField("event_id", T.StringType()),
        T.StructField("student_id", T.StringType()),
        T.StructField("course_id", T.StringType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_timestamp", T.TimestampType()),
        T.StructField("duration_seconds", T.IntegerType()),
        T.StructField("score", T.DecimalType(5, 2)),
        T.StructField("module_id", T.StringType()),
        T.StructField("completion_percentage", T.DecimalType(5, 2)),
        T.StructField("is_student_valid", T.BooleanType()),
        T.StructField("is_timestamp_valid", T.BooleanType()),
        T.StructField("is_score_valid", T.BooleanType()),
        T.StructField("quality_score", T.IntegerType()),
        T.StructField("batch_id", T.StringType()),
        T.StructField("is_duplicate", T.BooleanType()),
    ]
)

STG_TICKETS = T.StructType(
    [
        T.StructField("ticket_id", T.StringType()),
        T.StructField("student_id", T.StringType()),
        T.StructField("subject", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("priority", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("category", T.StringType()),
        T.StructField("created_date", T.DateType()),
        T.StructField("resolved_date", T.DateType()),
        T.StructField("is_student_valid", T.BooleanType()),
        T.StructField("quality_score", T.IntegerType()),
        T.StructField("batch_id", T.StringType()),
    ]
)

DIM_DATE = T.StructType(
    [
        T.StructField("date_key", T.IntegerType()),
        T.StructField("full_date", T.DateType()),
        T.StructField("day_of_week", T.IntegerType()),
        T.StructField("day_name", T.StringType()),
        T.StructField("day_of_month", T.IntegerType()),
        T.StructField("week_of_year", T.IntegerType()),
        T.StructField("month_number", T.IntegerType()),
        T.StructField("month_name", T.StringType()),
        T.StructField("quarter", T.IntegerType()),
        T.StructField("year", T.IntegerType()),
        T.StructField("is_weekend", T.BooleanType()),
    ]
)


def conforms(df_schema: T.StructType, declared: T.StructType) -> list[str]:
    """Name+type conformance report (empty = conforms). Ordering is not
    significant; extra columns in the frame are reported."""
    problems = []
    declared_map = {f.name: f.dataType for f in declared.fields}
    actual_map = {f.name: f.dataType for f in df_schema.fields}
    for name, dtype in declared_map.items():
        if name not in actual_map:
            problems.append(f"missing column: {name}")
        elif actual_map[name].simpleString() != dtype.simpleString():
            problems.append(
                f"type mismatch {name}: {actual_map[name].simpleString()} "
                f"!= {dtype.simpleString()}"
            )
    for name in actual_map:
        if name not in declared_map:
            problems.append(f"undeclared column: {name}")
    return problems


def test_staging_schemas_conform(spark):
    students_raw = spark.createDataFrame(
        [("STU001", "John Doe", "j@x.com", "9876543210", "1999-05-15", "M",
          "Mumbai", "MH", "2024-01-15", "P1", "100", "paid")],
        ", ".join(f"{c} string" for c in REQUIRED_COLUMNS["students_enrollment"]),
    )
    stg = cleaning.clean_students(
        students_raw, ref_date=F.lit("2026-08-13").cast("date"), batch_id="b"
    )
    assert conforms(stg.schema, STG_STUDENTS) == []

    progress_raw = spark.createDataFrame(
        [("e1", "STU001", "C1", "x", "2024-02-01T10:00:00", "60", "50", "M1", "10")],
        ", ".join(f"{c} string" for c in REQUIRED_COLUMNS["student_progress"]),
    )
    stg_p = cleaning.clean_progress(
        progress_raw, ref_ts=F.lit("2026-08-13 00:00:00").cast("timestamp"), batch_id="b"
    )
    assert conforms(stg_p.schema, STG_PROGRESS) == []

    tickets_raw = spark.createDataFrame(
        [("t1", "STU001", "s", "d", "High", "Open", "Tech", "2024-02-01", "")],
        ", ".join(f"{c} string" for c in REQUIRED_COLUMNS["support_tickets"]),
    )
    stg_t = cleaning.clean_tickets(
        tickets_raw, ref_date=F.lit("2026-08-13").cast("date"), batch_id="b"
    )
    assert conforms(stg_t.schema, STG_TICKETS) == []


def test_dim_date_schema_conforms(spark):
    dim = warehouse.build_dim_date(spark)
    assert conforms(dim.schema, DIM_DATE) == []


def test_conforms_reports_problems(spark):
    df = spark.createDataFrame([(1, "x")], "date_key string, extra string")
    problems = conforms(df.schema, DIM_DATE)
    assert any("type mismatch date_key" in p for p in problems)
    assert any("missing column: full_date" in p for p in problems)
    assert any("undeclared column: extra" in p for p in problems)
