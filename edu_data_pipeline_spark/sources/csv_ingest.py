"""CSV ingestion sources/sinks (reference S2-S4, SURVEY §2.1).

The raw layer is stringly typed on purpose (init_schema.sql:26-101):
every CSV column is read as a string and typing happens during cleaning.
File pre-flight validation (existence / size cap / required header) runs
driver-side before any job is scheduled, exactly like
``operators/file_validation.py:10-36``; lineage columns (file name, row
number within file, batch id) are stamped with native expressions
replicating ``dags/file_ingestion_pipeline.py:88-92``.
"""

from __future__ import annotations

import csv
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The four reference datasets and their required headers
# (dags/file_ingestion_pipeline.py:110-172).
REQUIRED_COLUMNS: dict[str, list[str]] = {
    "students_enrollment": [
        "student_id", "full_name", "email", "phone", "dob", "gender", "city",
        "state", "enrollment_date", "program_id", "fee_paid", "payment_status",
    ],
    "student_progress": [
        "event_id", "student_id", "course_id", "event_type", "event_timestamp",
        "duration_seconds", "score", "module_id", "completion_percentage",
    ],
    "course_catalog": [
        "course_id", "course_name", "category", "difficulty", "duration_hours",
        "price", "instructor_name", "is_active",
    ],
    "support_tickets": [
        "ticket_id", "student_id", "subject", "description", "priority",
        "status", "category", "created_date", "resolved_date",
    ],
}

MAX_FILE_SIZE_MB = 25  # operators/file_validation.py:14


class FileValidationError(Exception):
    pass


@dataclass
class ValidationResult:
    path: str
    ok: bool
    problems: list[str] = field(default_factory=list)


def validate_file(
    path: str,
    required_columns: list[str],
    max_size_mb: int = MAX_FILE_SIZE_MB,
) -> ValidationResult:
    """S3 pre-flight (operators/file_validation.py:20-36): exists, size cap,
    header present, required columns ⊆ header. Driver-side, no Spark job."""
    res = ValidationResult(path, True)
    if not os.path.exists(path):
        res.ok = False
        res.problems.append("missing-file")
        return res
    size_mb = os.path.getsize(path) / (1024 * 1024)
    if size_mb > max_size_mb:
        res.ok = False
        res.problems.append(f"file-too-large:{size_mb:.1f}MB>{max_size_mb}MB")
    # a CSV parse of the first line, as Spark's reader sees it: quoted
    # names, and a UTF-8 byte-order mark that is not part of the first name
    with open(path, newline="", encoding="utf-8-sig", errors="replace") as f:
        header = [h.strip() for h in next(csv.reader(f), [])]
    if not any(header):
        res.ok = False
        res.problems.append("empty-header")
        return res
    missing = [c for c in required_columns if c not in header]
    if missing:
        res.ok = False
        res.problems.append(f"missing-columns:{missing}")
    return res


def read_raw_csv(
    spark: SparkSession, path: str, required_columns: list[str]
) -> DataFrame:
    """S2 (dags/file_ingestion_pipeline.py:46-57): all-string schema-on-read
    with header; the raw layer keeps every value as text. The file's
    pre-flight is :func:`validate_file`, run before this."""
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in required_columns]
    )
    return (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .schema(schema)
        .csv(path)
    )


def with_lineage(df: DataFrame, batch_id: str) -> DataFrame:
    """S4 lineage stamping (dags/file_ingestion_pipeline.py:88-92):
    file_name, file_row_number (1-based within the source file), batch_id.

    Row numbers partition by the input file, ordered by the CSV's physical
    order — at scale each file's window is independent, so skew is bounded
    by the 25 MB file cap, not dataset size.
    """
    with_file = df.withColumn(
        "file_name", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    w = Window.partitionBy("file_name").orderBy(F.monotonically_increasing_id())
    return (
        with_file.withColumn("file_row_number", F.row_number().over(w))
        .withColumn("batch_id", F.lit(batch_id))
        .withColumn("ingested_at", F.current_timestamp())
    )


def append_raw(df: DataFrame, path: str) -> None:
    """S4 raw append sink: append-only parquet raw layer (the reference's
    INSERT-only raw tables, db.py:32-42)."""
    df.write.mode("append").parquet(path)

