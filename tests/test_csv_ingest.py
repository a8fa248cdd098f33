"""CSV source tests: validation pre-flight, all-string read, lineage."""

from __future__ import annotations

from edu_data_pipeline_spark.sources import csv_ingest

STUDENTS_CSV = """student_id,full_name,email,phone,dob,gender,city,state,enrollment_date,program_id,fee_paid,payment_status
STU001,JOHN DOE,john@example.com,9876543210,1999-05-15,Male,Mumbai,Maharashtra,2024-01-15,PROG001,50000,Paid
stu-002,jane smith,jane@email,9876543211,15/05/1999,F,mumbai,MH,2024-01-16,prog001,"50,000",PAID
"""


def test_detect_and_validate(tmp_path):
    path = tmp_path / "students_enrollment.csv"
    path.write_text(STUDENTS_CSV)
    required = csv_ingest.REQUIRED_COLUMNS["students_enrollment"]
    res = csv_ingest.validate_file(str(path), required)
    assert res.ok

    # a UTF-8 byte-order mark and quoted names are still the same header
    bom = tmp_path / "bom.csv"
    bom.write_text(STUDENTS_CSV, encoding="utf-8-sig")
    assert csv_ingest.validate_file(str(bom), required).ok
    quoted = tmp_path / "quoted.csv"
    header, body = STUDENTS_CSV.split("\n", 1)
    quoted.write_text(",".join(f'"{c}"' for c in header.split(",")) + "\n" + body)
    assert csv_ingest.validate_file(str(quoted), required).ok
    short = tmp_path / "short.csv"
    short.write_text(STUDENTS_CSV.replace("email,", "", 1), encoding="utf-8-sig")
    res_short = csv_ingest.validate_file(str(short), required)
    assert not res_short.ok and res_short.problems == ["missing-columns:['email']"]
    # a non-UTF-8 byte in a row is Spark's to read, not a pre-flight crash
    latin = tmp_path / "latin.csv"
    latin.write_bytes(STUDENTS_CSV.replace("JOHN", "JOS\xc9").encode("latin-1"))
    assert csv_ingest.validate_file(str(latin), required).ok

    bad = tmp_path / "student_progress.csv"
    bad.write_text("event_id,student_id\nx,y\n")
    res2 = csv_ingest.validate_file(
        str(bad), csv_ingest.REQUIRED_COLUMNS["student_progress"]
    )
    assert not res2.ok and "missing-columns" in res2.problems[0]

    missing = csv_ingest.validate_file(
        str(tmp_path / "nope.csv"), ["a"]
    )
    assert not missing.ok and missing.problems == ["missing-file"]


def test_read_raw_all_strings_with_lineage(spark, tmp_path):
    path = tmp_path / "students_enrollment.csv"
    path.write_text(STUDENTS_CSV)
    df = csv_ingest.read_raw_csv(
        spark, str(path), csv_ingest.REQUIRED_COLUMNS["students_enrollment"]
    )
    assert all(f.dataType.typeName() == "string" for f in df.schema.fields)
    staged = csv_ingest.with_lineage(df, batch_id="b1")
    rows = staged.orderBy("file_row_number").collect()
    assert [r.file_row_number for r in rows] == [1, 2]
    assert rows[0].file_name == "students_enrollment.csv"
    assert rows[0].batch_id == "b1"
    assert rows[1].fee_paid == "50,000"  # quoted comma preserved as raw text

    # a byte-order mark changes nothing Spark reads
    bom = tmp_path / "bom.csv"
    bom.write_text(STUDENTS_CSV, encoding="utf-8-sig")
    bom_df = csv_ingest.read_raw_csv(
        spark, str(bom), csv_ingest.REQUIRED_COLUMNS["students_enrollment"]
    )
    assert sorted(bom_df.collect()) == sorted(df.collect())


def test_append_raw_is_append_only(spark, tmp_path):
    path = tmp_path / "students_enrollment.csv"
    path.write_text(STUDENTS_CSV)
    df = csv_ingest.read_raw_csv(
        spark, str(path), csv_ingest.REQUIRED_COLUMNS["students_enrollment"]
    )
    target = str(tmp_path / "raw_students")
    csv_ingest.append_raw(csv_ingest.with_lineage(df, "b1"), target)
    csv_ingest.append_raw(csv_ingest.with_lineage(df, "b2"), target)
    got = spark.read.parquet(target)
    assert got.count() == 4  # 2 rows x 2 runs, append-only like the raw layer
