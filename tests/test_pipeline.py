"""Golden end-to-end pipeline test: CSV -> raw -> staging -> warehouse.

Fixture shape mirrors the reference corpus (FIXTURES.md): 31 student rows
with one duplicate id, 51 progress events with one duplicate, 10 courses,
15 tickets — expected counts match BASELINE.md's single-clean-run numbers
(stg 30/50/15, dims 2557/30/10, fact_progress 50, fact_tickets 15).
fact_enrollments is 30 here, NOT the reference's 1: its NULL course_sk
conflict key degrades the Postgres upsert (BASELINE.md); our merge uses
null-safe key equality, the documented fix (SURVEY §7 hard-part 6).
"""

from __future__ import annotations

import json
import os

import pytest

from edu_data_pipeline_spark import pipeline
from edu_data_pipeline_spark.sources.csv_ingest import FileValidationError

DATE_VARIANTS = ["1999-05-15", "15/05/1999", "20-12-1998", "May 15, 1999", "18-Jan-24"]
CITY_VARIANTS = ["Mumbai", "mumbai", "Mumabi", "Banglore", "Bhopal", "Delhi", "Pune"]
PAY_VARIANTS = ["Paid", "PAID", "paid", "pending", "partial", ""]


def write_fixture_csvs(dirpath: str) -> None:
    os.makedirs(dirpath, exist_ok=True)
    students = [
        "student_id,full_name,email,phone,dob,gender,city,state,enrollment_date,program_id,fee_paid,payment_status"
    ]
    for i in range(1, 31):  # 30 distinct students
        sid = [f"STU{i:03d}", f"stu-{i:03d}", f"STU_{i:03d}"][i % 3]
        email = [f"user{i}@example.com", "bad@email", ""][i % 3]
        phone = [f"98765432{i:02d}", f"+91-98765432{i:02d}", "123"][i % 3]
        dob = DATE_VARIANTS[i % 5]
        gender = ["Male", "F", "m", "FEMALE", "x"][i % 5]
        city = CITY_VARIANTS[i % 7]
        fee = ["50000", "50,000", "₹50000", "-100", ""][i % 5]
        students.append(
            f'{sid},Name {i} Surname,{email},{phone},{dob},{gender},{city},'
            f'Maharashtra,{DATE_VARIANTS[(i + 1) % 5]},PROG00{i % 3},"{fee}",{PAY_VARIANTS[i % 6]}'
        )
    # row 31: duplicate of student 1 (dirty variant of the same key)
    students.append(
        'stu001,NAME 1 SURNAME,user1b@example.com,9876543299,1999-05-15,M,mumbai,'
        "Maharashtra,2024-01-16,PROG001,50000,PAID"
    )
    with open(os.path.join(dirpath, "students_enrollment.csv"), "w") as f:
        f.write("\n".join(students) + "\n")

    progress = [
        "event_id,student_id,course_id,event_type,event_timestamp,duration_seconds,score,module_id,completion_percentage"
    ]
    for i in range(1, 51):  # 50 distinct events
        score = ["85.5", "150.0", "NULL", "0", "93.0"][i % 5]
        ts = [
            "2024-02-01T10:30:00Z", "2024-02-02T11:00:00", "2024-12-01T10:00:00Z",
            "2030-01-01T00:00:00Z", "2024-02-03 09:15:00",
        ][i % 5]
        progress.append(
            f"evt-{i:03d},STU{(i % 30) + 1:03d},CRS{(i % 3) + 1:03d},video_watched,"
            f"{ts},{[600, 1200, 0][i % 3]},{score},MOD00{i % 3},{[50.0, 100.0, 10.0][i % 3]}"
        )
    progress.append(progress[1])  # duplicate evt-001
    with open(os.path.join(dirpath, "student_progress.csv"), "w") as f:
        f.write("\n".join(progress) + "\n")

    courses = ["course_id,course_name,category,difficulty,duration_hours,price,instructor_name,is_active"]
    for i in range(1, 11):
        courses.append(
            f"CRS{i:03d},Course {i},Technology,Beginner,{40 + i},{25000 + i},Instructor {i},TRUE"
        )
    with open(os.path.join(dirpath, "course_catalog.csv"), "w") as f:
        f.write("\n".join(courses) + "\n")

    tickets = ["ticket_id,student_id,subject,description,priority,status,category,created_date,resolved_date"]
    for i in range(1, 16):
        subject = ["Cannot access course", "Great course", "Refund request"][i % 3]
        resolved = "" if i % 2 else "2024-02-10"
        tickets.append(
            f"TKT{i:03d},STU{i:03d},{subject},description {i},High,"
            f"{'Open' if i % 2 else 'Resolved'},Technical,2024-02-0{(i % 9) + 1},{resolved}"
        )
    with open(os.path.join(dirpath, "support_tickets.csv"), "w") as f:
        f.write("\n".join(tickets) + "\n")


@pytest.fixture(scope="module")
def e2e(spark, tmp_path_factory):
    """(counts, warehouse_dir) of one composed-pipeline run."""
    base = tmp_path_factory.mktemp("e2e")
    input_dir = str(base / "input")
    wh_dir = str(base / "warehouse")
    write_fixture_csvs(input_dir)
    return pipeline.run_batch_pipeline(spark, input_dir, wh_dir), wh_dir


@pytest.fixture(scope="module")
def counts(e2e):
    return e2e[0]


def test_golden_row_counts(counts):
    assert counts["raw.students_enrollment"] == 31
    assert counts["raw.student_progress"] == 51
    assert counts["raw.course_catalog"] == 10
    assert counts["raw.support_tickets"] == 15
    assert counts["staging.stg_students"] == 30  # 31 - 1 duplicate key
    assert counts["staging.stg_progress"] == 50  # 51 - 1 duplicate event
    assert counts["staging.stg_tickets"] == 15
    assert counts["warehouse.dim_date"] == 2557
    assert counts["warehouse.dim_students"] == 30
    assert counts["warehouse.dim_courses"] == 10
    assert counts["warehouse.fact_student_progress"] == 50
    assert counts["warehouse.fact_support_tickets"] == 15
    # 30, not the reference's degenerate 1 (null-safe merge keys; docstring)
    assert counts["warehouse.fact_enrollments"] == 30
    assert counts["analytics.v_student_360"] == 30
    assert counts["analytics.v_ai_insights"] == 3
    assert counts["analytics.v_course_performance"] == 10
    assert counts["staging.stg_quality_log"] == 300  # 30 records x 10 rules
    assert counts["metadata.pipeline_runs"] == 1


def test_counts_match_tables_on_disk(spark, e2e):
    """Every returned count is an observe() metric of the write; it must
    equal what a read-back of the table finds."""
    counts, wh = e2e
    for key, n in counts.items():
        layer, name = key.split(".")
        assert spark.read.parquet(os.path.join(wh, layer, name)).count() == n, key


def test_run_record_counts_in_declaration_order(spark, e2e):
    """Tables are written concurrently, yet the run record lists their
    counts in declaration order: every count but its own."""
    counts, wh = e2e
    (row,) = spark.read.parquet(os.path.join(wh, "metadata", "pipeline_runs")).collect()
    assert row["status"] == "SUCCESS"
    recorded = json.loads(row["table_counts"])
    assert list(recorded.items()) == list(counts.items())[:-1]
    assert list(counts)[-1] == "metadata.pipeline_runs"


def _course_catalog(spark, wh):
    return spark.read.parquet(os.path.join(wh, "raw", "course_catalog"))


@pytest.mark.parametrize("fact", ["progress", "tickets", "enrollments"])
def test_facts_skip_the_student_summary(spark, e2e, fact):
    """dim_students left-joins a per-student progress summary, but the fact
    tables use only its surrogate key, so Catalyst drops that join: no
    Aggregate, and stg_progress is read only as the progress fact's own
    source. Guards against a change that makes the facts recompute it."""
    from pyspark.sql import functions as F

    from edu_data_pipeline_spark.operators import warehouse

    _, wh = e2e
    stg = {
        n: spark.read.parquet(os.path.join(wh, "staging", n))
        for n in ("stg_students", "stg_progress", "stg_tickets")
    }
    dim = pipeline.build_dim_students(
        stg["stg_students"], stg["stg_progress"], F.lit("2026-08-13").cast("date")
    )
    if fact == "progress":
        df = warehouse.build_fact_progress(
            stg["stg_progress"], dim, pipeline.build_dim_courses(_course_catalog(spark, wh))
        )
        scans = ["stg_progress", "stg_students", "course_catalog"]
    elif fact == "tickets":
        df = warehouse.build_fact_tickets(stg["stg_tickets"], dim)
        scans = ["stg_tickets", "stg_students"]
    else:
        df = warehouse.build_fact_enrollments(stg["stg_students"], dim)
        scans = ["stg_students", "stg_students"]
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan
    # the dimension side is one stg_students scan, never stg_progress
    assert plan.count("Relation ") == len(scans)
    assert {os.path.basename(os.path.dirname(f)) for f in df.inputFiles()} == set(scans)


def test_run_dag_follows_dependencies_concurrently(spark):
    """Tasks start only after their dependencies finished, get their
    frames, run side by side when ready together, and inherit the
    caller's job group."""
    import threading

    log = []
    both_running = threading.Barrier(2, timeout=30)

    def task(name, concurrent=False):
        def run(*inputs):
            log.append(("start", name))
            if concurrent:
                both_running.wait()  # passes only if a and b overlap
            group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            log.append(("end", name))
            return None, (name, inputs, group)
        return run

    tasks = {
        "a": ((), task("a", concurrent=True)),
        "b": ((), task("b", concurrent=True)),
        "c": (("a", "b"), task("c")),
        "d": (("c",), task("d")),
    }
    spark.sparkContext.setJobGroup("dag-test", "run_dag test")
    try:
        done = pipeline._run_dag(spark, tasks)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.sparkContext.setLocalProperty("spark.job.description", None)
    assert set(done) == set(tasks)
    for name, (deps, _) in tasks.items():
        frame = done[name][1]
        assert frame[0] == name and frame[2] == "dag-test"
        assert frame[1] == tuple(done[d][1] for d in deps)
        for dep in deps:
            assert log.index(("end", dep)) < log.index(("start", name))


def test_run_dag_raises_the_failure_and_starts_nothing_after(spark):
    import threading
    import time

    failed = threading.Event()
    started = []

    def slow():  # still running when the failure is read
        failed.wait(30)
        time.sleep(0.5)
        return None, "slow"

    def bad():
        failed.set()
        raise RuntimeError("task failed")

    def after(*inputs):
        started.append("after")
        return None, None

    tasks = {"slow": ((), slow), "bad": ((), bad), "after": (("slow",), after)}
    with pytest.raises(RuntimeError, match="task failed"):
        pipeline._run_dag(spark, tasks)
    assert started == []


def test_quality_log_matches_flagged_records(spark, e2e):
    """The audit sink reconciles with the staging quality scores: each
    failed rule costs 10 points (floor 0 never hit on this fixture), so
    invalid stg_quality_log rows must equal the total deducted-rule count
    and cover exactly the flagged records (VERDICT r3 #7)."""
    import os

    from pyspark.sql import functions as F

    _, wh = e2e
    log = spark.read.parquet(os.path.join(wh, "staging", "stg_quality_log"))
    stg = spark.read.parquet(os.path.join(wh, "staging", "stg_students"))

    n_invalid_log = log.where(~F.col("is_valid")).count()
    assert n_invalid_log > 0  # the sink is genuinely populated
    deducted_rules = stg.select(
        F.sum(((F.lit(100) - F.col("quality_score")) / 10).cast("long"))
    ).first()[0]
    assert n_invalid_log == deducted_rules

    flagged = {
        r["student_id"]
        for r in stg.where(F.col("quality_score") < 100).collect()
    }
    logged = {
        r["record_id"] for r in log.where(~F.col("is_valid")).collect()
    }
    assert logged == flagged
    # every invalid row carries its rule's note as the error message
    assert log.where(~F.col("is_valid") & F.col("error_message").isNull()).count() == 0


def test_fixed_mode_keeps_staged_quality_and_derives_status(spark, tmp_path):
    """``replicate_quirks=False``: dim_students keeps each student's staged
    quality score and email flag instead of the reference's 100/True
    overwrite, derives the enrollment status from activity instead of the
    ACTIVE/PENDING collapse, and scores risk instead of the constant
    42.0/'Medium' stub."""
    from pyspark.sql import functions as F

    input_dir = str(tmp_path / "input")
    wh_dir = str(tmp_path / "warehouse")
    write_fixture_csvs(input_dir)
    pipeline.run_batch_pipeline(spark, input_dir, wh_dir, replicate_quirks=False)
    stg = spark.read.parquet(os.path.join(wh_dir, "staging", "stg_students"))
    dim = spark.read.parquet(os.path.join(wh_dir, "warehouse", "dim_students"))

    staged = {
        r["student_id"]: (r["quality_score"], r["is_email_valid"])
        for r in stg.collect()
    }
    kept = {
        r["student_id"]: (r["quality_score"], r["is_email_valid"])
        for r in dim.collect()
    }
    assert kept == staged
    assert sum(q < 100 for q, _ in kept.values()) == 25

    def tally(col):
        return {r[col]: r["count"] for r in dim.groupBy(col).count().collect()}

    assert tally("enrollment_status") == {"CHURNED": 24, "INACTIVE": 3, "PENDING": 3}
    assert tally("ai_risk_category") == {"High": 9, "Low": 6, "Medium": 15}
    assert dim.where(F.col("ai_risk_score") != 42.0).count() > 0


def test_idempotent_rerun(spark, tmp_path):
    input_dir = str(tmp_path / "input")
    wh_dir = str(tmp_path / "warehouse")
    write_fixture_csvs(input_dir)
    first = pipeline.run_batch_pipeline(spark, input_dir, wh_dir, batch_id="b1")
    second = pipeline.run_batch_pipeline(spark, input_dir, wh_dir, batch_id="b2")
    # raw layer is append-only (doubles); staging/warehouse upserts are stable
    assert second["raw.students_enrollment"] == 62
    assert second["staging.stg_students"] == first["staging.stg_students"] == 30
    assert second["warehouse.fact_student_progress"] == 50
    assert second["warehouse.dim_students"] == 30
    # append-only tables report the prior rows plus the appended ones
    assert second["raw.student_progress"] == 2 * first["raw.student_progress"]
    assert second["metadata.pipeline_runs"] == 2


def test_invalid_input_fails_before_any_write(spark, tmp_path):
    """Every input is validated before the first write: a tickets file
    without a required column fails the run with nothing written."""
    input_dir = str(tmp_path / "input")
    wh_dir = str(tmp_path / "warehouse")
    write_fixture_csvs(input_dir)
    tickets = os.path.join(input_dir, "support_tickets.csv")
    with open(tickets) as f:
        lines = f.read().splitlines()
    with open(tickets, "w") as f:  # drop the `priority` column
        f.write("\n".join(",".join(l.split(",")[:4] + l.split(",")[5:]) for l in lines))
    with pytest.raises(FileValidationError, match="priority"):
        pipeline.run_batch_pipeline(spark, input_dir, wh_dir)
    assert not os.path.exists(os.path.join(wh_dir, "raw"))
    assert not os.path.exists(os.path.join(wh_dir, "metadata", "pipeline_runs"))


def write_city_master(path: str) -> None:
    """A master shaped like the reference's ``city_master.csv``: a header,
    a quoted comma-joined misspellings column and a blank line."""
    with open(path, "w") as f:
        f.write(
            "city_name,state_name,state_code,common_misspellings\n"
            'Mumbai,Maharashtra,MH,"Mumabi,Bombay,mumbai,MUMBAI"\n'
            "\n"
            'Bhopal,Madhya Pradesh,MP,"Bhopaal,bhopal"\n'
            "Pune,Maharashtra,MH,Poona\n"
        )


def test_city_master_file_column_zero(spark, tmp_path):
    """Only column 0 is read, the header is dropped, and a city the default
    master lacks matches exactly."""
    from pyspark.sql import functions as F

    master = str(tmp_path / "city_master.csv")
    write_city_master(master)
    assert pipeline._load_city_master(master) == ("Mumbai", "Bhopal", "Pune")

    input_dir = str(tmp_path / "input")
    wh_dir = str(tmp_path / "warehouse")
    write_fixture_csvs(input_dir)
    pipeline.run_batch_pipeline(spark, input_dir, wh_dir, city_master_path=master)
    stg = spark.read.parquet(os.path.join(wh_dir, "staging", "stg_students"))
    note = F.get_json_object("cleaning_notes", "$.city")
    got = {(r["city"], r["note"]) for r in stg.select("city", note.alias("note")).collect()}
    assert ("Bhopal", "matched") in got
    assert ("Delhi", "unmatched") in got  # in the default master only
    assert ("Mumbai", "matched") in got


def test_missing_city_master_fails_before_any_write(spark, tmp_path):
    """An explicit master path that does not exist fails the pre-flight
    instead of falling back to the default master."""
    input_dir = str(tmp_path / "input")
    wh_dir = str(tmp_path / "warehouse")
    write_fixture_csvs(input_dir)
    missing = str(tmp_path / "no_such_master.csv")
    with pytest.raises(FileValidationError, match="no_such_master.csv"):
        pipeline.run_batch_pipeline(spark, input_dir, wh_dir, city_master_path=missing)
    assert not os.path.exists(wh_dir)


def test_batch_load_starts_no_python_worker(spark, tmp_path, monkeypatch):
    """No table of the load comes from local Python rows, the only source
    here that would start a Python worker."""
    from pyspark.sql import SparkSession

    def refuse(*args, **kwargs):
        raise AssertionError("createDataFrame called during the batch load")

    input_dir = str(tmp_path / "input")
    write_fixture_csvs(input_dir)
    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    counts = pipeline.run_batch_pipeline(spark, input_dir, str(tmp_path / "warehouse"))
    assert counts["metadata.pipeline_runs"] == 1


def test_failed_write_raises_and_records_no_run(spark, tmp_path, monkeypatch):
    """A write that fails while others run concurrently fails the call
    with its own error, and no SUCCESS row is recorded."""
    from edu_data_pipeline_spark.operators import warehouse

    def broken(*args, **kwargs):
        raise RuntimeError("dim_date failed")

    monkeypatch.setattr(warehouse, "build_dim_date", broken)
    input_dir = str(tmp_path / "input")
    wh_dir = str(tmp_path / "warehouse")
    write_fixture_csvs(input_dir)
    with pytest.raises(RuntimeError, match="dim_date failed"):
        pipeline.run_batch_pipeline(spark, input_dir, wh_dir)
    assert not os.path.exists(os.path.join(wh_dir, "metadata", "pipeline_runs"))


def test_incremental_batch_newest_wins(spark, tmp_path):
    """A second batch updates a student loaded by the first: its values
    must win in staging and the warehouse, and only the rows it carries
    are stamped with its batch id. b2 is b1's input with a one-row
    students file that moves STU005 (file row 5 in b1, row 1 in b2) and a
    one-row course catalog that renames CRS010: the courses b2 leaves out
    stay in dim_courses, and b1's progress facts keep their course_sk."""
    wh_dir = str(tmp_path / "warehouse")
    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    write_fixture_csvs(b1)
    write_fixture_csvs(b2)
    with open(os.path.join(b1, "students_enrollment.csv")) as f:
        header, *rows = f.read().splitlines()
    (old,) = [r for r in rows if r.startswith("STU_005,")]
    fields = old.split(",")
    fields[1], fields[6] = "Asha Verma", "Mumbai"
    assert fields[6] != old.split(",")[6]
    with open(os.path.join(b2, "students_enrollment.csv"), "w") as f:
        f.write(header + "\n" + ",".join(fields) + "\n")
    with open(os.path.join(b1, "course_catalog.csv")) as f:
        header, *rows = f.read().splitlines()
    (crs010,) = [r for r in rows if r.startswith("CRS010,")]
    with open(os.path.join(b2, "course_catalog.csv"), "w") as f:
        f.write(header + "\n" + crs010.replace("Course 10", "Course Ten") + "\n")

    pipeline.run_batch_pipeline(spark, b1, wh_dir, batch_id="b1")
    pipeline.run_batch_pipeline(spark, b2, wh_dir, batch_id="b2")

    def stu005(layer, name):
        t = spark.read.parquet(os.path.join(wh_dir, layer, name))
        (row,) = t.where(t.student_id == "STU005").collect()
        return row

    for layer, name in (("staging", "stg_students"), ("warehouse", "dim_students")):
        row = stu005(layer, name)
        assert (row["full_name"], row["city"]) == ("Asha Verma", "Mumbai"), name
    stg = spark.read.parquet(os.path.join(wh_dir, "staging", "stg_students"))
    stamped = {r["student_id"] for r in stg.where(stg.batch_id == "b2").collect()}
    assert stamped == {"STU005"}

    courses = spark.read.parquet(os.path.join(wh_dir, "warehouse", "dim_courses"))
    names = {r["course_id"]: r["course_name"] for r in courses.collect()}
    assert len(names) == 10 and names["CRS010"] == "Course Ten"
    fact = spark.read.parquet(os.path.join(wh_dir, "warehouse", "fact_student_progress"))
    assert fact.count() == 50
    assert fact.where(fact.course_sk.isNull()).count() == 0
