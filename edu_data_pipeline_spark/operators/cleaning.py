"""Staging-layer cleaning operators: fused selects + dedup + city match.

Mirrors the reference's record-composition wrappers
(``dags/utils/cleaners.py:8-112``) and the cleaning DAG
(``dags/data_cleaning_pipeline.py``), re-expressed as single fused
``select()`` statements so Catalyst collapses each dataset's cleaning
into one codegen'd stage. The city-master match (C8,
``cleaning_rules.py:156-169``) is per-row projections too, with the
master's cities as literals: no join, no shuffle, no Python worker (its
higher-order ``transform`` runs interpreted, outside codegen).
Dedup windows partition by the natural key, so they shuffle once on the
same key the downstream MERGE uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import rules


def with_city_cleaned(
    df: DataFrame, city_col: str, cities: tuple[str, ...] = rules.DEFAULT_CITY_MASTER
) -> DataFrame:
    """Attach ``city_value/city_valid/city_note`` for ``city_col`` (C8).

    Row by row, as the reference does: an exact hit in ``cities`` is
    ``matched``; any other city takes the most positionally similar one,
    the first of equals winning (``_closest``, cleaning_rules.py:223-231),
    and is ``fuzzy-%.2f`` at similarity >= 0.8, else ``unmatched``. A NULL
    city is ``missing``. The best candidate is one projected column, so the
    plan holds one ``array_max`` however many outputs read its fields.
    """
    norm = F.col("__city_norm")
    exact = norm.isin(*cities)
    scored = F.transform(
        F.array(*[F.lit(c) for c in cities]),
        lambda m, i: F.struct(
            rules.positional_similarity(norm, m).alias("sim"),
            (-i).alias("neg_idx"),
            m.alias("city"),
        ),
    )
    best = F.col("__city_best")
    fuzzy = best["sim"] >= 0.8
    return (
        df.withColumn("__city_norm", rules.normalize_city(city_col))
        .withColumn("__city_best", F.when(~exact, F.array_max(scored)))
        .withColumn("city_value", F.when(fuzzy, best["city"]).otherwise(norm))
        .withColumn("city_valid", F.coalesce(exact | fuzzy, F.lit(False)))
        .withColumn(
            "city_note",
            F.when(F.col(city_col).isNull(), "missing")
            .when(exact, "matched")
            .when(fuzzy, F.format_string("fuzzy-%.2f", best["sim"]))
            .otherwise("unmatched"),
        )
        .drop("__city_norm", "__city_best")
    )


def _fit(rule: rules.RuleColumns, dtype: str) -> rules.RuleColumns:
    """``rule`` with its value cast to the staging type ``dtype``. A value
    that does not fit becomes NULL and fails the rule, on both ANSI
    settings: a plain cast raises CAST_OVERFLOW with ANSI on, and
    saturates an int (or nulls a decimal) with it off."""
    value = rule.value.try_cast(dtype)
    fits = rule.value.isNull() | value.isNotNull()
    return rules.RuleColumns(
        value, rule.is_valid & fits, F.when(fits, rule.note).otherwise("overflow")
    )


def mark_duplicates(df: DataFrame, key: str) -> DataFrame:
    """D1 (cleaning_rules.py:211-220 via dags/data_cleaning_pipeline.py:40-48):
    EVERY copy of a duplicated key is flagged, including the first."""
    w = Window.partitionBy(key)
    return df.withColumn("is_duplicate", F.count("*").over(w) > 1)


def dedup_last_wins(df: DataFrame, key: str, order_col: str) -> DataFrame:
    """D2 (dags/data_cleaning_pipeline.py:54-60, db.py:49-57): collapse to one
    row per key, LAST occurrence (by ``order_col``) winning."""
    w = Window.partitionBy(key).orderBy(F.desc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def clean_students(
    df: DataFrame,
    cities: tuple[str, ...] = rules.DEFAULT_CITY_MASTER,
    ref_date: Column | None = None,
    batch_id: str | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Students raw -> staging.stg_students shape (cleaners.py:8-53).

    Input columns (all strings): student_id full_name email phone dob gender
    city state enrollment_date program_id fee_paid payment_status.
    One fused select per the staging DDL (init_schema.sql:109-141), plus the
    10 per-rule validity flags feeding the quality score.
    """
    sid = rules.standardize_student_id("student_id")
    name, first, last = rules.clean_name("full_name")
    email = rules.validate_email("email")
    phone = rules.standardize_phone("phone")
    dob = rules.parse_date("dob", ref_date=ref_date)
    gender = rules.standardize_gender("gender")
    state = rules.clean_state("state")
    enroll = rules.parse_date("enrollment_date", ref_date=ref_date)
    fee = _fit(rules.clean_numeric("fee_paid"), "decimal(15,2)")

    with_city = with_city_cleaned(df, "city", cities)

    quality = rules.quality_score(
        sid.is_valid,
        name.is_valid,
        email.is_valid,
        phone.is_valid,
        dob.is_valid,
        gender.is_valid,
        F.col("city_valid"),
        state.is_valid,
        enroll.is_valid,
        fee.is_valid,
    )
    notes = F.to_json(
        F.struct(
            sid.note.alias("student_id"),
            name.note.alias("name"),
            email.note.alias("email"),
            phone.note.alias("phone"),
            dob.note.alias("dob"),
            gender.note.alias("gender"),
            F.col("city_note").alias("city"),
            state.note.alias("state"),
            enroll.note.alias("enrollment_date"),
            fee.note.alias("fee_paid"),
        )
    )
    cleaned = with_city.select(
        sid.value.alias("student_id"),
        first.alias("first_name"),
        last.alias("last_name"),
        name.value.alias("full_name"),
        email.value.alias("email"),
        phone.value.alias("phone"),
        dob.value.alias("dob"),
        gender.value.alias("gender"),
        F.col("city_value").alias("city"),
        state.value.alias("state"),
        enroll.value.alias("enrollment_date"),
        rules.normalize_program_id("program_id").alias("program_id"),
        fee.value.alias("fee_paid"),
        rules.payment_status_raw("payment_status").alias("payment_status"),
        email.is_valid.alias("is_email_valid"),
        phone.is_valid.alias("is_phone_valid"),
        dob.is_valid.alias("is_date_valid"),
        quality.alias("quality_score"),
        notes.alias("cleaning_notes"),
        F.lit(batch_id).cast("string").alias("batch_id"),
        *[F.col(c) for c in passthrough],
    )
    return mark_duplicates(cleaned, "student_id")


def clean_progress(
    df: DataFrame,
    ref_ts: Column | None = None,
    batch_id: str | None = None,
    mark_dupes: bool = True,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Progress raw -> staging.stg_progress shape (cleaners.py:56-89).

    Flags: student, score, completion, duration, timestamp (5 -> quality).
    ``mark_dupes=False`` skips the D1 window (required on streaming frames,
    where the reference also hardcodes is_duplicate=False —
    kafka/streaming.py:192)."""
    sid = rules.standardize_student_id("student_id")
    score = rules.validate_score("score")
    completion = rules.validate_score("completion_percentage")
    duration = _fit(rules.clean_numeric("duration_seconds"), "int")
    ts = rules.parse_date_time("event_timestamp", ref_ts=ref_ts)
    quality = rules.quality_score(
        sid.is_valid, score.is_valid, completion.is_valid, duration.is_valid, ts.is_valid
    )
    cleaned = df.select(
        F.col("event_id").cast("string").alias("event_id"),
        sid.value.alias("student_id"),
        F.col("course_id").cast("string").alias("course_id"),
        F.col("event_type").cast("string").alias("event_type"),
        ts.value.alias("event_timestamp"),
        duration.value.alias("duration_seconds"),
        score.value.cast("decimal(5,2)").alias("score"),
        F.col("module_id").cast("string").alias("module_id"),
        completion.value.cast("decimal(5,2)").alias("completion_percentage"),
        sid.is_valid.alias("is_student_valid"),
        ts.is_valid.alias("is_timestamp_valid"),
        score.is_valid.alias("is_score_valid"),
        quality.alias("quality_score"),
        F.lit(batch_id).cast("string").alias("batch_id"),
        *[F.col(c) for c in passthrough],
    )
    if not mark_dupes:
        return cleaned.withColumn("is_duplicate", F.lit(False))
    return mark_duplicates(cleaned, "event_id")


def clean_tickets(
    df: DataFrame,
    ref_date: Column | None = None,
    batch_id: str | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Tickets raw -> staging.stg_tickets shape (cleaners.py:92-112).

    Flags: student, created, resolved (3 -> quality; an open ticket with an
    empty resolved_date scores 90 — reference behavior)."""
    sid = rules.standardize_student_id("student_id")
    created = rules.parse_date("created_date", ref_date=ref_date)
    resolved = rules.parse_date("resolved_date", ref_date=ref_date)
    quality = rules.quality_score(sid.is_valid, created.is_valid, resolved.is_valid)
    return df.select(
        F.col("ticket_id").cast("string").alias("ticket_id"),
        sid.value.alias("student_id"),
        F.col("subject").cast("string").alias("subject"),
        F.col("description").cast("string").alias("description"),
        F.col("priority").cast("string").alias("priority"),
        F.col("status").cast("string").alias("status"),
        F.col("category").cast("string").alias("category"),
        created.value.alias("created_date"),
        resolved.value.alias("resolved_date"),
        sid.is_valid.alias("is_student_valid"),
        quality.alias("quality_score"),
        F.lit(batch_id).cast("string").alias("batch_id"),
        *[F.col(c) for c in passthrough],
    )


# Notes that mean the rule judged the value valid (format-provenance notes
# like '%Y-%m-%d' and 'fuzzy-0.83' are valid matches).
_VALID_NOTES = ("standardized", "valid", "mapped", "matched", "normalized",
                "normalized-10", "normalized-12", "parsed")


def quality_log(cleaned: DataFrame, source_table: str, id_col: str) -> DataFrame:
    """Populate staging.stg_quality_log from the per-rule cleaning notes.

    The reference DECLARES this audit table (init_schema.sql:215-226) but
    nothing ever writes it (BASELINE.md row count 0); SURVEY §7 flags
    populating it from rule notes as the rebuild's job. One row per
    (record, rule) with validity + the rule's note as the error message.
    """
    notes_map = F.from_json(F.col("cleaning_notes"), "map<string,string>")
    exploded = cleaned.select(
        F.lit(source_table).alias("source_table"),
        F.col(id_col).alias("record_id"),
        F.col("batch_id"),
        F.explode(notes_map).alias("rule_applied", "note"),
    )
    is_valid = (
        F.col("note").isin(*_VALID_NOTES)
        | F.col("note").startswith("fuzzy-")
        | F.col("note").startswith("%")
    )
    return exploded.select(
        "source_table",
        "record_id",
        "rule_applied",
        is_valid.alias("is_valid"),
        F.when(~is_valid, F.col("note")).alias("error_message"),
        "batch_id",
    )


def fuzzy_duplicates(
    stg_students: DataFrame,
    email_col: str = "email",
    name_col: str = "full_name",
    phone_col: str = "phone",
) -> DataFrame:
    """Docx Rule 10 fuzzy duplicates: same email OR same name+phone.

    Spec'd in the reference's assignment doc but NOT implemented in its
    code (SURVEY §2.3) — built here as window counts over the two
    candidate keys (no self-join; one shuffle per key, NULL keys exempt).
    """
    w_email = Window.partitionBy(email_col)
    w_np = Window.partitionBy(name_col, phone_col)
    email_dup = (
        F.col(email_col).isNotNull() & (F.count(email_col).over(w_email) > 1)
    )
    np_dup = (
        F.col(name_col).isNotNull()
        & F.col(phone_col).isNotNull()
        & (F.count(F.lit(1)).over(w_np) > 1)
    )
    return stg_students.withColumn("is_email_dup", email_dup).withColumn(
        "is_name_phone_dup", np_dup
    ).withColumn("is_fuzzy_duplicate", email_dup | np_dup)
