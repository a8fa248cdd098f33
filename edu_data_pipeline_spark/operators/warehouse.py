"""Warehouse layer: date dimension, surrogate keys, dims/facts, merge-upsert.

Mirrors the reference's star schema (init_db/init_schema.sql:236-437) and
the transformation DAG (dags/data_transformation_pipeline.py), Spark-first:

- dim_date is generated with ``sequence()`` + ``explode`` using the SQL
  seed's semantics (init_schema.sql:598-613) — Postgres ``EXTRACT(DOW)``
  numbering (0=Sunday), ISO week, weekend = DOW in (0,6). The reference's
  Python path (db.py:79-92) disagrees on numbering; the SQL-seeded table is
  what actually populates the warehouse, so it is canonical (SURVEY §2.7).
- Surrogate keys: the reference uses Postgres SERIAL. At 100 TB a global
  ``row_number()`` is a single-partition bottleneck, so the default SK is
  ``xxhash64(natural key)`` (deterministic, shuffle-free, join-colocatable).
- Upserts: the reference's ``INSERT .. ON CONFLICT DO UPDATE``
  (db.py:45-65) becomes a key-based merge: target and updates are unioned
  and one key-partitioned window keeps the last update per key, or the
  target rows of keys no update touched. ``ParquetMergeWriter`` applies
  it to a parquet table directory.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.dates import date_key
from .metrics import write_counted


def build_dim_date(
    spark: SparkSession, start: str = "2020-01-01", end: str = "2026-12-31"
) -> DataFrame:
    """Generate the date dimension (init_schema.sql:598-613; 2557 rows default)."""
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start).cast("date"), F.lit(end).cast("date"), F.expr("interval 1 day")
            )
        ).alias("full_date")
    )
    dow = F.dayofweek("full_date") - 1  # Postgres DOW: 0=Sunday..6
    return days.select(
        date_key("full_date").alias("date_key"),
        F.col("full_date"),
        dow.alias("day_of_week"),
        F.date_format("full_date", "EEEE").alias("day_name"),
        F.dayofmonth("full_date").alias("day_of_month"),
        F.weekofyear("full_date").alias("week_of_year"),
        F.month("full_date").alias("month_number"),
        F.date_format("full_date", "MMMM").alias("month_name"),
        F.quarter("full_date").alias("quarter"),
        F.year("full_date").alias("year"),
        dow.isin(0, 6).alias("is_weekend"),
    )


def with_surrogate_key(df: DataFrame, natural_key: str, sk_name: str) -> DataFrame:
    """Assign a surrogate key for ``natural_key``: ``xxhash64`` of the
    natural key — deterministic and fully parallel (the scale path)."""
    return df.withColumn(sk_name, F.xxhash64(F.col(natural_key)))


def attach_sk(
    fact: DataFrame, dim: DataFrame, natural_key: str, sk_name: str
) -> DataFrame:
    """Left broadcast join on the dimension's broadcastable
    ``{natural_key -> sk}`` mapping (J1/J2,
    dags/data_transformation_pipeline.py:132-139), replicating the
    reference's dict ``.get()`` (miss -> NULL sk)."""
    return fact.join(
        F.broadcast(dim.select(natural_key, sk_name)), natural_key, "left"
    )


def merge_upsert(
    target: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    order_col: str | None = None,
) -> DataFrame:
    """Keyed upsert semantics of db.py:45-65.

    In-batch dedup on the conflict keys (LAST write wins, matching the
    dict-overwrite at db.py:49-57), then replace matching target rows.
    NULLs in conflict keys use null-safe equality (``<=>``) — the
    documented fix for the reference's degenerate NULL-key upsert
    (SURVEY §7 hard-part 6).
    """
    # The window partitions on the key columns themselves: a window
    # partition groups NULL keys together, exactly like the <=>
    # conjunction (the documented NULL-key upsert fix), and it reuses an
    # upstream exchange on the same keys — dedup_last_wins has just
    # hash-partitioned a staging feed on them, so the bootstrap merge adds
    # no shuffle. Without order_col the per-key winner among update rows
    # is the LAST in arrival order: a monotonically_increasing_id
    # projected on the updates alone, so it never depends on how a union
    # orders its children.
    cc = "_mu_c"  # 1 = update row, 0 = target row
    oc = "_mu_o"  # arrival order id of an update row; NULL on target rows
    reserved = {cc, oc, "__rn", "__hc"}
    cols = set(updates.columns) | (set(target.columns) if target is not None else set())
    clash = sorted(reserved & cols)
    if clash:
        raise ValueError(
            f"merge_upsert: input columns collide with reserved internal "
            f"name(s) {clash}; rename before calling"
        )
    order_expr = (
        F.desc(order_col) if order_col else F.monotonically_increasing_id().desc()
    )
    wk = Window.partitionBy(*keys)
    if target is None:
        return (
            updates.withColumn("__rn", F.row_number().over(wk.orderBy(order_expr)))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    # SINGLE-EXCHANGE union fold (r15, VERDICT r14 #4), shared with
    # cdc.apply_cdc: the r14 shape consumed the deduped feed twice
    # (anti-join probe + survivor union) with divergent column pruning,
    # so ReuseExchange never unified the copies and the updates subtree
    # was evaluated and shuffled twice. Target rows sort below every
    # update row (cc descending first), so per key the row_number-1 row
    # is the winning update when one exists and the per-key max(cc)
    # marker says whether target rows survive — duplicate-key targets
    # keep ALL rows, exactly like the anti-join. One exchange, one scan
    # of each input.
    tagged = updates
    if order_col is None:
        tagged = tagged.withColumn(oc, F.monotonically_increasing_id())
        order_expr = F.desc(oc)
    t_rows = target.withColumn(cc, F.lit(0))
    # NULL-pad update-only columns (e.g. order_col, the order id) on the
    # target side so the union carries the full update schema through
    # the window
    for f in tagged.schema.fields:
        if f.name not in t_rows.columns:
            t_rows = t_rows.withColumn(f.name, F.lit(None).cast(f.dataType))
    all_rows = t_rows.unionByName(tagged.withColumn(cc, F.lit(1)))
    w = wk.orderBy(F.desc(cc), order_expr)
    flagged = all_rows.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__hc", F.max(cc).over(wk)
    )
    kept = flagged.where(
        ((F.col(cc) == 1) & (F.col("__rn") == 1))
        | ((F.col(cc) == 0) & (F.col("__hc") == 0))
    )
    return kept.select(*target.columns)


class ParquetMergeWriter:
    """MERGE-style writer over a parquet directory.

    Write path: read current target (if any) -> merge_upsert -> write to a
    staging dir -> atomic-ish swap. ``merge`` returns the table's row count
    after the merge from an ``observe()`` metric of that write; the output
    is never read back. After a merge, ``read`` reads the table with the
    schema just written, so it runs no schema-inference job. One writer per
    table; writers of different tables may run concurrently.
    """

    def __init__(self, spark: SparkSession, path: str, keys: list[str]):
        self.spark = spark
        self.path = path
        self.keys = keys
        self.schema: StructType | None = None  # set by merge()

    def read(self) -> DataFrame | None:
        if not os.path.exists(self.path):
            return None
        reader = self.spark.read
        if self.schema is not None:
            reader = reader.schema(self.schema)
        return reader.parquet(self.path)

    def merge(self, updates: DataFrame, order_col: str | None = None) -> int:
        # The merged plan reads the current target lazily; writing to the
        # staging dir executes that read BEFORE the old dir is removed, so
        # no driver-side materialization is needed.
        merged = merge_upsert(self.read(), updates, self.keys, order_col=order_col)
        tmp = f"{self.path}__tmp_{uuid.uuid4().hex[:8]}"
        rows = write_counted(merged, lambda df: df.write.mode("overwrite").parquet(tmp))
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        os.rename(tmp, self.path)
        self.schema = merged.schema
        return rows


def build_fact_progress(
    stg_progress: DataFrame, dim_students: DataFrame, dim_courses: DataFrame
) -> DataFrame:
    """fact_student_progress (dags/data_transformation_pipeline.py:142-181)."""
    fact = attach_sk(stg_progress, dim_students, "student_id", "student_sk")
    fact = attach_sk(fact, dim_courses, "course_id", "course_sk")
    return fact.select(
        "student_sk",
        "course_sk",
        date_key(F.col("event_timestamp").cast("date")).alias("date_key"),
        "event_id",
        "event_type",
        "module_id",
        F.col("duration_seconds"),
        F.col("score"),
        F.col("completion_percentage"),
        F.col("event_timestamp"),
        F.col("quality_score"),
    )


def build_fact_tickets(stg_tickets: DataFrame, dim_students: DataFrame) -> DataFrame:
    """fact_support_tickets (dags/data_transformation_pipeline.py:184-227);
    resolution_time_hours left NULL exactly like the reference (:218)."""
    fact = attach_sk(stg_tickets, dim_students, "student_id", "student_sk")
    return fact.select(
        "student_sk",
        date_key(F.col("created_date")).alias("date_key"),
        "ticket_id",
        "subject",
        "description",
        "priority",
        "status",
        "category",
        "created_date",
        "resolved_date",
        F.lit(None).cast("double").alias("resolution_time_hours"),
        "quality_score",
    )


def build_fact_enrollments(
    stg_students: DataFrame, dim_students: DataFrame, dim_courses: DataFrame | None = None
) -> DataFrame:
    """fact_enrollments (dags/data_transformation_pipeline.py:239-279).

    The reference zeroes the progress measures and has no course linkage
    (course_sk NULL — which degrades its Postgres upsert to a single row;
    BASELINE.md). We keep course_sk NULL for parity but merge with
    null-safe keys so every student row survives.
    """
    fact = attach_sk(stg_students, dim_students, "student_id", "student_sk")
    return fact.select(
        "student_sk",
        F.lit(None).cast("long").alias("course_sk"),
        date_key(F.col("enrollment_date")).alias("date_key"),
        F.col("enrollment_date"),
        F.col("fee_paid"),
        F.col("payment_status"),
        F.lit(0.0).alias("completion_percentage"),
        F.lit(None).cast("double").alias("avg_score"),
        F.lit(0).alias("total_time_spent_minutes"),
    )


def scd2_apply(
    current: DataFrame | None,
    updates: DataFrame,
    keys: list[str],
    tracked_cols: list[str],
    batch_ts: Column,
    far_future: str = "9999-12-31 00:00:00",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge (history-keeping upsert).

    Extends the reference's last-write-wins upsert (db.py:45-65) with
    version history: instead of overwriting a changed dimension row, the
    open version is CLOSED (``valid_to`` = batch_ts, ``is_current`` =
    false) and a new open version is appended. Unchanged rows pass
    through untouched; brand-new keys open their first version.

    Columns added/managed: ``valid_from``, ``valid_to``, ``is_current``.
    Change detection compares ``tracked_cols`` null-safely.

    Scale: one co-partitioned join of open versions against the update
    batch (both keyed on the natural key) plus a union — the same
    shuffle family as merge_upsert; history rows (is_current = false)
    are never read by the join, so the working set stays at one row per
    live key regardless of history depth. On Delta this maps to the
    two-action MERGE (update-close + insert) with identical semantics.
    """
    far = F.lit(far_future).cast("timestamp")
    fresh = updates.withColumn("valid_from", batch_ts).withColumn(
        "valid_to", far
    ).withColumn("is_current", F.lit(True))
    if current is None:
        return fresh

    open_rows = current.where(F.col("is_current"))
    closed_rows = current.where(~F.col("is_current"))

    # Side-presence after the full-outer join is probed through columns
    # that are never NULL on their own side — is_current (always true on
    # an open row) and a literal marker on the update side. Probing
    # through keys[0] IS NOT NULL (the pre-r12 shape) misread every
    # legitimately-NULL key as "side absent": a NULL-key update could
    # never open a version and an existing NULL-key open version was
    # silently dropped by the next load, even though the join condition
    # itself was already null-safe. Found by the r12 randomized
    # warehouse properties (tests/test_warehouse_properties.py).
    # The marker name is derived to be absent from the caller's columns:
    # a fixed "__upd_present" would silently overwrite (and then drop) a
    # caller column of the same name, corrupting the opened versions'
    # payload (ADVICE r12 #4).
    marker = "__upd_present"
    while marker in updates.columns:
        marker = "_" + marker
    upd_marked = updates.withColumn(marker, F.lit(True))

    cond = None
    for k in keys:
        clause = open_rows[k].eqNullSafe(upd_marked[k])
        cond = clause if cond is None else (cond & clause)

    changed = None
    for c in tracked_cols:
        diff = ~open_rows[c].eqNullSafe(upd_marked[c])
        changed = diff if changed is None else (changed | diff)

    joined = open_rows.alias("cur").join(upd_marked.alias("upd"), cond, "full_outer")
    upd_key_present = F.col(f"upd.{marker}").isNotNull()
    cur_key_present = F.col("cur.is_current").isNotNull()

    # 1. open rows whose key is absent from the batch, or matched-unchanged
    untouched = joined.where(
        cur_key_present & (~upd_key_present | ~F.coalesce(changed, F.lit(False)))
    ).select("cur.*")
    # 2. matched-and-changed open rows -> closed
    closed_now = (
        joined.where(cur_key_present & upd_key_present & F.coalesce(changed, F.lit(False)))
        .select("cur.*")
        .withColumn("valid_to", batch_ts)
        .withColumn("is_current", F.lit(False))
    )
    # 3. new versions: changed keys + brand-new keys
    opened = (
        joined.where(
            upd_key_present & (~cur_key_present | F.coalesce(changed, F.lit(False)))
        )
        .select("upd.*")
        .drop(marker)
        .withColumn("valid_from", batch_ts)
        .withColumn("valid_to", far)
        .withColumn("is_current", F.lit(True))
    )
    cols = closed_rows.columns
    return (
        closed_rows.unionByName(untouched.select(*cols))
        .unionByName(closed_now.select(*cols))
        .unionByName(opened.select(*cols))
    )

