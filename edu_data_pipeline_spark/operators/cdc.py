"""CDC application: fold an insert/update/delete change feed into a
snapshot.

The reference's upserts (``dags/utils/db.py:45-65``) cover I and U;
real change feeds (Debezium-style) also carry deletes and multiple
changes per key per batch. ``apply_cdc`` is the full fold, Spark-first:

1. last-change-wins per key — one window over (key, change order), the
   same in-batch rule as the reference's dict-overwrite dedup;
2. delete wins by being the last op, not by a separate pass;
3. the snapshot is folded into the same pass: snapshot and change rows
   are unioned and one key-partitioned window ranks every change above
   every snapshot row, so a key keeps its latest change (or nothing,
   for a delete) when any change touched it and its snapshot rows
   otherwise — one exchange, the same shape as ``merge_upsert``.

Idempotent per batch: applying the same change feed twice yields the
same snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["apply_cdc"]

OP_COL = "_op"  # 'I' | 'U' | 'D'


def apply_cdc(
    snapshot: DataFrame | None,
    changes: DataFrame,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """Return the new snapshot after applying ``changes``.

    ``changes`` carries the payload columns plus ``_op`` and
    ``order_col`` (change sequence — LSN, offset, or timestamp).
    ``snapshot`` may be None (initial load from a feed that starts with
    inserts)."""
    # MATERIALIZED struct partition key (r14, the bucketed_running_sum
    # precedent): a struct of the key columns is never NULL at the top
    # level and struct equality compares NULL fields as equal, so
    # partitioning on it groups rows exactly like the <=> conjunction
    # the pre-r14 anti-join used — NULL-key changes land with NULL-key
    # snapshot rows (the r12 NULL-key upsert fix, SURVEY §7 hard-part 6).
    kc = "_cdc_k"
    cc = "_cdc_c"  # 1 = change-feed row, 0 = snapshot row
    reserved = {kc, cc, "_rn", "_hc"}
    cols = set(changes.columns) | (set(snapshot.columns) if snapshot is not None else set())
    clash = sorted(reserved & cols)
    if clash:
        raise ValueError(
            f"apply_cdc: input columns collide with reserved internal "
            f"name(s) {clash}; rename before calling"
        )
    tagged = changes.withColumn(kc, F.struct(*keys))
    if snapshot is None:
        w = Window.partitionBy(kc).orderBy(F.desc(order_col))
        latest = (
            tagged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        return latest.where(F.col(OP_COL) != "D").drop(OP_COL, order_col, kc)
    # SINGLE-EXCHANGE union fold (r15, VERDICT r14 #4). The r14 shape
    # (window-dedup the feed, anti-join the snapshot on the struct key,
    # union the survivors) consumed the deduped feed THREE times —
    # anti-join probe, broadcast twin of the probe for the snapshot's
    # non-hashable legs, and the survivor union — and column pruning
    # specializes each copy, so ReuseExchange never unified them: the
    # feed was scanned and shuffled three times (4 exchanges on the
    # forced-SMJ path, plans/r14/cdc_snapshot_fold_smj_*). Folding the
    # snapshot INTO the window instead expresses the same merge as one
    # union + one key-partitioned window pass: snapshot rows sort below
    # every change row (cc=0 first key, descending), so per key the
    # row_number-1 row is the latest change when any change touched the
    # key and the per-key max(cc) marker says whether snapshot rows
    # survive. One exchange, one scan of each input
    # (plans/r15/cdc_snapshot_fold_*). Semantics are unchanged row-set
    # equality: latest change wins (D drops the key), untouched
    # snapshot rows — including duplicate-key snapshots, which keep ALL
    # their rows exactly like the anti-join — pass through.
    snap_clash = sorted({OP_COL, order_col} & set(snapshot.columns))
    if snap_clash:
        # the pre-r15 shape errored on this degenerate schema too (the
        # survivor union could never line up); fail explicitly instead
        # of silently NULL-padding a real snapshot column
        raise ValueError(
            f"apply_cdc: snapshot columns {snap_clash} collide with the "
            f"change feed's op/order columns; rename before calling"
        )
    snap_rows = (
        snapshot.withColumn(kc, F.struct(*keys))
        .withColumn(OP_COL, F.lit(None).cast("string"))
        .withColumn(order_col, F.lit(None).cast(changes.schema[order_col].dataType))
        .withColumn(cc, F.lit(0))
    )
    all_rows = snap_rows.unionByName(tagged.withColumn(cc, F.lit(1)))
    wk = Window.partitionBy(kc)
    w = wk.orderBy(F.desc(cc), F.desc(order_col))
    flagged = all_rows.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_hc", F.max(cc).over(wk)
    )
    kept = flagged.where(
        (
            (F.col(cc) == 1)
            & (F.col("_rn") == 1)
            & (F.col(OP_COL) != "D")
        )
        | ((F.col(cc) == 0) & (F.col("_hc") == 0))
    )
    return kept.select(*snapshot.columns)
