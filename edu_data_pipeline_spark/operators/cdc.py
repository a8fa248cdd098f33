"""CDC application: fold an insert/update/delete change feed into a
snapshot.

The reference's upserts (``dags/utils/db.py:45-65``) cover I and U;
real change feeds (Debezium-style) also carry deletes and multiple
changes per key per batch. ``apply_cdc`` is the full fold, and it is the
keyed upsert plus one filter:

1. last-change-wins per key — ``warehouse.merge_upsert`` ordered by the
   change sequence, the same in-batch rule as the reference's
   dict-overwrite dedup, folded with the snapshot in one key-partitioned
   window (one exchange);
2. delete wins by being the last op: the merged rows whose ``_op`` is
   ``'D'`` are dropped afterwards, not by a separate pass.

Idempotent per batch: applying the same change feed twice yields the
same snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .warehouse import merge_upsert

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
    inserts). NULL keys match NULL keys, as in ``merge_upsert``."""
    if snapshot is not None:
        snap_clash = sorted({OP_COL, order_col} & set(snapshot.columns))
        if snap_clash:
            # fail explicitly instead of silently NULL-padding a real
            # snapshot column
            raise ValueError(
                f"apply_cdc: snapshot columns {snap_clash} collide with the "
                f"change feed's op/order columns; rename before calling"
            )
        # snapshot rows carry no op, so they survive unless a change wins
        snapshot = snapshot.withColumn(OP_COL, F.lit(None).cast("string")).withColumn(
            order_col, F.lit(None).cast(changes.schema[order_col].dataType)
        )
    merged = merge_upsert(snapshot, changes, keys, order_col)
    live = F.col(OP_COL).isNull() | (F.col(OP_COL) != "D")
    return merged.where(live).drop(OP_COL, order_col)
