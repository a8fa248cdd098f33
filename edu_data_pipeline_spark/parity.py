"""Local replica of the driver's DuckDB-oracle correctness check.

For each suite entry: run the Spark query and the oracle SQL on the same
parquet tables, canonicalize BOTH sides through pandas (Spark ``toPandas``
vs duckdb ``.df()``) the way the driver does, and compare exact values in
a dtype-sensitive way.

Why pandas and not plain Python tuples: the driver's hasher is
pandas-dtype-sensitive — a DuckDB HUGEINT window sum arrives as float64
(1.0, 2.0, ...) while Spark's bigint arrives as int64 (1, 2, ...), and the
two hash DIFFERENTLY even though tuple comparison with ``==`` calls them
equal. That exact class of bug (``user_sessions`` round 1) passed the old
tuple-based replica and failed the driver. This replica therefore:

- compares cells with a type prefix (int vs float vs bool vs string), so
  int64 1 != float64 1.0;
- normalizes all date-likes to one canonical form (DuckDB returns DATE
  columns as midnight datetime64 while Spark returns datetime.date
  objects, and the driver hash-matches those — e.g. ``dim_date`` green in
  round 1 — so date == midnight-timestamp here too);
- treats NaN/NaT/None uniformly as NULL (a nullable BIGINT lands as
  float64-with-NaN on both engines);
- flags unhashable cells (lists/arrays/dicts — the driver's canonicalizer
  raises ``TypeError: unhashable type`` on them, ``approx_user_stats``
  round 1) and Decimal objects (Spark decimal -> object-of-Decimal vs
  DuckDB decimal -> float64 would mismatch in the driver) even on
  rows-only entries, since the driver canonicalizes those too.
"""

from __future__ import annotations

import datetime
import decimal
import math
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd

from .sources.testdata import TABLES


@dataclass
class ParityResult:
    name: str
    ok: bool
    spark_rows: int
    oracle_rows: int
    problems: list[str] = field(default_factory=list)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


class UnhashableCell(TypeError):
    """Cell type the driver's pandas canonicalizer cannot hash/sort."""


def _canon_cell(v) -> str | None:
    """Canonical, type-prefixed string for one pandas cell.

    The prefix makes the compare dtype-sensitive (``i:1`` != ``f:1.0``)
    like the driver's hash, while all date-likes share one form.
    """
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (np.bool_, bool)):
        return f"b:{bool(v)}"
    if isinstance(v, (np.integer, int)):
        return f"i:{int(v)}"
    if isinstance(v, (np.floating, float)):
        fv = float(v)
        if math.isnan(fv):
            return None  # NULL in a nullable numeric column
        if math.isinf(fv):
            return f"f:{fv}"
        return f"f:{fv!r}"
    if isinstance(v, pd.Timestamp):
        return f"t:{v.isoformat(sep=' ', timespec='microseconds')}"
    if isinstance(v, datetime.datetime):
        ts = pd.Timestamp(v).tz_localize(None) if v.tzinfo else pd.Timestamp(v)
        return f"t:{ts.isoformat(sep=' ', timespec='microseconds')}"
    if isinstance(v, datetime.date):
        return f"t:{v.isoformat()} 00:00:00.000000"
    if isinstance(v, decimal.Decimal):
        raise UnhashableCell(
            "Decimal cell: Spark decimal -> object-of-Decimal vs DuckDB "
            "decimal -> float64 hash-mismatch in the driver; cast to double"
        )
    if isinstance(v, (list, tuple, set, dict, np.ndarray, bytearray)):
        raise UnhashableCell(
            f"{type(v).__name__} cell: driver canonicalizer raises "
            "'unhashable type' — return scalar columns instead"
        )
    if isinstance(v, (bytes, memoryview)):
        return f"x:{bytes(v).hex()}"
    return f"s:{v}"


def _canon_frame(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Lowercase + name-sort columns, canonicalize cells, sort rows."""
    pdf = pdf.rename(columns=lambda c: c.lower())
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = []
    for raw in pdf.itertuples(index=False, name=None):
        rows.append(tuple(_canon_cell(v) for v in raw))
    rows.sort(key=lambda r: tuple((v is None, v or "") for v in r))
    return cols, rows


def _dtype_note(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Column-level dtype-class warnings (int-vs-float is the driver killer)."""
    notes = []
    s = {c.lower(): d for c, d in spark_pdf.dtypes.items()}
    d = {c.lower(): dt for c, dt in duck_pdf.dtypes.items()}
    for col in sorted(set(s) & set(d)):
        sk, dk = s[col].kind, d[col].kind
        if sk != dk and {sk, dk} <= {"i", "u", "f"}:
            # Only fatal when actual non-null values exist on the float
            # side that represent integers (the HUGEINT->float64 case);
            # flagged here, value compare below decides pass/fail.
            notes.append(
                f"column '{col}' dtype kind differs: spark={s[col]} oracle={d[col]}"
            )
    return notes


def compare_query(spark, con, entry, sf_dir: str, limit_detail: int = 5) -> ParityResult:
    from .suite import release_caches

    try:
        sdf = entry.fn(spark, sf_dir)
        spark_pdf = sdf.toPandas()
    finally:
        # Cache lifecycle (VERDICT r4 #2): frames the query persisted via
        # persist_tracked() are consumed now — release them so a sweep
        # over the full registry doesn't accumulate cached partitions.
        release_caches()
    res = ParityResult(entry.name, True, len(spark_pdf), -1)

    if entry.oracle is None:
        # Rows-only in the driver — but the driver STILL canonicalizes the
        # Spark result (approx_user_stats crashed it round 1), so verify
        # canonicalization works.
        res.oracle_rows = -1
        try:
            _canon_frame(spark_pdf)
            res.problems.append("rows-only check (no oracle)")
        except UnhashableCell as exc:
            res.ok = False
            res.problems.append(f"driver-canonicalizer hazard: {exc}")
        return res

    duck_pdf = con.execute(entry.oracle).df()
    res.oracle_rows = len(duck_pdf)

    try:
        s_cols, s_rows = _canon_frame(spark_pdf)
    except UnhashableCell as exc:
        res.ok = False
        res.problems.append(f"spark side: driver-canonicalizer hazard: {exc}")
        return res
    try:
        d_cols, d_rows = _canon_frame(duck_pdf)
    except UnhashableCell as exc:
        res.ok = False
        res.problems.append(f"oracle side: driver-canonicalizer hazard: {exc}")
        return res

    if s_cols != d_cols:
        res.ok = False
        res.problems.append(f"column mismatch: spark={s_cols} oracle={d_cols}")
        return res
    if len(s_rows) != len(d_rows):
        res.ok = False
        res.problems.append(f"row count: spark={len(s_rows)} oracle={len(d_rows)}")

    dtype_notes = _dtype_note(spark_pdf, duck_pdf)

    mismatches = 0
    for i, (srow, drow) in enumerate(zip(s_rows, d_rows)):
        if srow == drow:
            continue
        mismatches += 1
        if mismatches <= limit_detail:
            diff_cols = [
                f"{c}: spark={a!r} oracle={b!r}"
                for c, a, b in zip(s_cols, srow, drow)
                if a != b
            ]
            res.problems.append(f"row {i}: " + "; ".join(diff_cols))
    if mismatches:
        res.ok = False
        res.problems.append(f"{mismatches} mismatched rows")
        res.problems.extend(dtype_notes)
    elif dtype_notes:
        # Values matched under canonicalization but dtype classes differ —
        # exactly the HUGEINT/float64 trap. Fail it locally.
        res.ok = False
        res.problems.append(
            "values equal but pandas dtype classes differ (driver hash "
            "would mismatch):"
        )
        res.problems.extend(dtype_notes)
    return res
