"""Loaders for the driver's synthetic TPC-H-ish parquet tables.

Tables (one parquet file each, see TESTDATA.md): region nation customer
supplier part orders lineitem events documents embeddings.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Per-session logical-plan cache (r14 optimization). Building a reader
# costs a parquet footer read plus ~90 ms of driver/py4j work per call
# (measured: DataFrameReader.parquet at 0.089 s/call under cProfile),
# and the suite calls table() 1-4x per query x 53 queries per bench
# iteration. The cache holds the ANALYZED DataFrame (a plan, never
# data): every action on it still scans the parquet fresh, so bench and
# oracle runs keep computing from the inputs — this is the same
# metadata reuse a catalog table / registered temp view gives, applied
# to the path-based reader. Keyed by applicationId so a stopped/new
# SparkContext never serves a stale session's plan; entries from
# applications other than the CURRENT one are evicted on every miss
# (r15, VERDICT r14 #7), so a long-lived multi-session process holds at
# most one application's plans instead of leaking py4j-pinned logical
# plans per restart.
_PLAN_CACHE: dict[tuple, DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing events.ts to TIMESTAMP (LTZ).

    Precondition: ``spark.sql.session.timeZone`` must be UTC — the NTZ->LTZ
    normalization below is value-preserving only then. Enforced here (not
    just by convention via get_spark/ensure_session_confs) because table()
    is also called directly by scripts and tests (ADVICE r2).

    Static-input contract (ADVICE r14): the cached plan pins the
    resolved file listing and read-time schema of
    ``{sf_dir}/{name}.parquet`` for the life of the application —
    rewriting a table in place mid-session would serve the stale file
    list. The bench/oracle corpus is immutable, which is what makes the
    cache sound; callers that rewrite inputs in-session must start a
    new application (or clear ``_PLAN_CACHE``).
    """
    app_id = spark.sparkContext.applicationId
    key: tuple = (app_id, sf_dir, name)
    if name == "events":
        # the NTZ->LTZ normalization is tz-dependent and its SHAPE
        # depends on the nanosAsLong legacy conf (long vs NTZ arrival);
        # key the cached plan on both so a conf change can never serve
        # a stale cast (ADVICE r14)
        key = (
            *key,
            spark.conf.get("spark.sql.session.timeZone"),
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
        )
    cached = _PLAN_CACHE.get(key)
    if cached is not None:
        return cached
    # single-application cache: evict plans pinned by DEAD applications
    # before inserting for the live one (VERDICT r14 #7)
    for stale in [k for k in _PLAN_CACHE if k[0] != app_id]:
        del _PLAN_CACHE[stale]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts has shipped as TIMESTAMP(NANOS) (arriving as a long under
    # spark.sql.legacy.parquet.nanosAsLong) and as TIMESTAMP(MICROS) with
    # isAdjustedToUTC=false (arriving as TIMESTAMP_NTZ). Normalize both to a
    # session-zone TIMESTAMP so downstream unix_micros()/cast('long')
    # arithmetic type-checks; the session zone is pinned to UTC, so the NTZ
    # cast is value-preserving and matches DuckDB's naive micro timestamps.
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    if name == "events":
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00"):
            raise RuntimeError(
                f"events.ts normalization requires a UTC session zone, got "
                f"{tz!r}; call ensure_session_confs(spark)/get_spark() first"
            )
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # INTEGER division (ns ~1.7e18 overflows a double mantissa),
            # truncating exactly like DuckDB's micro timestamps.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # explicit TimestampType() — a bare cast('timestamp') resolves
            # via spark.sql.timestampType and would no-op if a session set
            # that conf to TIMESTAMP_NTZ (ADVICE r2)
            df = df.withColumn("ts", F.col("ts").cast(TimestampType()))
    _PLAN_CACHE[key] = df
    return df


def metadata_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from parquet footer metadata — no Spark job, no
    data scan (pyarrow reads only the footers). This is how a production
    pipeline sizes scale knobs (bucket widths, partition counts): from
    the manifest/footer, not a cluster pass. For a 100 TB table this is
    one footer read per file; for anything non-parquet fall back to
    ``df.count()``."""
    import pyarrow.dataset as ds

    path = f"{sf_dir}/{name}.parquet"
    return ds.dataset(path, format="parquet").count_rows()
