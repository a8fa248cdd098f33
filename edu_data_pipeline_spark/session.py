"""SparkSession factory with scale-oriented defaults.

Local runs use ``local[$SPARK_GRAFT_CPUS]``, or one thread per core of
the box when that is unset. Every setting here is chosen so the same
logical plans survive a 1000-executor cluster: AQE handles runtime
re-planning / skew, shuffle partitions default to the local thread count
(32 on a cluster master) but are overridable, session timezone
is pinned to UTC so timestamp semantics are environment-independent, and
ANSI mode is off so casts return NULL on failure (the reference engine's
cleaning semantics — see dags/utils/cleaning_rules.py:179-208 — treat
unparseable values as NULL/flagged, never as job failures).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Static shuffle width for non-local masters. A local[N] master gets N
# instead: AQE coalesces batch shuffles either way, but streaming runs
# with AQE off, so a stateful query's state-partition count is exactly
# this value — every micro-batch runs that many state tasks and commits
# that many state-store versions. 32 on a 4-core box cost the paced
# event stream a 2.6 s state commit per batch (4 partitions: 0.36 s).
DEFAULT_SHUFFLE_PARTITIONS = 32

# Heap per local executor thread (r14 optimization, guide §5). Spark's
# driver JVM defaults to 1 GB — in local[N] mode that single heap holds
# every executor thread's execution/storage memory, so local[32] ran 32
# concurrent tasks in ~30 MB of heap each and the r14 stage probe
# measured GC at up to 43% of executorRunTime on the gram/array-heavy
# document queries (17.45 s GC of 40.4 s runtime on one docs_dup_spans
# shape). Sizing the heap to the thread count removed the thrash
# (docs_dup_spans GC 0.14 s -> 0.02 s, wall 3.21 -> 2.19 s quiet-host).
# 256 MB/thread is the guide's "more memory per concurrent task" rule
# applied to local mode; on a cluster master this is inert (executor
# sizing belongs to the deployment).
_LOCAL_HEAP_MB_PER_CORE = 256
_LOCAL_HEAP_MIN_MB = 2048


def _local_cores(master: str) -> int | None:
    """Thread count of a ``local[N]`` / ``local[*]`` master (``*`` is
    ``os.cpu_count()``), or None for any other master string — cluster
    masters and unparseable ones alike."""
    m = re.fullmatch(r"local\[([1-9][0-9]*|\*)\]", master.strip())
    if not m:
        return None
    return (os.cpu_count() or 1) if m.group(1) == "*" else int(m.group(1))


def get_spark(
    app_name: str = "edu-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with engine defaults.

    Defaults hold at scale: AQE coalesces the post-shuffle partition
    count at runtime, so the static ``spark.sql.shuffle.partitions``
    value only needs to be an upper bound; skew-join splitting is on so
    hot keys in big joins/aggregations re-plan instead of straggling.
    With no ``master`` the session runs ``local[$SPARK_GRAFT_CPUS]``, or
    one thread per core when that is unset. With no
    ``shuffle_partitions`` a local master gets one shuffle partition per
    thread and any other master ``DEFAULT_SHUFFLE_PARTITIONS``. A
    streaming query keeps the partition count it started its checkpoint
    with, whatever the session says on restart.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    resolved_master = master or f"local[{cpus}]"
    cores = _local_cores(resolved_master)
    builder = (
        SparkSession.builder.master(resolved_master)
        .appName(app_name)
        # --- planner / runtime ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cores or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Broadcast threshold: dims in this engine are small (city
        # master ≤ 21 rows, dim_courses ~10s, nation/region 25/5);
        # 64 MB keeps even sf-scaled dims broadcastable.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.timestampType", "TIMESTAMP_LTZ")
        # --- python interop: Arrow for every pandas_udf/applyInPandas ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Parquet scans: vectorized reader + pushdown are defaults, but
        # pin them so the bench environment can't silently regress.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # The driver testdata stores events.ts as TIMESTAMP(NANOS), which
        # Spark cannot read natively; read as long and convert in the
        # source layer (sources/testdata.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # Local-mode heap sizing. Only effective when this call actually
    # launches the JVM; an explicit caller conf or $SPARK_GRAFT_DRIVER_MEM
    # (passed through verbatim) wins. A non-local master never gets
    # spark.driver.memory from this factory, so the env var is ignored
    # there (ADVICE r14: cluster sizing belongs to the deployment).
    if cores and "spark.driver.memory" not in (extra_conf or {}):
        heap_mb = max(_LOCAL_HEAP_MIN_MB, _LOCAL_HEAP_MB_PER_CORE * cores)
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{heap_mb}m")
        builder = builder.config("spark.driver.memory", mem)
    # Throughput GC for the batch-executor JVM (r14): G1's pause-time
    # goal costs throughput that a batch engine never buys anything
    # with; ParallelGC won both interleaved A/B rounds on the heavy
    # queries (22.6->21.0 s and 23.4->17.3 s over the 8-query set).
    # Same reasoning applies to cluster executors (pause-insensitive
    # batch work); only set here when the caller didn't pass their own
    # JVM options.
    if cores and "spark.driver.extraJavaOptions" not in (
        extra_conf or {}
    ):
        builder = builder.config(
            "spark.driver.extraJavaOptions", "-XX:+UseParallelGC"
        )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
