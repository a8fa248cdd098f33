"""Analytics/aggregation/join/window queries over the driver testdata.

Each query demonstrates a SURVEY §2 operator family on the synthetic
TPC-H-ish tables, with a DuckDB oracle twin. Float aggregates go through
exact decimal sums (see suite.dsum/davg) so value hashes match the oracle
bit-for-bit. Scale notes inline: dims (region/nation) broadcast; facts
aggregate with map-side partials; windows partition by bounded keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.dates import date_key
from ..sources.testdata import table
from . import (
    DEC,
    cents,
    davg,
    davg_exact,
    dround,
    dsum,
    dsum_exact,
    persist_tracked,
    register,
    sql_cents,
    sql_davg,
    sql_davg_exact,
    sql_dround,
    sql_dsum,
    sql_dsum_exact,
)

# Fixed reference clock for event-window queries (events span Jan 2024).
NOW_DATE = "2024-01-31"

# DuckDB twins of the exact-cents money expressions (see suite.cents).
_SQL_DISC_PRICE = f"{sql_cents('l_extendedprice')} * (1 - {sql_cents('l_discount', 3)})"
_SQL_CHARGE = f"{_SQL_DISC_PRICE} * (1 + {sql_cents('l_tax', 3)})"


def _disc_price_dec():
    """price * (1 - disc) as an exact decimal(17,4) — no quantization."""
    one = F.lit(1).cast("decimal(1,0)")
    return cents(F.col("l_extendedprice")) * (one - cents(F.col("l_discount"), 3))


def _charge_dec():
    """disc_price * (1 + tax) as an exact decimal(22,6)."""
    one = F.lit(1).cast("decimal(1,0)")
    return _disc_price_dec() * (one + cents(F.col("l_tax"), 3))


# ---------------------------------------------------------------------------
# A4-style pricing summary (scan + filter + hash aggregate; TPC-H Q1 shape)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum_exact(sql_cents('l_quantity'))}                   AS sum_qty,
           {sql_dsum_exact(sql_cents('l_extendedprice'))}              AS sum_base_price,
           {sql_dsum_exact(_SQL_DISC_PRICE)}                           AS sum_disc_price,
           {sql_dsum_exact(_SQL_CHARGE)}                               AS sum_charge,
           {sql_davg_exact(sql_cents('l_quantity'), 'l_quantity')}     AS avg_qty,
           {sql_davg_exact(sql_cents('l_extendedprice'), 'l_extendedprice')} AS avg_price,
           {sql_davg_exact(sql_cents('l_discount', 3), 'l_discount')}  AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape. All money math runs in exact decimal: the raw
    columns hold exact cents, so casting to decimal(p,2) and multiplying
    keeps every intermediate exact (disc_price decimal(17,4), charge
    decimal(22,6)) — order-independent sums with no per-row string
    quantization, and no overflow at scale."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.where(F.col("l_shipdate") <= F.lit("2001-06-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum_exact(cents(F.col("l_quantity"))).alias("sum_qty"),
            dsum_exact(cents(F.col("l_extendedprice"))).alias("sum_base_price"),
            dsum_exact(_disc_price_dec()).alias("sum_disc_price"),
            dsum_exact(_charge_dec()).alias("sum_charge"),
            davg_exact(cents(F.col("l_quantity")), F.col("l_quantity")).alias("avg_qty"),
            davg_exact(
                cents(F.col("l_extendedprice")), F.col("l_extendedprice")
            ).alias("avg_price"),
            davg_exact(cents(F.col("l_discount"), 3), F.col("l_discount")).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# J1/J2-style star join + top-k (broadcastable dims, sort + limit)
# ---------------------------------------------------------------------------


@register(
    "top_orders",
    oracle=f"""
    SELECT o_orderkey, {sql_dsum_exact(_SQL_DISC_PRICE)} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY sum({_SQL_DISC_PRICE}) DESC, o_orderkey
    LIMIT 10
    """,
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_disc_price_dec()).alias("revenue_exact"))
        # rank on the EXACT decimal so the top-10 cut is deterministic
        .orderBy(F.desc("revenue_exact"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            dround(F.col("revenue_exact").cast("double"), 2).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


# ---------------------------------------------------------------------------
# J3/J5-style multi-dim star join + group (region/nation broadcast)
# ---------------------------------------------------------------------------


@register(
    "region_revenue",
    oracle=f"""
    SELECT r_name, n_name,
           {sql_dsum_exact(_SQL_DISC_PRICE)} AS revenue,
           count(*) AS n_lineitems
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY r_name, n_name
    """,
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    dims = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name", "r_name")
    )
    cust = F.broadcast(c.join(dims, c.c_nationkey == F.col("n_nationkey")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == F.col("c_custkey"))
        .groupBy("r_name", "n_name")
        .agg(
            dsum_exact(_disc_price_dec()).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# Window function (SK-style row_number; D2's mechanism)
# ---------------------------------------------------------------------------


@register(
    "top_customer_per_nation",
    oracle="""
    SELECT n_name, c_custkey, c_name, round(c_acctbal, 2) AS acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    QUALIFY row_number() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC, c_custkey) = 1
    """,
)
def top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top customer by account balance per nation. ``max_by`` over an
    orderable (acctbal, -custkey) struct instead of a rank window: a
    plain hash aggregate with map-side combine — no per-nation sort at
    all, so a 25-key partitioning never concentrates a nation's
    customers into one task (VERDICT r4 #3 follow-up). The negated key
    makes ties resolve to the SMALLEST custkey, matching the oracle's
    (acctbal DESC, custkey ASC) rank order; (acctbal, custkey) is unique
    per customer so the ordering struct has no ties."""
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    ord_key = F.struct(
        F.col("c_acctbal").alias("bal"), (-F.col("c_custkey")).alias("negkey")
    )
    top = F.max_by(
        F.struct("c_custkey", "c_name", "c_acctbal"), ord_key
    ).alias("top")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(top)
        .select(
            "n_name",
            F.col("top.c_custkey").alias("c_custkey"),
            F.col("top.c_name").alias("c_name"),
            F.round(F.col("top.c_acctbal"), 2).alias("acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# A1 — per-user event summary (progress-summary shape on events)
# ---------------------------------------------------------------------------


@register(
    "events_user_summary",
    oracle=f"""
    SELECT user_id,
           count(*)                                       AS n_events,
           count(DISTINCT event_type)                     AS n_event_types,
           {sql_davg('value', exact2=True)}                            AS avg_value,
           {sql_dsum('value', exact2=True)}                            AS total_value,
           max(ts)                                        AS last_ts,
           count(*) FILTER (WHERE datediff('day', CAST(ts AS DATE), DATE '{NOW_DATE}') < 7)
                                                          AS events_7d,
           count(*) FILTER (WHERE datediff('day', CAST(ts AS DATE), DATE '{NOW_DATE}') < 30)
                                                          AS events_30d
    FROM events
    GROUP BY user_id
    """,
)
def events_user_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    days_ago = F.datediff(F.lit(NOW_DATE).cast("date"), F.col("ts").cast("date"))
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_event_types"),
        davg(F.col("value"), exact2=True).alias("avg_value"),
        dsum(F.col("value"), exact2=True).alias("total_value"),
        F.max("ts").alias("last_ts"),
        F.count(F.when(days_ago < 7, 1)).alias("events_7d"),
        F.count(F.when(days_ago < 30, 1)).alias("events_30d"),
    )


# ---------------------------------------------------------------------------
# A2 — per-type summary
# ---------------------------------------------------------------------------


@register(
    "event_type_summary",
    oracle=f"""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*)                AS n_events,
           {sql_davg('value', exact2=True)}     AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def event_type_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            davg(F.col("value"), exact2=True).alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# A8 — anomaly detection (error-rate > 0.2 per user)
# ---------------------------------------------------------------------------


@register(
    "user_anomaly",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           count(*) FILTER (WHERE event_type = 'error') AS n_errors,
           (count(*) FILTER (WHERE event_type = 'error')) * 1.0 / count(*) > 0.2 AS anomaly
    FROM events
    GROUP BY user_id
    """,
)
def user_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    agg = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
    )
    return agg.withColumn(
        "anomaly", (F.col("n_errors") * 1.0 / F.col("n_events")) > 0.2
    )


# ---------------------------------------------------------------------------
# A9 — deterministic risk scoring (when-chain arithmetic)
# ---------------------------------------------------------------------------

_RISK_EXPR = """
             (CASE WHEN NOT recent_activity THEN 20 ELSE 0 END)
             + (CASE WHEN coalesce(completion_rate, 0) < 30 THEN 25 ELSE 0 END)
             + (CASE WHEN lower(payment_status) != 'completed' THEN 15 ELSE 0 END)
"""


@register(
    "risk_scores",
    oracle=f"""
    WITH feats AS (
      SELECT c_custkey,
             c_acctbal > 0 AS recent_activity,
             least(c_acctbal / 100.0, 100.0) AS completion_rate,
             CASE WHEN c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
                  THEN 'completed' ELSE 'pending' END AS payment_status
      FROM customer
    ), scored AS (
      SELECT c_custkey, least({_RISK_EXPR}, 100) AS risk_score FROM feats
    )
    SELECT c_custkey, risk_score,
           CASE WHEN risk_score >= 75 THEN 'Critical'
                WHEN risk_score >= 50 THEN 'High'
                WHEN risk_score >= 25 THEN 'Medium'
                ELSE 'Low' END AS risk_category
    FROM scored
    """,
)
def risk_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.transform import risk_score

    c = table(spark, sf_dir, "customer")
    feats = c.select(
        "c_custkey",
        (F.col("c_acctbal") > 0).alias("recent_activity"),
        F.least(F.col("c_acctbal") / 100.0, F.lit(100.0)).alias("completion_rate"),
        F.when(
            F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"), "completed"
        ).otherwise("pending").alias("payment_status"),
    )
    score, bucket = risk_score(
        F.col("recent_activity"), F.col("completion_rate"), F.col("payment_status")
    )
    return feats.select(
        "c_custkey", score.alias("risk_score"), bucket.alias("risk_category")
    )


# ---------------------------------------------------------------------------
# A10 — sentiment stub on documents ("slow" as the trigger token here;
# same substring semantics as the reference's "not")
# ---------------------------------------------------------------------------


@register(
    "doc_sentiment",
    oracle="""
    SELECT doc_id,
           CASE WHEN contains(lower(text), 'slow') THEN 'Negative' ELSE 'Neutral' END AS sentiment,
           CASE WHEN contains(lower(text), 'slow') THEN -0.2 ELSE 0.0 END AS sentiment_score
    FROM documents
    """,
)
def doc_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    negative = F.lower(F.col("text")).contains("slow")
    return d.select(
        "doc_id",
        F.when(negative, "Negative").otherwise("Neutral").alias("sentiment"),
        F.when(negative, F.lit(-0.2)).otherwise(F.lit(0.0)).alias("sentiment_score"),
    )


# ---------------------------------------------------------------------------
# A5 — labelled conditional counts glued by UNION ALL
# ---------------------------------------------------------------------------


@register(
    "ai_insights",
    oracle="""
    SELECT 'High Balance Customers' AS metric_name, count(*) AS metric_value,
           'Customers with acctbal > 9000' AS description
    FROM customer WHERE c_acctbal > 9000
    UNION ALL
    SELECT 'Urgent Orders', count(*), 'Orders with 1-URGENT priority'
    FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT 'Negative Balance Customers', count(*), 'Customers with acctbal < 0'
    FROM customer WHERE c_acctbal < 0
    """,
)
def ai_insights(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    high = c.where(F.col("c_acctbal") > 9000).agg(
        F.lit("High Balance Customers").alias("metric_name"),
        F.count(F.lit(1)).alias("metric_value"),
        F.lit("Customers with acctbal > 9000").alias("description"),
    )
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").agg(
        F.lit("Urgent Orders").alias("metric_name"),
        F.count(F.lit(1)).alias("metric_value"),
        F.lit("Orders with 1-URGENT priority").alias("description"),
    )
    negative = c.where(F.col("c_acctbal") < 0).agg(
        F.lit("Negative Balance Customers").alias("metric_name"),
        F.count(F.lit(1)).alias("metric_value"),
        F.lit("Customers with acctbal < 0").alias("description"),
    )
    return high.unionByName(urgent).unionByName(negative)


# ---------------------------------------------------------------------------
# J3 — generated date dimension (2557 golden rows)
# ---------------------------------------------------------------------------


@register(
    "dim_date",
    oracle="""
    SELECT CAST(strftime(d, '%Y%m%d') AS INTEGER) AS date_key,
           CAST(d AS DATE)                        AS full_date,
           dayofweek(d)                           AS day_of_week,
           dayname(d)                             AS day_name,
           dayofmonth(d)                          AS day_of_month,
           weekofyear(d)                          AS week_of_year,
           month(d)                               AS month_number,
           monthname(d)                           AS month_name,
           quarter(d)                             AS quarter,
           year(d)                                AS year,
           dayofweek(d) IN (0, 6)                 AS is_weekend
    FROM generate_series(DATE '2020-01-01', DATE '2026-12-31', INTERVAL 1 DAY) t(d)
    """,
)
def dim_date_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.warehouse import build_dim_date

    return build_dim_date(spark)


# ---------------------------------------------------------------------------
# A6 — daily metrics gold job on events
# ---------------------------------------------------------------------------


@register(
    "daily_metrics",
    oracle=f"""
    SELECT CAST(strftime(ts, '%Y%m%d') AS INTEGER)        AS date_key,
           count(DISTINCT user_id)                        AS active_users,
           count(*)                                       AS total_events,
           {sql_davg('value', exact2=True)}                            AS avg_value,
           count(*) FILTER (WHERE event_type = 'error')   AS error_count
    FROM events
    GROUP BY 1
    """,
)
def daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(date_key(F.col("ts").cast("date")).alias("date_key"))
        .agg(
            F.count_distinct("user_id").alias("active_users"),
            F.count(F.lit(1)).alias("total_events"),
            davg(F.col("value"), exact2=True).alias("avg_value"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("error_count"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming batch-equivalent: tumbling hourly window
# ---------------------------------------------------------------------------


@register(
    "events_hourly",
    oracle=f"""
    SELECT date_trunc('hour', ts)  AS window_start,
           count(*)                AS n_events,
           count(DISTINCT user_id) AS n_users,
           {sql_davg('value', exact2=True)}     AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            davg(F.col("value"), exact2=True).alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# C12-style literal map lookup on orders
# ---------------------------------------------------------------------------


@register(
    "order_status_map",
    oracle=f"""
    SELECT CASE o_orderstatus WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FULFILLED'
                              WHEN 'P' THEN 'PARTIAL' ELSE 'UNKNOWN' END AS status,
           count(*) AS n_orders,
           {sql_dsum('o_totalprice', exact2=True)} AS total_value
    FROM orders
    GROUP BY 1
    """,
)
def order_status_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    mapping = F.create_map(
        F.lit("O"), F.lit("OPEN"), F.lit("F"), F.lit("FULFILLED"),
        F.lit("P"), F.lit("PARTIAL"),
    )
    return (
        o.groupBy(
            F.coalesce(mapping[F.col("o_orderstatus")], F.lit("UNKNOWN")).alias("status")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), exact2=True).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# J7 — decorrelated scalar subqueries (student-360 shape on customer/orders)
# ---------------------------------------------------------------------------


@register(
    "customer_360",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, round(c.c_acctbal, 2) AS acctbal,
           coalesce(o.total_orders, 0) AS total_orders,
           coalesce(o.open_orders, 0)  AS open_orders,
           coalesce(o.total_spent, 0.0) AS total_spent
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey,
             count(*) AS total_orders,
             count(*) FILTER (WHERE o_orderstatus = 'O') AS open_orders,
             {sql_dsum('o_totalprice', exact2=True)} AS total_spent
      FROM orders GROUP BY o_custkey
    ) o ON o.o_custkey = c.c_custkey
    """,
)
def customer_360(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("open_orders"),
        dsum(F.col("o_totalprice"), exact2=True).alias("total_spent"),
    )
    return c.join(counts, c.c_custkey == counts.o_custkey, "left").select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.coalesce("total_orders", F.lit(0)).alias("total_orders"),
        F.coalesce("open_orders", F.lit(0)).alias("open_orders"),
        F.coalesce("total_spent", F.lit(0.0)).alias("total_spent"),
    )


# ---------------------------------------------------------------------------
# Sessionization: gap-based sessions via lag + running sum (batch twin of
# streaming session windows)
# ---------------------------------------------------------------------------


@register(
    "user_sessions",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800000000 OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sessions AS (
      SELECT user_id, ts, value,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM marked
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           {sql_dsum('value', exact2=True)} AS session_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("ts"), "event_id")
    prev = F.lag("ts").over(w)
    # Gap compared in exact microseconds on BOTH engines (second-truncated
    # longs vs INTERVAL would split (1800, 1801)s gaps differently); the
    # running sum tie-breaks on event_id on BOTH engines, and the oracle
    # casts its HUGEINT window sum to BIGINT so the driver's pandas
    # canonicalizer sees int64 on both sides.
    is_new = F.when(
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 1_800_000_000),
        1,
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    ).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = e.withColumn("is_new", is_new).withColumn(
        "session_id", F.sum("is_new").over(run)
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum(F.col("value"), exact2=True).alias("session_value"),
    )


# ---------------------------------------------------------------------------
# Exact percentiles (sort-based aggregate)
# ---------------------------------------------------------------------------


@register(
    "value_percentiles",
    oracle=f"""
    SELECT event_type,
           {sql_dround('quantile_cont(value, 0.5)', 4)} AS p50,
           {sql_dround('quantile_cont(value, 0.9)', 4)} AS p90,
           {sql_dround('quantile_cont(value, 0.99)', 4)} AS p99
    FROM events
    GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    # dround (string-route quantization), not F.round: engines disagree on
    # round(double, n) at shortest-repr ties.
    return e.groupBy("event_type").agg(
        dround(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        dround(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        dround(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


# ---------------------------------------------------------------------------
# ROLLUP totals (grouping-set aggregate)
# ---------------------------------------------------------------------------


@register(
    "revenue_rollup",
    oracle=f"""
    SELECT r_name, n_name,
           {sql_dsum('o_totalprice', exact2=True)} AS revenue,
           count(*) AS n_orders
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    dims = F.broadcast(
        n.join(r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "n_name", "r_name")
    )
    joined = o.join(
        F.broadcast(c.join(dims, c.c_nationkey == F.col("n_nationkey"))),
        o.o_custkey == F.col("c_custkey"),
    )
    return joined.rollup("r_name", "n_name").agg(
        dsum(F.col("o_totalprice"), exact2=True).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Pivot (wide conditional aggregation)
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@register(
    "events_type_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'view')     AS view,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'error')    AS error
    FROM events
    GROUP BY user_id
    """,
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
    )


# ---------------------------------------------------------------------------
# Semi-join (EXISTS; TPC-H Q4 shape): orders with any late lineitem
# ---------------------------------------------------------------------------


@register(
    "late_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def late_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    late = o.join(
        l,
        (l.l_orderkey == o.o_orderkey)
        & (l.l_shipdate > F.timestamp_add("DAY", F.lit(60), o.o_orderdate)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


# ---------------------------------------------------------------------------
# Distinct counting with exclusion filters (TPC-H Q16 shape)
# ---------------------------------------------------------------------------


@register(
    "brand_size_counts",
    oracle="""
    SELECT p_brand, p_type, count(DISTINCT p_size) AS n_sizes,
           count(*) AS n_parts
    FROM part
    WHERE p_brand != 'Brand#1' AND p_type NOT LIKE 'small%'
    GROUP BY p_brand, p_type
    """,
)
def brand_size_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return (
        p.where((F.col("p_brand") != "Brand#1") & ~F.col("p_type").like("small%"))
        .groupBy("p_brand", "p_type")
        .agg(
            F.count_distinct("p_size").alias("n_sizes"),
            F.count(F.lit(1)).alias("n_parts"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join: for each purchase, the user's most recent PRIOR click.
# Scale formulation: union the two streams and take a running last-value
# window — O(n log n) with one shuffle on (user, time), no range-join
# explosion. The same SQL runs on DuckDB (safer than dialect ASOF JOIN).
# ---------------------------------------------------------------------------


@register(
    "asof_purchase_attribution",
    oracle="""
    WITH tagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN event_type = 'click' THEN ts END AS click_ts,
             event_type
      FROM events
      WHERE event_type IN ('click', 'purchase')
    ), attributed AS (
      SELECT user_id, ts, event_id, event_type,
             max(click_ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
      FROM tagged
    )
    SELECT user_id, event_id AS purchase_event_id, ts AS purchase_ts,
           last_click_ts,
           CASE WHEN last_click_ts IS NOT NULL
                THEN date_diff('second', last_click_ts, ts) END AS seconds_since_click
    FROM attributed
    WHERE event_type = 'purchase'
    """,
)
def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc_nulls_last("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = tagged.withColumn("last_click_ts", F.max("click_ts").over(w))
    return attributed.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("ts").alias("purchase_ts"),
        "last_click_ts",
        F.when(
            F.col("last_click_ts").isNotNull(),
            F.col("ts").cast("long") - F.col("last_click_ts").cast("long"),
        ).alias("seconds_since_click"),
    )


# ---------------------------------------------------------------------------
# Sketches: HLL distinct + approximate quantiles (rows-only: sketch
# implementations differ across engines; accuracy is locked by pytest
# against exact values)
# ---------------------------------------------------------------------------


@register("approx_user_stats", oracle=None)  # rows-only: engine-specific sketches
def approx_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    # Scalar percentile columns (NOT one ArrayType column): the driver's
    # pandas canonicalizer cannot hash list cells.
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.percentile_approx("value", 0.9, 10000).alias("approx_p90"),
    )


@register(
    "user_stats_exact",
    oracle=f"""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           {sql_dround("quantile_cont(value, 0.5)", 6)} AS p50,
           {sql_dround("quantile_cont(value, 0.9)", 6)} AS p90
    FROM events GROUP BY event_type
    """,
)
def user_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-checkable twin of ``approx_user_stats``
    (VERDICT r7 #4): the sketch query is rows-only by design (HLL and
    KLL internals are engine-specific), so this sibling computes the
    SAME grouping with exact distinct counts and exact interpolated
    percentiles — Spark's ``percentile`` and DuckDB's ``quantile_cont``
    share the (n−1)·p linear-interpolation definition, rounded through
    the deterministic string→decimal route on both sides. The sketch's
    accuracy corridor vs these exact values is locked separately by
    tests/test_sketch_corridor.py. Scale note: exact percentile sorts
    per group in the SQL aggregate — fine for a bounded event-type
    domain; at 100 TB the approx sibling is the production path."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        dround(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        dround(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
    )


# ---------------------------------------------------------------------------
# Set operators: INTERSECT / EXCEPT (beyond the reference's UNION ALL)
# ---------------------------------------------------------------------------


@register(
    "source_set_ops",
    oracle="""
    SELECT 'both_short_and_long' AS set_op, source FROM (
      SELECT DISTINCT source FROM documents WHERE n_chars < 200
      INTERSECT
      SELECT DISTINCT source FROM documents WHERE n_chars >= 200
    )
    UNION ALL
    SELECT 'only_short', source FROM (
      SELECT DISTINCT source FROM documents WHERE n_chars < 200
      EXCEPT
      SELECT DISTINCT source FROM documents WHERE n_chars >= 200
    )
    """,
)
def source_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    short = d.where(F.col("n_chars") < 200).select("source").distinct()
    long_ = d.where(F.col("n_chars") >= 200).select("source").distinct()
    both = short.intersect(long_).select(
        F.lit("both_short_and_long").alias("set_op"), "source"
    )
    only_short = short.exceptAll(long_).select(
        F.lit("only_short").alias("set_op"), "source"
    )
    return both.unionByName(only_short)


# ---------------------------------------------------------------------------
# CUBE (full grouping-set lattice; ROLLUP's sibling)
# ---------------------------------------------------------------------------


@register(
    "events_cube",
    oracle=f"""
    SELECT event_type,
           CAST(strftime(ts, '%Y%m%d') AS INTEGER) % 7 AS day_bucket,
           count(*) AS n_events,
           {sql_dsum('value', exact2=True)} AS total_value
    FROM events
    GROUP BY CUBE (event_type, day_bucket)
    """,
)
def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").withColumn(
        "day_bucket", (date_key(F.col("ts").cast("date")) % 7).cast("int")
    )
    return e.cube("event_type", "day_bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), exact2=True).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Range join (bucketed): clicks within a time window before each purchase
# ---------------------------------------------------------------------------

RANGE_WINDOW_US = 1_800_000_000  # 30 minutes in microseconds


@register(
    "events_range_join",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ), purch AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_event_id, p.user_id,
           count(c.click_ts) AS n_clicks_30m
    FROM purch p LEFT JOIN clicks c
      ON c.user_id = p.user_id
     AND epoch_us(c.click_ts) >= epoch_us(p.ts) - {RANGE_WINDOW_US}
     AND epoch_us(c.click_ts) <  epoch_us(p.ts)
    GROUP BY p.event_id, p.user_id
    """,
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join done the scale-correct way: bucketize time into
    window-sized bins, equi-join on (user_id, bucket) with each probe row
    expanded to its two candidate bins, then apply the exact range
    predicate. A naive theta join (the oracle's formulation) degenerates
    to per-key cartesian at scale; the bucketed plan is a plain shuffled
    equi-join whose fan-out is bounded by events-per-bucket. Lossless:
    a click in [ts-30m, ts) lands in bucket(ts)-1 or bucket(ts) exactly
    (floor is monotone over a window-sized bin)."""
    return range_join_core(table(spark, sf_dir, "events"))


def range_join_core(e: DataFrame) -> DataFrame:
    """The bucketed range-join core over any events-shaped DataFrame
    (the scaling figures in SCALE.md's linearity smoke measured this
    plan)."""
    # exact integer bucketing (div, not double division) so the
    # two-bucket pigeonhole is provably lossless at any epoch
    bucket = F.expr(f"unix_micros(ts) div {RANGE_WINDOW_US}")
    clicks = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        bucket.alias("c_bucket"),
    )
    probe = (
        e.where(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", bucket.alias("pb"))
        .withColumn("p_bucket", F.explode(F.array(F.col("pb") - 1, F.col("pb"))))
    )
    in_range = (
        (F.unix_micros("click_ts") >= F.unix_micros("ts") - RANGE_WINDOW_US)
        & (F.unix_micros("click_ts") < F.unix_micros("ts"))
    )
    joined = probe.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("p_bucket") == F.col("c_bucket"))
        & in_range,
        "left",
    )
    return joined.groupBy(
        F.col("event_id").alias("purchase_event_id"), "user_id"
    ).agg(F.count("click_ts").alias("n_clicks_30m"))


# ---------------------------------------------------------------------------
# Window-function family: percent_rank / cume_dist / ntile / first_value /
# lag in one pass (rank analytics per user)
# ---------------------------------------------------------------------------


@register(
    "user_value_ranks",
    oracle=f"""
    SELECT event_id, user_id, value,
           {sql_dround('percent_rank() OVER w', 4)} AS pct_rank,
           {sql_dround('cume_dist() OVER w', 4)} AS cum_dist,
           ntile(4) OVER w AS quartile,
           first_value(event_id) OVER w AS min_value_event,
           lag(value) OVER w AS prev_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)
    """,
)
def user_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full rank-analytics window family over one partitioned sort:
    percent_rank, cume_dist, ntile quartiles, first_value, and lag all
    share a single (user_id, value, event_id) window, so Catalyst plans
    ONE shuffle + one sort for all five. Partition count grows with the
    user population — no global sort, no skew pile-up. Ordering
    tie-breaks on event_id so every function is deterministic on both
    engines."""
    e = table(spark, sf_dir, "events")
    # asc_nulls_last mirrors DuckDB's ASC default (r14 parity-fuzz pin:
    # a NULL value sorted FIRST here but LAST in the oracle, flipping
    # first_value/lag/rank columns for the whole user partition)
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("value"), "event_id"
    )
    return e.select(
        "event_id",
        "user_id",
        "value",
        dround(F.percent_rank().over(w), 4).alias("pct_rank"),
        dround(F.cume_dist().over(w), 4).alias("cum_dist"),
        F.ntile(4).over(w).alias("quartile"),
        F.first("event_id").over(w).alias("min_value_event"),
        F.lag("value").over(w).alias("prev_value"),
    )


# ---------------------------------------------------------------------------
# Having-filter + join back to detail (TPC-H Q18 shape)
# ---------------------------------------------------------------------------

LARGE_ORDER_QTY = 250


@register(
    "large_orders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, {sql_dsum('l_quantity', exact2=True)} AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(28,2))) > {LARGE_ORDER_QTY}
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           {sql_cents('o_totalprice')}::DOUBLE AS totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate the big fact, HAVING-filter to the rare
    heavy groups, then join back to headers. The aggregate runs FIRST so
    the join probes only qualifying orders — at scale the filtered side
    is tiny (heavy-order keys), which AQE converts to a broadcast join at
    runtime; the plan never joins the full lineitem to orders."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(cents(F.col("l_quantity"), 28)).alias("qty_exact"))
        .where(F.col("qty_exact") > LARGE_ORDER_QTY)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            cents(F.col("o_totalprice")).cast("double").alias("totalprice"),
            dround(F.col("qty_exact").cast("double"), 2).alias("total_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Winsorization: two-pass per-group outlier clipping at p05/p95
# ---------------------------------------------------------------------------


@register(
    "events_winsorized",
    oracle=f"""
    WITH bounds AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           count(*) FILTER (WHERE e.value < lo OR e.value > hi) AS n_clipped,
           {sql_dsum('value')} AS sum_raw,
           {sql_dsum('greatest(lo, least(hi, value))')} AS sum_winsorized
    FROM events e JOIN bounds b ON e.event_type = b.event_type
    GROUP BY e.event_type
    """,
)
def events_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization, the standard two-pass outlier treatment:
    pass 1 computes exact p05/p95 per group (bounded group count ->
    bounded state), pass 2 re-scans and clips via a BROADCAST join of the
    tiny bounds table — the big side is never shuffled. Exact
    percentiles keep the oracle strong; a 100 TB deployment would swap
    pass 1 to approx_percentile (sketch, mergeable) with the same shape."""
    e = table(spark, sf_dir, "events")
    bounds = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("lo"),
        F.expr("percentile(value, 0.95)").alias("hi"),
    )
    clipped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("value")))
    return (
        e.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count(
                F.when((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")), 1)
            ).alias("n_clipped"),
            dsum(F.col("value")).alias("sum_raw"),
            dsum(clipped).alias("sum_winsorized"),
        )
    )


# ---------------------------------------------------------------------------
# Semi-structured JSON processing (events.props)
# ---------------------------------------------------------------------------


@register(
    "events_props_json",
    oracle=f"""
    WITH extracted AS (
      -- json_valid + TRY_CAST (r14 parity-fuzz pin): Spark's
      -- get_json_object is graceful on malformed/empty JSON and
      -- non-numeric k (NULL, ansi off); DuckDB's json_extract_string
      -- ERRORS on malformed input and plain CAST errors on 'abc'
      SELECT event_type,
             TRY_CAST(CASE WHEN json_valid(props)
                           THEN json_extract_string(props, '$.k') END
                      AS BIGINT) AS k
      FROM events
    )
    SELECT event_type,
           count(*) AS n_events,
           count(k) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           {sql_dround('sum(k) * 1.0 / count(k)', 4)} AS avg_k,
           max(k) AS max_k
    FROM extracted GROUP BY event_type
    """,
)
def events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured path: extract a typed field from the JSON props
    column and aggregate it. get_json_object runs JVM-side (Jackson) —
    no Python, no pre-parsing pass; at scale you'd promote hot JSON
    fields to columns at ingest, and this query is exactly the probe
    that tells you which fields are hot."""
    e = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.sum("k").alias("sum_k"),
        dround(F.sum("k") * 1.0 / F.count("k"), 4).alias("avg_k"),
        F.max("k").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Cross-table reconciliation audit (order header vs lineitem detail)
# ---------------------------------------------------------------------------


@register(
    "order_price_reconciliation",
    oracle=f"""
    WITH detail AS (
      SELECT l_orderkey,
             sum({_SQL_CHARGE}) AS computed
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderstatus,
           count(*) AS n_orders,
           count(*) FILTER (
             WHERE abs({sql_cents('o_totalprice')} - coalesce(computed, 0)) > 0.01
           ) AS n_mismatched,
           {sql_dround(f"CAST(max(abs({sql_cents('o_totalprice')} - coalesce(computed, 0))) AS DOUBLE)", 2)}
             AS max_abs_diff
    FROM orders LEFT JOIN detail ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def order_price_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse audit: does the header total match the recomputed detail
    charge? Header-vs-detail reconciliation is the standard post-load
    data-quality gate. All math in exact decimals (the same cents
    conventions as pricing_summary) so the mismatch count is
    deterministic; the join is co-partitioned on orderkey with the
    detail side pre-aggregated (one row per order, never a fact-fact
    row join)."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    detail = l.groupBy("l_orderkey").agg(F.sum(_charge_dec()).alias("computed"))
    zero = F.lit(0).cast("decimal(1,0)")
    diff = F.abs(cents(F.col("o_totalprice")) - F.coalesce(F.col("computed"), zero))
    return (
        o.join(detail, o.o_orderkey == detail.l_orderkey, "left")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count(F.when(diff > 0.01, 1)).alias("n_mismatched"),
            dround(F.max(diff).cast("double"), 2).alias("max_abs_diff"),
        )
    )


# ---------------------------------------------------------------------------
# Distribution including empty groups (TPC-H Q13 shape)
# ---------------------------------------------------------------------------


@register(
    "order_count_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, count(o_orderkey) AS n_orders
      FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey
    )
    SELECT n_orders, count(*) AS n_customers
    FROM per_cust GROUP BY n_orders
    """,
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer histogram INCLUDING the
    zero-order customers (the left join is what makes the 0 bucket
    appear — an inner join silently drops it). count(o_orderkey) counts
    matches only, so unmatched customers land in bucket 0."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


# ---------------------------------------------------------------------------
# Per-group argmin join-back (TPC-H Q2 shape)
# ---------------------------------------------------------------------------


@register(
    "part_min_cost_supplier",
    oracle="""
    WITH ranked AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             l_extendedprice / greatest(l_quantity, 1) AS unit_cost,
             row_number() OVER (
               PARTITION BY l_partkey
               ORDER BY l_extendedprice / greatest(l_quantity, 1), l_suppkey,
                        l_orderkey, l_linenumber) AS rn
      FROM lineitem
    )
    SELECT ps_partkey, ps_suppkey,
           CAST(CAST(CAST(unit_cost AS VARCHAR) AS DECIMAL(38,4)) AS DOUBLE)
             AS min_unit_cost
    FROM ranked WHERE rn = 1
    """,
)
def part_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's core shape — per-group argmin with the winning row's
    attributes — via one ranking window (partition count scales with
    parts). There is no partsupp table in the driver testdata, so unit
    cost derives from lineitem; ties break on (suppkey, orderkey,
    linenumber) for full determinism. The window form beats the
    min-join-back form (one shuffle instead of two + no equality-on-
    float join key)."""
    l = table(spark, sf_dir, "lineitem")
    unit_cost = F.col("l_extendedprice") / F.greatest(F.col("l_quantity"), F.lit(1))
    w = Window.partitionBy("l_partkey").orderBy(
        unit_cost, "l_suppkey", "l_orderkey", "l_linenumber"
    )
    return (
        l.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
            dround(unit_cost, 4).alias("min_unit_cost"),
        )
    )


# ---------------------------------------------------------------------------
# Two-pass z-score anomaly detection over daily volumes (exact variance)
# ---------------------------------------------------------------------------


@register(
    "daily_event_anomalies",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY CAST(ts AS DATE)
    ), stats AS (
      SELECT count(*) AS n_days,
             sum(CAST(n AS DECIMAL(28,2))) AS s1,
             sum(CAST(n AS DECIMAL(28,2)) * CAST(n AS DECIMAL(28,2))) AS s2
      FROM daily
    )
    SELECT day, n,
           CAST(CAST(CAST(
             (n - CAST(s1 AS DOUBLE) / n_days)
             / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_days)
                    / (n_days - 1))
           AS VARCHAR) AS DECIMAL(38,4)) AS DOUBLE) AS zscore,
           abs((n - CAST(s1 AS DOUBLE) / n_days)
               / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_days)
                      / (n_days - 1))) > 2 AS is_anomaly
    FROM daily CROSS JOIN stats
    """,
)
def daily_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly gate: daily event counts z-scored against the
    corpus mean/stddev. Variance comes from exact-decimal sum and
    sum-of-squares (counts are integers, so both are exact and
    order-independent — a raw stddev_samp over doubles hashes
    differently across engines); the tiny stats row broadcasts back over
    the daily aggregate. The same two-pass broadcast shape as
    events_winsorized, on the time axis."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    nd = F.col("n").cast("decimal(28,2)")
    stats = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(nd).alias("s1"),
        F.sum(nd * nd).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_days")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n_days")
    ) / (F.col("n_days") - 1)
    z = (F.col("n") - mean) / F.sqrt(var)
    return daily.crossJoin(F.broadcast(stats)).select(
        "day",
        "n",
        dround(z, 4).alias("zscore"),
        (F.abs(z) > 2).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Anti-join + decorrelated scalar subquery (TPC-H Q22 shape): high-balance
# customers with no recent orders. The global average is a 1-row broadcast
# (the decorrelated form of Q22's scalar subquery); the "no recent orders"
# test is a left_anti join against the filtered fact — both sides scale
# linearly and the anti-join shuffles on the same custkey the fact is
# naturally keyed by.
# ---------------------------------------------------------------------------


@register(
    "idle_rich_customers",
    oracle=f"""
    WITH thr AS (
      SELECT CAST(sum({sql_cents('c_acctbal')}) AS DOUBLE) / count(c_acctbal) AS ab
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           count(*) AS n_customers,
           {sql_dsum('c_acctbal', exact2=True)} AS total_bal
    FROM customer, thr
    WHERE c_acctbal > ab
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c_mktsegment
    """,
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape. The comparison threshold is an exact-decimal sum
    cast to double over a count — bit-identical across engines, so the
    `c_acctbal > ab` boundary cannot flip a row (an order-dependent
    avg(double) could). c_acctbal holds exact cents, hence the exact2
    sum tier."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    thr = c.where(F.col("c_acctbal") > 0).agg(
        (F.sum(cents(F.col("c_acctbal"))).cast("double") / F.count("c_acctbal")).alias(
            "ab"
        )
    )
    recent = o.where(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(thr))
        .where(F.col("c_acctbal") > F.col("ab"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum(F.col("c_acctbal"), exact2=True).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-supplier blame analysis (TPC-H Q21 shape). The textbook form is
# EXISTS + NOT EXISTS self-joins on lineitem; at scale that's three passes
# over the biggest fact. Reformulated aggregation-first: one orderkey
# equi-join (co-partitioned/bucketable with the fact's natural key), one
# (order, supplier) aggregate, then an orderkey window for the per-order
# supplier/late counts — the self-joins disappear and every shuffle key is
# the order key.
# ---------------------------------------------------------------------------


@register(
    "supplier_late_blame",
    oracle="""
    WITH lines AS (
      SELECT l_orderkey, l_suppkey,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 45 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), pair AS (
      SELECT l_orderkey, l_suppkey, max(late) AS late_any
      FROM lines GROUP BY l_orderkey, l_suppkey
    ), per_order AS (
      SELECT l_orderkey, count(*) AS n_supp, sum(late_any) AS n_late
      FROM pair GROUP BY l_orderkey
    )
    SELECT s_name, count(*) AS n_blamed
    FROM pair p
    JOIN per_order o USING (l_orderkey)
    JOIN supplier ON s_suppkey = p.l_suppkey
    WHERE o.n_supp >= 2 AND o.n_late = 1 AND p.late_any = 1
    GROUP BY s_name
    ORDER BY n_blamed DESC, s_name
    LIMIT 10
    """,
)
def supplier_late_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers solely responsible for the late line on multi-supplier
    orders (TPC-H Q21 shape), top-10 by blamed-order count with a
    deterministic (count DESC, name) tie-break. supplier is a broadcast
    dim; see the section comment for the aggregation-first plan."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    lines = l.join(
        o.select("o_orderkey", "o_orderdate"),
        l.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        F.when(
            F.col("l_shipdate")
            > F.timestamp_add("DAY", F.lit(45), F.col("o_orderdate")),
            1,
        )
        .otherwise(0)
        .alias("late"),
    )
    # One exchange for both keyed operators (r14, guide §2.4): the pair
    # aggregate clusters on (l_orderkey, l_suppkey) and the per-order
    # window on (l_orderkey) — hash-partitioning on l_orderkey alone
    # satisfies BOTH required distributions (subset rule), so the
    # explicit key repartition replaces two data-sized exchanges
    # (agg shuffle + window shuffle, 7.47 + 7.45 MB at sf0.1) with one.
    # Map-side combine on (order, supplier) barely reduced rows here
    # (pairs ~= lines), so pre-exchange partial aggregation wasn't
    # paying for its shuffle anyway. Same rows, same aggregates —
    # result-identical.
    pair = (
        lines.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("late_any"))
    )
    w = Window.partitionBy("l_orderkey")
    per = pair.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("late_any").over(w).alias("n_late"),
    )
    blamed = per.where(
        (F.col("n_supp") >= 2) & (F.col("n_late") == 1) & (F.col("late_any") == 1)
    )
    return (
        blamed.join(
            F.broadcast(s.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_blamed"))
        .orderBy(F.desc("n_blamed"), "s_name")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# RANGE-frame rolling window: 7-calendar-day rolling revenue. RANGE (not
# ROWS) so calendar gaps shorten the window — a frame class nothing else
# in the suite exercises. The window runs over the DAILY aggregate, whose
# cardinality is bounded by the calendar (~2.4k rows here, 36.5k rows per
# century), so the unpartitioned ordered window is safe at any data scale;
# the data-sized work is the one groupBy(day) underneath it.
# ---------------------------------------------------------------------------


@register(
    "daily_revenue_rolling",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS day_num,
             sum(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(28,10))) AS rev_dec
      FROM orders GROUP BY 1, 2
    )
    SELECT day,
           {sql_dround('CAST(rev_dec AS DOUBLE)', 2)} AS daily_rev,
           {sql_dround('CAST(sum(rev_dec) OVER w AS DOUBLE)', 2)} AS rev_7d,
           {sql_dround('CAST(sum(rev_dec) OVER w AS DOUBLE) / (count(*) OVER w)', 4)}
             AS avg_7d
    FROM daily
    WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def daily_revenue_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling revenue via a RANGE frame over day numbers. The
    rolling sum accumulates the exact string-route decimal (o_totalprice
    is a derived double, not exact cents), so window-frame order cannot
    perturb the hash on either engine."""
    o = table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.col("o_totalprice").cast("string").cast(DEC)).alias("rev_dec"))
        .withColumn(
            "day_num", F.datediff(F.col("day"), F.lit("1995-01-01").cast("date"))
        )
    )
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    roll = F.sum("rev_dec").over(w).cast("double")
    return daily.select(
        "day",
        dround(F.col("rev_dec").cast("double"), 2).alias("daily_rev"),
        dround(roll, 2).alias("rev_7d"),
        dround(roll / F.count(F.lit(1)).over(w), 4).alias("avg_7d"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS (beyond the suite's cube/rollup): two independent
# one-dimensional aggregates plus the grand total in a single pass over
# the fact — at scale this replaces three scans with one shuffle whose
# width is the sum of the grouping-set cardinalities. grouping_id()
# disambiguates the null-as-aggregated rows from genuine nulls.
# ---------------------------------------------------------------------------


@register(
    "events_grouping_sets",
    oracle=f"""
    SELECT event_type,
           CAST(ts AS DATE) AS day,
           GROUPING(event_type, CAST(ts AS DATE)) AS gid,
           count(*) AS n,
           {sql_dsum('value')} AS total_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)), ())
    """,
)
def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type totals, per-day totals, and the grand total in one pass
    via GROUPING SETS (Spark 4 DataFrame groupingSets API)."""
    e = table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    return e.groupingSets(
        [["event_type"], ["day"], []], "event_type", "day"
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("value")).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Multiplicity-preserving set ops (INTERSECT ALL / EXCEPT ALL): bag
# semantics source_set_ops' distinct variants can't express — how many
# occurrences of each event type the two month halves share. Spark plans
# these as an aggregate of per-side counts + generator (no self-join).
# ---------------------------------------------------------------------------


@register(
    "events_multiset_ops",
    oracle="""
    SELECT 'first_half_matched' AS set_op, event_type, count(*) AS n FROM (
      SELECT event_type FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      INTERSECT ALL
      SELECT event_type FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
    ) GROUP BY event_type
    UNION ALL
    SELECT 'first_half_surplus', event_type, count(*) FROM (
      SELECT event_type FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
      EXCEPT ALL
      SELECT event_type FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
    ) GROUP BY event_type
    """,
)
def events_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    a = e.where(F.col("ts") < cut).select("event_type")
    b = e.where(F.col("ts") >= cut).select("event_type")
    matched = (
        a.intersectAll(b)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("first_half_matched").alias("set_op"), "event_type", "n")
    )
    surplus = (
        a.exceptAll(b)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("first_half_surplus").alias("set_op"), "event_type", "n")
    )
    return matched.unionByName(surplus)


# ---------------------------------------------------------------------------
# Unpivot / melt: the inverse of events_type_pivot. Wide per-user counts
# (fixed pivot value list — never let the engine scan for distinct pivot
# values at scale) melted back to long form; null cells (user never did
# that event type) are dropped, restoring the sparse representation.
# ---------------------------------------------------------------------------

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "events_type_unpivot",
    oracle="""
    SELECT user_id, event_type, count(*) AS n
    FROM events
    WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
    GROUP BY user_id, event_type
    """,
)
def events_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot → unpivot round trip: equals the direct sparse aggregate
    over the pivot's CLOSED type vocabulary (_EVENT_TYPES). A static
    pivot cannot represent types outside its column list — events with
    an unknown or NULL event_type contribute to no pivot column and
    vanish in the round trip — so the oracle filters to the same
    vocabulary (r14 parity-fuzz pin; the IN list also drops NULLs on
    both engines)."""
    e = table(spark, sf_dir, "events")
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return wide.unpivot(
        ["user_id"], _EVENT_TYPES, "event_type", "n"
    ).where(F.col("n").isNotNull())


# ---------------------------------------------------------------------------
# Nation-pair trade volume (TPC-H Q7 shape): the same dimension joined in
# two roles (customer's nation and supplier's nation). Dim side broadcasts
# twice under different aliases; the fact chain shuffles once per fact key
# (orderkey, then custkey). The pair inequality halves the output without
# a second pass.
# ---------------------------------------------------------------------------


@register(
    "nation_trade_volume",
    oracle=f"""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           count(*) AS n_lines,
           {sql_dsum_exact(_SQL_DISC_PRICE)} AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN supplier  ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE cn.n_name < sn.n_name
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY cust_nation, supp_nation, yr
    """,
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume by year. nation enters
    the plan twice under different aliases (cust vs supp role); both
    sides and supplier are explicit broadcasts. At 100 TB customer
    outgrows broadcast and becomes a shuffle join on custkey — the plan
    is otherwise unchanged."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    cn = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("s_nk"))
        .where(F.col("cust_nation") < F.col("supp_nation"))
    )
    return joined.groupBy(
        "cust_nation", "supp_nation", F.year("o_orderdate").cast("int").alias("yr")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum_exact(_disc_price_dec()).alias("volume"),
    )


# ---------------------------------------------------------------------------
# Ordered user-journey funnel: signup -> first click after signup ->
# first purchase after that click. Each stage is a min-timestamp
# aggregate conditioned on the previous stage's timestamp; all three
# shuffles key on user_id, so on a cluster the stages co-partition and
# AQE plans the later (shrinking) joins as broadcasts. No window over
# raw events and no per-user event sorting — the aggregate form scales
# with users, not events.
# ---------------------------------------------------------------------------


@register(
    "user_funnel",
    oracle="""
    WITH s AS (
      SELECT user_id, min(ts) AS t_signup FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND e.ts > s.t_signup
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
      GROUP BY e.user_id
    )
    SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
           (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM c) AS n_click_after_signup,
           (SELECT count(*) FROM p) AS n_purchase_after_click
    """,
)
def user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    s = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        e.agg(F.count_distinct("user_id").alias("n_users"))
        .crossJoin(s.agg(F.count(F.lit(1)).alias("n_signup")))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_click_after_signup")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchase_after_click")))
    )


# ---------------------------------------------------------------------------
# Weekly retention cohorts: users grouped by first-activity week; each
# (cohort, offset) cell counts distinct users active that many weeks
# later. Two aggregates on user_id + one distinct count — integer week
# arithmetic end to end, and the cohort join is on user_id again (the
# same natural partitioning as everything else on this table).
# ---------------------------------------------------------------------------


@register(
    "weekly_retention",
    oracle="""
    WITH wk AS (
      SELECT user_id,
             CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7)
                  AS BIGINT) AS week
      FROM events
    ), first_wk AS (
      SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY user_id
    )
    SELECT f.cohort_week, w.week - f.cohort_week AS week_offset,
           count(DISTINCT w.user_id) AS n_users
    FROM wk w JOIN first_wk f ON w.user_id = f.user_id
    GROUP BY f.cohort_week, week_offset
    """,
)
def weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    wk = e.select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
            / 7
        ).alias("week"),
    )
    first_wk = wk.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        wk.join(first_wk, "user_id")
        .groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Single-pass data-quality audit: every expectation (non-positive
# amounts, nulls, duplicate keys, future dates, FK orphans) as a
# conditional count in ONE scan + one left join — the engine-grade form
# of the reference's per-row quality flags. At 100 TB each additional
# expectation is one more counter in the same aggregate, not another
# pass over the table.
# ---------------------------------------------------------------------------


@register(
    "orders_quality_audit",
    oracle="""
    SELECT count(*) AS n_rows,
           count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS n_nonpositive_price,
           count(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_null_custkey,
           count(*) - count(DISTINCT o_orderkey) AS n_dup_orderkeys,
           count(CASE WHEN o_orderdate > TIMESTAMP '2002-01-01 00:00:00' THEN 1 END)
             AS n_future_dates,
           count(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS n_orphan_custkeys
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def orders_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey")
    j = o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("n_nonpositive_price"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("n_null_custkey"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("n_dup_orderkeys"),
        F.count(
            F.when(
                F.col("o_orderdate")
                > F.lit("2002-01-01 00:00:00").cast("timestamp"),
                1,
            )
        ).alias("n_future_dates"),
        F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("n_orphan_custkeys"),
    )


# ---------------------------------------------------------------------------
# Percent-of-total (ratio_to_report) + day-over-day deltas: two window
# classes over the calendar-bounded daily aggregate — an unpartitioned
# total window and lag(). Same bounded-domain rule as
# daily_revenue_rolling: the raw fact is reduced first, windows never
# see data-sized input.
# ---------------------------------------------------------------------------


@register(
    "daily_revenue_deltas",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             sum(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(28,10))) AS rev_dec
      FROM orders GROUP BY 1
    )
    SELECT day,
           {sql_dround('CAST(rev_dec AS DOUBLE)', 2)} AS daily_rev,
           {sql_dround('CAST(rev_dec - lag(rev_dec) OVER w AS DOUBLE)', 2)} AS delta,
           {sql_dround(
               'CAST(rev_dec AS DOUBLE) / CAST(sum(rev_dec) OVER () AS DOUBLE)', 8
           )} AS share_of_total
    FROM daily
    WINDOW w AS (ORDER BY day)
    """,
)
def daily_revenue_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("string").cast(DEC)).alias("rev_dec")
    )
    w = Window.orderBy("day")
    total = Window.partitionBy()
    return daily.select(
        "day",
        dround(F.col("rev_dec").cast("double"), 2).alias("daily_rev"),
        dround(
            (F.col("rev_dec") - F.lag("rev_dec").over(w)).cast("double"), 2
        ).alias("delta"),
        dround(
            F.col("rev_dec").cast("double")
            / F.sum("rev_dec").over(total).cast("double"),
            8,
        ).alias("share_of_total"),
    )


# ---------------------------------------------------------------------------
# Sample-based estimation: total revenue estimated from a deterministic
# 10% hash sample, scaled up, with the exact total and relative error in
# the same row. The pattern for sub-second answers over 100 TB when ±1%
# is acceptable — and because the sample is content-addressed (hash of
# the key, not rand()), the estimate is reproducible across engines,
# runs, and cluster layouts, which is what makes it oracle-checkable.
# ---------------------------------------------------------------------------


@register(
    "orders_sample_estimate",
    oracle=f"""
    WITH s AS (
      SELECT CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(28,10)) AS p,
             (CAST(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                   AS UINTEGER) AS BIGINT) % 10 = 0) AS in_sample
      FROM orders
    )
    SELECT count(CASE WHEN in_sample THEN 1 END) AS n_sampled,
           {sql_dround('CAST(sum(CASE WHEN in_sample THEN p END) AS DOUBLE) * 10', 2)}
             AS est_total,
           {sql_dround('CAST(sum(p) AS DOUBLE)', 2)} AS exact_total,
           {sql_dround(
               'abs(CAST(sum(CASE WHEN in_sample THEN p END) AS DOUBLE) * 10'
               ' - CAST(sum(p) AS DOUBLE)) / CAST(sum(p) AS DOUBLE)', 6
           )} AS rel_error
    FROM s
    """,
)
def orders_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scale_suite import _hash_bucket

    o = table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("string").cast(DEC)
    in_sample = _hash_bucket(F.col("o_orderkey"), 10) == 0
    est = F.sum(F.when(in_sample, p)).cast("double") * 10
    exact = F.sum(p).cast("double")
    return o.agg(
        F.count(F.when(in_sample, 1)).alias("n_sampled"),
        dround(est, 2).alias("est_total"),
        dround(exact, 2).alias("exact_total"),
        dround(F.abs(est - exact) / exact, 6).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# Time-series gap fill + LOCF (TimescaleDB time_bucket_gapfill/locf shape):
# densify the hourly grid per event_type with sequence+explode, left-join
# the observed hourly aggregate, and carry the last observation forward
# with last(ignorenulls) over an ordered window. Scale: the generated grid
# is bounded by types x hours (independent of fact cardinality) and the
# LOCF window partitions on the same bounded key, so state per partition
# is the grid span, not the event count. At 100 TB with per-user series
# the identical plan partitions by user_id — still one sort per series.
# At sf0.01 ~6% of grid hours are genuinely empty, so the LOCF path is
# exercised, not vacuous.
# ---------------------------------------------------------------------------


@register(
    "events_gap_fill",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             count(*) AS n_events,
             {sql_davg('value', 4)} AS avg_value
      FROM events GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY 1
    ), grid AS (
      SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM bounds
    )
    SELECT g.event_type, g.hour,
           coalesce(h.n_events, 0) AS n_events,
           h.avg_value AS avg_value,
           last_value(h.avg_value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value_locf,
           h.avg_value IS NULL AS gap_filled
    FROM grid g LEFT JOIN hourly h USING (event_type, hour)
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type event stats densified over the full hour grid with
    last-observation-carried-forward for empty hours (reference shape:
    rollup views assume a dense time axis; TimescaleDB gapfill semantics)."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("n_events"), davg(F.col("value"), 4).alias("avg_value"))
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("hour"),
        )
    )
    joined = grid.join(hourly, ["event_type", "hour"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "hour",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "avg_value",
        F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_locf"),
        F.col("avg_value").isNull().alias("gap_filled"),
    )


# ---------------------------------------------------------------------------
# Data governance: k-anonymity screen over quasi-identifiers. Groups of
# size < k are re-identification risks and must be suppressed or
# generalized before a dataset ships; one hash agg + a flag. The pattern
# scales to any QI column set — the group count is the whole cost.
# ---------------------------------------------------------------------------

K_ANON = 12


@register(
    "customer_k_anonymity",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           count(*) AS group_size,
           count(*) < {K_ANON} AS needs_suppression
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-identifier group sizes with a suppression flag (k=K_ANON)."""
    c = table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size"),
        (F.count(F.lit(1)) < K_ANON).alias("needs_suppression"),
    )


# l-diversity companion to the k-anonymity screen: a QI group can be
# large (k-anonymous) yet still leak if everyone in it shares the same
# sensitive value. Sensitive attribute = account-balance band (1000-wide
# buckets); groups with fewer than L distinct bands need generalization.
# Same single hash aggregation as k-anonymity — all-integer output.

L_DIVERSITY_MIN = 3


@register(
    "customer_l_diversity",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           count(*) AS group_size,
           count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l_distinct,
           count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
             < {L_DIVERSITY_MIN} AS needs_generalization
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    """,
)
def customer_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct sensitive-value (acctbal band) count per QI group with a
    below-L flag."""
    c = table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).cast("long")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.count_distinct(band).alias("l_distinct"),
        (F.count_distinct(band) < L_DIVERSITY_MIN).alias("needs_generalization"),
    )


# ---------------------------------------------------------------------------
# Class rebalancing: deterministic integer upsampling of under-
# represented languages toward the majority (en is ~3.5x fr on this
# corpus). The replication factor comes from exact counts (broadcast,
# |langs| rows) and is applied map-side via explode(sequence) — the big
# side never shuffles; epoch-level dataloaders consume replica_idx as
# the repeat counter.
#
# The factor is CAPPED at LANG_REBALANCE_MAX_REP: on a pathological
# corpus (1 doc in a rare language vs 10^9 majority docs) an uncapped
# floor(max/n) would explode a single input row into ~10^9 replicas
# inside one task (straggler/OOM), and epoch-level upsampling beyond
# ~10-20x is statistically useless anyway — common data-mix practice
# caps per-source repetition in that range. With the cap in place the
# per-row fan-out is bounded by a small constant, so no salting is
# needed: a task's output is at most MAX_REP x its input rows.
# ---------------------------------------------------------------------------

LANG_REBALANCE_MAX_REP = 16


@register(
    "docs_lang_rebalance",
    oracle=f"""
    WITH n AS (
      SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang
    ), m AS (
      SELECT max(n_lang) AS n_max FROM n
    ), factors AS (
      SELECT lang,
             LEAST(CAST(n_max // n_lang AS BIGINT),
                   CAST({LANG_REBALANCE_MAX_REP} AS BIGINT)) AS rep
      FROM n CROSS JOIN m
    )
    SELECT d.doc_id, d.lang, CAST(r.i AS BIGINT) AS replica_idx
    FROM documents d
    JOIN factors f ON d.lang = f.lang
    CROSS JOIN LATERAL (SELECT unnest(range(f.rep)) AS i) r
    """,
)
def docs_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (doc, replica): rare langs replicated
    min(floor(max/n), LANG_REBALANCE_MAX_REP) times."""
    d = table(spark, sf_dir, "documents")
    n = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    m = n.agg(F.max("n_lang").alias("n_max"))
    factors = n.crossJoin(F.broadcast(m)).select(
        "lang",
        F.least(
            F.expr("n_max div n_lang"),
            F.lit(LANG_REBALANCE_MAX_REP).cast("long"),
        ).alias("rep"),
    )
    return (
        d.join(F.broadcast(factors), "lang")
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(0), F.col("rep") - 1)).alias("replica_idx"),
        )
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence: brand pairs bought together with support
# and lift. The within-order self-join is bounded by basket size (~4-7
# items/order on TPC-H-shaped data), so pair volume stays linear in
# order count — the key property that keeps basket analysis tractable
# at any order volume. Lift > 1 = brands co-occur more than chance.
# ---------------------------------------------------------------------------

BASKET_MIN_PAIRS = 50


@register(
    "brand_basket_lift",
    oracle=f"""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n_orders AS (
      SELECT count(DISTINCT okey) AS n FROM items
    ), brand_n AS (
      SELECT brand, count(*) AS n_brand FROM items GROUP BY brand
    ), pairs AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b, count(*) AS n_pair
      FROM items a JOIN items b
        ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY a.brand, b.brand
    )
    SELECT brand_a, brand_b, n_pair,
           {sql_dround('n_pair * 1.0 / n.n', 6)} AS support,
           {sql_dround(
               'n_pair * 1.0 * n.n / (na.n_brand * 1.0 * nb.n_brand)', 4
           )} AS lift
    FROM pairs
    JOIN brand_n na ON na.brand = brand_a
    JOIN brand_n nb ON nb.brand = brand_b
    CROSS JOIN n_orders n
    WHERE n_pair >= {BASKET_MIN_PAIRS}
    """,
)
def brand_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand pairs co-purchased in one order: support + lift, min-support
    filtered so the output is the interesting tail, not the pair matrix.

    One scan of lineitem: the l⋈p join is aggregated once into per-order
    brand baskets (collect_set dedups within the order) and persisted, so
    the three consumers (n_orders, brand_n, pairs) share a single
    materialization instead of re-running the biggest join in the query
    up to 4x (r3 VERDICT finding — exchange reuse across the differing
    subtrees was not guaranteed). Pair expansion is a map-side double
    explode over the basket array, bounded by basket size (~4-7 brands
    per order), never an items-level self-join."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    baskets = persist_tracked(
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.collect_set("p_brand").alias("brands"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n"))
    brand_n = (
        baskets.select(F.explode("brands").alias("brand"))
        .groupBy("brand")
        .agg(F.count(F.lit(1)).alias("n_brand"))
    )
    pairs = (
        baskets.select("okey", F.explode("brands").alias("brand_a"), "brands")
        .select("brand_a", F.explode("brands").alias("brand_b"))
        .where(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= BASKET_MIN_PAIRS)
    )
    na = brand_n.alias("na")
    nb = brand_n.alias("nb")
    return (
        pairs.join(F.broadcast(na), F.col("brand_a") == F.col("na.brand"))
        .join(F.broadcast(nb), F.col("brand_b") == F.col("nb.brand"))
        .crossJoin(F.broadcast(n_orders))
        .select(
            "brand_a",
            "brand_b",
            "n_pair",
            dround(F.col("n_pair") * 1.0 / F.col("n"), 6).alias("support"),
            dround(
                F.col("n_pair")
                * 1.0
                * F.col("n")
                / (F.col("na.n_brand") * 1.0 * F.col("nb.n_brand")),
                4,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto concentration panel: cumulative revenue share by brand — "how
# few brands carry 80% of revenue". Ranking and the 80% cut both happen
# on EXACT decimals (cross-engine-stable compares); doubles appear only
# in the rounded output columns.
# ---------------------------------------------------------------------------


@register(
    "brand_revenue_pareto",
    oracle=f"""
    WITH rev AS (
      SELECT p.p_brand, sum({_SQL_DISC_PRICE}) AS rev_dec
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ), tot AS (
      SELECT sum(rev_dec) AS total_dec FROM rev
    ), ranked AS (
      SELECT p_brand, rev_dec,
             CAST(row_number() OVER (ORDER BY rev_dec DESC, p_brand) AS BIGINT)
               AS rev_rank,
             sum(rev_dec) OVER (ORDER BY rev_dec DESC, p_brand) AS cum_dec
      FROM rev
    )
    SELECT p_brand, rev_rank,
           {sql_dround('CAST(rev_dec AS DOUBLE)', 2)} AS revenue,
           {sql_dround('CAST(cum_dec AS DOUBLE) / CAST(total_dec AS DOUBLE)', 6)}
             AS cum_share,
           (cum_dec - rev_dec) * 5 < total_dec * 4 AS in_top_80
    FROM ranked CROSS JOIN tot
    """,
)
def brand_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration by brand: rank, cumulative share, and the
    80%-club flag (brands whose PRECEDING cumulative share is under
    0.8 — the set you'd keep if you kept 80% of revenue). The running
    sum, ranking, and the 0.8 comparison all run on exact decimals
    ((cum - rev) * 5 < total * 4 avoids any double boundary); the window
    is a total order over brands, which is fine at any corpus size
    because brand cardinality is domain-bounded — the same bounded-window
    argument dim_date and the k-anonymity screen make."""
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    rev = (
        l.join(p, l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(_disc_price_dec()).alias("rev_dec"))
    )
    total = rev.agg(F.sum("rev_dec").alias("total_dec"))
    w = Window.orderBy(F.desc("rev_dec"), F.asc("p_brand"))
    ranked = rev.select(
        "p_brand",
        "rev_dec",
        F.row_number().over(w).cast("long").alias("rev_rank"),
        F.sum("rev_dec").over(w).alias("cum_dec"),
    )
    return ranked.crossJoin(F.broadcast(total)).select(
        "p_brand",
        "rev_rank",
        dround(F.col("rev_dec").cast("double"), 2).alias("revenue"),
        dround(
            F.col("cum_dec").cast("double") / F.col("total_dec").cast("double"), 6
        ).alias("cum_share"),
        ((F.col("cum_dec") - F.col("rev_dec")) * 5 < F.col("total_dec") * 4).alias(
            "in_top_80"
        ),
    )


@register(
    "returned_revenue_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {sql_dsum_exact(_SQL_DISC_PRICE)} AS lost_revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY sum({_SQL_DISC_PRICE}) DESC, c.c_custkey
    LIMIT 20
    """,
)
def returned_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: customers who returned the most revenue in a
    quarter — returned-lineitem filter pushed to the scan, quarter
    filter pushed to orders, nation broadcast, rank on the EXACT decimal
    sum (deterministic top-20 cut), round only for output."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_disc_price_dec()).alias("rev_exact"))
        .orderBy(F.desc("rev_exact"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            dround(F.col("rev_exact").cast("double"), 2).alias("lost_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# RFM segmentation — the classic customer-value decomposition: recency /
# frequency / monetary quintiles + a rule segment. All three ntiles are
# ordered with the customer key as the unique tie-break, so bucket
# boundaries are deterministic on both engines.
# ---------------------------------------------------------------------------


@register(
    "customer_rfm_segments",
    oracle=f"""
    WITH ref AS (
      SELECT max(o_orderdate) AS ref_date FROM orders
    ), base AS (
      SELECT o.o_custkey AS c_custkey,
             datediff('day', max(o.o_orderdate), max(r.ref_date)) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             sum({sql_cents('o.o_totalprice')}) AS monetary_exact,
             {sql_dsum_exact(sql_cents('o.o_totalprice'))} AS monetary
      FROM orders o CROSS JOIN ref r
      GROUP BY o.o_custkey
    ), scored AS (
      SELECT c_custkey, recency_days, frequency, monetary,
             CAST(ntile(5) OVER (ORDER BY recency_days DESC, c_custkey) AS INT)
               AS r_score,
             CAST(ntile(5) OVER (ORDER BY frequency, c_custkey) AS INT)
               AS f_score,
             -- ntile on the EXACT decimal (the rounded double could tie
             -- where the decimal does not, flipping a bucket boundary)
             CAST(ntile(5) OVER (ORDER BY monetary_exact, c_custkey) AS INT)
               AS m_score
      FROM base
    )
    SELECT c_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                  THEN 'champion'
                WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
                WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
                ELSE 'regular' END AS segment
    FROM scored
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation of ordering customers: days since last
    order (vs the log's max date, so the query is reproducible on a
    static snapshot), order count, and exact-decimal lifetime spend,
    each ntiled 1-5 with c_custkey as the unique ordering tie-break,
    then mapped to the classic champion/loyal/at-risk/hibernating rule
    segments. One agg over orders + three windows; at 100 TB the global
    ntile becomes a quantile-boundary broadcast (computed once) instead
    of a total sort — same scores, no global window."""
    o = table(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("ref_date"))
    base = (
        o.crossJoin(F.broadcast(ref))
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.datediff(
                F.max("ref_date").cast("date"), F.max("o_orderdate").cast("date")
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(cents(F.col("o_totalprice"))).alias("monetary_exact"),
        )
    )
    r_w = Window.orderBy(F.desc("recency_days"), F.asc("c_custkey"))
    f_w = Window.orderBy(F.asc("frequency"), F.asc("c_custkey"))
    m_w = Window.orderBy(F.asc("monetary_exact"), F.asc("c_custkey"))
    scored = base.select(
        "c_custkey",
        "recency_days",
        "frequency",
        dround(F.col("monetary_exact").cast("double"), 2).alias("monetary"),
        F.ntile(5).over(r_w).cast("int").alias("r_score"),
        F.ntile(5).over(f_w).cast("int").alias("f_score"),
        F.ntile(5).over(m_w).cast("int").alias("m_score"),
    )
    return scored.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "hibernating")
        .otherwise("regular")
        .alias("segment"),
    )


@register(
    "monthly_seasonal_index",
    oracle=f"""
    WITH monthly AS (
      SELECT CAST(date_part('month', o_orderdate) AS INT) AS month_of_year,
             CAST(date_part('year', o_orderdate) AS INT) AS yr,
             sum({sql_cents('o_totalprice')}) AS rev_exact
      FROM orders GROUP BY 1, 2
    ), per_month AS (
      SELECT month_of_year,
             CAST(count(*) AS BIGINT) AS n_years,
             sum(rev_exact) AS m_rev
      FROM monthly GROUP BY month_of_year
    ), tot AS (
      SELECT sum(m_rev) AS total, CAST(sum(n_years) AS BIGINT) AS n_cells
      FROM per_month
    )
    SELECT p.month_of_year, p.n_years,
           {sql_dround('CAST(p.m_rev AS DOUBLE) / p.n_years', 2)}
             AS mean_monthly_revenue,
           {sql_dround(
               '(CAST(p.m_rev AS DOUBLE) / p.n_years)'
               ' / (CAST(t.total AS DOUBLE) / t.n_cells)', 6)}
             AS seasonal_index
    FROM per_month p CROSS JOIN tot t
    """,
)
def monthly_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonal index of order revenue: each calendar
    month's mean monthly revenue over the years in the log, relative to
    the all-months mean (index 1.0 = no seasonality). Exact decimal sums
    feed one (month, year) agg, a 12-row rollup, and a broadcast scalar
    — the classical-decomposition seasonal factor without any smoothing
    parameter."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.month("o_orderdate").cast("int").alias("month_of_year"),
        F.year("o_orderdate").cast("int").alias("yr"),
    ).agg(F.sum(cents(F.col("o_totalprice"))).alias("rev_exact"))
    per_month = monthly.groupBy("month_of_year").agg(
        F.count(F.lit(1)).alias("n_years"), F.sum("rev_exact").alias("m_rev")
    )
    tot = per_month.agg(
        F.sum("m_rev").alias("total"),
        F.sum("n_years").cast("long").alias("n_cells"),
    )
    mean_m = F.col("m_rev").cast("double") / F.col("n_years")
    mean_all = F.col("total").cast("double") / F.col("n_cells")
    return per_month.crossJoin(F.broadcast(tot)).select(
        "month_of_year",
        "n_years",
        dround(mean_m, 2).alias("mean_monthly_revenue"),
        dround(mean_m / mean_all, 6).alias("seasonal_index"),
    )


@register(
    "fulfillment_latency_profile",
    oracle=f"""
    WITH lat AS (
      SELECT o.o_orderpriority,
             datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) AS days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(min(days) AS BIGINT) AS min_days,
           CAST(max(days) AS BIGINT) AS max_days,
           {sql_dround('quantile_cont(days, 0.5)', 4)} AS p50_days,
           {sql_dround('quantile_cont(days, 0.95)', 4)} AS p95_days
    FROM lat GROUP BY o_orderpriority
    """,
)
def fulfillment_latency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order priority: exact
    integer day diffs through min/max and exact interpolated
    percentiles (the value_percentiles determinism route) — the
    fulfillment-SLA panel, and the query that shows whether priority
    classes actually ship faster. One co-partitioned join + one agg."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    lat = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days"),
    )
    return lat.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.min("days").cast("long").alias("min_days"),
        F.max("days").cast("long").alias("max_days"),
        dround(F.expr("percentile(days, 0.5)"), 4).alias("p50_days"),
        dround(F.expr("percentile(days, 0.95)"), 4).alias("p95_days"),
    )


@register(
    "customer_spend_gini",
    oracle=f"""
    WITH spend AS (
      SELECT o.o_custkey AS c_custkey, c.c_nationkey,
             sum({sql_cents('o.o_totalprice')}) AS m_exact
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY o.o_custkey, c.c_nationkey
    ), ranked AS (
      SELECT c_nationkey, m_exact,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY m_exact, c_custkey) AS i
      FROM spend
    ), sums AS (
      SELECT r.c_nationkey,
             CAST(count(*) AS BIGINT) AS n_customers,
             sum(r.i * r.m_exact) AS weighted,
             sum(r.m_exact) AS total
      FROM ranked r GROUP BY r.c_nationkey
    )
    SELECT n.n_name, s.n_customers,
           {sql_dround('CAST(s.total AS DOUBLE)', 2)} AS total_spend,
           {sql_dround(
               '2.0 * CAST(s.weighted AS DOUBLE)'
               ' / (s.n_customers * CAST(s.total AS DOUBLE))'
               ' - (s.n_customers + 1.0) / s.n_customers', 6)} AS gini
    FROM sums s JOIN nation n ON n.n_nationkey = s.c_nationkey
    """,
)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per nation — the inequality
    metric behind 'how concentrated is our revenue': G = 2·Σ(i·xᵢ) /
    (n·Σx) − (n+1)/n over ascending-sorted exact-decimal spend.

    Scale-safe rank decomposition (VERDICT r4 #3): the naive plan ranks
    every customer inside a 25-key per-nation window — a single-task
    sort of a whole nation's customers. But Σ(i·xᵢ) is invariant to the
    order WITHIN a group of equal values (the oracle's custkey tiebreak
    only stabilizes individual ranks, which cancel out of the sum), so
    the weighted sum decomposes over (value-group, coarse bucket):

      per (nation, m):     k customers share exact spend m; a block
                           starting at global offset c contributes
                           m·(k·c + k(k+1)/2).
      per (nation, bucket) g = floor(m / W): offsets of the ≤ W·100
                           distinct cent-values inside the bucket come
                           from a cumulative-count window whose
                           partition size is bounded by the CONSTANT
                           W·100, never by nation population.
      per nation:          bucket offsets from a second cumulative
                           window over ≤ max_spend/W bucket rows.

    Both windows are data-scale-independent; every other step is a hash
    aggregate with map-side combine. All arithmetic stays decimal/long
    exact (k(k+1) is even, so `div 2` is exact), so the result is
    bit-identical to the oracle's rank formulation."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("o_custkey").alias("c_custkey"), "c_nationkey")
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("m_exact"))
    )
    W = 4096  # bucket width: ≤ W·100 distinct cent-values per level-2 window
    vg = (
        spend.groupBy("c_nationkey", "m_exact")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .withColumn("g", F.floor(F.col("m_exact") / W).cast("long"))
    )
    w_in = (
        Window.partitionBy("c_nationkey", "g")
        .orderBy("m_exact")  # unique within the group — deterministic frame
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    vg = vg.withColumn("c_in", F.coalesce(F.sum("k").over(w_in), F.lit(0)))
    tri = F.expr("(k * (k + 1)) div 2")  # exact: k(k+1) is always even
    bucket = vg.groupBy("c_nationkey", "g").agg(
        F.sum("k").alias("n_g"),
        F.sum(F.col("m_exact") * F.col("k")).alias("s_g"),
        F.sum(F.col("m_exact") * (F.col("k") * F.col("c_in") + tri)).alias("w_g"),
    )
    w_b = (
        Window.partitionBy("c_nationkey")
        .orderBy("g")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket = bucket.withColumn("c_g", F.coalesce(F.sum("n_g").over(w_b), F.lit(0)))
    sums = bucket.groupBy("c_nationkey").agg(
        F.sum("n_g").cast("long").alias("n_customers"),
        F.sum(F.col("w_g") + F.col("s_g") * F.col("c_g")).alias("weighted"),
        F.sum("s_g").alias("total"),
    )
    gini = (
        2.0 * F.col("weighted").cast("double")
        / (F.col("n_customers") * F.col("total").cast("double"))
        - (F.col("n_customers") + 1.0) / F.col("n_customers")
    )
    return (
        sums.join(F.broadcast(n), sums.c_nationkey == n.n_nationkey)
        .select(
            "n_name",
            "n_customers",
            dround(F.col("total").cast("double"), 2).alias("total_spend"),
            dround(gini, 6).alias("gini"),
        )
    )


# ---------------------------------------------------------------------------
# Warehouse change-data layer (VERDICT r12 #1): oracle-checked registry rows
# for apply_cdc and scd2_apply — the r12 NULL-key bugs lived in exactly the
# two operators with no registry entry, so no CORRECTNESS row or sweep could
# ever have caught a wrong fold. Both rows build a DETERMINISTIC feed from
# the orders/customer tables (modular-arithmetic selections so every op
# class fires: in-batch supersession, delete-wins, insert-after-delete
# resurrection, matched-unchanged passthrough, brand-new keys, and NULL keys
# on every path). Reference semantics: the upsert contract of
# dags/utils/db.py:45-65 extended with D-ops (cdc) and version history
# (scd2).
# ---------------------------------------------------------------------------


@register(
    "cdc_snapshot_fold",
    oracle="""
    WITH snap AS (
        SELECT o_orderkey AS k, o_orderstatus AS status, o_custkey AS val
        FROM orders WHERE o_orderkey % 3 <> 0
        UNION ALL SELECT NULL, 'SN', 0
    ),
    chg AS (
        SELECT o_orderkey AS k, 'U' AS op, 1 AS seq, 'U1' AS status,
               o_custkey + 1 AS val
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, 'U', 2, 'U2', o_custkey + 2
        FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey, 'D', 3, NULL, NULL
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, 'I', 4, 'I4', o_custkey + 4
        FROM orders WHERE o_orderkey % 11 = 3
        UNION ALL SELECT NULL, 'D', 0, 'X', 0
        UNION ALL SELECT NULL, 'U', 1, 'NU', 42
    ),
    latest AS (
        SELECT k, op, status, val FROM (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
            FROM chg
        ) WHERE rn = 1
    )
    SELECT s.k AS k, s.status AS status, s.val AS val FROM snap s
    WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.k IS NOT DISTINCT FROM s.k)
    UNION ALL
    SELECT k, status, val FROM latest WHERE op <> 'D'
    """,
)
def cdc_snapshot_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold a deterministic I/U/D change feed (incl. NULL keys) over a
    snapshot with apply_cdc; the oracle is the null-safe last-change-wins
    QUALIFY fold minus deletes. Feed classes by key residue: %2 -> U@1,
    %5 -> U@2 (in-batch supersession), %7 -> D@3 (delete wins), %11==3 ->
    I@4 (insert-after-delete resurrection where residues overlap), plus a
    NULL-key D@0 superseded by a NULL-key U@1 against a NULL-key snapshot
    row — the exact path whose non-null-safe anti-join duplicated/ignored
    rows before the r12 fix (operators/cdc.py:58).

    Scale: one window over (key, seq) + one null-safe anti-join — the
    merge_upsert shuffle family; both sides hash-partition on the key.
    Plan note (EXPLAIN.md): Catalyst splits the anti-join across the
    snapshot's union legs — the orders-derived leg (provably non-null
    keys via the %3 filter) runs as a hash anti-join, while the one-row
    NULL-literal leg becomes a BroadcastNestedLoopJoin whose LEFT side
    is the single literal row (O(1) work, a test-feed artifact, not a
    scale path — a real snapshot is one relation and takes the hash
    join)."""
    from ..operators.cdc import apply_cdc

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    # k/val cast explicitly (ADVICE r13): without the casts the output
    # type rides on the parquet PHYSICAL key types coercing with the
    # BIGINT NULL-literal legs under unionByName — a generator emitting
    # INT32 keys would shift the row hash vs the oracle's native types.
    snap = (
        o.where(F.col("o_orderkey") % 3 != 0)
        .select(
            F.col("o_orderkey").cast("bigint").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_custkey").cast("bigint").alias("val"),
        )
        .unionByName(
            spark.sql(
                "SELECT CAST(NULL AS BIGINT) AS k, 'SN' AS status,"
                " CAST(0 AS BIGINT) AS val"
            )
        )
    )

    def piece(pred, op: str, seq: int, status_col, val_col) -> DataFrame:
        return o.where(pred).select(
            F.col("o_orderkey").cast("bigint").alias("k"),
            status_col.cast("string").alias("status"),
            val_col.cast("bigint").alias("val"),
            F.lit(op).alias("_op"),
            F.lit(seq).cast("int").alias("seq"),
        )

    key = F.col("o_orderkey")
    cust = F.col("o_custkey")
    chg = (
        piece(key % 2 == 0, "U", 1, F.lit("U1"), cust + 1)
        .unionByName(piece(key % 5 == 0, "U", 2, F.lit("U2"), cust + 2))
        .unionByName(piece(key % 7 == 0, "D", 3, F.lit(None), F.lit(None)))
        .unionByName(piece(key % 11 == 3, "I", 4, F.lit("I4"), cust + 4))
        .unionByName(
            spark.sql(
                "SELECT CAST(NULL AS BIGINT) AS k, 'X' AS status,"
                " CAST(0 AS BIGINT) AS val, 'D' AS _op, CAST(0 AS INT) AS seq"
            )
        )
        .unionByName(
            spark.sql(
                "SELECT CAST(NULL AS BIGINT) AS k, 'NU' AS status,"
                " CAST(42 AS BIGINT) AS val, 'U' AS _op, CAST(1 AS INT) AS seq"
            )
        )
    )
    return apply_cdc(snap, chg, keys=["k"], order_col="seq")


@register(
    "scd2_dim_history",
    oracle="""
    WITH l1 AS (
        SELECT c_custkey AS k, c_mktsegment AS seg,
               CAST(c_nationkey AS INTEGER) AS nat
        FROM customer WHERE c_custkey % 4 <> 0
        UNION ALL SELECT NULL, 'NSEG', 0
    ),
    l2 AS (
        SELECT c_custkey AS k,
               CASE WHEN c_custkey % 3 = 0 THEN 'CHANGED'
                    ELSE c_mktsegment END AS seg,
               CAST(c_nationkey AS INTEGER) AS nat
        FROM customer WHERE c_custkey % 2 = 0
        UNION ALL SELECT NULL, 'NSEG2', 0
    ),
    j AS (
        SELECT a.k AS k1, a.seg AS seg1, a.nat AS nat1, a.p AS p1,
               b.k AS k2, b.seg AS seg2, b.nat AS nat2, b.p AS p2
        FROM (SELECT *, TRUE AS p FROM l1) a
        FULL OUTER JOIN (SELECT *, TRUE AS p FROM l2) b
        ON a.k IS NOT DISTINCT FROM b.k
    ),
    flags AS (
        SELECT *,
               COALESCE(p1, FALSE) AND COALESCE(p2, FALSE)
                 AND (seg1 IS DISTINCT FROM seg2
                      OR nat1 IS DISTINCT FROM nat2) AS changed
        FROM j
    )
    SELECT k1 AS k, seg1 AS seg, nat1 AS nat,
           '2024-01-01 00:00:00' AS valid_from,
           '9999-12-31 00:00:00' AS valid_to,
           TRUE AS is_current
    FROM flags WHERE COALESCE(p1, FALSE) AND NOT changed
    UNION ALL
    SELECT k1, seg1, nat1,
           '2024-01-01 00:00:00',
           '2024-02-01 00:00:00', FALSE
    FROM flags WHERE changed
    UNION ALL
    SELECT k2, seg2, nat2,
           '2024-02-01 00:00:00',
           '9999-12-31 00:00:00', TRUE
    FROM flags WHERE COALESCE(p2, FALSE)
      AND (NOT COALESCE(p1, FALSE) OR changed)
    """,
)
def scd2_dim_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two deterministic dimension loads at fixed batch timestamps folded
    through scd2_apply; the oracle derives the expected version table in
    SQL from the same two loads (never-null presence markers — the shape
    of the r12 fix, operators/warehouse.py:256). Load classes by key
    residue: odd keys -> single open v1 (absent from load 2); keys ≡ 2
    (mod 4) -> matched, changed iff %3==0 (closed v1 + open v2) else
    passthrough; keys ≡ 0 (mod 4) -> brand-new at load 2; plus a NULL key
    that changes segment between loads — the exact path the pre-r12
    `keys[0] IS NOT NULL` presence probe mishandled.

    Scale: one co-partitioned full-outer join per load on the natural
    key; history rows never re-enter the join working set."""
    from ..operators.warehouse import scd2_apply

    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    t1 = F.lit("2024-01-01 00:00:00").cast("timestamp")
    t2 = F.lit("2024-02-01 00:00:00").cast("timestamp")
    null_row = (
        "SELECT CAST(NULL AS BIGINT) AS k, '{seg}' AS seg, CAST(0 AS INT) AS nat"
    )
    # k cast explicitly on both customer-derived legs (ADVICE r13, same
    # reasoning as cdc_snapshot_fold's snap): output type must not ride
    # on parquet physical key types coercing with the BIGINT NULL legs.
    load1 = (
        c.where(F.col("c_custkey") % 4 != 0)
        .select(
            F.col("c_custkey").cast("bigint").alias("k"),
            F.col("c_mktsegment").alias("seg"),
            F.col("c_nationkey").cast("int").alias("nat"),
        )
        .unionByName(spark.sql(null_row.format(seg="NSEG")))
    )
    load2 = (
        c.where(F.col("c_custkey") % 2 == 0)
        .select(
            F.col("c_custkey").cast("bigint").alias("k"),
            F.when(F.col("c_custkey") % 3 == 0, F.lit("CHANGED"))
            .otherwise(F.col("c_mktsegment"))
            .alias("seg"),
            F.col("c_nationkey").cast("int").alias("nat"),
        )
        .unionByName(spark.sql(null_row.format(seg="NSEG2")))
    )
    dim = scd2_apply(None, load1, ["k"], ["seg", "nat"], t1)
    dim = scd2_apply(dim, load2, ["k"], ["seg", "nat"], t2)
    # The validity columns are presented as strings: the operator's
    # default far-future sentinel (9999-12-31) is a perfectly valid
    # TIMESTAMP but exceeds Arrow's timestamp[ns] range, so the
    # toPandas-based comparison harness (driver and local sweep) cannot
    # transport it. String form is lossless at second precision and
    # hash-identical across engines.
    return dim.select(
        "k",
        "seg",
        "nat",
        F.col("valid_from").cast("string").alias("valid_from"),
        F.col("valid_to").cast("string").alias("valid_to"),
        "is_current",
    )
