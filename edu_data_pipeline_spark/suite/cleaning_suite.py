"""Cleaning-rule queries over the testdata (C1-C13, D1/D2, Q).

Pattern: derive a deterministic DIRTY column from the synthetic tables with
equivalent expressions on both engines, then clean it with the rule
library. This proves rule semantics end-to-end against the DuckDB oracle
on driver data (the reference CSV corpus quirks are locked by pytest).

Oracle notes: DuckDB ``regexp_replace`` needs the ``'g'`` flag to match
Spark's replace-all; ``regexp_matches`` is anchored with ``^...$``;
``try_strptime`` shares Python's two-digit-year pivot (69 -> 1969).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import rules
from ..operators import cleaning
from ..sources.testdata import table
from . import register

REF_DATE = "2026-08-13"

# DuckDB emulation of Spark initcap (capitalize after spaces, lower rest)
def _sql_initcap(expr: str) -> str:
    return (
        f"list_aggregate(list_transform(string_split({expr}, ' '), "
        f"x -> upper(x[1]) || lower(x[2:])), 'string_agg', ' ')"
    )


# f-string-safe precomputed fragments (py3.11 bans backslashes in f-exprs)
_COLLAPSE_NAME = "regexp_replace(regexp_replace(trim(dirty_name), '\\s+', ' ', 'g'), '[0-9]', '', 'g')"
_TITLE_NAME = _sql_initcap(_COLLAPSE_NAME)
_TITLE_STATE = _sql_initcap("regexp_replace(trim(n_name), '\\s+', ' ', 'g')")
_TITLE_CITY = _sql_initcap("regexp_replace(trim(dirty_city), '\\s+', ' ', 'g')")


# ---------------------------------------------------------------------------
# C1 — student-ID standardization
# ---------------------------------------------------------------------------


@register(
    "clean_student_ids",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 17 = 0 THEN 'nodigits'
                  WHEN c_custkey % 4 = 0 THEN 'STU' || CAST(c_custkey AS VARCHAR)
                  WHEN c_custkey % 4 = 1 THEN 'stu-' || CAST(c_custkey AS VARCHAR)
                  WHEN c_custkey % 4 = 2 THEN 'stu_' || CAST(c_custkey AS VARCHAR)
                  ELSE 'Stu' || CAST(c_custkey AS VARCHAR) || 'x' END AS dirty_id
      FROM customer
    ), digits AS (
      SELECT c_custkey, dirty_id,
             regexp_replace(dirty_id, '[^0-9]', '', 'g') AS ds
      FROM dirty
    )
    SELECT c_custkey, dirty_id,
           CASE WHEN ds != '' THEN 'STU' ||
                (CASE WHEN length(ds) >= 3 THEN ds ELSE lpad(ds, 3, '0') END)
           END AS student_id,
           ds != '' AS is_valid,
           CASE WHEN ds = '' THEN 'no-digits' ELSE 'standardized' END AS note
    FROM digits
    """,
)
def clean_student_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dirty = (
        F.when(k % 17 == 0, F.lit("nodigits"))
        .when(k % 4 == 0, F.concat(F.lit("STU"), k.cast("string")))
        .when(k % 4 == 1, F.concat(F.lit("stu-"), k.cast("string")))
        .when(k % 4 == 2, F.concat(F.lit("stu_"), k.cast("string")))
        .otherwise(F.concat(F.lit("Stu"), k.cast("string"), F.lit("x")))
    )
    df = c.select("c_custkey", dirty.alias("dirty_id"))
    rule = rules.standardize_student_id("dirty_id")
    return df.select(
        "c_custkey",
        "dirty_id",
        rule.value.alias("student_id"),
        rule.is_valid.alias("is_valid"),
        rule.note.alias("note"),
    )


# ---------------------------------------------------------------------------
# C2 — name cleaning (collapse, strip digits, Title Case, first/last split)
# ---------------------------------------------------------------------------


@register(
    "clean_names",
    oracle=f"""
    WITH dirty AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 3 = 0 THEN upper(replace(c_name, '#', ' '))
                  WHEN c_custkey % 3 = 1 THEN '  ' || lower(c_name) || '  '
                  ELSE replace(c_name, '#', '  ') END AS dirty_name
      FROM customer
    ), cleaned AS (
      SELECT c_custkey, dirty_name,
             {_TITLE_NAME} AS name
      FROM dirty
    )
    SELECT c_custkey, dirty_name,
           CASE WHEN name != '' THEN name END AS full_name,
           CASE WHEN name != '' THEN string_split(name, ' ')[1] END AS first_name,
           CASE WHEN name != '' THEN
             CASE WHEN length(string_split(name, ' ')) > 1
                  THEN array_to_string(string_split(name, ' ')[2:], ' ')
                  ELSE '' END
           END AS last_name,
           name != '' AS is_valid
    FROM cleaned
    """,
)
def clean_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    name = F.col("c_name")
    dirty = (
        F.when(k % 3 == 0, F.upper(F.regexp_replace(name, "#", " ")))
        .when(k % 3 == 1, F.concat(F.lit("  "), F.lower(name), F.lit("  ")))
        .otherwise(F.regexp_replace(name, "#", "  "))
    )
    df = c.select("c_custkey", dirty.alias("dirty_name"))
    res, first, last = rules.clean_name("dirty_name")
    return df.select(
        "c_custkey",
        "dirty_name",
        res.value.alias("full_name"),
        first.alias("first_name"),
        last.alias("last_name"),
        res.is_valid.alias("is_valid"),
    )


# ---------------------------------------------------------------------------
# C3/C4 — email validation + phone standardization
# ---------------------------------------------------------------------------


@register(
    "clean_emails_phones",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN 'user' || CAST(c_custkey AS VARCHAR) || '@example.com'
                  WHEN c_custkey % 5 = 1 THEN 'USER' || CAST(c_custkey AS VARCHAR) || '@Example.COM  '
                  WHEN c_custkey % 5 = 2 THEN 'bad@email'
                  WHEN c_custkey % 5 = 3 THEN ''
                  ELSE 'a.b' || CAST(c_custkey AS VARCHAR) || '@co.in' END AS dirty_email,
             CASE WHEN c_custkey % 4 = 0 THEN CAST(9000000000 + c_custkey AS VARCHAR)
                  WHEN c_custkey % 4 = 1 THEN '+91-' || CAST(9000000000 + c_custkey AS VARCHAR)
                  WHEN c_custkey % 4 = 2 THEN '91' || CAST(9000000000 + c_custkey AS VARCHAR)
                  ELSE CAST(c_custkey % 1000 AS VARCHAR) END AS dirty_phone
      FROM customer
    ), parsed AS (
      SELECT c_custkey, dirty_email, dirty_phone,
             lower(trim(dirty_email)) AS email_norm,
             regexp_replace(trim(dirty_phone), '[^0-9]', '', 'g') AS pdigits
      FROM dirty
    )
    SELECT c_custkey,
           CASE WHEN regexp_matches(email_norm, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$')
                THEN email_norm END AS email,
           regexp_matches(email_norm, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$') AS email_valid,
           CASE WHEN length(pdigits) = 10 THEN '+91-' || pdigits
                WHEN length(pdigits) = 12 AND pdigits LIKE '91%' THEN '+91-' || pdigits[3:]
           END AS phone,
           (length(pdigits) = 10 OR (length(pdigits) = 12 AND pdigits LIKE '91%')) AS phone_valid
    FROM parsed
    """,
)
def clean_emails_phones(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    dirty_email = (
        F.when(k % 5 == 0, F.concat(F.lit("user"), ks, F.lit("@example.com")))
        .when(k % 5 == 1, F.concat(F.lit("USER"), ks, F.lit("@Example.COM  ")))
        .when(k % 5 == 2, F.lit("bad@email"))
        .when(k % 5 == 3, F.lit(""))
        .otherwise(F.concat(F.lit("a.b"), ks, F.lit("@co.in")))
    )
    ten_digit = (F.lit(9000000000) + k).cast("long").cast("string")
    dirty_phone = (
        F.when(k % 4 == 0, ten_digit)
        .when(k % 4 == 1, F.concat(F.lit("+91-"), ten_digit))
        .when(k % 4 == 2, F.concat(F.lit("91"), ten_digit))
        .otherwise((k % 1000).cast("string"))
    )
    df = c.select(
        "c_custkey", dirty_email.alias("dirty_email"), dirty_phone.alias("dirty_phone")
    )
    email = rules.validate_email("dirty_email")
    phone = rules.standardize_phone("dirty_phone")
    return df.select(
        "c_custkey",
        email.value.alias("email"),
        email.is_valid.alias("email_valid"),
        phone.value.alias("phone"),
        phone.is_valid.alias("phone_valid"),
    )


# ---------------------------------------------------------------------------
# C5 — multi-format date parsing with bounds
# ---------------------------------------------------------------------------


@register(
    "clean_dates",
    oracle=f"""
    WITH dirty AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN '1940-01-01'
                  WHEN o_orderkey % 89 = 0 THEN '2030-01-01'
                  WHEN o_orderkey % 6 = 0 THEN strftime(o_orderdate, '%Y-%m-%d')
                  WHEN o_orderkey % 6 = 1 THEN strftime(o_orderdate, '%d/%m/%Y')
                  WHEN o_orderkey % 6 = 2 THEN strftime(o_orderdate, '%d-%m-%Y')
                  WHEN o_orderkey % 6 = 3 THEN strftime(o_orderdate, '%B %d, %Y')
                  WHEN o_orderkey % 6 = 4 THEN strftime(o_orderdate, '%d-%b-%y')
                  ELSE 'not-a-date' END AS dirty_date
      FROM orders
    ), parsed AS (
      SELECT o_orderkey, dirty_date,
             CAST(coalesce(
               try_strptime(trim(dirty_date), '%Y-%m-%d'),
               try_strptime(trim(dirty_date), '%d/%m/%Y'),
               try_strptime(trim(dirty_date), '%d-%m-%Y'),
               try_strptime(trim(dirty_date), '%B %d, %Y'),
               try_strptime(trim(dirty_date), '%d-%b-%y')
             ) AS DATE) AS p
      FROM dirty
    )
    SELECT o_orderkey, dirty_date,
           CASE WHEN p IS NOT NULL AND year(p) >= 1950 AND p <= DATE '{REF_DATE}'
                THEN p END AS parsed_date,
           (p IS NOT NULL AND year(p) >= 1950 AND p <= DATE '{REF_DATE}') AS is_valid,
           CASE WHEN p IS NULL THEN 'unparsed'
                WHEN year(p) < 1950 THEN 'too-old'
                WHEN p > DATE '{REF_DATE}' THEN 'future-date'
                ELSE 'parsed' END AS note
    FROM parsed
    """,
)
def clean_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    d = F.col("o_orderdate")
    dirty = (
        F.when(k % 97 == 0, F.lit("1940-01-01"))
        .when(k % 89 == 0, F.lit("2030-01-01"))
        .when(k % 6 == 0, F.date_format(d, "yyyy-MM-dd"))
        .when(k % 6 == 1, F.date_format(d, "dd/MM/yyyy"))
        .when(k % 6 == 2, F.date_format(d, "dd-MM-yyyy"))
        .when(k % 6 == 3, F.date_format(d, "MMMM dd, yyyy"))
        .when(k % 6 == 4, F.date_format(d, "dd-MMM-yy"))
        .otherwise(F.lit("not-a-date"))
    )
    df = o.select("o_orderkey", dirty.alias("dirty_date"))
    rule = rules.parse_date("dirty_date", ref_date=F.lit(REF_DATE).cast("date"))
    # note strings: the suite oracle uses a simplified 'parsed' tag instead
    # of the per-format note (format provenance is locked by pytest)
    note = (
        F.when(rule.note.isin("unparsed", "too-old", "future-date", "missing"), rule.note)
        .otherwise("parsed")
    )
    return df.select(
        "o_orderkey",
        "dirty_date",
        rule.value.alias("parsed_date"),
        rule.is_valid.alias("is_valid"),
        note.alias("note"),
    )


# ---------------------------------------------------------------------------
# C6 — multi-format datetime parsing (future rejection)
# ---------------------------------------------------------------------------


@register(
    "clean_datetimes",
    oracle=f"""
    WITH dirty AS (
      SELECT event_id,
             CASE WHEN event_id % 89 = 0 THEN '2030-12-01T10:00:00'
                  WHEN event_id % 4 = 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S')
                  WHEN event_id % 4 = 1 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
                  WHEN event_id % 4 = 2 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z'
                  ELSE 'garbage' END AS dirty_ts
      FROM events
    ), parsed AS (
      SELECT event_id, dirty_ts,
             coalesce(
               try_strptime(trim(dirty_ts), '%Y-%m-%dT%H:%M:%S'),
               try_strptime(trim(dirty_ts), '%Y-%m-%d %H:%M:%S'),
               try_strptime(trim(dirty_ts), '%Y-%m-%dT%H:%M:%SZ')
             ) AS p
      FROM dirty
    )
    SELECT event_id, dirty_ts,
           CASE WHEN p IS NOT NULL AND p <= TIMESTAMP '{REF_DATE} 00:00:00'
                THEN p END AS parsed_ts,
           (p IS NOT NULL AND p <= TIMESTAMP '{REF_DATE} 00:00:00') AS is_valid
    FROM parsed
    """,
)
def clean_datetimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    k = F.col("event_id")
    ts = F.col("ts")
    dirty = (
        F.when(k % 89 == 0, F.lit("2030-12-01T10:00:00"))
        .when(k % 4 == 0, F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"))
        .when(k % 4 == 1, F.date_format(ts, "yyyy-MM-dd HH:mm:ss"))
        .when(k % 4 == 2, F.concat(F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")))
        .otherwise(F.lit("garbage"))
    )
    df = e.select("event_id", dirty.alias("dirty_ts"))
    rule = rules.parse_date_time(
        "dirty_ts", ref_ts=F.lit(f"{REF_DATE} 00:00:00").cast("timestamp")
    )
    return df.select(
        "event_id",
        "dirty_ts",
        rule.value.alias("parsed_ts"),
        rule.is_valid.alias("is_valid"),
    )


# ---------------------------------------------------------------------------
# C7/C9 — gender + state normalization
# ---------------------------------------------------------------------------


@register(
    "clean_gender_state",
    oracle=f"""
    WITH dirty AS (
      SELECT c_custkey, n_name,
             ['M', 'male', 'F', 'FEMALE', ' f ', 'x', '', 'Male'][(c_custkey % 8) + 1] AS dirty_gender
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT c_custkey,
           CASE WHEN lower(trim(dirty_gender)) IN ('m', 'male') THEN 'Male'
                WHEN lower(trim(dirty_gender)) IN ('f', 'female') THEN 'Female'
                ELSE 'Other' END AS gender,
           lower(trim(dirty_gender)) IN ('m', 'male', 'f', 'female') AS gender_valid,
           {_TITLE_STATE} AS state
    FROM dirty
    """,
)
def clean_gender_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = F.broadcast(table(spark, sf_dir, "nation"))
    k = F.col("c_custkey")
    options = F.array(
        *[F.lit(x) for x in ["M", "male", "F", "FEMALE", " f ", "x", "", "Male"]]
    )
    df = (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "n_name", F.element_at(options, (k % 8 + 1).cast("int")).alias("dirty_gender"))
    )
    gender = rules.standardize_gender("dirty_gender")
    state = rules.clean_state("n_name")
    return df.select(
        "c_custkey",
        gender.value.alias("gender"),
        gender.is_valid.alias("gender_valid"),
        state.value.alias("state"),
    )


# ---------------------------------------------------------------------------
# C8/C8a — city normalization + per-row city-master match
# ---------------------------------------------------------------------------

_CITY_VARIANTS = [
    "Mumbai", "mumbai", " MUMBAI ", "Mumabi", "Banglore", "Bangalore", "Dehli",
    "delhi", "Hyderabad", "chennai ", "Pune", "Kolkata", "Bhopal", "Mumbay",
]

_MASTER_VALUES = ", ".join(
    f"('{c}', {i})" for i, c in enumerate(rules.DEFAULT_CITY_MASTER)
)


@register(
    "clean_cities",
    oracle=f"""
    WITH dirty AS (
      SELECT c_custkey,
             {[*_CITY_VARIANTS]!s}[(c_custkey % {len(_CITY_VARIANTS)}) + 1] AS dirty_city
      FROM customer
    ), normed AS (
      SELECT c_custkey, dirty_city,
             {_TITLE_CITY} AS t
      FROM dirty
    ), corrected AS (
      SELECT c_custkey, dirty_city,
             CASE t WHEN 'Mumabi' THEN 'Mumbai' WHEN 'Banglore' THEN 'Bangalore'
                    ELSE t END AS city_norm
      FROM normed
    ), master(master_city, master_idx) AS (VALUES {_MASTER_VALUES}),
    scored AS (
      SELECT c_custkey, dirty_city, city_norm, master_city, master_idx,
             (city_norm = master_city) AS exact,
             len(list_filter(range(1, least(length(city_norm), length(master_city)) + 1),
                 i -> substr(lower(city_norm), i, 1) = substr(lower(master_city), i, 1)))
               * 1.0 / greatest(length(city_norm), length(master_city), 1) AS sim
      FROM corrected CROSS JOIN master
    ), best AS (
      SELECT * FROM scored
      QUALIFY row_number() OVER (
        PARTITION BY c_custkey ORDER BY exact DESC, sim DESC, master_idx) = 1
    )
    SELECT c_custkey,
           CASE WHEN exact OR sim >= 0.8 THEN master_city ELSE city_norm END AS city,
           (exact OR sim >= 0.8) AS city_valid,
           CASE WHEN exact THEN 'matched'
                WHEN sim >= 0.8 THEN 'fuzzy-' || format('{{:.2f}}', sim)
                ELSE 'unmatched' END AS city_note
    FROM best
    """,
)
def clean_cities(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    options = F.array(*[F.lit(x) for x in _CITY_VARIANTS])
    df = c.select(
        "c_custkey",
        F.element_at(options, (k % len(_CITY_VARIANTS) + 1).cast("int")).alias("dirty_city"),
    )
    out = cleaning.with_city_cleaned(df, "dirty_city")
    return out.select(
        "c_custkey",
        F.col("city_value").alias("city"),
        F.col("city_valid"),
        F.col("city_note"),
    )


# ---------------------------------------------------------------------------
# C10/C11 — numeric cleaning + score validation
# ---------------------------------------------------------------------------


@register(
    "clean_numerics_scores",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS bal,
             CASE WHEN c_custkey % 5 = 0 THEN CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)
                  WHEN c_custkey % 5 = 1 THEN '₹' || CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)
                  WHEN c_custkey % 5 = 2 THEN '$' || CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)
                  WHEN c_custkey % 5 = 3 THEN ''
                  ELSE 'abc' END AS dirty_amount,
             -- integer/20 -> exact 2-decimal double; avoids double->decimal
             -- cast divergence (DuckDB rounds the decimal string half-up,
             -- Spark rounds the binary value)
             CAST(CAST(c_custkey % 2400 AS DOUBLE) / 20.0 AS VARCHAR) AS dirty_score
      FROM customer
    ), parsed AS (
      SELECT c_custkey, dirty_amount, dirty_score,
             try_cast(regexp_replace(dirty_amount, '[^0-9.\\-]', '', 'g') AS DOUBLE) AS amt,
             try_cast(trim(dirty_score) AS DOUBLE) AS sc
      FROM dirty
    )
    SELECT c_custkey,
           CASE WHEN dirty_amount = '' THEN 0.0
                WHEN amt IS NOT NULL THEN abs(amt) END AS amount,
           (dirty_amount != '' AND amt IS NOT NULL AND amt >= 0) AS amount_valid,
           CASE WHEN dirty_amount = '' THEN 'empty'
                WHEN amt IS NULL THEN 'not-a-number'
                WHEN amt < 0 THEN 'abs'
                ELSE 'normalized' END AS amount_note,
           CASE WHEN sc IS NOT NULL THEN round(least(greatest(sc, 0.0), 100.0), 2) END AS score,
           (sc IS NOT NULL AND sc >= 0 AND sc <= 100) AS score_valid
    FROM parsed
    """,
)
def clean_numerics_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    bal = F.col("c_acctbal").cast("decimal(12,2)").cast("string")
    dirty_amount = (
        F.when(k % 5 == 0, bal)
        .when(k % 5 == 1, F.concat(F.lit("₹"), bal))
        .when(k % 5 == 2, F.concat(F.lit("$"), bal))
        .when(k % 5 == 3, F.lit(""))
        .otherwise(F.lit("abc"))
    )
    dirty_score = ((F.col("c_custkey") % 2400).cast("double") / 20.0).cast("string")
    df = c.select(
        "c_custkey", dirty_amount.alias("dirty_amount"), dirty_score.alias("dirty_score")
    )
    amount = rules.clean_numeric("dirty_amount")
    score = rules.validate_score("dirty_score")
    return df.select(
        "c_custkey",
        amount.value.alias("amount"),
        amount.is_valid.alias("amount_valid"),
        amount.note.alias("amount_note"),
        score.value.alias("score"),
        score.is_valid.alias("score_valid"),
    )


# ---------------------------------------------------------------------------
# Q — quality score composition over several rules
# ---------------------------------------------------------------------------


@register(
    "quality_scores",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 17 = 0 THEN 'nodigits'
                  ELSE 'STU' || CAST(c_custkey AS VARCHAR) END AS dirty_id,
             CASE WHEN c_custkey % 5 = 2 THEN 'bad@email'
                  WHEN c_custkey % 5 = 3 THEN ''
                  ELSE 'user' || CAST(c_custkey AS VARCHAR) || '@example.com' END AS dirty_email,
             CASE WHEN c_custkey % 4 = 3 THEN CAST(c_custkey % 1000 AS VARCHAR)
                  ELSE CAST(9000000000 + c_custkey AS VARCHAR) END AS dirty_phone,
             CASE WHEN c_custkey % 8 IN (5, 6) THEN 'x' ELSE 'M' END AS dirty_gender
      FROM customer
    ), flags AS (
      SELECT c_custkey,
             regexp_replace(dirty_id, '[^0-9]', '', 'g') != '' AS f_id,
             regexp_matches(lower(trim(dirty_email)),
               '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$') AS f_email,
             length(regexp_replace(dirty_phone, '[^0-9]', '', 'g')) = 10 AS f_phone,
             lower(trim(dirty_gender)) IN ('m', 'male', 'f', 'female') AS f_gender
      FROM dirty
    )
    SELECT greatest(0, 100 - 10 * ((NOT f_id)::INT + (NOT f_email)::INT
                                   + (NOT f_phone)::INT + (NOT f_gender)::INT)) AS quality_score,
           count(*) AS n_records
    FROM flags
    GROUP BY 1
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    ks = k.cast("string")
    dirty_id = F.when(k % 17 == 0, F.lit("nodigits")).otherwise(F.concat(F.lit("STU"), ks))
    dirty_email = (
        F.when(k % 5 == 2, F.lit("bad@email"))
        .when(k % 5 == 3, F.lit(""))
        .otherwise(F.concat(F.lit("user"), ks, F.lit("@example.com")))
    )
    ten_digit = (F.lit(9000000000) + k).cast("long").cast("string")
    dirty_phone = F.when(k % 4 == 3, (k % 1000).cast("string")).otherwise(ten_digit)
    dirty_gender = F.when((k % 8).isin(5, 6), F.lit("x")).otherwise(F.lit("M"))
    df = c.select(
        "c_custkey",
        dirty_id.alias("dirty_id"),
        dirty_email.alias("dirty_email"),
        dirty_phone.alias("dirty_phone"),
        dirty_gender.alias("dirty_gender"),
    )
    sid = rules.standardize_student_id("dirty_id")
    email = rules.validate_email("dirty_email")
    phone = rules.standardize_phone("dirty_phone")
    gender = rules.standardize_gender("dirty_gender")
    quality = rules.quality_score(sid.is_valid, email.is_valid, phone.is_valid, gender.is_valid)
    return (
        df.select(quality.alias("quality_score"))
        .groupBy("quality_score")
        .agg(F.count(F.lit(1)).alias("n_records"))
    )


# ---------------------------------------------------------------------------
# D1 — duplicate flagging (every copy flagged, including the first)
# ---------------------------------------------------------------------------


@register(
    "dedup_flag_all",
    oracle="""
    SELECT event_id, user_id, event_type,
           count(*) OVER (PARTITION BY user_id, event_type) > 1 AS is_duplicate
    FROM events
    """,
)
def dedup_flag_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type")
    return e.select(
        "event_id", "user_id", "event_type",
        (F.count("*").over(w) > 1).alias("is_duplicate"),
    )


# ---------------------------------------------------------------------------
# D2 — pre-upsert key dedup (last occurrence wins)
# ---------------------------------------------------------------------------


@register(
    "dedup_keep_last",
    oracle="""
    SELECT event_id, user_id, event_type, ts
    FROM events
    QUALIFY row_number() OVER (
      PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts")
    )


# ---------------------------------------------------------------------------
# D3 — duplicate-rate gauge
# ---------------------------------------------------------------------------


@register(
    "duplicate_rate",
    oracle="""
    WITH flagged AS (
      SELECT count(*) OVER (PARTITION BY user_id, event_type) > 1 AS is_dup
      FROM events
    )
    SELECT round(avg(is_dup::INT), 6) AS duplicate_rate,
           CAST(sum(is_dup::INT) AS BIGINT) AS duplicate_count,
           count(*) AS total_records
    FROM flagged
    """,
)
def duplicate_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type")
    flagged = e.select((F.count("*").over(w) > 1).alias("is_dup"))
    return flagged.agg(
        F.round(F.avg(F.col("is_dup").cast("int")), 6).alias("duplicate_rate"),
        F.sum(F.col("is_dup").cast("int")).cast("long").alias("duplicate_count"),
        F.count(F.lit(1)).alias("total_records"),
    )


# ---------------------------------------------------------------------------
# J8 — referential orphan checks (anti-joins over FK relationships)
# ---------------------------------------------------------------------------


@register(
    "referential_orphans",
    oracle="""
    SELECT 'orders->customer' AS relationship, count(*) AS n_orphans
    FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem->orders', count(*)
    FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem->part', count(*)
    FROM lineitem l ANTI JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'customer->nation', count(*)
    FROM customer c ANTI JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    l = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    n = table(spark, sf_dir, "nation")

    def orphans(child, parent, cond, label):
        return child.join(parent, cond, "left_anti").agg(
            F.lit(label).alias("relationship"), F.count(F.lit(1)).alias("n_orphans")
        )

    return (
        orphans(o, c, o.o_custkey == c.c_custkey, "orders->customer")
        .unionByName(orphans(l, o, l.l_orderkey == o.o_orderkey, "lineitem->orders"))
        .unionByName(orphans(l, p, l.l_partkey == p.p_partkey, "lineitem->part"))
        .unionByName(orphans(c, n, c.c_nationkey == n.n_nationkey, "customer->nation"))
    )


# ---------------------------------------------------------------------------
# §2.7 derivations — age / age-group / enrollment quarter
# ---------------------------------------------------------------------------


@register(
    "age_groups",
    oracle="""
    WITH derived AS (
      SELECT c_custkey,
             DATE '1970-01-01' + INTERVAL ((c_custkey * 37) % 20000) DAY AS dob
      FROM customer
    ), aged AS (
      SELECT c_custkey, CAST(dob AS DATE) AS dob,
             greatest(
               year(DATE '2026-08-13') - year(dob)
               - CASE WHEN month(DATE '2026-08-13') < month(dob)
                       OR (month(DATE '2026-08-13') = month(dob)
                           AND day(DATE '2026-08-13') < day(dob))
                      THEN 1 ELSE 0 END, 0) AS age,
             quarter(dob) AS dob_quarter
      FROM derived
    )
    SELECT CASE WHEN age <= 22 THEN '18-22' WHEN age <= 27 THEN '23-27'
                WHEN age <= 35 THEN '28-35' ELSE '35+' END AS age_group,
           dob_quarter,
           count(*) AS n,
           min(age) AS min_age,
           max(age) AS max_age
    FROM aged
    GROUP BY 1, 2
    """,
)
def age_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import dates

    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    dob = F.date_add(F.lit("1970-01-01").cast("date"), ((k * 37) % 20000).cast("int"))
    ref = F.lit(REF_DATE).cast("date")
    derived = c.select("c_custkey", dob.alias("dob"))
    age = dates.derive_age(F.col("dob"), ref_date=ref)
    aged = derived.select(
        "c_custkey",
        age.alias("age"),
        dates.age_group(age).alias("age_group"),
        F.quarter("dob").alias("dob_quarter"),
    )
    return aged.groupBy("age_group", "dob_quarter").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("age").alias("min_age"),
        F.max("age").alias("max_age"),
    )


# ---------------------------------------------------------------------------
# Docx Rule 10 stretch — fuzzy duplicates (same email OR same name+phone)
# ---------------------------------------------------------------------------


@register(
    "fuzzy_duplicate_flags",
    oracle="""
    WITH derived AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 11 = 0 THEN NULL
                  ELSE 'user' || CAST(c_custkey % 700 AS VARCHAR) || '@example.com' END AS email,
             'Name ' || CAST(c_custkey % 500 AS VARCHAR) AS full_name,
             CAST(9000000000 + c_custkey % 900 AS VARCHAR) AS phone
      FROM customer
    )
    SELECT c_custkey,
           (email IS NOT NULL AND count(email) OVER (PARTITION BY email) > 1) AS is_email_dup,
           (count(*) OVER (PARTITION BY full_name, phone) > 1) AS is_name_phone_dup,
           ((email IS NOT NULL AND count(email) OVER (PARTITION BY email) > 1)
            OR count(*) OVER (PARTITION BY full_name, phone) > 1) AS is_fuzzy_duplicate
    FROM derived
    """,
)
def fuzzy_duplicate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    derived = c.select(
        "c_custkey",
        F.when(k % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("user"), (k % 700).cast("string"), F.lit("@example.com")))
        .alias("email"),
        F.concat(F.lit("Name "), (k % 500).cast("string")).alias("full_name"),
        (F.lit(9000000000) + k % 900).cast("long").cast("string").alias("phone"),
    )
    flagged = cleaning.fuzzy_duplicates(derived)
    return flagged.select(
        "c_custkey", "is_email_dup", "is_name_phone_dup", "is_fuzzy_duplicate"
    )
