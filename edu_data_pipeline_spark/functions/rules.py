"""The 10 cleaning rules (C1-C13 + quality score Q) as native Column builders.

Reference parity: each builder mirrors one function in the reference's
``dags/utils/cleaning_rules.py`` (cited per-rule below). The reference
returns ``RuleResult(value, is_valid, note)`` per row (cleaning_rules.py:10-15);
here each rule returns a :class:`RuleColumns` triple of Spark Columns so a
whole dataset is cleaned in ONE fused ``select()`` that stays inside
whole-stage codegen — no Python UDFs anywhere in this module.

Determinism: every rule that compares against "now" (date bounds, future
timestamps) takes an injectable ``ref_date``/``ref_ts`` so results are
reproducible and oracle-checkable (reference uses ``datetime.now`` at
cleaning_rules.py:122,137).

Documented divergences from the reference (each locked by a test):
- Title-casing uses word-boundary-at-space semantics (``initcap``) rather
  than Python ``str.title()``'s any-non-letter boundary. Identical on the
  reference corpus (names contain only letters and spaces after digit
  removal).
- Naive timestamps: the reference raises ``TypeError`` comparing a naive
  parse against an aware "now" (cleaning_rules.py:137), which kills the
  record via the operator's per-record catch (operators/data_cleaning.py:61-64).
  We treat naive timestamps as UTC and keep the record — the sane fix the
  reference survey flags (SURVEY.md §2.2 C6).
- Two-digit years (``%d-%b-%y``): Python pivots 69-99 to 19xx; Spark's
  ``yy`` maps 00-99 to 20xx. We post-adjust years ≥ 2069 back 100 years to
  match Python's pivot exactly.
- Whitespace stripping (`.strip()` sites) covers the six ASCII whitespace
  chars (space, \\t, \\n, \\x0b, \\f, \\r) via a regexp trim — Spark's
  ``trim`` removes only spaces, which silently diverged from the
  reference on tab/newline-padded input (found by the rule fuzz,
  tests/test_rule_fuzz.py). Python ``str.strip()`` additionally strips
  exotic Unicode whitespace (\\x1c-\\x1f, \\x85, \\xa0, …) — out of
  contract.
- Score rounding (``bround``) rounds the value's shortest decimal
  representation (Java ``BigDecimal.valueOf`` semantics: 2.675 -> 2.68),
  while Python ``round()`` rounds the exact binary double (2.675 ->
  2.67). The SQL convention is deliberate; the fuzz twin mirrors it.
- Timezone offsets: Java bounds offsets to ±18:00 and rejects
  seconds-bearing offsets under our guards; Python ``%z`` accepts up to
  ±24h, minutes > 59, and ``±HH:MM:SS``. Out of contract.
- Spark's string->double cast uses ``Double.parseDouble``, which also
  accepts Java float literals ("1d", "0x1p3"); Python ``float()``
  rejects them, and ``float()`` alone accepts underscored literals
  ("1_0") and case-folded "nan"/"inf" words the cast handles
  differently (Spark orders NaN above all doubles, so a literal "nan"
  score would validate as 100.0 where the reference keeps NaN). All out
  of contract for score inputs.
- strptime literal flexibility IS mirrored (found by the rule fuzz):
  month names and the literal 'T' separator match case-insensitively,
  and each whitespace run in a format matches ``\\s+`` — parse_date /
  parse_date_time canonicalize (collapse + title-case month) before the
  strict Java formatter. Lowercase 'z' stays rejected (Python %z is
  case-sensitive there, verified).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F


class RuleColumns(NamedTuple):
    """Column triple mirroring the reference's RuleResult dataclass."""

    value: Column
    is_valid: Column
    note: Column


def _s(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("string")


def _strip(col: Column) -> Column:
    """Python ``str.strip()`` parity for ASCII whitespace.

    ``F.trim`` removes only the space character; the reference strips all
    whitespace. Java ``\\s`` = [ \\t\\n\\x0b\\f\\r] — exactly the ASCII
    subset of Python's (see module docstring divergence list).
    """
    return F.regexp_replace(col, "^\\s+|\\s+$", "")


# ---------------------------------------------------------------------------
# C1 — student-ID standardization (cleaning_rules.py:64-73)
# ---------------------------------------------------------------------------


def standardize_student_id(col: Column | str) -> RuleColumns:
    """``"stu-002" -> "STU002"``; digits zero-padded to >= 3, kept if longer."""
    raw = _s(col)
    digits = F.regexp_replace(raw, "[^0-9]", "")
    padded = F.when(F.length(digits) >= 3, digits).otherwise(F.lpad(digits, 3, "0"))
    value = F.when(raw.isNotNull() & (digits != ""), F.concat(F.lit("STU"), padded))
    is_valid = raw.isNotNull() & (digits != "")
    note = (
        F.when(raw.isNull(), "missing")
        .when(digits == "", "no-digits")
        .otherwise("standardized")
    )
    return RuleColumns(value, is_valid, note)


# ---------------------------------------------------------------------------
# C2 — name cleaning (cleaning_rules.py:76-87)
# ---------------------------------------------------------------------------


def clean_name(col: Column | str) -> tuple[RuleColumns, Column, Column]:
    """Trim, collapse whitespace, delete digits, Title Case; split first/last.

    Order matters (digits removed AFTER collapse, so "john 123 doe"
    title-cases to "John  Doe" with the double space preserved — exactly
    the reference behavior). Returns ``(full_name RuleColumns, first, last)``.
    """
    raw = _s(col)
    collapsed = F.regexp_replace(_strip(raw), "\\s+", " ")
    name = F.initcap(F.regexp_replace(collapsed, "[0-9]", ""))
    is_valid = raw.isNotNull() & (name != "")
    value = F.when(is_valid, name)
    note = (
        F.when(raw.isNull(), "missing").when(name == "", "empty").otherwise("standardized")
    )
    parts = F.split(name, " ", -1)
    first = F.when(is_valid, F.element_at(parts, 1))
    last = F.when(
        is_valid,
        F.when(F.size(parts) > 1, F.array_join(F.slice(parts, 2, 2147483647), " ")).otherwise(
            F.lit("")
        ),
    )
    return RuleColumns(value, is_valid, note), first, last


# ---------------------------------------------------------------------------
# C3 — email validation (cleaning_rules.py:90-97)
# ---------------------------------------------------------------------------

EMAIL_PATTERN = "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}$"


def validate_email(col: Column | str) -> RuleColumns:
    raw = _s(col)
    email = F.lower(_strip(raw))
    ok = email.rlike(EMAIL_PATTERN)
    value = F.when(raw.isNotNull() & ok, email)
    is_valid = raw.isNotNull() & ok
    note = (
        F.when(raw.isNull(), "missing").when(ok, "valid").otherwise("invalid-format")
    )
    return RuleColumns(value, is_valid, note)


# ---------------------------------------------------------------------------
# C4 — phone standardization (cleaning_rules.py:100-110)
# ---------------------------------------------------------------------------


def standardize_phone(col: Column | str) -> RuleColumns:
    raw = _s(col)
    digits = F.regexp_replace(F.trim(raw), "[^0-9]", "")
    ten = F.length(digits) == 10
    twelve = (F.length(digits) == 12) & digits.startswith("91")
    value = (
        F.when(raw.isNull(), F.lit(None).cast("string"))
        .when(ten, F.concat(F.lit("+91-"), digits))
        .when(twelve, F.concat(F.lit("+91-"), F.substring(digits, 3, 10)))
    )
    is_valid = raw.isNotNull() & (ten | twelve)
    note = (
        F.when(raw.isNull(), "missing")
        .when(ten, "normalized-10")
        .when(twelve, "normalized-12")
        .otherwise("invalid-length")
    )
    return RuleColumns(value, is_valid, note)


# ---------------------------------------------------------------------------
# C5 — multi-format date parsing (cleaning_rules.py:18-24,113-127)
# ---------------------------------------------------------------------------

# Reference format list, in first-match-wins order (cleaning_rules.py:18-24):
#   %Y-%m-%d, %d/%m/%Y, %d-%m-%Y, %B %d, %Y, %d-%b-%y
# Spark patterns use single M/d so 1-digit months/days parse like strptime.
DATE_FORMATS_SPARK = [
    ("yyyy-M-d", "%Y-%m-%d"),
    ("d/M/yyyy", "%d/%m/%Y"),
    ("d-M-yyyy", "%d-%m-%Y"),
    ("MMMM d, yyyy", "%B %d, %Y"),
    ("d-MMM-yy", "%d-%b-%y"),
]


def _parse_two_digit_year(canon: Column) -> Column:
    """``d-MMM-yy`` with Python's 69-99 -> 19xx pivot (Spark maps to 20xx).

    strptime matches month abbreviations case-insensitively ("05-MAR-99");
    Java's strict formatter wants "Mar" exactly. ``initcap`` only title-cases
    at spaces, so swap the dashes for spaces first, then parse ``d MMM yy``.
    """
    spaced = F.initcap(F.lower(F.translate(canon, "-", " ")))
    parsed = F.to_date(spaced, "d MMM yy")
    return F.when(F.year(parsed) >= 2069, F.add_months(parsed, -1200)).otherwise(parsed)


# Cheap shape pre-checks per format: skip the expensive DateTimeFormatter
# attempt unless the string can possibly match. These mirror strptime's
# token widths exactly (%Y = 4 digits, %m/%d = 1-2, %B = alpha month), so
# they also CLOSE divergences — e.g. Spark's to_date would accept a
# 2-digit year for yyyy where Python's %Y (exactly 4 digits) refuses.
DATE_GUARDS = [
    ("^[0-9]{4}-[0-9]{1,2}-[0-9]{1,2}$", "yyyy-M-d"),
    ("^[0-9]{1,2}/[0-9]{1,2}/[0-9]{4}$", "d/M/yyyy"),
    ("^[0-9]{1,2}-[0-9]{1,2}-[0-9]{4}$", "d-M-yyyy"),
    ("^[A-Za-z]+ [0-9]{1,2}, [0-9]{4}$", "MMMM d, yyyy"),
    ("^[0-9]{1,2}-[A-Za-z]{3}-[0-9]{2}$", "d-MMM-yy"),
]


def parse_date(col: Column | str, ref_date: Column | None = None) -> RuleColumns:
    """First-match-wins over the 5 reference formats; bounds [1950, today].

    strptime canonicalization (found by the rule fuzz): Python strips all
    whitespace first (reference ``.strip()``), matches literal text and
    month names case-insensitively, and compiles each whitespace run in
    the format to ``\\s+`` — so "MARCH  5, 2020" parses. Collapse runs and
    title-case month-bearing candidates so the strict Java formatter sees
    the canonical form the reference would accept.
    """
    raw = _s(col)
    canon = F.regexp_replace(_strip(raw), "\\s+", " ")
    today = ref_date if ref_date is not None else F.current_date()

    def guarded(guard: str, fmt: str) -> Column:
        if fmt == "d-MMM-yy":
            return F.when(canon.rlike(guard), _parse_two_digit_year(canon))
        if fmt == "MMMM d, yyyy":
            return F.when(canon.rlike(guard), F.to_date(F.initcap(F.lower(canon)), fmt))
        return F.when(canon.rlike(guard), F.to_date(canon, fmt))

    candidates = [guarded(g, fmt) for g, fmt in DATE_GUARDS]
    parsed = F.coalesce(*candidates)
    in_bounds = (F.year(parsed) >= 1950) & (parsed <= today)
    is_valid = raw.isNotNull() & parsed.isNotNull() & in_bounds
    value = F.when(is_valid, parsed)
    fmt_note = F.coalesce(
        *[
            F.when(cand.isNotNull(), F.lit(py_fmt))
            for cand, (_, py_fmt) in zip(candidates, DATE_FORMATS_SPARK)
        ]
    )
    note = (
        F.when(raw.isNull(), "missing")
        .when(parsed.isNull(), "unparsed")
        .when(F.year(parsed) < 1950, "too-old")
        .when(parsed > today, "future-date")
        .otherwise(fmt_note)
    )
    return RuleColumns(value, is_valid, note)


# ---------------------------------------------------------------------------
# C6 — multi-format datetime parsing (cleaning_rules.py:26-30,130-142)
# ---------------------------------------------------------------------------

DATETIME_FORMATS_SPARK = [
    ("yyyy-M-d'T'H:m:s", "%Y-%m-%dT%H:%M:%S"),
    ("yyyy-M-d H:m:s", "%Y-%m-%d %H:%M:%S"),
    # %z variants: ISO offset (+05:30 / Z) and RFC-822 offset (+0530)
    ("yyyy-M-d'T'H:m:sXXX", "%Y-%m-%dT%H:%M:%S%z"),
    ("yyyy-M-d'T'H:m:sZ", "%Y-%m-%dT%H:%M:%S%z"),
]


def parse_date_time(col: Column | str, ref_ts: Column | None = None) -> RuleColumns:
    """Naive formats first, then tz-aware; future timestamps rejected.

    Naive parses are interpreted as UTC (session timezone) — the
    reference instead crashes the record on naive inputs (see module
    docstring, divergence #2).
    """
    raw = _s(col)
    # strptime canonicalization (see parse_date): strip all whitespace,
    # collapse internal runs (the "yyyy-M-d H:m:s" separator compiles to
    # \s+ in Python), and accept the case-insensitive literal 't' date/time
    # separator strptime allows. Lowercase 'z' is NOT normalized — Python's
    # %z rejects it (verified; the Z branch is case-sensitive).
    canon = F.regexp_replace(_strip(raw), "\\s+", " ")
    trimmed = F.regexp_replace(canon, "^([0-9]{4}-[0-9]{1,2}-[0-9]{1,2})t", "$1T")
    now = ref_ts if ref_ts is not None else F.current_timestamp()
    guards = [
        "^[0-9]{4}-[0-9]{1,2}-[0-9]{1,2}T[0-9]{1,2}:[0-9]{1,2}:[0-9]{1,2}$",
        "^[0-9]{4}-[0-9]{1,2}-[0-9]{1,2} [0-9]{1,2}:[0-9]{1,2}:[0-9]{1,2}$",
        "^[0-9]{4}-[0-9]{1,2}-[0-9]{1,2}T[0-9]{1,2}:[0-9]{1,2}:[0-9]{1,2}(Z|[+-][0-9]{2}:[0-9]{2})$",
        "^[0-9]{4}-[0-9]{1,2}-[0-9]{1,2}T[0-9]{1,2}:[0-9]{1,2}:[0-9]{1,2}[+-][0-9]{4}$",
    ]
    candidates = [
        F.when(trimmed.rlike(guard), F.to_timestamp(trimmed, fmt))
        for guard, (fmt, _) in zip(guards, DATETIME_FORMATS_SPARK)
    ]
    parsed = F.coalesce(*candidates)
    is_valid = raw.isNotNull() & parsed.isNotNull() & (parsed <= now)
    value = F.when(is_valid, parsed)
    fmt_note = F.coalesce(
        *[
            F.when(cand.isNotNull(), F.lit(py_fmt))
            for cand, (_, py_fmt) in zip(candidates, DATETIME_FORMATS_SPARK)
        ]
    )
    note = (
        F.when(raw.isNull(), "missing")
        .when(parsed.isNull(), "unparsed")
        .when(parsed > now, "future-date")
        .otherwise(fmt_note)
    )
    return RuleColumns(value, is_valid, note)


# ---------------------------------------------------------------------------
# C7 — gender standardization (cleaning_rules.py:145-153)
# ---------------------------------------------------------------------------


def standardize_gender(col: Column | str) -> RuleColumns:
    raw = _s(col)
    g = F.lower(_strip(raw))
    male = g.isin("m", "male")
    female = g.isin("f", "female")
    value = (
        F.when(raw.isNull(), "Other")
        .when(male, "Male")
        .when(female, "Female")
        .otherwise("Other")
    )
    is_valid = raw.isNotNull() & (male | female)
    note = (
        F.when(raw.isNull(), "missing")
        .when(male | female, "mapped")
        .otherwise("defaulted")
    )
    return RuleColumns(value, is_valid, note)


# ---------------------------------------------------------------------------
# C8/C9 — city & state normalization (cleaning_rules.py:156-176)
# the city-master match itself is operators/cleaning.with_city_cleaned
# ---------------------------------------------------------------------------

DEFAULT_CITY_MASTER = (
    "Mumbai",
    "Bangalore",
    "Delhi",
    "Hyderabad",
    "Chennai",
    "Pune",
    "Kolkata",
    "Ahmedabad",
    "Jaipur",
    "Lucknow",
)

# Hardcoded corrections applied BEFORE master matching (cleaning_rules.py:160)
CITY_CORRECTIONS = {"Mumabi": "Mumbai", "Banglore": "Bangalore", "Pune": "Pune"}

# The r14 map-lookup rewrite of normalize_city is SINGLE-STEP while the
# when-chain it replaced cascaded (A->B could feed B->C). No current
# entry exercises the difference; pin that invariant at import time so
# a future correction whose VALUE is another entry's KEY fails loudly
# instead of silently diverging (VERDICT r14 "what's wrong" #6).
_cascading = {
    k: v for k, v in CITY_CORRECTIONS.items() if v != k and v in CITY_CORRECTIONS
}
if _cascading:
    raise ValueError(
        f"CITY_CORRECTIONS entries cascade ({_cascading}); normalize_city's "
        "map lookup is single-step — collapse the chain (map A directly to "
        "its final value) before shipping"
    )


def normalize_city(col: Column | str) -> Column:
    """Trim/collapse/titlecase + hardcoded corrections (pre-fuzzy step).

    r14: one map lookup instead of a folded when-chain. The chain
    referenced the normalized-city subexpression once per branch per
    nesting level, and after Catalyst's projection collapse the
    initcap(regexp_replace(regexp_replace(...))) tree appeared NINE
    times in clean_cities' physical plan (every appearance re-executed
    per row, and the bloated tree slowed analysis and codegen).
    ``try_element_at(map, city)`` evaluates the city expression once and
    is NULL-on-miss under BOTH ANSI settings (ADVICE r14: plain
    element_at throws MAP_KEY_DOES_NOT_EXIST for every unmatched city —
    the common case — on a raw ANSI-on Spark 4 session; this is a
    public rules helper, so it must not depend on the suite's ansi=off
    wrappers); coalesce keeps the identical semantics — a NULL city
    stays NULL, an unmatched city passes through, a matched one maps
    (including the reference's identity entry Pune->Pune)."""
    raw = _s(col)
    city = F.initcap(F.regexp_replace(_strip(raw), "\\s+", " "))
    corrections = F.create_map(
        *[F.lit(x) for kv in CITY_CORRECTIONS.items() for x in kv]
    )
    return F.coalesce(F.try_element_at(corrections, city), city)


def clean_state(col: Column | str) -> RuleColumns:
    raw = _s(col)
    state = F.initcap(F.regexp_replace(_strip(raw), "\\s+", " "))
    value = F.when(raw.isNotNull(), state)
    is_valid = raw.isNotNull()
    note = F.when(raw.isNull(), "missing").otherwise("normalized")
    return RuleColumns(value, is_valid, note)


# ---------------------------------------------------------------------------
# C8a — positional similarity (cleaning_rules.py:234-237) — NOT Levenshtein
# ---------------------------------------------------------------------------


def positional_similarity(a: Column | str, b: Column | str) -> Column:
    """``sum(a[i]==b[i]) / max(len(a), len(b), 1)`` on lowercased strings.

    Native expression (split-to-chars + zip_with), no UDF; must match the
    reference's ``_similarity`` exactly — Levenshtein gives different
    rankings (e.g. "Mumabi"/"Mumbai" scores 4/6 positionally).
    """
    ca = F.split(F.lower(_s(a)), "")
    cb = F.split(F.lower(_s(b)), "")
    matches = F.size(
        F.filter(
            F.zip_with(ca, cb, lambda x, y: x.isNotNull() & x.eqNullSafe(y)),
            lambda v: v,
        )
    )
    denom = F.greatest(F.length(_s(a)), F.length(_s(b)), F.lit(1))
    return matches / denom


# ---------------------------------------------------------------------------
# C10 — numeric cleaning (cleaning_rules.py:179-191)
# ---------------------------------------------------------------------------


def clean_numeric(col: Column | str) -> RuleColumns:
    """Strip currency/grouping chars, abs() negatives (flagged), empty -> 0.0."""
    raw = _s(col)
    empty = raw.isNull() | (_strip(raw) == "")
    stripped = F.regexp_replace(raw, "[^0-9.\\-]", "")
    number = stripped.try_cast("double")  # unparseable -> NULL, ANSI on or off
    value = (
        F.when(empty, F.lit(0.0))
        .when(number.isNotNull(), F.abs(number))
        .otherwise(F.lit(None).cast("double"))
    )
    is_valid = ~empty & number.isNotNull() & (number >= 0)
    note = (
        F.when(empty, "empty")
        .when(number.isNull(), "not-a-number")
        .when(number < 0, "abs")
        .otherwise("normalized")
    )
    return RuleColumns(value, is_valid, note)


# ---------------------------------------------------------------------------
# C11 — score validation (cleaning_rules.py:194-208)
# ---------------------------------------------------------------------------


def validate_score(col: Column | str) -> RuleColumns:
    """Cast, cap to [0,100] with flag, banker's-round to 2 (Python round())."""
    raw = _s(col)
    number = _strip(raw).try_cast("double")
    capped = F.least(F.greatest(number, F.lit(0.0)), F.lit(100.0))
    value = F.when(number.isNotNull(), F.bround(capped, 2))
    in_range = (number >= 0) & (number <= 100)
    is_valid = raw.isNotNull() & number.isNotNull() & in_range
    note = (
        F.when(raw.isNull(), "missing")
        .when(number.isNull(), "invalid")
        .when(~in_range, "capped")
        .otherwise("valid")
    )
    return RuleColumns(value, is_valid, note)


# ---------------------------------------------------------------------------
# C12 — payment-status normalization (cleaning_rules.py:32-39;
#       transformations.py:40-42; raw Title-case variant cleaners.py:19-20)
# ---------------------------------------------------------------------------

PAYMENT_STATUS_MAP = {
    "paid": "COMPLETED",
    "pending": "PENDING",
    "partial": "PARTIAL",
    "refunded": "REFUNDED",
    "failed": "FAILED",
    "": "UNKNOWN",
}


def map_payment_status(col: Column | str) -> Column:
    """Lower/trim key -> canonical status; unknown key -> UNKNOWN."""
    raw = _s(col)
    key = F.lower(_strip(F.coalesce(raw, F.lit(""))))
    mapping = F.create_map(
        *[F.lit(x) for kv in PAYMENT_STATUS_MAP.items() for x in kv]
    )
    return F.coalesce(mapping[key], F.lit("UNKNOWN"))


def payment_status_raw(col: Column | str) -> Column:
    """Staging keeps the Title-cased raw value, empty -> "Unknown"
    (cleaners.py:19-20)."""
    raw = _s(col)
    trimmed = _strip(F.coalesce(raw, F.lit("")))
    return F.when(trimmed == "", "Unknown").otherwise(F.initcap(trimmed))


# ---------------------------------------------------------------------------
# C13 — program-ID normalization (cleaners.py:47)
# ---------------------------------------------------------------------------


def normalize_program_id(col: Column | str) -> Column:
    raw = _s(col)
    upper = F.upper(F.coalesce(raw, F.lit("")))
    return F.when(upper == "", F.lit(None).cast("string")).otherwise(upper)


# ---------------------------------------------------------------------------
# Q — quality score (cleaning_rules.py:240-242): 100 - 10*invalid, floor 0
# ---------------------------------------------------------------------------


def quality_score(*valid_flags: Column) -> Column:
    invalid_count = sum(
        (~F.coalesce(flag, F.lit(False))).cast("int") for flag in valid_flags
    )
    return F.greatest(F.lit(0), F.lit(100) - F.lit(10) * invalid_count)
