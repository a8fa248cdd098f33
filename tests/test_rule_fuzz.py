"""Seeded property fuzz for the C1-C13 cleaning rules (VERDICT r5 #6).

The contract for each rule is the reference's row-level semantics
(``dags/utils/cleaning_rules.py``, ``cleaners.py``) with the divergences
documented in ``functions/rules.py`` applied (ASCII-whitespace strip,
initcap word boundaries, bround score rounding, strict UTC-offset
bounds).  Each rule gets a short pure-Python twin transliterating that
contract; a seeded generator produces dirty strings (valid shapes,
mutated shapes, junk, padding, case flips, ``None``); the fuzz asserts
the distributed Column implementation agrees with the twin on value,
is_valid AND note for every case — 10^4 cases per rule.

What this defends: the long tail fixed vectors can't — regex class
differences (Java ``\\s`` vs Python ``\\s``), cast edge cases ("-.5",
"5.", overflow), strptime's literal case-insensitivity and ``\\s+``
format runs.  Writing this fuzz found four real divergences, all fixed
in rules.py: ``trim`` (space-only) vs ``.strip()`` (all whitespace),
month-name case, the lowercase-'t' separator, and internal whitespace
runs inside date/datetime strings.

Out of contract (excluded from the generator, documented in rules.py's
divergence list): Unicode whitespace/titlecase exotica, seconds-bearing
or >±18h UTC offsets, Java-only float literals ("1d", hex), Python-only
underscored literals, inf/nan score words.

Deterministic: every case derives from ``random.Random(SEED + rule)``;
no hypothesis dependency needed (the generator IS the strategy).
"""

from __future__ import annotations

import random
import re
from datetime import date, datetime, timezone
from decimal import ROUND_HALF_EVEN, ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from edu_data_pipeline_spark.functions import rules
from edu_data_pipeline_spark.operators import cleaning

SEED = 20260814
N = 10_000

# Java \s — the ASCII subset both engines agree on (rules.py divergence list)
ASCII_WS = " \t\n\x0b\f\r"
_WS_RUN = re.compile(r"[ \t\n\x0b\f\r]+")

REF_TODAY = date(2026, 1, 15)
REF_NOW = datetime(2026, 1, 15, 12, 0, 0, tzinfo=timezone.utc)

MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
MONTH_ABBRS = [m[:3] for m in MONTHS]

JUNK_CHARS = "abczXYZ019.@-_#%+/\\:,'\"()" + ASCII_WS


# ---------------------------------------------------------------------------
# twin building blocks — each mirrors the documented contract, not CPython
# conveniences (explicit ASCII classes, initcap word-at-space semantics)
# ---------------------------------------------------------------------------


def strip_(s: str) -> str:
    return s.strip(ASCII_WS)


def collapse(s: str) -> str:
    return _WS_RUN.sub(" ", s)


def initcap(s: str) -> str:
    return " ".join(w[:1].upper() + w[1:].lower() for w in s.split(" "))


def cast_double(s: str) -> float | None:
    """Spark string->double cast on the post-strip alphabet.

    Plain decimal literals with optional sign/exponent — the subset where
    ``Double.parseDouble`` and Python ``float()`` agree (Java-only and
    Python-only literal forms are out of contract, see rules.py).
    """
    if re.fullmatch(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?", s):
        return float(s)
    return None


def bround2(x: float) -> float:
    """Spark ``bround(x, 2)``: HALF_EVEN on the shortest decimal repr
    (``BigDecimal.valueOf`` == ``repr`` for the short literals we fuzz)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_EVEN))


# ---------------------------------------------------------------------------
# generator building blocks
# ---------------------------------------------------------------------------


def pad(rng: random.Random, s: str) -> str:
    lead = rng.choice(["", " ", "  ", "\t", "\n", " \t ", "\r\n", "\x0b", "\f"])
    tail = rng.choice(["", " ", "\t\t", "\n ", "\x0b", "\f", "\r"])
    return lead + s + tail


def flip_case(rng: random.Random, s: str) -> str:
    return "".join(c.upper() if rng.random() < 0.5 else c.lower() for c in s)


def junk(rng: random.Random, lo: int = 1, hi: int = 12) -> str:
    return "".join(rng.choice(JUNK_CHARS) for _ in range(rng.randrange(lo, hi)))


def maybe_dirty(rng: random.Random, s: str) -> str:
    if rng.random() < 0.35:
        s = pad(rng, s)
    if rng.random() < 0.25:
        s = flip_case(rng, s)
    return s


def gen_cases(rule_tag: str, build) -> list[str | None]:
    rng = random.Random(f"{SEED}:{rule_tag}")
    out: list[str | None] = []
    for _ in range(N):
        r = rng.random()
        if r < 0.03:
            out.append(None)
        elif r < 0.08:
            out.append(rng.choice(["", " ", "\t", "  \n", "\x0b\f"]))
        elif r < 0.15:
            out.append(junk(rng))
        else:
            out.append(build(rng))
    return out


# ---------------------------------------------------------------------------
# harness: run a dict of Columns over the cases, compare row-by-row
# ---------------------------------------------------------------------------


def run_columns(spark, cases, cols):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "i long, raw string"
    )
    rows = (
        df.select("i", *[c.alias(k) for k, c in cols.items()])
        .orderBy("i")
        .collect()
    )
    return [tuple(r[k] for k in cols) for r in rows]


def assert_agree(cases, got, expected, rule_name):
    bad = [
        (i, cases[i], g, e)
        for i, (g, e) in enumerate(zip(got, expected))
        if g != e
    ]
    assert not bad, (
        f"{rule_name}: {len(bad)}/{len(cases)} divergences; first 10:\n"
        + "\n".join(
            f"  [{i}] raw={c!r}\n      spark={g!r}\n      twin ={e!r}"
            for i, c, g, e in bad[:10]
        )
    )


def rule_cols(rule):
    return {"v": rule.value, "ok": rule.is_valid, "note": rule.note}


# ---------------------------------------------------------------------------
# C1 — student id (cleaning_rules.py:64-73)
# ---------------------------------------------------------------------------


def twin_student_id(raw):
    if raw is None:
        return (None, False, "missing")
    digits = re.sub(r"[^0-9]", "", raw)
    if not digits:
        return (None, False, "no-digits")
    return ("STU" + digits.zfill(3), True, "standardized")


def test_fuzz_student_id(spark):
    def build(rng):
        digits = "".join(rng.choice("0123456789") for _ in range(rng.randrange(0, 7)))
        s = rng.choice(["STU", "stu", "Stu-", "stu_", "S", "", "ID#"]) \
            + rng.choice(["", "-", " ", "00"]) + digits
        return maybe_dirty(rng, s)

    cases = gen_cases("c1", build)
    got = run_columns(spark, cases, rule_cols(rules.standardize_student_id("raw")))
    assert_agree(cases, got, [twin_student_id(c) for c in cases], "C1")


# ---------------------------------------------------------------------------
# C2 — name clean + split (cleaning_rules.py:76-87)
# ---------------------------------------------------------------------------


def twin_clean_name(raw):
    if raw is None:
        return (None, False, "missing", None, None)
    name = initcap(re.sub(r"[0-9]", "", collapse(strip_(raw))))
    if name == "":
        return (None, False, "empty", None, None)
    parts = name.split(" ")
    last = " ".join(parts[1:]) if len(parts) > 1 else ""
    return (name, True, "standardized", parts[0], last)


def test_fuzz_clean_name(spark):
    vocab = ["john", "MARY ann", "o'neil", "jean-luc", "bob3", "x", "123",
             "anna maria de souza", "li", "O BRIEN"]

    def build(rng):
        words = rng.sample(vocab, rng.randrange(1, 4))
        sep = rng.choice([" ", "  ", "\t", " \n "])
        s = sep.join(words)
        if rng.random() < 0.3:
            pos = rng.randrange(len(s) + 1)
            s = s[:pos] + rng.choice("0123456789") + s[pos:]
        return maybe_dirty(rng, s)

    cases = gen_cases("c2", build)
    res, first, last = rules.clean_name("raw")
    cols = dict(rule_cols(res), first=first, last=last)
    got = run_columns(spark, cases, cols)
    assert_agree(cases, got, [twin_clean_name(c) for c in cases], "C2")


# ---------------------------------------------------------------------------
# C3 — email (cleaning_rules.py:90-97)
# ---------------------------------------------------------------------------


def twin_email(raw):
    if raw is None:
        return (None, False, "missing")
    email = strip_(raw).lower()
    if re.match(rules.EMAIL_PATTERN, email):
        return (email, True, "valid")
    return (None, False, "invalid-format")


def test_fuzz_email(spark):
    locals_ = ["john.doe", "a", "user+tag", "%odd%", "sp ace", "", "dot.",
               "under_score", "HYPHEN-x"]
    domains = ["example.com", "x.co", "bad", "no_dot_tld.c", "sub.domain.org",
               "-dash.com", "num3r1c.io", "tld.museum", "x.c0m"]

    def build(rng):
        s = rng.choice(locals_) + rng.choice(["@", "@@", "", " @ "]) + rng.choice(domains)
        if rng.random() < 0.15:
            s += rng.choice([".", "..", "@extra.com", "!"])
        return maybe_dirty(rng, s)

    cases = gen_cases("c3", build)
    got = run_columns(spark, cases, rule_cols(rules.validate_email("raw")))
    assert_agree(cases, got, [twin_email(c) for c in cases], "C3")


# ---------------------------------------------------------------------------
# C4 — phone (cleaning_rules.py:100-110)
# ---------------------------------------------------------------------------


def twin_phone(raw):
    if raw is None:
        return (None, False, "missing")
    digits = re.sub(r"[^0-9]", "", raw)
    if len(digits) == 10:
        return ("+91-" + digits, True, "normalized-10")
    if len(digits) == 12 and digits.startswith("91"):
        return ("+91-" + digits[2:], True, "normalized-12")
    return (None, False, "invalid-length")


def test_fuzz_phone(spark):
    def build(rng):
        n = rng.randrange(8, 14)
        digits = "".join(rng.choice("0123456789") for _ in range(n))
        if rng.random() < 0.4:
            digits = rng.choice(["91", "+91", "0", "091"]) + digits[:10]
        s = digits
        for _ in range(rng.randrange(0, 4)):
            pos = rng.randrange(len(s) + 1)
            s = s[:pos] + rng.choice(" -()+.") + s[pos:]
        return maybe_dirty(rng, s)

    cases = gen_cases("c4", build)
    got = run_columns(spark, cases, rule_cols(rules.standardize_phone("raw")))
    assert_agree(cases, got, [twin_phone(c) for c in cases], "C4")


# ---------------------------------------------------------------------------
# C5 — multi-format date (cleaning_rules.py:18-24,113-127)
# ---------------------------------------------------------------------------

DATE_FMTS = ["%Y-%m-%d", "%d/%m/%Y", "%d-%m-%Y", "%B %d, %Y", "%d-%b-%y"]


def twin_date(raw):
    if raw is None:
        return (None, False, "missing")
    s = strip_(raw)
    for fmt in DATE_FMTS:
        try:
            parsed = datetime.strptime(s, fmt).date()
        except ValueError:
            continue
        if parsed.year < 1950:
            return (None, False, "too-old")
        if parsed > REF_TODAY:
            return (None, False, "future-date")
        return (parsed, True, fmt)
    return (None, False, "unparsed")


def test_fuzz_date(spark):
    def build(rng):
        y, m, d = rng.randrange(1890, 2100), rng.randrange(0, 14), rng.randrange(0, 33)
        shape = rng.randrange(5)
        ms = rng.choice([str(m), f"{m:02d}"])
        ds = rng.choice([str(d), f"{d:02d}"])
        if shape == 0:
            s = f"{y:04d}-{ms}-{ds}"
        elif shape == 1:
            s = f"{ds}/{ms}/{y:04d}"
        elif shape == 2:
            s = f"{ds}-{ms}-{y:04d}"
        elif shape == 3:
            mon = rng.choice(MONTHS + ["Januray", "Mar", "Sept"])
            sep = rng.choice([" ", "  ", " \t"])
            s = f"{mon}{sep}{ds},{rng.choice([' ', '  '])}{y:04d}"
        else:
            mon = rng.choice(MONTH_ABBRS + ["XXX", "Mrz"])
            s = f"{ds}-{mon}-{rng.randrange(0, 100):02d}"
        if rng.random() < 0.1:
            s += rng.choice(["x", " extra", "!"])
        return maybe_dirty(rng, s)

    cases = gen_cases("c5", build)
    rule = rules.parse_date("raw", ref_date=F.lit(REF_TODAY))
    got = run_columns(spark, cases, rule_cols(rule))
    assert_agree(cases, got, [twin_date(c) for c in cases], "C5")


# ---------------------------------------------------------------------------
# C6 — multi-format datetime (cleaning_rules.py:26-30,130-142)
# Divergence (documented): naive timestamps are UTC-and-kept, not crashed.
# ---------------------------------------------------------------------------

DT_FMTS = ["%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S", "%Y-%m-%dT%H:%M:%S%z"]


def twin_datetime(raw):
    if raw is None:
        return (None, False, "missing")
    s = strip_(raw)
    for fmt in DT_FMTS:
        try:
            parsed = datetime.strptime(s, fmt)
        except ValueError:
            continue
        if parsed.tzinfo is None:
            parsed = parsed.replace(tzinfo=timezone.utc)
        if parsed > REF_NOW:
            return (None, False, "future-date")
        return (parsed.astimezone(timezone.utc).replace(tzinfo=None), True, fmt)
    return (None, False, "unparsed")


def test_fuzz_datetime(spark):
    offsets = ["", "", "", "Z", "+05:30", "-08:00", "+0530", "-0800", "+00:00",
               "+18:00", "z", "+5:30", "+05:3", "+05-30"]

    def build(rng):
        y = rng.randrange(2019, 2029)
        m, d = rng.randrange(1, 13), rng.randrange(1, 29)
        h, mi, sec = rng.randrange(0, 26), rng.randrange(0, 62), rng.randrange(0, 62)
        sep = rng.choice(["T", "T", "t", " ", "  ", " \t"])
        ms = rng.choice([str(m), f"{m:02d}"])
        hs = rng.choice([str(h), f"{h:02d}"])
        s = f"{y:04d}-{ms}-{d:02d}{sep}{hs}:{mi:02d}:{sec:02d}"
        off = rng.choice(offsets)
        if off and sep.strip() == "":
            off = ""  # offset only composes with the T shapes
        s += off
        if rng.random() < 0.08:
            s += rng.choice(["x", ".5", " "])
        return maybe_dirty(rng, s) if rng.random() < 0.5 else (pad(rng, s) if rng.random() < 0.5 else s)

    cases = gen_cases("c6", build)
    rule = rules.parse_date_time("raw", ref_ts=F.lit(REF_NOW))
    got = run_columns(spark, cases, rule_cols(rule))
    assert_agree(cases, got, [twin_datetime(c) for c in cases], "C6")


# ---------------------------------------------------------------------------
# C7 — gender (cleaning_rules.py:145-153)
# ---------------------------------------------------------------------------


def twin_gender(raw):
    if raw is None:
        return ("Other", False, "missing")
    g = strip_(raw).lower()
    if g in ("m", "male"):
        return ("Male", True, "mapped")
    if g in ("f", "female"):
        return ("Female", True, "mapped")
    return ("Other", False, "defaulted")


def test_fuzz_gender(spark):
    def build(rng):
        s = rng.choice(["m", "male", "f", "female", "M", "FEMALE", "Other",
                        "unknown", "non-binary", "fem", "ma le"])
        return maybe_dirty(rng, s)

    cases = gen_cases("c7", build)
    got = run_columns(spark, cases, rule_cols(rules.standardize_gender("raw")))
    assert_agree(cases, got, [twin_gender(c) for c in cases], "C7")


# ---------------------------------------------------------------------------
# C8 pre-fuzzy city normalize + C9 state (cleaning_rules.py:156-176)
# Divergence (documented): initcap word-at-space vs Python .title().
# ---------------------------------------------------------------------------


def twin_city(raw):
    if raw is None:
        return (None,)
    city = initcap(collapse(strip_(raw)))
    return (rules.CITY_CORRECTIONS.get(city, city),)


def twin_state(raw):
    if raw is None:
        return (None, False, "missing")
    return (initcap(collapse(strip_(raw))), True, "normalized")


CITY_VOCAB = ["Mumbai", "Mumabi", "banglore", "pune", "new  delhi", "navi mumbai",
              "HYDERABAD", "chen nai", "kolkata\tcity", "jai pur"]


def test_fuzz_city(spark):
    def build(rng):
        return maybe_dirty(rng, rng.choice(CITY_VOCAB))

    cases = gen_cases("c8", build)
    got = run_columns(spark, cases, {"v": rules.normalize_city("raw")})
    assert_agree(cases, got, [twin_city(c) for c in cases], "C8-city")


# C8 whole match (cleaning_rules.py:156-169, _closest :223-231): exact hit
# first, else the first most positionally similar master city at >= 0.8.
CRAFTED_MASTER = ("Mumbai", "Mumbay", "DELHI", "Delhi", "Pune", "Puna",
                  "Navi Mumbai", "Bhopal", "Kochi", "Kochin")


def similarity(a: str, b: str) -> float:
    a, b = a.lower(), b.lower()
    return sum(x == y for x, y in zip(a, b)) / max(len(a), len(b), 1)


def twin_city_match(raw, master):
    if raw is None:
        return (None, False, "missing")
    (city,) = twin_city(raw)
    if city in master:
        return (city, True, "matched")
    best, best_sim = None, -1.0
    for m in master:  # strict > : the first of equals wins
        sim = similarity(city, m)
        if sim > best_sim:
            best, best_sim = m, sim
    if best_sim >= 0.8:
        # format_string rounds the shortest decimal form half-up (Java)
        note = Decimal(repr(best_sim)).quantize(Decimal("0.01"), ROUND_HALF_UP)
        return (best, True, f"fuzzy-{note}")
    return (city, False, "unmatched")


def mutate(rng: random.Random, s: str) -> str:
    """One to two character edits: substitute, delete, insert or append."""
    for _ in range(rng.randrange(1, 3)):
        i = rng.randrange(len(s) + 1)
        c = rng.choice("aeiouybcdhkmnrxAEIOU ")
        op = rng.randrange(4)
        if op == 0 and i < len(s):
            s = s[:i] + c + s[i + 1:]
        elif op == 1 and i < len(s) and len(s) > 1:
            s = s[:i] + s[i + 1:]
        elif op == 2:
            s = s[:i] + c + s[i:]
        else:
            s = s + c
    return s


def run_city_match(spark, cases, master):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(cases)], "i long, raw string"
    )
    rows = (
        cleaning.with_city_cleaned(df, "raw", master)
        .select("i", "city_value", "city_valid", "city_note")
        .orderBy("i")
        .collect()
    )
    return [(r.city_value, r.city_valid, r.city_note) for r in rows]


@pytest.mark.parametrize("master", [rules.DEFAULT_CITY_MASTER, CRAFTED_MASTER],
                         ids=["default", "crafted"])
def test_fuzz_city_match(spark, master):
    vocab = [*master, *CITY_VOCAB, "Bhopal", "Mumbay", "Delhx", "Indore"]

    def build(rng):
        city = rng.choice(vocab)
        if rng.random() < 0.6:
            city = mutate(rng, city)
        return maybe_dirty(rng, city)

    cases = gen_cases(f"c8-match:{len(master)}", build)
    got = run_city_match(spark, cases, master)
    expected = [twin_city_match(c, master) for c in cases]
    assert_agree(cases, got, expected, "C8-match")
    notes = {e[2].split("-")[0] for e in expected}
    assert notes == {"missing", "matched", "fuzzy", "unmatched"}


@pytest.mark.parametrize("master, raw, expected", [
    (("Mumbai", "Mumbay"), "Mumbax", ("Mumbai", True, "fuzzy-0.83")),
    (("DELHI", "Delhi"), "delhi", ("Delhi", True, "matched")),
    (("DELHI",), "delhi", ("DELHI", True, "fuzzy-1.00")),
    (rules.DEFAULT_CITY_MASTER, "Delhx", ("Delhi", True, "fuzzy-0.80")),
    (rules.DEFAULT_CITY_MASTER, "", ("", False, "unmatched")),
    (rules.DEFAULT_CITY_MASTER, None, (None, False, "missing")),
])
def test_city_match_vectors(spark, master, raw, expected):
    """Ties go to the first city; an exact hit beats an earlier similarity
    of 1.0; 0.8 is fuzzy; a blank city is kept, a NULL one is missing."""
    assert twin_city_match(raw, master) == expected
    assert run_city_match(spark, [raw], master) == [expected]


def test_fuzz_state(spark):
    def build(rng):
        return maybe_dirty(rng, rng.choice(["maharashtra", "tamil  nadu", "UP",
                                            "west bengal", "goa2", "delhi ncr"]))

    cases = gen_cases("c9", build)
    got = run_columns(spark, cases, rule_cols(rules.clean_state("raw")))
    assert_agree(cases, got, [twin_state(c) for c in cases], "C9")


# ---------------------------------------------------------------------------
# C10 — numeric (cleaning_rules.py:179-191)
# ---------------------------------------------------------------------------


def twin_numeric(raw):
    if raw is None or strip_(raw) == "":
        return (0.0, False, "empty")
    number = cast_double_plain(re.sub(r"[^0-9.\-]", "", raw))
    if number is None:
        return (None, False, "not-a-number")
    if number < 0:
        return (abs(number), False, "abs")
    return (number, True, "normalized")


def cast_double_plain(s: str) -> float | None:
    """cast_double without exponents — 'e' never survives the char strip."""
    if re.fullmatch(r"-?(\d+\.?\d*|\.\d+)", s):
        return float(s)
    return None


def test_fuzz_numeric(spark):
    def build(rng):
        kind = rng.random()
        if kind < 0.5:
            x = rng.uniform(-1e6, 1e6)
            s = rng.choice([f"{x:.2f}", f"{x:,.2f}", f"₹{abs(x):,.2f}",
                            f"Rs. {x:.0f}", f"({abs(x):.2f})", f"{x:.6f}"])
        elif kind < 0.7:
            s = rng.choice(["-.5", "5.", ".", "-", "--5", "1.2.3", "1-2", ".5",
                            "-0", "00012", "9" * rng.randrange(1, 25)])
        else:
            s = junk(rng, 1, 8)
        return maybe_dirty(rng, s)

    cases = gen_cases("c10", build)
    got = run_columns(spark, cases, rule_cols(rules.clean_numeric("raw")))
    assert_agree(cases, got, [twin_numeric(c) for c in cases], "C10")


# ---------------------------------------------------------------------------
# C11 — score (cleaning_rules.py:194-208)
# Divergence (documented): bround (shortest-repr HALF_EVEN) vs round().
# ---------------------------------------------------------------------------


def twin_score(raw):
    if raw is None:
        return (None, False, "missing")
    number = cast_double(strip_(raw))
    if number is None:
        return (None, False, "invalid")
    value = bround2(min(max(number, 0.0), 100.0))
    if 0 <= number <= 100:
        return (value, True, "valid")
    return (value, False, "capped")


def test_fuzz_score(spark):
    def build(rng):
        kind = rng.random()
        if kind < 0.55:
            x = rng.uniform(-50, 150)
            s = rng.choice([f"{x:.0f}", f"{x:.1f}", f"{x:.2f}", f"{x:.3f}",
                            f"{x:.4f}", f"+{abs(x):.2f}"])
        elif kind < 0.75:
            # half-boundary literals where bround vs round() actually differ
            a, b = rng.randrange(0, 100), rng.randrange(0, 100)
            s = f"{a}.{b:02d}5"
        elif kind < 0.85:
            s = rng.choice(["1e2", "9e99", "-9e999", "1E+2", "0.5e1", "105",
                            "-0.005", "99.995", "100.004"])
        else:
            s = junk(rng, 1, 8)
        return maybe_dirty(rng, s)

    cases = gen_cases("c11", build)
    got = run_columns(spark, cases, rule_cols(rules.validate_score("raw")))
    assert_agree(cases, got, [twin_score(c) for c in cases], "C11")


# ---------------------------------------------------------------------------
# C12 — payment status map + raw titlecase (cleaning_rules.py:32-39;
# cleaners.py:19-20) — initcap divergence documented
# ---------------------------------------------------------------------------


def twin_payment(raw):
    key = strip_(raw or "").lower()
    mapped = rules.PAYMENT_STATUS_MAP.get(key, "UNKNOWN")
    t = strip_(raw or "")
    raw_title = "Unknown" if t == "" else initcap(t)
    return (mapped, raw_title)


def test_fuzz_payment_status(spark):
    def build(rng):
        s = rng.choice(["paid", "Pending", "PARTIAL", "refunded", "failed",
                        "cancelled", "done", "in progress", "paid-late"])
        return maybe_dirty(rng, s)

    cases = gen_cases("c12", build)
    got = run_columns(spark, cases, {
        "mapped": rules.map_payment_status("raw"),
        "raw_title": rules.payment_status_raw("raw"),
    })
    assert_agree(cases, got, [twin_payment(c) for c in cases], "C12")


# ---------------------------------------------------------------------------
# C13 — program id (cleaners.py:47): upper, empty -> null, NO strip
# ---------------------------------------------------------------------------


def twin_program(raw):
    u = (raw or "").upper()
    return (None,) if u == "" else (u,)


def test_fuzz_program_id(spark):
    def build(rng):
        return maybe_dirty(rng, rng.choice(["cs101", "CS101", " mba ", "x-1",
                                            "phy_2", "bio.3"]))

    cases = gen_cases("c13", build)
    got = run_columns(spark, cases, {"v": rules.normalize_program_id("raw")})
    assert_agree(cases, got, [twin_program(c) for c in cases], "C13")


# ---------------------------------------------------------------------------
# Q — quality score (cleaning_rules.py:240-242): 100 - 10*invalid, floor 0
# ---------------------------------------------------------------------------


def test_fuzz_quality_score(spark):
    rng = random.Random(f"{SEED}:q")
    n_flags = 12  # enough invalids to exercise the floor
    cases = [
        tuple(rng.choice([True, False, None]) for _ in range(n_flags))
        for _ in range(N)
    ]
    schema = ", ".join(f"f{j} boolean" for j in range(n_flags))
    df = spark.createDataFrame([(i, *c) for i, c in enumerate(cases)],
                               "i long, " + schema)
    q = rules.quality_score(*[F.col(f"f{j}") for j in range(n_flags)])
    rows = df.select("i", q.alias("q")).orderBy("i").collect()
    got = [(r.q,) for r in rows]
    expected = [
        (max(0, 100 - 10 * sum(1 for f in c if f is not True)),) for c in cases
    ]
    assert_agree(cases, got, expected, "Q")
