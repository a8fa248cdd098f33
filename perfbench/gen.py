"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same arguments write byte-identical files. The engine under test never
sees the seed, only the files written here.

- ``write_etl_input``: the four reference CSVs (FIXTURES.md) with every
  dirty variant, and the per-table counts ``run_batch_pipeline`` must
  return for them.
- ``write_query_tables``: the ten TPC-H-ish parquet tables the query
  registry reads (region ... embeddings).
- ``event_lines``: JSON progress events for the streaming job, one file's
  worth at a time.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import random

# ---------------------------------------------------------------------------
# ETL CSVs (FIXTURES.md variants)
# ---------------------------------------------------------------------------

_FIRST = ["john", "jane", "bob", "priya", "arjun", "meera", "ravi", "anita", "li", "sara"]
_LAST = ["doe", "smith", "wilson", "sharma", "patel", "iyer", "khan", "das", "wong", "roy"]
_CITIES = [
    "Mumbai", "mumbai", "MUMBAI ", "Mumabi", "Banglore", "Bangalore", "Delhi",
    "delhi", "Hyderabad", "chennai ", "Pune", "Kolkata", "Bhopal", "Indore",
]
_STATES = ["Maharashtra", "MH", "maharashtra", "Karnataka", "KA", "delhi", "Tamil Nadu"]
_GENDERS = ["Male", "F", "m", "MALE", "female", "FEMALE", "Other"]
_PAYMENT = ["Paid", "PAID", "paid", "pending", "partial", "refunded", ""]
_PROGRAMS = ["PROG001", "prog002", "PROG003", ""]
_MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_LONG_MONTHS = [
    "January", "February", "March", "April", "May", "June", "July", "August",
    "September", "October", "November", "December",
]
_EVENT_TYPES = ["video_watched", "quiz_completed", "assignment_submitted"]
_PRIORITY = ["Low", "Medium", "High", "Critical"]
_TICKET_STATUS = ["Open", "In Progress", "Resolved", "Closed"]
_TICKET_CATEGORY = [
    "Technical", "Payment", "Certificate", "Feedback", "Content", "Support",
    "Billing", "Academic", "Career", "Complaint",
]
_SUBJECTS = [
    ("Video not loading", "The lecture video does not play"),
    ("Great course", "Really enjoyed the module"),
    ("Payment issue", "I was charged twice, not happy"),
    ("Certificate request", "Please send my certificate"),
    ("Quiz feedback", "The quiz answers look wrong"),
]

STUDENT_COLUMNS = [
    "student_id", "full_name", "email", "phone", "dob", "gender", "city",
    "state", "enrollment_date", "program_id", "fee_paid", "payment_status",
]
PROGRESS_COLUMNS = [
    "event_id", "student_id", "course_id", "event_type", "event_timestamp",
    "duration_seconds", "score", "module_id", "completion_percentage",
]
COURSE_COLUMNS = [
    "course_id", "course_name", "category", "difficulty", "duration_hours",
    "price", "instructor_name", "is_active",
]
TICKET_COLUMNS = [
    "ticket_id", "student_id", "subject", "description", "priority", "status",
    "category", "created_date", "resolved_date",
]


def _student_id(rng: random.Random, n: int) -> str:
    d = f"{n:05d}"
    return rng.choice([f"STU{d}", f"stu-{d}", f"STU_{d}", f"stu{d}"])


def _date_variant(rng: random.Random, y: int, m: int, d: int) -> str:
    """One of the 5 accepted formats, or an out-of-range / unparseable one."""
    r = rng.random()
    if r < 0.03:
        return f"{rng.randint(1900, 1949)}-{m:02d}-{d:02d}"  # too old
    if r < 0.06:
        return f"{rng.randint(2030, 2040)}-{m:02d}-{d:02d}"  # future
    if r < 0.08:
        return f"{d:02d}-{_MONTHS[m - 1]}-{y}"  # not one of the 5 formats
    return rng.choice([
        f"{y}-{m:02d}-{d:02d}",
        f"{d:02d}/{m:02d}/{y}",
        f"{_LONG_MONTHS[m - 1]} {d}, {y}",
        f"{d:02d}-{m:02d}-{y}",
        f"{d:02d}-{_MONTHS[m - 1]}-{y % 100:02d}",
    ])


def _name(rng: random.Random) -> str:
    first, last = rng.choice(_FIRST), rng.choice(_LAST)
    return rng.choice([
        f"{first.upper()} {last.upper()}",
        f"{first} {last}",
        f"  {first.title()}  {last.title()}  ",
        f"{first}{rng.randint(1, 999)} {last}",
    ])


def _email(rng: random.Random, n: int) -> str:
    return rng.choice([
        f"user{n}@company.co.in", f"User{n}@Example.com", f"user{n}@email",
        f"user{n}@invalid_email", "",
    ])


def _phone(rng: random.Random) -> str:
    d = f"98765{rng.randint(0, 99999):05d}"
    return rng.choice([
        d, f"+91-{d}", f"{d[:5]}-{d[5:]}", f"+91{d}", f"{d[:5]} {d[5:]}",
        f"+91 {d}", "123",
    ])


def _fee(rng: random.Random) -> str:
    v = rng.choice([25000, 40000, 50000, 55000])
    return rng.choice([
        str(v), f"{v:,}", f"₹{v}", f"{v}.00", f"-{v}", "",
    ])


def _student_row(rng: random.Random, n: int) -> list[str]:
    y, m, d = rng.randint(1940, 2008), rng.randint(1, 12), rng.randint(1, 28)
    ey, em, ed = rng.randint(2023, 2025), rng.randint(1, 12), rng.randint(1, 28)
    return [
        _student_id(rng, n), _name(rng), _email(rng, n), _phone(rng),
        _date_variant(rng, y, m, d), rng.choice(_GENDERS), rng.choice(_CITIES),
        rng.choice(_STATES), _date_variant(rng, ey, em, ed),
        rng.choice(_PROGRAMS), _fee(rng), rng.choice(_PAYMENT),
    ]


def _progress_row(rng: random.Random, n: int, n_students: int, n_courses: int) -> list[str]:
    # ~5% of events reference a student absent from the enrollment file
    sid = rng.randint(0, int(n_students * 1.05))
    r = rng.random()
    if r < 0.02:
        ts = f"2031-{rng.randint(1, 12):02d}-01T10:00:00Z"  # future
    else:
        ts = (f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
              f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00Z")
    score = rng.choice([f"{rng.uniform(0, 100):.1f}"] * 8 + ["NULL", "150.0"])
    duration = rng.choice([str(rng.randint(60, 6300))] * 9 + ["NULL"])
    return [
        f"evt-{n:07d}", _student_id(rng, sid), f"CRS{rng.randint(1, n_courses):03d}",
        rng.choice(_EVENT_TYPES), ts, duration, score,
        f"MOD{rng.randint(1, 5):03d}", f"{rng.uniform(0, 120):.1f}",
    ]


def _ticket_row(rng: random.Random, n: int, n_students: int) -> list[str]:
    subject, description = rng.choice(_SUBJECTS)
    resolved = rng.random() < 0.3
    created = f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    return [
        f"TKT{n:06d}", _student_id(rng, rng.randint(0, n_students - 1)), subject,
        description, rng.choice(_PRIORITY), rng.choice(_TICKET_STATUS),
        rng.choice(_TICKET_CATEGORY), created, created if resolved else "",
    ]


def _course_row(rng: random.Random, n: int) -> list[str]:
    return [
        f"CRS{n:03d}", f"Course {n}", rng.choice(["Technology", "Business", "Design"]),
        rng.choice(["Beginner", "Intermediate", "Advanced"]), str(rng.randint(40, 120)),
        str(rng.choice([25000, 35000, 45000, 55000])), f"Instructor {n % 17}", "TRUE",
    ]


def _write_csv(path: str, header: list[str], rows: list[list[str]]) -> None:
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def _with_duplicates(rng: random.Random, keys: list[int], frac: float = 0.03) -> list[int]:
    """Repeat ~``frac`` of the keys later in the file (duplicate keys)."""
    dupes = rng.sample(keys, int(len(keys) * frac))
    out = keys + dupes
    rng.shuffle(out)
    return out


def write_etl_input(
    root: str,
    seed: int,
    students: int = 20_000,
    events: int = 100_000,
    tickets: int = 4_000,
    courses: int = 100,
) -> dict[str, int]:
    """Write the four CSVs of one load into ``root``.

    Returns the per-table counts ``run_batch_pipeline`` must return for
    it, derived from this generator's canonical keys: raw tables hold every
    row (duplicates included), staging, warehouse and the per-key views
    one row per distinct canonical key.
    """
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    files = {
        "students_enrollment": (STUDENT_COLUMNS, [
            _student_row(rng, k) for k in _with_duplicates(rng, list(range(students)))]),
        "student_progress": (PROGRESS_COLUMNS, [
            _progress_row(rng, k, students, courses)
            for k in _with_duplicates(rng, list(range(events)))]),
        "support_tickets": (TICKET_COLUMNS, [
            _ticket_row(rng, k, students) for k in range(tickets)]),
        "course_catalog": (COURSE_COLUMNS, [_course_row(rng, k) for k in range(1, courses + 1)]),
    }
    expected = {}
    for name, (header, rows) in files.items():
        _write_csv(os.path.join(root, f"{name}.csv"), header, rows)
        expected[f"raw.{name}"] = len(rows)
    expected.update({
        "staging.stg_students": students,
        "staging.stg_progress": events,
        "staging.stg_tickets": tickets,
        "staging.stg_quality_log": 10 * students,
        "warehouse.dim_students": students,
        "warehouse.dim_courses": courses,
        "warehouse.fact_student_progress": events,
        "warehouse.fact_support_tickets": tickets,
        "warehouse.fact_enrollments": students,
        "analytics.v_student_360": students,
        "analytics.v_course_performance": courses,
        "metadata.pipeline_runs": 1,
    })
    return expected


# ---------------------------------------------------------------------------
# Query tables (TESTDATA.md layout)
# ---------------------------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
_PART_WORDS = ["red", "blue", "small", "hot", "green", "big", "cold", "dark"]
_PART_NOUNS = ["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "cap"]


def write_query_tables(out_dir: str, seed: int, sf: float = 0.01) -> None:
    """The ten parquet tables the query registry reads, at scale ``sf``
    (row counts follow TESTDATA.md: sf0.01 has 60k lineitem rows)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_orders, n_line, n_events = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs, n_users = 500, 500, max(50, int(15_000 * sf))

    def day(start: str, n: int, span_days: int):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span_days, n).astype("timedelta64[D]")

    def money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def save(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    save("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    save("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    save("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    save("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    save("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_PART_WORDS, n_part), rng.choice(_PART_NOUNS, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    save("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": money(1000, 500_000, n_orders),
        "o_orderdate": day("1995-01-01", n_orders, 2400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": day("1995-01-02", n_line, 2500),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events))
    save("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_events),
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i % 20 == 8 and i > 0:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))))
    save("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "zh", "es", "de", "fr"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0, 1, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


# ---------------------------------------------------------------------------
# Stream events
# ---------------------------------------------------------------------------

STREAM_STUDENTS = 200
# Event time advances this many seconds per file, so sliding windows close
# and the watermark evicts state while no event is ever later than it.
EVENT_SECONDS_PER_FILE = 10


def event_lines(seed: int, file_index: int, rows: int) -> str:
    """JSON-lines body of stream file ``file_index`` (``rows`` events)."""
    rng = random.Random(seed * 1_000_003 + file_index)
    base = 1_706_781_600 + file_index * EVENT_SECONDS_PER_FILE  # 2024-02-01T10:00Z
    lines = []
    for r in range(rows):
        t = base + rng.randrange(EVENT_SECONDS_PER_FILE)
        score = rng.choice([f"{rng.uniform(0, 100):.1f}"] * 8 + ["NULL", "150.0"])
        lines.append(json.dumps({
            "event_id": f"s{file_index:06d}-{r:04d}",
            "student_id": _student_id(rng, rng.randrange(STREAM_STUDENTS)),
            "course_id": f"CRS{rng.randint(1, 20):03d}",
            "event_type": rng.choice(_EVENT_TYPES),
            "event_timestamp": _iso(t),
            "duration_seconds": rng.choice([str(rng.randint(60, 3600))] * 9 + ["NULL"]),
            "score": score,
            "module_id": f"MOD{rng.randint(1, 5):03d}",
            "completion_percentage": f"{rng.uniform(0, 110):.1f}",
        }))
    return "\n".join(lines) + "\n"


def _iso(epoch_s: int) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
