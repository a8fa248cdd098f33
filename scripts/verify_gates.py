"""Round gate-runner: the repo's green bar, executed N times in a row.

VERDICT r7 #6 asked for a recorded flakiness budget: a single green
``pytest`` run can hide order- or GC-dependent flakes (the r7
cache-lifecycle race passed in isolation and failed 3/3 full runs), so
the gate is N CONSECUTIVE full-suite runs plus a full-registry DuckDB
parity sweep, with every outcome appended to ``GATES_HISTORY.jsonl`` at
the repo root — one JSON line per invocation, machine-readable, never
hand-edited.

Usage:
    python scripts/verify_gates.py [--runs N] [--sf SF_DIR] [--skip-sweep]
    python scripts/verify_gates.py --quick

The full gate also runs ``generate_explain.py --check``, so EXPLAIN.md
cannot drift from the plans the code builds.

Exit status is non-zero if ANY pytest run or the sweep fails, so the
script doubles as a pre-commit / pre-round check.

``--quick`` exists because of commit 60d232f (VERDICT r10 What's wrong
#1): a "doc-only" commit hand-edited the generated attribution block in
COVERAGE.md and shipped a red suite because doc commits skipped
verification entirely. The rule is now executable, not prose: ANY commit
that touches COVERAGE.md, EXPLAIN.md, or README.md must run
``verify_gates.py --quick`` first — it runs the doc-pin guards
(attribution-block pins + ``gen_attribution.py --check``) in ~2 s and
exits non-zero on drift. Edits between generated-block markers are only
legal via the generating script.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import re
import subprocess
import sys
import time

REPO = pathlib.Path(__file__).resolve().parent.parent
SUMMARY_RE = re.compile(
    r"(?:(\d+) failed, )?(\d+) passed(?:, (\d+) skipped)?"
)


def run_pytest(idx: int) -> dict:
    start = time.time()
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "-q"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    tail = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    m = SUMMARY_RE.search(tail)
    failed, passed, skipped = (
        (int(m.group(1) or 0), int(m.group(2)), int(m.group(3) or 0))
        if m
        else (-1, -1, -1)
    )
    return {
        "run": idx,
        "rc": proc.returncode,
        "failed": failed,
        "passed": passed,
        "skipped": skipped,
        "wall_s": round(time.time() - start, 1),
        "summary": tail,
    }


def run_sweep(sf_dir: str) -> dict:
    start = time.time()
    proc = subprocess.run(
        [sys.executable, "scripts/parity_sweep.py", sf_dir],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    tail = [ln for ln in proc.stdout.strip().splitlines() if ln.strip()]
    n_ok = sum(1 for ln in tail if ln.startswith("ok"))
    n_fail = sum(1 for ln in tail if ln.startswith(("FAIL", "ERR")))
    return {
        "rc": proc.returncode,
        "sf_dir": sf_dir,
        "ok": n_ok,
        "failures": n_fail,
        "wall_s": round(time.time() - start, 1),
    }


def run_explain_check() -> dict:
    """``generate_explain.py --check``: EXPLAIN.md's plans against the
    code's. It needs a Spark session, so ``--quick`` cannot run it."""
    start = time.time()
    proc = subprocess.run(
        [sys.executable, "scripts/generate_explain.py", "--check"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    drifted = [
        ln.rsplit(": ", 1)[1] for ln in proc.stdout.splitlines()
        if ln.startswith("EXPLAIN.md plan drifted")
    ]
    return {
        "rc": proc.returncode,
        "drifted": drifted,
        "wall_s": round(time.time() - start, 1),
    }


def git_rev() -> str:
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=REPO,
            capture_output=True,
            text=True,
        ).stdout.strip()
    except OSError:
        return "unknown"


def run_quick() -> int:
    """Doc-pin guard for doc-touching commits — ~2 s, no Spark session.

    Runs the attribution-block pin tests plus the generator's own
    ``--check`` so a hand-edit inside a generated block (the 60d232f
    failure mode) fails BEFORE the commit, not in the next full gate.
    """
    steps = [
        [sys.executable, "-m", "pytest",
         "tests/test_coverage_attribution.py", "-q"],
        [sys.executable, "scripts/gen_attribution.py", "--check"],
    ]
    ok = True
    for cmd in steps:
        proc = subprocess.run(cwd=REPO, args=cmd)
        ok = ok and proc.returncode == 0
    print(f"[gates] quick doc-pin check: {'GREEN' if ok else 'RED'}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--skip-sweep", action="store_true")
    ap.add_argument("--quick", action="store_true",
                    help="doc-pin guards only (pre-commit for doc edits)")
    args = ap.parse_args()

    if args.quick:
        return run_quick()

    record = {
        "ts": round(time.time(), 1),
        "git_rev": git_rev(),
        "pytest_runs": [],
        "sweep": None,
    }
    ok = True
    for i in range(1, args.runs + 1):
        res = run_pytest(i)
        record["pytest_runs"].append(res)
        ok = ok and res["rc"] == 0 and res["failed"] == 0
        print(f"[gates] pytest run {i}/{args.runs}: {res['summary']} "
              f"(rc={res['rc']}, {res['wall_s']}s)")
    res = run_explain_check()
    record["explain"] = res
    ok = ok and res["rc"] == 0
    print(f"[gates] EXPLAIN.md check: drifted={res['drifted']} "
          f"(rc={res['rc']}, {res['wall_s']}s)")
    if not args.skip_sweep:
        res = run_sweep(args.sf)
        record["sweep"] = res
        ok = ok and res["rc"] == 0 and res["failures"] == 0
        print(f"[gates] sweep @{args.sf}: ok={res['ok']} "
              f"failures={res['failures']} (rc={res['rc']}, {res['wall_s']}s)")
    record["green"] = ok
    with open(REPO / "GATES_HISTORY.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    print(f"[gates] {'GREEN' if ok else 'RED'} — recorded in GATES_HISTORY.jsonl")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
