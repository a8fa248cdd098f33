"""Deep fuzz sweep: re-run every hypothesis property module at an
elevated example budget (default 40/property, 3-7x the shipped
budgets) on the current tree.

The shipped budgets are deliberately small so the full suite stays
~14 min; this sweep is the periodic high-budget pass that checks the
small budgets aren't hiding anything (first recorded r14, SCALE.md:
22 passed / 0 failed in 20:09 at 40 examples). Run it when the fuzz
program grows, an operator under fuzz changes, or once per round as
evidence.

Mechanism: the modules pin their budgets in explicit ``settings(...)``
objects (which hypothesis profiles cannot override), so the sweep
temporarily rewrites ``max_examples=N`` in each module, runs pytest,
and restores the files from git afterwards (it REFUSES to start if any
target module has uncommitted changes, so the restore cannot eat real
work).

Usage: python scripts/deep_fuzz.py [examples]
"""

from __future__ import annotations

import pathlib
import re
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
# (module, deep-example cap): the oracle-parity fuzzes run EVERY
# registered query in their family per example (12 doc / 38 events
# compare_query round-trips), so their deep budgets are capped to keep
# the sweep under ~45 min; None = uncapped (plain per-property twins).
MODULES = [
    ("tests/test_properties.py", None),
    ("tests/test_graph_properties.py", None),
    ("tests/test_warehouse_properties.py", None),
    ("tests/test_bpe_properties.py", None),
    ("tests/test_assembly_properties.py", None),
    ("tests/test_parity_fuzz.py", 20),
    ("tests/test_events_parity_fuzz.py", 12),
]


def main() -> int:
    examples = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    paths = [m for m, _ in MODULES]
    dirty = subprocess.run(
        ["git", "status", "--porcelain", "--", *paths],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    if dirty:
        print(
            "refusing to run: uncommitted changes in fuzz modules "
            "(the post-run restore would discard them):\n" + dirty,
            file=sys.stderr,
        )
        return 2
    try:
        for m, cap in MODULES:
            p = ROOT / m
            src = p.read_text()
            n_ex = examples if cap is None else min(examples, cap)
            bumped, n = re.subn(
                r"max_examples=\d+,", f"max_examples={n_ex},", src, count=1
            )
            if n != 1:
                print(f"no max_examples pin found in {m}", file=sys.stderr)
                return 2
            p.write_text(bumped)
        print(f"[deep-fuzz] running {len(MODULES)} modules at "
              f"{examples} examples/property (capped where noted) ...")
        rc = subprocess.run(
            [sys.executable, "-m", "pytest", *paths, "-q"], cwd=ROOT
        ).returncode
    finally:
        subprocess.run(["git", "checkout", "--", *paths], cwd=ROOT, check=True)
    print(f"[deep-fuzz] {'GREEN' if rc == 0 else 'RED'} (rc={rc}); "
          "budgets restored")
    return rc


if __name__ == "__main__":
    sys.exit(main())
