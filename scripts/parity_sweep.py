"""Full parity sweep at the driver's gate scale (sf0.01 by default).

Runs every registered suite query against its DuckDB oracle through the
pandas-dtype-sensitive canonicalizer (edu_data_pipeline_spark.parity) and
prints one line per query plus a failure summary.  This is the local
replica of the driver's CORRECTNESS_r{N}.json run — pytest covers sf0.001
for speed; this script exists because sf0.01 has more ties/edge values
(user_sessions round 1 passed sf0.001 and failed the driver).

Usage: python scripts/parity_sweep.py [sf_dir] [name ...]
"""

from __future__ import annotations

import argparse
import pathlib
import sys
import time

REPO_ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from edu_data_pipeline_spark.parity import compare_query, duck_connection
from edu_data_pipeline_spark.session import get_spark
from edu_data_pipeline_spark.suite import load_all


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Strict CLI: unknown flags exit 2 with usage instead of being
    swallowed as the data directory (VERDICT r11 'What's wrong' #2 —
    `--sf-dir` used to reach DuckDB as a path and die with an unrelated
    IOException inside parity.py)."""
    parser = argparse.ArgumentParser(
        prog="parity_sweep.py",
        description=__doc__.splitlines()[0],
    )
    parser.add_argument(
        "sf_dir",
        nargs="?",
        default="/root/testdata/sf0.01",
        help="parquet scale-factor directory (default: %(default)s)",
    )
    parser.add_argument(
        "names",
        nargs="*",
        metavar="name",
        help="optional registry query names; default = full registry",
    )
    args = parser.parse_args(argv)
    # argparse accepts positionals that look like flags only after `--`;
    # a bare `--foo` already errors. Also catch a flag-shaped sf_dir that
    # slipped through quoting (e.g. a literal "--sf-dir" directory name
    # would never be intended here).
    if args.sf_dir.startswith("-"):
        parser.error(f"unrecognized argument: {args.sf_dir}")
    if not pathlib.Path(args.sf_dir).is_dir():
        parser.error(f"sf_dir is not a directory: {args.sf_dir}")
    return args


def main() -> None:
    args = parse_args()
    sf_dir = args.sf_dir
    only = set(args.names)
    registry = load_all()
    # A typo'd name used to filter the loop down to zero queries and
    # print "0 failures" — a silent success. Fail fast, before the ~10 s
    # Spark startup.
    unknown = sorted(only - set(registry))
    if unknown:
        print(f"unknown query name(s): {unknown}", file=sys.stderr)
        sys.exit(2)
    # Python-UDF queries import the package in the Spark Python workers,
    # which do not inherit the driver's sys.path: hand them the repo root.
    spark = get_spark(
        app_name="parity-sweep",
        extra_conf={"spark.executorEnv.PYTHONPATH": str(REPO_ROOT)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)
    failures = []
    for name in sorted(registry):
        if only and name not in only:
            continue
        start = time.perf_counter()
        try:
            res = compare_query(spark, con, registry[name], sf_dir)
        except Exception as exc:  # noqa: BLE001 — surface, don't die
            print(f"FAIL {name}: exception {exc}")
            failures.append(name)
            continue
        elapsed = time.perf_counter() - start
        rows_only = registry[name].oracle is None
        tag = "ok(rows-only)" if rows_only and res.ok else ("ok" if res.ok else "FAIL")
        print(f"{tag:14s} {name:32s} spark={res.spark_rows:>6} "
              f"oracle={res.oracle_rows:>6} {elapsed:6.2f}s")
        if not res.ok:
            failures.append(name)
            for p in res.problems:
                print(f"    {p}")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
