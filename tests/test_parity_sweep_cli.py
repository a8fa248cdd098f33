"""CLI argument handling for scripts/parity_sweep.py (VERDICT r11 #5).

The sweep CLI used to be positional-only: an unknown flag such as
``--sf-dir`` was silently swallowed as the data directory and died much
later inside DuckDB with an unrelated IOException
(edu_data_pipeline_spark/parity.py:56). These tests lock the argparse
contract: ``--help`` works, a bad flag exits 2 with usage, a missing
directory exits 2 with a named error — all without starting Spark.
"""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

import pytest

SCRIPT = pathlib.Path(__file__).resolve().parent.parent / "scripts" / "parity_sweep.py"

sys.path.insert(0, str(SCRIPT.parent))
import parity_sweep  # noqa: E402


def test_help_exits_zero():
    proc = subprocess.run(
        [sys.executable, str(SCRIPT), "--help"],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 0
    assert "sf_dir" in proc.stdout
    assert "parity sweep" in proc.stdout.lower()


def test_unknown_flag_exits_two_with_usage():
    # The exact regression: `--sf-dir /tmp` must be rejected as an
    # unrecognized argument, not treated as a directory path.
    proc = subprocess.run(
        [sys.executable, str(SCRIPT), "--sf-dir", "/tmp"],
        capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 2
    assert "usage:" in proc.stderr
    assert "--sf-dir" in proc.stderr


def test_missing_dir_rejected():
    with pytest.raises(SystemExit) as exc:
        parity_sweep.parse_args(["/nonexistent-sweep-dir"])
    assert exc.value.code == 2


def test_defaults_and_names_parse():
    args = parity_sweep.parse_args([])
    assert args.sf_dir == "/root/testdata/sf0.01"
    assert args.names == []
    args = parity_sweep.parse_args(
        ["/root/testdata/sf0.001", "pricing_summary", "top_orders"]
    )
    assert args.sf_dir == "/root/testdata/sf0.001"
    assert args.names == ["pricing_summary", "top_orders"]


def test_flag_shaped_sf_dir_rejected():
    # Defense in depth for quoting accidents: even if argparse let a
    # dash-leading positional through (e.g. via `--`), parse_args
    # refuses a flag-shaped sf_dir.
    with pytest.raises(SystemExit) as exc:
        parity_sweep.parse_args(["--", "--sf-dir"])
    assert exc.value.code == 2


def test_python_udf_query_runs_from_another_directory(tmp_path):
    # The Spark Python workers do not inherit the driver's sys.path: run
    # from outside the repository, a Python-UDF query used to fail with
    # ModuleNotFoundError in the worker.
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(SCRIPT), "/root/testdata/sf0.001",
         "multimodal_features"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "0 failures" in proc.stdout
