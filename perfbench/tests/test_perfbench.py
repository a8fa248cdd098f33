"""Self-tests of the benchmark: helpers, generators, and a toy-size run of
each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import workloads  # noqa: E402
from stats import covered, file_commit_latencies, percentile, self_times  # noqa: E402


def test_percentile_is_nearest_rank():
    assert percentile([3.0], 50) == 3.0
    assert percentile([2.0, 1.0], 50) == 1.0
    assert percentile([2.0, 1.0], 90) == 2.0
    values = [float(v) for v in range(1, 101)]
    assert percentile(values, 50) == 50.0
    assert percentile(values, 90) == 90.0
    assert percentile(values, 100) == 100.0
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10)], lo=2, hi=5) == 3
    assert covered([(0, 1)], lo=2, hi=5) == 0


def test_self_time_subtracts_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)


def test_file_commit_latency_mapping():
    # 10-row files due every second; batches commit (rows, time)
    due = [0.0, 1.0, 2.0, 3.0, 4.0]
    feed = [(10, 0.5), (0, 1.2), (20, 2.5), (10, 6.0)]
    lat = file_commit_latencies(due, 10, feed)
    assert lat == [0.5, 1.5, 0.5, 3.0, None]
    # a batch that overshoots covers every file it reaches
    assert file_commit_latencies([0.0, 0.0], 5, [(10, 1.0)]) == [1.0, 1.0]
    assert file_commit_latencies([0.0], 5, []) == [None]


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), root).encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def test_etl_generator_is_seeded(tmp_path):
    sizes = {"students": 200, "events": 1000, "tickets": 40, "courses": 20}
    a = gen.write_etl_input(str(tmp_path / "a"), 5, **sizes)
    b = gen.write_etl_input(str(tmp_path / "b"), 5, **sizes)
    gen.write_etl_input(str(tmp_path / "c"), 6, **sizes)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert a == b
    assert a["staging.stg_students"] == 200
    assert a["raw.students_enrollment"] > 200  # duplicate keys
    assert a["staging.stg_quality_log"] == 10 * a["staging.stg_students"]
    with open(tmp_path / "a" / "students_enrollment.csv", encoding="utf-8") as f:
        body = f.read()
    for variant in ("stu-", "STU_", "Mumabi", "Bhopal", "₹", '"', "May ", "/"):
        assert variant in body
    with open(tmp_path / "a" / "student_progress.csv", encoding="utf-8") as f:
        body = f.read()
    for variant in ("NULL", "150.0", "2031-"):
        assert variant in body


def test_query_tables_and_events_are_seeded(tmp_path):
    gen.write_query_tables(str(tmp_path / "a"), 3, sf=0.001)
    gen.write_query_tables(str(tmp_path / "b"), 3, sf=0.001)
    gen.write_query_tables(str(tmp_path / "c"), 4, sf=0.001)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert sorted(os.listdir(tmp_path / "a")) == sorted(
        f"{t}.parquet" for t in ("region", "nation", "customer", "supplier", "part",
                                 "orders", "lineitem", "events", "documents", "embeddings"))
    assert gen.event_lines(1, 7, 20) == gen.event_lines(1, 7, 20)
    assert gen.event_lines(1, 7, 20) != gen.event_lines(2, 7, 20)
    assert len(gen.event_lines(1, 7, 20).splitlines()) == 20


@pytest.mark.parametrize("workload", ["etl_batch", "serve"])
def test_toy_run(workload):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "2", "--trace", "0", "--size", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == set(workloads.END_TO_END)
    for m in result["metrics"].values():
        assert m["value"] > 0
