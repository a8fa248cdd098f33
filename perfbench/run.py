"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh process from the repository root, checks the
engine's outputs, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json; ``--trace 1`` runs the same
workload with layer spans and Spark REST metrics and reports the
per-layer metrics, writing the spans to ``perfbench/_work/trace-*.json``.

Everything the run writes (inputs, warehouse, Spark scratch, checkpoints)
stays under ``perfbench/_work``. See perfbench/README.md.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # keep the package tree free of __pycache__

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
WORKLOADS = ("etl_batch", "serve")


def _confine_scratch(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work``; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONDONTWRITEBYTECODE": "1",
        # hsperfdata ignores java.io.tmpdir, so turn it off instead
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    import tempfile

    tempfile.tempdir = tmp


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    """The Spark session under test and its JVM, which the run stops."""

    def __init__(self):
        from edu_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(master=f"local[{os.cpu_count()}]")
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.gateway = self.spark.sparkContext._gateway

    def peak_rss_mb(self) -> float:
        return _vm_hwm_mb(self.gateway.proc.pid) + _vm_hwm_mb(os.getpid())

    def stop(self) -> None:
        try:
            self.spark.stop()
        finally:
            proc = self.gateway.proc
            self.gateway.shutdown()
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def _reap_jvm() -> None:
    """Kill the gateway JVM if the run ended without stopping it (an error
    or a signal while the session was starting)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc.poll() is None:
        gateway.proc.kill()
        gateway.proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=float, default=1.0,
                    help="input size multiplier (the self-tests use a toy size)")
    args = ap.parse_args(argv)
    # a terminated run still unwinds, so the Spark JVM is stopped and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[:0] = [ROOT, HERE]
    try:
        import edu_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: engine package not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import workloads

    run_dir = os.path.join(WORK, f"{args.workload}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _confine_scratch(run_dir)
    os.chdir(run_dir)  # spark-warehouse and friends land here, not in the repo

    try:
        result = workloads.run(args.workload, Session, run_dir, args.seed, args.seconds,
                               bool(args.trace), args.size)
    finally:
        _reap_jvm()
    for name, (value, unit) in sorted(result.report.items()):
        print(f"{name} = {value:.6g} {unit}")
    if args.trace:
        _report_overhead(args, result)
    else:
        _save(args, result)
    os.chdir(WORK)
    shutil.rmtree(run_dir, ignore_errors=True)
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in result.metrics.items()}
    print(json.dumps({"correct": result.correct, "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}))
    return 0


def _last_path(args, trace: int) -> str:
    return os.path.join(WORK, f"last-{args.workload}-seed{args.seed}-t{trace}.json")


def _save(args, result) -> None:
    with open(_last_path(args, 0), "w") as f:
        json.dump({k: v for k, (v, _) in result.report.items()}, f)


def _report_overhead(args, result) -> None:
    """Tracing overhead (traced minus untraced, per end-to-end metric,
    against the last untraced run of this workload and seed) and whether
    the exact counts repeat the previous traced run."""
    extra = {}
    try:
        with open(_last_path(args, 0)) as f:
            untraced = json.load(f)
        extra["overhead"] = {k: result.report[k][0] - v for k, v in untraced.items()
                             if k in result.report}
    except FileNotFoundError:
        extra["overhead"] = None
    counts = result.exact_counts
    try:
        with open(_last_path(args, 1)) as f:
            extra["counts_repeat"] = json.load(f) == counts
    except FileNotFoundError:
        extra["counts_repeat"] = None
    with open(_last_path(args, 1), "w") as f:
        json.dump(counts, f)
    print(f"exact counts {json.dumps(counts)} repeat previous traced run: "
          f"{extra['counts_repeat']}")
    if extra["overhead"] is not None:
        for k, v in sorted(extra["overhead"].items()):
            print(f"tracing overhead {k} = {v:+.6g}")
    trace_path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
    result.tracer.dump(trace_path, {"exact_counts": counts, **extra})
    print(f"spans written to {os.path.relpath(trace_path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
