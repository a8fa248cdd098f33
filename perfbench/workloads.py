"""The two workloads, driven only through the engine's public functions.

``etl_batch``: a cold process runs ``pipeline.run_batch_pipeline`` once,
the initial load of generated dirty CSVs into an empty warehouse, and
checks the returned table counts.

``serve``: a long-lived session. After an untimed warm pass (every mix
query once, one stream micro-batch) it runs a seeded closed-loop analyst
schedule over the query registry, then an open-loop paced phase of the
progress-event stream. Query results are checked against DuckDB; the
stream's final window counts against a batch recomputation.
"""

from __future__ import annotations

import contextlib
import glob
import os
import random
import sys
import threading
import time
import traceback
import types
from dataclasses import dataclass, field

import gen
from stats import file_commit_latencies, percentile

# ---------------------------------------------------------------------------
# Metric catalogue
# ---------------------------------------------------------------------------

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "throughput_per_s": "1/s",
    "fresh_p50_s": "s",
    "fresh_p90_s": "s",
}

# Analyst mix: 4 in 5 executions are cheap BI / cleaning queries
# (planning- and job-overhead bound), 1 in 5 heavy curation queries
# (shuffle- and CPU-bound). The schedule is one round of ROUND per
# SECONDS_PER_ROUND of --seconds (at least one), each in an order shuffled
# by the seed, so every seed runs the same mix and number of executions.
MIX_CHEAP = ["customer_360", "user_sessions", "large_orders", "dedup_keep_last"]
MIX_HEAVY = ["knn_ivf_multiprobe", "docs_bloom_screen"]
ROUND = MIX_CHEAP * 2 + MIX_HEAVY
SECONDS_PER_ROUND = 5

_SPARK_KEYS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "driver_gap_s": "s", "records_per_task": "count",
}
PER_LAYER = {
    **{f"spark.{k}": u for k, u in _SPARK_KEYS.items()},
    "session.start_s": "s",
    "csv_ingest.read_s": "s", "csv_ingest.append_s": "s", "csv_ingest.jobs": "count",
    "csv_ingest.output_bytes": "bytes",
    "cleaning.plan_s": "s", "analytics.plan_s": "s", "warehouse.plan_s": "s",
    "warehouse.staging_merge_s": "s", "warehouse.staging_merge_jobs": "count",
    "warehouse.staging_merge_executor_s": "s",
    "warehouse.warehouse_merge_s": "s", "warehouse.warehouse_merge_jobs": "count",
    "warehouse.warehouse_merge_executor_s": "s",
    "warehouse.merge_output_bytes": "bytes", "warehouse.merge_shuffle_bytes": "bytes",
    "warehouse.write_amp": "ratio",
    "pipeline.self_s": "s", "pipeline.self_jobs": "count",
    "suite.build_s": "s", "suite.exec_s": "s", "suite.exec_jobs": "count",
    **{f"suite.{q}.s": "s" for q in MIX_CHEAP + MIX_HEAVY},
    "caches.release_s": "s", "caches.peak_live_checkpoints": "count",
    "streaming.batches": "count", "streaming.empty_batch_frac": "ratio",
    "streaming.batch_ms_p50": "ms", "streaming.planning_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms", "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.state_rows": "count", "streaming.state_mem_mb": "MB",
    "streaming.state_commit_ms_p50": "ms", "streaming.rows_dropped_by_watermark": "count",
    "streaming.backlog_max_files": "count", "streaming.gen_late_max_s": "s",
}


@dataclass
class Result:
    correct: bool
    attempted: int
    failed: int
    metrics: dict[str, tuple[float, str]]
    report: dict[str, tuple[float, str]]  # every end-to-end figure, printed
    exact_counts: dict = field(default_factory=dict)
    tracer: object = None


def _span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(workload, session_factory, run_dir, seed, seconds, trace, size) -> Result:
    fn = {"etl_batch": etl_batch, "serve": serve}[workload]
    return fn(session_factory, run_dir, seed, seconds, trace, size)


def _finish(report: dict, layers: dict, trace: bool, attempted: int, failed: int,
            checks_ok: bool, tracer, exact: dict) -> Result:
    report["failed_frac"] = (failed / attempted, "ratio")
    if trace:
        metrics = {k: (float(layers.get(k, 0.0)), u) for k, u in PER_LAYER.items()}
    else:
        metrics = {k: (report[k][0], u) for k, u in END_TO_END.items()}
    return Result(checks_ok and failed == 0, attempted, failed, metrics, report, exact, tracer)


def _layer_totals(tracer, session_start: float):
    """Run-wide ``spark.*`` and ``session.*`` metrics, and a getter for
    one per-span-name total (0 for spans that never opened)."""
    totals = tracer.span_totals()

    def get(name: str, key: str = "s") -> float:
        return totals.get(name, {}).get(key, 0.0)

    out = {f"spark.{k}": v for k, v in tracer.spark_totals().items() if f"spark.{k}" in PER_LAYER}
    out["session.start_s"] = session_start
    return out, get


# ---------------------------------------------------------------------------
# etl_batch
# ---------------------------------------------------------------------------

ETL_SIZE = {"students": 2_000, "events": 10_000, "tickets": 400, "courses": 100}


def _patch_etl(tracer) -> None:
    from edu_data_pipeline_spark import pipeline
    from edu_data_pipeline_spark.operators import analytics, cleaning, warehouse
    from edu_data_pipeline_spark.sources import csv_ingest

    tracer.wrap(pipeline, "run_batch_pipeline", "pipeline")
    tracer.wrap(csv_ingest, "read_raw_csv", "csv_ingest.read")
    tracer.wrap(csv_ingest, "append_raw", "csv_ingest.append")
    for fn in ("clean_students", "clean_progress", "clean_tickets"):
        tracer.wrap(cleaning, fn, "cleaning.plan")
    tracer.wrap(
        warehouse.ParquetMergeWriter, "merge",
        lambda self, *a, **k: "warehouse.staging_merge"
        if f"{os.sep}staging{os.sep}" in self.path else "warehouse.warehouse_merge",
    )
    for fn in ("build_dim_date", "build_fact_progress", "build_fact_tickets",
               "build_fact_enrollments"):
        tracer.wrap(warehouse, fn, "warehouse.plan")
    for fn in ("build_dim_students", "build_dim_courses"):
        tracer.wrap(pipeline, fn, "warehouse.plan")
    for fn in ("v_student_360", "v_ai_insights", "fact_daily_metrics",
               "v_course_performance", "v_daily_dashboard"):
        tracer.wrap(analytics, fn, "analytics.plan")


def _table_commits(wh: str) -> list[float]:
    """Commit time of every table under the warehouse dir: Spark writes the
    ``_SUCCESS`` marker when a write job commits, and the merge writer's
    directory rename keeps it."""
    return sorted(os.path.getmtime(p)
                  for p in glob.glob(os.path.join(wh, "*", "*", "_SUCCESS")))


def etl_batch(session_factory, run_dir, seed, seconds, trace, size) -> Result:
    input_dir = os.path.join(run_dir, "input")
    expected = gen.write_etl_input(
        input_dir, seed, **{k: max(1, int(v * size)) for k, v in ETL_SIZE.items()})
    csv_rows = sum(v for k, v in expected.items() if k.startswith("raw."))
    from edu_data_pipeline_spark import pipeline

    wh = os.path.join(run_dir, "warehouse")
    sess = session_factory()
    tracer = None
    try:
        if trace:
            from spans import Tracer

            tracer = Tracer(sess.spark)
            _patch_etl(tracer)
            tracer.collect_op("setup", time.time() - sess.start_s, time.time())
        t0 = time.time()
        try:
            counts = pipeline.run_batch_pipeline(sess.spark, input_dir, wh)
        except Exception:
            traceback.print_exc()
            counts = {}
        t1 = time.time()
        if tracer:
            tracer.collect_op("pipeline", t0, t1)
        peak = sess.peak_rss_mb()
    finally:
        if tracer:
            tracer.unpatch()
        sess.stop()

    bad = {k: (counts.get(k), v) for k, v in expected.items() if counts.get(k) != v}
    if bad:
        print(f"etl_batch: table count mismatch (got, expected) {bad}")
    # the operation is the pipeline call; freshness is call start -> each
    # table committed
    ready = [c - t0 for c in _table_commits(wh)] or [t1 - t0]
    report = {
        "setup_s": (sess.start_s, "s"),
        "peak_rss_mb": (peak, "MB"),
        "op_p50_s": (t1 - t0, "s"),
        "op_p90_s": (t1 - t0, "s"),
        "throughput_per_s": (csv_rows / (t1 - t0), "1/s"),
        "fresh_p50_s": (percentile(ready, 50), "s"),
        "fresh_p90_s": (percentile(ready, 90), "s"),
        "etl_s": (t1 - t0, "s"),
        "tables": (len(ready), "count"),
    }
    layers, exact = {}, {}
    if tracer:
        layers, get = _layer_totals(tracer, sess.start_s)
        for name in ("read", "append"):
            layers[f"csv_ingest.{name}_s"] = get(f"csv_ingest.{name}")
        layers["csv_ingest.jobs"] = get("csv_ingest.read", "jobs") + get("csv_ingest.append", "jobs")
        layers["csv_ingest.output_bytes"] = get("csv_ingest.append", "output_bytes")
        for layer in ("cleaning", "analytics", "warehouse"):
            layers[f"{layer}.plan_s"] = get(f"{layer}.plan")
        for kind in ("staging", "warehouse"):
            span = f"warehouse.{kind}_merge"
            layers[f"{span}_s"] = get(span)
            layers[f"{span}_jobs"] = get(span, "jobs")
            layers[f"{span}_executor_s"] = get(span, "executor_run_s")
        merges = ("warehouse.staging_merge", "warehouse.warehouse_merge")
        merged = sum(get(m, "output_bytes") for m in merges)
        appended = get("csv_ingest.append", "output_bytes")
        layers["warehouse.merge_output_bytes"] = merged
        layers["warehouse.merge_shuffle_bytes"] = sum(
            get(m, "shuffle_read_bytes") + get(m, "shuffle_write_bytes") for m in merges)
        layers["warehouse.write_amp"] = merged / appended if appended else 0.0
        layers["pipeline.self_s"] = get("pipeline", "self_s")
        layers["pipeline.self_jobs"] = get("pipeline", "jobs")
        exact = {"jobs": tracer.ops[1]["jobs"], "table_counts": counts}
    return _finish(report, layers, trace, len(expected), len(bad), True, tracer, exact)


# ---------------------------------------------------------------------------
# serve: query mix + event stream
# ---------------------------------------------------------------------------

# Warm-up: one 1,000-event micro-batch (10 files of 100 events). Paced
# phase: 8-event files published at 20 files/s, a rate the stream
# sustains with a flat backlog even when the host runs half as fast.
STREAM_WARM_FILE_ROWS = 100
STREAM_WARM_FILES = 10
STREAM_PACED_FILE_ROWS = 8
STREAM_RATE_FILES_PER_S = 20
# Files of the first STREAM_RAMP_S seconds of pacing are published but not
# scored, so the scored files see the stream's steady state.
STREAM_RAMP_S = 1.5
STREAM_GRACE_S = 30


class _Feed:
    """Thread-safe store of the stream listener's progress events."""

    def __init__(self):
        self.lock = threading.Lock()
        self.events: list[dict] = []

    def add(self, rec: dict) -> None:
        with self.lock:
            self.events.append(rec)

    def of(self, run_id: str) -> list[dict]:
        with self.lock:
            return sorted((e for e in self.events if e["run"] == run_id),
                          key=lambda e: e["batch"])

    def rows(self, run_id: str) -> int:
        return sum(e["rows"] for e in self.of(run_id))


def _listener(feed: _Feed):
    import datetime as dt

    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = dt.datetime.strptime(p.timestamp.replace("Z", "+0000"),
                                         "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
            dur = dict(p.durationMs)
            state = p.stateOperators[0] if p.stateOperators else None
            feed.add({
                "run": str(p.runId), "batch": p.batchId, "rows": p.numInputRows,
                "commit": start + dur.get("triggerExecution", 0) / 1000, "dur": dur,
                "state_rows": state.numRowsTotal if state else 0,
                "state_mem": state.memoryUsedBytes if state else 0,
                "state_commit_ms": state.commitTimeMs if state else 0,
                "dropped": state.numRowsDroppedByWatermark if state else 0,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class _Stream:
    """The streaming job under test: file source -> shared cleaning ->
    sliding windows with a watermark, update mode, foreachBatch sink that
    keeps the latest count per (window, student)."""

    def __init__(self, spark, root: str, seed: int, tracer=None):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.stage = os.path.join(root, "stage")
        self.src = os.path.join(root, "src")
        self.ckpt = os.path.join(root, "checkpoint")
        os.makedirs(self.stage)
        os.makedirs(self.src)
        self.out: dict[tuple, int] = {}
        self.files = 0

    def prewrite(self, n: int, rows: int) -> list[str]:
        """Write the next ``n`` event files to the staging dir, in due order."""
        names = []
        for _ in range(n):
            name = f"{self.files:06d}.json"
            with open(os.path.join(self.stage, name), "w") as f:
                f.write(gen.event_lines(self.seed, self.files, rows))
            names.append(name)
            self.files += 1
        return names

    def publish(self, name: str) -> None:
        os.rename(os.path.join(self.stage, name), os.path.join(self.src, name))

    def _sink(self, df, batch_id) -> None:
        for r in df.select("window_start", "student_id", "count").collect():
            self.out[(r[0], r[1])] = r[2]

    def start(self, max_files: int, available_now: bool):
        from edu_data_pipeline_spark.streaming import jobs

        events = jobs.read_event_stream_json(self.spark, self.src, max_files)
        metrics = jobs.windowed_student_metrics(jobs.clean_event_stream(events))
        w = (metrics.writeStream.outputMode("update").foreachBatch(self._sink)
             .option("checkpointLocation", self.ckpt))
        if available_now:
            w = w.trigger(availableNow=True)
        q = w.start()
        if self.tracer:  # micro-batch jobs carry the run id as job group
            self.tracer.claim_group(str(q.runId))
        return q

    def batch_recompute(self) -> dict[tuple, int]:
        from edu_data_pipeline_spark.streaming import jobs

        events = self.spark.read.schema(jobs.PROGRESS_EVENT_SCHEMA).json(self.src)
        rows = jobs.windowed_student_metrics(jobs.clean_event_stream(events)).select(
            "window_start", "student_id", "count").collect()
        return {(r[0], r[1]): r[2] for r in rows}


def _warm(stream: _Stream, names: list[str], feed: _Feed) -> list[dict]:
    """Publish ``names`` at once and run them as one AvailableNow
    micro-batch; returns the listener records of the batches that read
    data."""
    for n in names:
        stream.publish(n)
    q = stream.start(len(names), available_now=True)
    q.awaitTermination()
    run_id = str(q.runId)
    deadline = time.time() + STREAM_GRACE_S  # listener delivery is asynchronous
    while feed.rows(run_id) < len(names) * STREAM_WARM_FILE_ROWS and time.time() < deadline:
        time.sleep(0.05)
    return [e for e in feed.of(run_id) if e["rows"] > 0]


def _paced(stream: _Stream, names: list[str], feed: _Feed, rate: float):
    """Open loop: the calling thread is the single generator. It publishes
    a pre-written file every 1/rate s and never slows down for the stream.
    Returns due times, how late each publish ran, the backlog (published
    files no batch has covered yet) at each publish, and the run id."""
    q = stream.start(max_files=len(names), available_now=False)  # no batch cap
    run_id = str(q.runId)
    rows = STREAM_PACED_FILE_ROWS
    due, late, backlog = [], [], []
    t0 = time.time() + 0.2
    for k, name in enumerate(names):
        due.append(t0 + k / rate)
        pause = due[k] - time.time()
        if pause > 0:
            time.sleep(pause)
        stream.publish(name)
        late.append(time.time() - due[k])
        backlog.append(k + 1 - feed.rows(run_id) // rows)
    deadline = time.time() + STREAM_GRACE_S
    while feed.rows(run_id) < rows * len(names) and time.time() < deadline:
        time.sleep(0.05)
    q.stop()
    return due, late, backlog, run_id


class _TimedOracle:
    """DuckDB connection as ``compare_query`` uses it, timing the oracle so
    its share of the warm pass can be kept out of ``setup_s``."""

    def __init__(self, con):
        self.con = con
        self.seconds = 0.0

    def execute(self, sql: str):
        t0 = time.perf_counter()
        frame = self.con.execute(sql).df()
        self.seconds += time.perf_counter() - t0
        return types.SimpleNamespace(df=lambda: frame)


def _run_query(spark, entry, sf_dir, tracer=None) -> None:
    from edu_data_pipeline_spark.suite import release_caches

    with _span(tracer, f"suite.{entry.name}"):
        with _span(tracer, "suite.build"):
            df = entry.fn(spark, sf_dir)
        with _span(tracer, "suite.exec"):
            df.write.format("noop").mode("overwrite").save()
        with _span(tracer, "caches.release"):
            release_caches()


def serve(session_factory, run_dir, seed, seconds, trace, size) -> Result:
    sf_dir = os.path.join(run_dir, "tables")
    gen.write_query_tables(sf_dir, seed, sf=0.01 * size)
    rng = random.Random(seed)
    from edu_data_pipeline_spark import caches
    from edu_data_pipeline_spark.parity import compare_query, duck_connection
    from edu_data_pipeline_spark.suite import load_all

    registry = load_all()
    mix = MIX_CHEAP + MIX_HEAVY
    rounds = max(1, int(seconds // SECONDS_PER_ROUND))
    n_paced = max(1, round(seconds / 2 * STREAM_RATE_FILES_PER_S))
    n_ramp = round(STREAM_RAMP_S * STREAM_RATE_FILES_PER_S)
    tracer = None
    sess = session_factory()
    spark = sess.spark
    try:
        feed = _Feed()
        spark.streams.addListener(_listener(feed))
        if trace:
            from spans import Tracer

            tracer = Tracer(spark)
        stream = _Stream(spark, os.path.join(run_dir, "stream"), seed, tracer)
        warm_files = stream.prewrite(STREAM_WARM_FILES, STREAM_WARM_FILE_ROWS)
        paced_files = stream.prewrite(n_ramp + n_paced, STREAM_PACED_FILE_ROWS)
        # -- untimed warm-up: every mix query once, which is also its output
        # check against the DuckDB twin (the oracle's time is not set-up),
        # and the stream's first micro-batch
        oracle = _TimedOracle(duck_connection(sf_dir))
        mismatched = []
        t0 = time.time()
        for q in mix:
            res = compare_query(spark, oracle, registry[q], sf_dir)
            if not res.ok:
                print(f"serve: {q} disagrees with its DuckDB twin: {res.problems}")
                mismatched.append(q)
        with _span(tracer, "streaming.warm"):
            warmed = _warm(stream, warm_files, feed)
        setup_s = sess.start_s + warmed[-1]["commit"] - t0 - oracle.seconds
        _log(f"set-up {setup_s:.1f}s, oracle {oracle.seconds:.1f}s")
        if tracer:
            tracer.collect_op("setup", t0 - sess.start_s, time.time())

        # -- closed-loop analyst schedule
        caches.reset_checkpoint_watermark()
        lat: dict[str, list[float]] = {q: [] for q in mix}
        raised = 0
        busy = 0.0
        schedule = [q for _ in range(rounds) for q in rng.sample(ROUND, len(ROUND))]
        for q in schedule:
            t_a = time.time()
            try:
                _run_query(spark, registry[q], sf_dir, tracer)
            except Exception:
                traceback.print_exc()
                raised += 1
            t_b = time.time()
            lat[q].append(t_b - t_a)
            busy += t_b - t_a
            if tracer:  # REST reads stay outside the timed executions
                tracer.collect_op(q, t_a, t_b)
        peak_checkpoints = caches.peak_live_checkpoints()
        all_lat = [x for v in lat.values() for x in v]

        # -- stream: open-loop paced phase
        _log(f"query phase: {len(all_lat)} executions")
        t_p = time.time()
        with _span(tracer, "streaming.paced"):
            due, late, backlog, paced_run = _paced(stream, paced_files, feed,
                                                   STREAM_RATE_FILES_PER_S)
        if tracer:
            tracer.collect_op("stream-paced", t_p, time.time())
        batches = [(e["rows"], e["commit"]) for e in feed.of(paced_run)]
        fresh = file_commit_latencies(due, STREAM_PACED_FILE_ROWS, batches)[n_ramp:]
        missed = sum(1 for x in fresh if x is None)
        fresh_ok = [x for x in fresh if x is not None] or [float(STREAM_GRACE_S)]
        peak = sess.peak_rss_mb()

        _log(f"paced phase done at {time.time() - t_p:.1f}s")
        t_c = time.time()
        # -- output checks, outside every timer
        stream_ok = stream.batch_recompute() == stream.out
        if not stream_ok:
            print("serve: stream window counts differ from the batch recomputation")
        _log(f"checks {time.time() - t_c:.1f}s")
    finally:
        sess.stop()

    n_exec = len(all_lat)
    failed = raised + sum(len(lat[q]) for q in mismatched) + missed
    if not stream_ok:
        failed += n_paced
    report = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak, "MB"),
        "op_p50_s": (percentile(all_lat, 50), "s"),
        "op_p90_s": (percentile(all_lat, 90), "s"),
        "throughput_per_s": (n_exec / busy, "1/s"),
        "fresh_p50_s": (percentile(fresh_ok, 50), "s"),
        "fresh_p90_s": (percentile(fresh_ok, 90), "s"),
        "query_p50_s": (percentile(all_lat, 50), "s"),
        "query_p90_s": (percentile(all_lat, 90), "s"),
        "queries_per_s": (n_exec / busy, "1/s"),
        "query_samples": (n_exec, "count"),
        "stream_latency_p50_s": (percentile(fresh_ok, 50), "s"),
        "stream_latency_p90_s": (percentile(fresh_ok, 90), "s"),
        "stream_files": (len(fresh), "count"),
    }
    layers, exact = {}, {}
    if tracer:
        layers, get = _layer_totals(tracer, sess.start_s)
        layers["suite.build_s"] = get("suite.build")
        layers["suite.exec_s"] = get("suite.exec")
        layers["suite.exec_jobs"] = get("suite.exec", "jobs")
        for q in mix:
            layers[f"suite.{q}.s"] = percentile(lat[q], 50) if lat[q] else 0.0
        layers["caches.release_s"] = get("caches.release")
        layers["caches.peak_live_checkpoints"] = peak_checkpoints
        layers.update(_stream_layers(feed.of(paced_run), backlog, late))
        exact = {"jobs_per_query": {
            q: sorted({op["jobs"] for op in tracer.ops if op["name"] == q}) for q in mix}}
    attempted = n_exec + n_paced
    return _finish(report, layers, trace, attempted, failed,
                   stream_ok and not mismatched, tracer, exact)


def _stream_layers(events: list[dict], backlog: list[int], late: list[float]) -> dict:
    def p50(key: str) -> float:
        vals = [e["dur"].get(key, 0) for e in events]
        return percentile(vals, 50) if vals else 0.0

    return {
        "streaming.batches": len(events),
        "streaming.empty_batch_frac":
            sum(1 for e in events if e["rows"] == 0) / len(events) if events else 0.0,
        "streaming.batch_ms_p50": p50("triggerExecution"),
        "streaming.planning_ms_p50": p50("queryPlanning"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.state_rows": events[-1]["state_rows"] if events else 0,
        "streaming.state_mem_mb": max((e["state_mem"] for e in events), default=0) / 2**20,
        "streaming.state_commit_ms_p50":
            percentile([e["state_commit_ms"] for e in events], 50) if events else 0.0,
        "streaming.rows_dropped_by_watermark": sum(e["dropped"] for e in events),
        "streaming.backlog_max_files": max(backlog, default=0),
        "streaming.gen_late_max_s": max(late, default=0.0),
    }
