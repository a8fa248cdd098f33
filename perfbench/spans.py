"""Traced-run instrumentation, kept entirely in the benchmark's files.

``Tracer`` records spans around the calls into each layer by patching
module attributes (the engine is not edited). Every span sets the Spark
job group to its id, so each job is attributed to the innermost open
span. After each operation ``collect_op`` reads that operation's jobs
and stage metrics from Spark's status REST API; the UI keeps only a
bounded number of jobs and stages, so reading per operation loses none.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import time
import urllib.request

from stats import covered, self_times

_DONE = {"SUCCEEDED", "FAILED"}
STAGE_SUMS = {
    # REST field -> (our key, scale to seconds / bytes)
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "outputBytes": ("output_bytes", 1),
    "inputRecords": ("records", 1),
    "shuffleReadRecords": ("records", 1),
    "numTasks": ("tasks", 1),
    "numFailedTasks": ("failed_tasks", 1),
}


def _ts(s: str) -> float:
    """REST timestamps look like 2026-01-02T03:04:05.678GMT."""
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.api = f"http://localhost:{port}/api/v1/applications/{self.sc.applicationId}"
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.ops: list[dict] = []
        self.jobs: list[dict] = []  # every job seen, tagged with its span id
        self.stages: list[dict] = []  # every completed stage, tagged likewise
        self._last_job = -1
        self._groups: dict[str, int] = {}  # foreign job group -> span id
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self.stack[-1] if self.stack else None,
               "op": len(self.ops), "start": time.time(), "end": None}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            if self.stack:
                self.sc.setJobGroup(f"span-{self.stack[-1]}", self.spans[self.stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def claim_group(self, group: str) -> None:
        """Attribute jobs of a job group set by Spark itself (a streaming
        query sets its run id) to the innermost open span."""
        self._groups[group] = self.stack[-1]

    def wrap(self, owner: object, attr: str, name) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span.
        ``name`` is a span name or a function of the call's arguments."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name(*args, **kwargs) if callable(name) else name):
                return fn(*args, **kwargs)

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # -- per-operation REST collection ---------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=30) as r:
            return json.load(r)

    def collect_op(self, name: str, start: float, end: float) -> dict:
        """Attribute the jobs and stages run since the last call to their
        spans, and record the operation's wall time and driver gap."""
        deadline = time.time() + 10
        while True:
            new = [j for j in self._get("/jobs") if j["jobId"] > self._last_job]
            if all(j["status"] in _DONE for j in new) or time.time() > deadline:
                break
            time.sleep(0.05)
        stage_ids = {s for j in new for s in j["stageIds"]}
        stages = [s for s in self._get("/stages?status=complete&status=failed")
                  if s["stageId"] in stage_ids] if stage_ids else []
        owner: dict[int, int | None] = {}
        for j in sorted(new, key=lambda j: j["jobId"]):
            group = j.get("jobGroup")
            if group and group.startswith("span-"):
                span = int(group.split("-", 1)[1])
            else:
                span = self._groups.get(group)
            for s in j["stageIds"]:
                owner.setdefault(s, span)
            interval = (_ts(j["submissionTime"]), _ts(j.get("completionTime", j["submissionTime"])))
            self.jobs.append({"id": j["jobId"], "span": span, "op": len(self.ops),
                              "start": interval[0], "end": interval[1]})
        for s in stages:
            rec = {"span": owner.get(s["stageId"]), "op": len(self.ops)}
            for field, (key, scale) in STAGE_SUMS.items():
                rec[key] = rec.get(key, 0) + s.get(field, 0) * scale
            self.stages.append(rec)
        if new:
            self._last_job = max(j["jobId"] for j in new)
        op_jobs = [(j["start"], j["end"]) for j in self.jobs if j["op"] == len(self.ops)]
        op = {"name": name, "start": start, "end": end, "jobs": len(op_jobs),
              "driver_gap_s": (end - start) - covered(op_jobs, start, end)}
        self.ops.append(op)
        return op

    # -- reporting -----------------------------------------------------------
    def span_totals(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self seconds, jobs, and summed
        stage metrics of the jobs attributed to it."""
        selfs = self_times([s for s in self.spans if s["end"] is not None])
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            t = out.setdefault(s["name"], {"n": 0, "s": 0.0, "self_s": 0.0, "jobs": 0})
            t["n"] += 1
            t["s"] += s["end"] - s["start"]
            t["self_s"] += selfs[s["id"]]
        by_id = {s["id"]: s["name"] for s in self.spans}
        for j in self.jobs:
            if j["span"] in by_id:
                out[by_id[j["span"]]]["jobs"] += 1
        for st in self.stages:
            if st["span"] in by_id:
                t = out[by_id[st["span"]]]
                for key, _ in STAGE_SUMS.values():
                    t[key] = t.get(key, 0) + st.get(key, 0)
        return out

    def spark_totals(self) -> dict[str, float]:
        tot = {"jobs": len(self.jobs), "stages": len(self.stages)}
        for key, _ in STAGE_SUMS.values():
            tot[key] = sum(st.get(key, 0) for st in self.stages)
        tot["driver_gap_s"] = sum(op["driver_gap_s"] for op in self.ops)
        tot["records_per_task"] = tot["records"] / tot["tasks"] if tot["tasks"] else 0.0
        return tot

    def dump(self, path: str, extra: dict) -> None:
        selfs = self_times([s for s in self.spans if s["end"] is not None])
        spans = [dict(s, self_s=selfs.get(s["id"])) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": spans, "ops": self.ops, "jobs": self.jobs,
                       "span_totals": self.span_totals(), **extra}, f, indent=1)
