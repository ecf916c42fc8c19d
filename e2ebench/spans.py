"""Spans, the micro-batch listener and the Spark event-log reader.

Spans are recorded by the benchmark around each call into a layer of the
engine and kept in memory until the run ends. A span is also the Spark
job group of the calls made inside it, so every job in the event log can
be hung under the span that caused it. Micro-batches arrive from the
runner's own ``StreamingQueryListener`` and become spans with their phases
as children; event-log jobs become spans too.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

import stats

#: The order in which a micro-batch runs its timed phases.
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def parse_ts(text: str) -> float:
    """Epoch seconds of an ISO timestamp as Spark prints it."""
    return datetime.fromisoformat(text.replace("Z", "+00:00")).timestamp()


class Tracer:
    """In-memory span recorder. Disabled, it records nothing and sets no
    job group, so untraced runs pay nothing for it."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._lock = threading.Lock()

    def new_id(self) -> str:
        with self._lock:
            return f"s{next(self._ids)}"

    def add(self, name: str, layer: str, start: float, end: float, parent=None, **attrs) -> dict:
        rec = {"id": self.new_id(), "name": name, "layer": layer, "start": start,
               "end": end, "parent": parent, "trace": "run", **attrs}
        with self._lock:
            self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1]["id"] if self._stack else None
        rec = self.add(name, layer, time.time(), None, parent, **attrs)
        self._stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, rec) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])


class BatchListener(StreamingQueryListener):
    """Keeps every micro-batch progress of every query, keyed by query name."""

    def __init__(self) -> None:
        self.progress: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.setdefault(p.get("name") or "", []).append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def batches(self, name: str) -> list[dict]:
        with self._lock:
            return sorted(self.progress.get(name, []), key=lambda p: p["batchId"])

    def wait_for(self, name: str, pred, timeout: float = 60.0) -> list[dict]:
        """Wait until ``pred(batches)`` holds; listener events are
        delivered asynchronously, after the batch itself ends."""
        deadline = time.time() + timeout
        while not pred(b := self.batches(name)):
            if time.time() > deadline:
                raise TimeoutError(f"query {name}: progress did not arrive")
            time.sleep(0.05)
        return b


def watermark_s(progress: dict) -> float:
    wm = (progress.get("eventTime") or {}).get("watermark")
    return parse_ts(wm) if wm else float("-inf")


def batch_spans(tracer: Tracer, query: str, progress: list[dict], parent: str | None) -> None:
    """One span per micro-batch, with its phases laid out in run order as
    children. The runner's sink-call span of a batch hangs under its
    ``addBatch`` phase."""
    sinks = {s["batch_id"]: s for s in tracer.spans
             if s["layer"] == "sinks" and s.get("query") == query}
    for p in progress:
        d = p.get("durationMs") or {}
        start = parse_ts(p["timestamp"])
        b = tracer.add(f"batch {p['batchId']}", "streaming", start,
                       start + d.get("triggerExecution", 0) / 1000.0, parent,
                       query=query, batch_id=p["batchId"])
        t = start
        for phase in BATCH_PHASES:
            dur = d.get(phase, 0) / 1000.0
            ph = tracer.add(phase, "streaming", t, t + dur, b["id"], query=query,
                            batch_id=p["batchId"])
            if phase == "addBatch" and p["batchId"] in sinks:
                sinks[p["batchId"]]["parent"] = ph["id"]
            t += dur


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_PY_METRICS = {
    "time to initialize Python workers": "python_init_ms",
    "time to start Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of every application logged under ``log_dir``, each with its
    group, times and per-task metrics summed. Needs an uncompressed log."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    scan_stages: set[tuple] = set()
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"] / 1000.0, "end": None,
                        "stages": set(ev.get("Stage IDs", [])), "run_stages": set(),
                        "tasks": 0, "scan_tasks": 0, "intervals": [], "executor_run_ms": 0.0,
                        "executor_cpu_ms": 0.0, "gc_ms": 0.0, "deserialize_ms": 0.0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0,
                        "python_init_ms": 0.0, "python_run_ms": 0.0,
                        "python_bytes_sent": 0, "python_bytes_returned": 0,
                    }
                    jobs[(path, ev["Job ID"])] = job
                    for s in job["stages"]:
                        stage_job[(path, s)] = (path, ev["Job ID"])
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])):
                        scan_stages.add((path, info["Stage ID"]))
                elif kind == "SparkListenerJobEnd":
                    jobs[(path, ev["Job ID"])]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    key = stage_job.get((path, ev["Stage ID"]))
                    if key is None:
                        continue
                    job, info = jobs[key], ev["Task Info"]
                    m = ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["scan_tasks"] += (path, ev["Stage ID"]) in scan_stages
                    job["run_stages"].add(ev["Stage ID"])
                    job["intervals"].append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
                    job["executor_run_ms"] += m.get("Executor Run Time", 0)
                    job["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    job["gc_ms"] += m.get("JVM GC Time", 0)
                    job["deserialize_ms"] += m.get("Executor Deserialize Time", 0)
                    job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in info.get("Accumulables", []):
                        field = _PY_METRICS.get(acc.get("Name"))
                        if field:
                            job[field] += int(acc.get("Update", 0) or 0)
    out = []
    for job in jobs.values():
        if job["end"] is None:
            continue
        wall = job["end"] - job["start"]
        job["scheduler_gap_ms"] = 1000.0 * (
            wall - stats.covered(job["intervals"], job["start"], job["end"]))
        job["stages"] = len(job.pop("run_stages"))
        del job["intervals"]
        out.append(job)
    return out


def job_spans(tracer: Tracer, jobs: list[dict]) -> None:
    """Hang each job under the span whose group it carries, or else under
    the innermost span open when it was submitted."""
    by_id = {s["id"]: s for s in tracer.spans}
    others = sorted(tracer.spans, key=lambda s: s["start"])
    for job in jobs:
        parent = by_id.get(job["group"])
        if parent is None:
            inside = [s for s in others if s["end"] is not None and s["start"] <= job["start"] <= s["end"]]
            parent = max(inside, key=lambda s: (s["start"], -s["end"]), default=None)
        tracer.add("job", "spark", job["start"], job["end"],
                   parent["id"] if parent else None, job=job)


def ancestors(span: dict, by_id: dict) -> list[dict]:
    out = []
    while span.get("parent") in by_id:
        span = by_id[span["parent"]]
        out.append(span)
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time summed per layer, in ms."""
    children: dict[str, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        st = stats.self_time(s["start"], s["end"], children.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + 1000.0 * st
    return out
