"""Tracing for the traced run: spans recorded around the benchmark's own
calls into the engine, call counters on objects the benchmark owns, a
py4j round-trip counter, and a reader for Spark's event log.

Nothing here changes the engine. Spans and counters wrap the engine's
public functions and methods from outside; the event log is Spark's own
record of jobs, stages and tasks, tagged per op with
``setJobDescription``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

OP_TAG = "pb-"          # job description / stream query name prefix


class Tracer:
    """In-memory span and counter store; written out once at the end.

    A span records name, start, end, parent span id and op id. When the
    tracer is disabled, ``span`` costs one attribute test."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.busy: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "op": op if op is not None else (parent or {}).get("op"),
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, n: int = 1, busy_s: float = 0.0) -> None:
        with self._lock:
            self.counts[name] += n
            self.busy[name] += busy_s

    def wrap_methods(self, obj, names: list[str], prefix: str) -> None:
        """Count and time calls to ``obj``'s public methods, in total
        (``<prefix>.calls``) and per method (``<prefix>.<name>``), by
        shadowing them with instance attributes, so callers inside the
        object that go through ``self.<name>`` are counted too. Counting
        happens only while the tracer is enabled."""
        for name in names:
            orig = getattr(obj, name)

            def wrapper(*a, __orig=orig, __name=name, **kw):
                if not self.enabled:
                    return __orig(*a, **kw)
                t0 = time.perf_counter()
                try:
                    return __orig(*a, **kw)
                finally:
                    dt = time.perf_counter() - t0
                    self.add(f"{prefix}.calls", 1, dt)
                    self.add(f"{prefix}.{__name}", 1, dt)
            setattr(obj, name, wrapper)

    def self_time(self, name: str) -> float:
        """Total self time of spans called ``name``: duration minus the
        part of it covered by child spans."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        return sum((s["end"] - s["start"]) - covered(kids[s["id"]],
                                                     s["start"], s["end"])
                   for s in self.spans if s["name"] == name)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class Py4jCounter:
    """Counts py4j round trips (one ``send_command`` each) made from the
    calling process while ``counting`` is set."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self.counting = False
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def send_command(*a, **kw):
            if self.counting:
                self.calls += 1
            return orig(*a, **kw)
        client.send_command = send_command

    @contextmanager
    def count(self):
        self.counting = True
        try:
            yield
        finally:
            self.counting = False


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# ----------------------------------------------------------------------
# event log

_PY_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "arrow_to_python_bytes",
    "data returned from Python workers": "arrow_from_python_bytes",
}


def eventlog_conf(log_dir: str) -> dict[str, str]:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir)}


def _op_of(desc: str | None) -> int | None:
    if not desc or not desc.startswith(OP_TAG):
        return None
    head = desc[len(OP_TAG):].split("\n", 1)[0].strip()
    return int(head) if head.isdigit() else None


def read_event_log(log_dir: str) -> dict:
    """Parse every event-log file under ``log_dir`` into per-op jobs and
    per-stage records (times in seconds, sizes in bytes)."""
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))
                   + [p for p in glob.glob(os.path.join(log_dir, "*"))
                      if os.path.isfile(p)])
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}

    def stage(sid):
        return stages.setdefault(sid, {
            "id": sid, "start": None, "end": None, "tasks": [],
            "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "scan_bytes": 0,
            "spill_bytes": 0, "shuffle_write_bytes": 0,
            "shuffle_write_ns": 0, "shuffle_read_bytes": 0,
            "fetch_wait_ms": 0, **{v: 0 for v in _PY_METRICS.values()}})

    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    desc = (e.get("Properties") or {}).get(
                        "spark.job.description")
                    jobs[e["Job ID"]] = {
                        "op": _op_of(desc), "start": e["Submission Time"] / 1e3,
                        "end": None}
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, e["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    s = stage(info["Stage ID"])
                    s["start"] = info["Submission Time"] / 1e3
                    s["end"] = info["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    s = stage(e["Stage ID"])
                    ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                    s["tasks"].append((ti["Finish Time"] - ti["Launch Time"])
                                      / 1e3)
                    s["run_ms"] += tm.get("Executor Run Time", 0)
                    s["cpu_ns"] += tm.get("Executor CPU Time", 0)
                    s["gc_ms"] += tm.get("JVM GC Time", 0)
                    s["scan_bytes"] += (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    s["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    s["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written",
                                                       0)
                    s["shuffle_write_ns"] += sw.get("Shuffle Write Time", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    s["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    s["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                    for acc in ti.get("Accumulables") or []:
                        key = _PY_METRICS.get(acc.get("Name"))
                        if key and acc.get("Update") is not None:
                            s[key] += int(acc["Update"])
    for sid, s in stages.items():
        job = jobs.get(stage_job.get(sid))
        s["job"] = stage_job.get(sid)
        s["op"] = job["op"] if job else None
    return {"jobs": jobs, "stages": stages}


def op_breakdown(log: dict, op_spans: dict[int, tuple[float, float]]) -> dict:
    """Per op: wall, the time covered by stages (stage self time of the
    op span), the driver gap (wall with no job running) and the residual
    (time inside a job with no stage running). ``stage_s + driver_gap_s
    + residual_s == wall_s`` by construction; the reconciliation check
    bounds the residual, which grows when event-log stages are
    mis-attributed or the two clocks disagree."""
    by_op_stages = defaultdict(list)
    by_op_jobs = defaultdict(list)
    for s in log["stages"].values():
        if s["op"] is not None and s["start"] is not None:
            by_op_stages[s["op"]].append((s["start"], s["end"]))
    for j in log["jobs"].values():
        if j["op"] is not None and j["end"] is not None:
            by_op_jobs[j["op"]].append((j["start"], j["end"]))
    out = {}
    for op, (lo, hi) in op_spans.items():
        wall = hi - lo
        stage_s = covered(by_op_stages[op], lo, hi)
        job_s = covered(by_op_jobs[op], lo, hi)
        out[op] = {"wall_s": wall, "stage_s": stage_s,
                   "driver_gap_s": wall - job_s,
                   "residual_s": job_s - stage_s}
    return out


def reconciles(b: dict, rel_tol: float, abs_tol_s: float) -> bool:
    """Stage self time plus driver gap accounts for the op wall within
    ``abs_tol_s + rel_tol * wall``."""
    return abs(b["wall_s"] - b["stage_s"] - b["driver_gap_s"]) \
        <= abs_tol_s + rel_tol * b["wall_s"]


def stage_sums(log: dict, ops: set[int]) -> dict:
    """Totals over the stages of ``ops``, plus the worst task skew
    (slowest ÷ median task of a stage with at least two tasks)."""
    tot = defaultdict(float)
    skew = 0.0
    n_tasks = 0
    for s in log["stages"].values():
        if s["op"] not in ops:
            continue
        tot["stages"] += 1
        n_tasks += len(s["tasks"])
        for k, v in s.items():
            if isinstance(v, (int, float)) and k not in ("id", "job", "op",
                                                         "start", "end"):
                tot[k] += v
        ts = s["tasks"]
        if len(ts) >= 2 and statistics.median(ts) > 0:
            skew = max(skew, max(ts) / statistics.median(ts))
    tot["tasks"] = n_tasks
    tot["jobs"] = sum(1 for j in log["jobs"].values() if j["op"] in ops)
    tot["task_skew"] = skew
    return dict(tot)
