"""Tests of the benchmark's own machinery: interval arithmetic, event-log
parsing, the per-op reconciliation, what a warm-up pass records, and
one short traced run end to end.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import run as bench_run
from perfbench.harness import Context, Measured
from perfbench.stats import percentile, spread, tail_percentile
from perfbench.trace import (
    Tracer, covered, op_breakdown, read_event_log, reconciles, stage_sums,
)

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))


def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3)], 1.5, 2.5) == 1
    assert covered([], 0, 1) == 0


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(5000) == 99.0
    assert tail_percentile(20000) == 99.9
    assert tail_percentile(24) == 55.0
    assert tail_percentile(8) == 50.0
    for n in (20, 24, 40, 100, 1000, 12000):
        assert n * (100 - tail_percentile(n)) / 100 >= 10


def test_percentile_and_spread():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    q1, med, q3, sp = spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert med == 3.0 and q1 < med < q3 and sp == (q3 - q1) / 3.0


def _event_log(tmp_path, ops_stages):
    """A minimal Spark event log: one job per op, with stages and tasks
    at the given [start, end] seconds."""
    lines, job, stage = [], 0, 0
    for op, stages in ops_stages.items():
        ids = list(range(stage, stage + len(stages)))
        lo = min(a for a, _ in stages)
        hi = max(b for _, b in stages)
        lines.append({"Event": "SparkListenerJobStart", "Job ID": job,
                      "Submission Time": int(lo * 1000), "Stage IDs": ids,
                      "Properties": {"spark.job.description": f"pb-{op}"}})
        for sid, (a, b) in zip(ids, stages):
            for k in range(2):
                lines.append({
                    "Event": "SparkListenerTaskEnd", "Stage ID": sid,
                    "Task Info": {"Launch Time": int(a * 1000),
                                  "Finish Time": int(b * 1000) - k * 100,
                                  "Accumulables": [{
                                      "Name": "time to run Python workers",
                                      "Update": "7"}]},
                    "Task Metrics": {
                        "Executor Run Time": 10, "Executor CPU Time": 10**6,
                        "JVM GC Time": 1,
                        "Input Metrics": {"Bytes Read": 100},
                        "Shuffle Write Metrics": {
                            "Shuffle Bytes Written": 50,
                            "Shuffle Write Time": 2000},
                        "Shuffle Read Metrics": {"Local Bytes Read": 50,
                                                 "Remote Bytes Read": 0,
                                                 "Fetch Wait Time": 0}}})
            lines.append({"Event": "SparkListenerStageCompleted",
                          "Stage Info": {"Stage ID": sid,
                                         "Submission Time": int(a * 1000),
                                         "Completion Time": int(b * 1000)}})
        lines.append({"Event": "SparkListenerJobEnd", "Job ID": job,
                      "Completion Time": int(hi * 1000)})
        job += 1
        stage += len(stages)
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    with open(app / "events_1_local-1", "w") as f:
        for e in lines:
            f.write(json.dumps(e) + "\n")
    return read_event_log(str(tmp_path))


def test_event_log_attributes_stages_to_ops(tmp_path):
    log = _event_log(tmp_path, {1: [(10.0, 11.0), (11.0, 12.5)],
                                2: [(20.0, 21.0)]})
    tot = stage_sums(log, {1})
    assert tot["jobs"] == 1 and tot["stages"] == 2 and tot["tasks"] == 4
    assert tot["scan_bytes"] == 400 and tot["python_run_ms"] == 28
    assert tot["shuffle_write_ns"] == 8000
    assert tot["task_skew"] > 1.0


def test_breakdown_reconciles_op_wall(tmp_path):
    log = _event_log(tmp_path, {1: [(10.0, 11.0), (11.0, 12.5)],
                                2: [(20.0, 21.0)]})
    parts = op_breakdown(log, {1: (9.5, 13.0), 2: (19.0, 21.5)})
    b = parts[1]
    assert b["wall_s"] == pytest.approx(3.5)
    assert b["stage_s"] == pytest.approx(2.5)
    assert b["driver_gap_s"] == pytest.approx(1.0)
    assert reconciles(b, bench_run.RECONCILE_REL, bench_run.RECONCILE_ABS_S)
    # a stage attributed to the wrong op leaves a hole the check catches
    wrong = dict(b, stage_s=1.0, residual_s=1.5)
    assert not reconciles(wrong, bench_run.RECONCILE_REL,
                          bench_run.RECONCILE_ABS_S)


def test_span_self_time():
    tr = Tracer()
    tr.enabled = True
    with tr.span("parent", 1):
        with tr.span("child"):
            pass
    parent, child = tr.spans
    assert child["parent"] == parent["id"] and child["op"] == 1
    assert 0 <= tr.self_time("parent") <= tr.total("parent")


class _FakeQuery:
    """Stands in for a declared query's DataFrame: a plan whose noop
    write does nothing."""
    schema = None

    @property
    def write(self):
        return self

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        pass


class _FakeSpark:
    """Just enough of a SparkSession for ops to be tagged and py4j round
    trips counted."""

    class sparkContext:
        class _gateway:
            class _gateway_client:
                @staticmethod
                def send_command(*a, **kw):
                    return None

        @staticmethod
        def setJobDescription(_):
            pass


def test_only_timed_passes_feed_the_traced_layers(tmp_path):
    from types import SimpleNamespace

    from perfbench.wl_olap import OLAP_QUERIES, Olap

    ctx = Context("olap", 1, 2, True, out=str(tmp_path),
                  work=str(tmp_path), spark=_FakeSpark())
    ctx.tracer.enabled = True
    wl = Olap(ctx)
    wl.registry = {q: SimpleNamespace(fn=lambda spark, sf: _FakeQuery())
                   for q in OLAP_QUERIES}
    wl.warmup(check=False)
    assert wl.build_s == [] and wl.py4j == []
    assert all(w == [] for w in wl.walls.values())
    m = wl.measure(2)
    assert len(wl.build_s) == len(m.passes) >= 1
    assert all(len(w) == len(m.passes) for w in wl.walls.values())
    assert isinstance(m, Measured) and m.first_op is not None


@pytest.mark.skipif(os.environ.get("PERFBENCH_SLOW") != "1",
                    reason="starts Spark; set PERFBENCH_SLOW=1")
def test_traced_run_reconciles_every_op():
    """A short traced olap run: every op's stage time plus driver gap
    accounts for its wall within the stated tolerance, and every
    per-layer metric is reported."""
    seed = 97
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap", "--seed",
         str(seed), "--seconds", "1", "--trace", "1"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        per_layer = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(result["metrics"]) == per_layer
    assert result["metrics"]["trace.reconciled_ratio"]["value"] == 1.0
    out = os.path.join(REPO, "perfbench", "out", f"olap-s{seed}")
    with open(os.path.join(out, "ops.jsonl")) as f:
        ops = [json.loads(line) for line in f]
    assert len(ops) == 12
    for b in ops:
        assert reconciles(b, bench_run.RECONCILE_REL,
                          bench_run.RECONCILE_ABS_S), b
