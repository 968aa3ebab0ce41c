"""Benchmark entry point.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 10 --trace 0

Runs one workload from a seed on ``local[N]`` (N = the cores this
process may use), checks the engine's outputs, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and the
metrics — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Exits 1 when any op or check failed.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from statistics import median  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DEADLINE_S = 170  # a run still going after this is killed and fails
# the stage time plus driver gap of a traced op must account for its
# wall within this tolerance (absolute seconds + share of the wall)
RECONCILE_ABS_S = 0.05
RECONCILE_REL = 0.05


def _environment(work: str) -> None:
    """Python workers import the engine from the repository root, and
    every file Spark or the JVM writes stays under ``work``."""
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # import this directory as the ``perfbench`` package, never as
    # top-level modules that could shadow the standard library
    sys.path[:] = [REPO] + [p for p in sys.path
                            if os.path.abspath(p or ".") != HERE]


def _watchdog() -> threading.Timer:
    """Kill the JVM and end the process with status 2 if the run
    outlives DEADLINE_S, so a hung Spark action cannot hang the run."""
    def abort():
        print(f"FAILED: run exceeded {DEADLINE_S} s", file=sys.stderr,
              flush=True)
        from pyspark import SparkContext
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(2)
    timer = threading.Timer(DEADLINE_S - (time.perf_counter() - T_PROCESS),
                            abort)
    timer.daemon = True
    timer.start()
    return timer


def _workload(name: str):
    if name == "olap":
        from perfbench.wl_olap import Olap
        return Olap
    from perfbench.wl_stream import StreamPredict
    return StreamPredict


def _metric_units() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name → unit, from BENCHMARK.json."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[k]}
                 for k in ("end_to_end", "per_layer"))


def _exec_layers(ctx, measured) -> dict:
    """Event-log metrics per pass over the traced ops, and the
    reconciliation of each traced op's wall."""
    from perfbench.trace import op_breakdown, read_event_log, reconciles
    from perfbench.trace import stage_sums

    log = read_event_log(ctx.eventlog_dir)
    spans = {s["op"]: (s["start"], s["end"]) for s in ctx.tracer.spans
             if s["name"] == "op" and s["op"] in measured.ops}
    parts = op_breakdown(log, spans)
    ok = [reconciles(b, RECONCILE_REL, RECONCILE_ABS_S)
          for b in parts.values()]
    for op, b in parts.items():
        if not reconciles(b, RECONCILE_REL, RECONCILE_ABS_S):
            print(f"# op {op} does not reconcile: {b}", file=sys.stderr)
    tot = stage_sums(log, set(spans))
    n = max(1, measured.exec_units or len(measured.passes))
    with open(os.path.join(ctx.out, "ops.jsonl"), "w") as f:
        for op, b in sorted(parts.items()):
            f.write(json.dumps({"op": op, **b}) + "\n")
    per = lambda k, scale=1.0: tot.get(k, 0) * scale / n  # noqa: E731
    return {
        "exec.jobs": per("jobs"), "exec.stages": per("stages"),
        "exec.tasks": per("tasks"),
        "exec.driver_gap_s": sum(b["driver_gap_s"]
                                 for b in parts.values()) / n,
        "exec.task_run_s": per("run_ms", 1e-3),
        "exec.task_cpu_s": per("cpu_ns", 1e-9),
        "exec.gc_s": per("gc_ms", 1e-3),
        "exec.scan_bytes": per("scan_bytes"),
        "exec.spill_bytes": per("spill_bytes"),
        "exec.shuffle_write_bytes": per("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": per("shuffle_read_bytes"),
        "exec.shuffle_write_s": per("shuffle_write_ns", 1e-9),
        "exec.shuffle_fetch_wait_s": per("fetch_wait_ms", 1e-3),
        "exec.task_skew": tot.get("task_skew", 0.0),
        "exec.python_boot_s": per("python_boot_ms", 1e-3),
        "exec.python_init_s": per("python_init_ms", 1e-3),
        "exec.python_run_s": per("python_run_ms", 1e-3),
        "exec.arrow_to_python_bytes": per("arrow_to_python_bytes"),
        "exec.arrow_from_python_bytes": per("arrow_from_python_bytes"),
        "trace.reconciled_ratio": sum(ok) / len(ok) if ok else 0.0,
    }, all(ok) and bool(ok)


def run(args) -> int:
    out = os.path.join(HERE, "out", f"{args.workload}-s{args.seed}")
    shutil.rmtree(out, ignore_errors=True)
    work = os.path.join(out, "work")
    os.makedirs(work)
    _environment(work)

    from perfbench.harness import Context, MemorySampler
    from perfbench.stats import percentile, tail_percentile
    from perfbench.trace import eventlog_conf

    end_to_end, per_layer = _metric_units()
    watchdog = _watchdog()
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace),
                  out=out, work=work)
    wl = _workload(args.workload)(ctx)
    if ctx.trace:
        # Spark's event log, for the traced run only
        ctx.eventlog_dir = os.path.join(out, "eventlog")
        os.makedirs(ctx.eventlog_dir)
        ctx.extra_conf.update(eventlog_conf(ctx.eventlog_dir))
    with MemorySampler() as mem:
        try:
            t_inputs = wl.make_inputs()
            session_s = ctx.start_session()
            wl.setup()
            t_warm = time.perf_counter()
            check_s = wl.warmup(check=True)
            warm_s = time.perf_counter() - t_warm - check_s
            m = wl.measure(args.seconds if not ctx.trace
                           else args.seconds / 2)
            # one cold set-up: process start to the first timed op, less
            # input generation and the benchmark's own checks
            setup_s = m.first_op - T_PROCESS - t_inputs - check_s
            if ctx.trace:
                # the same session again, now with spans and counters on
                base = m
                ctx.attempted += base.ops_attempted
                ctx.tracer.enabled = True
                with ctx.tracer.span("run"):
                    wl.warmup(check=False)
                    m = wl.measure(args.seconds / 2)
                ctx.tracer.enabled = False
                live_heap_mb = ctx.live_heap_mb()
        finally:
            wl.release()
            ctx.stop_session()
            ctx.stop_jvm()
    ctx.attempted += m.ops_attempted
    correct = ctx.failed == 0
    lat = m.latencies_ms
    tail_p = tail_percentile(len(lat))
    print(f"# {args.workload} seed={args.seed} local[{ctx.cores}] "
          f"passes={[round(x, 2) for x in m.passes]} "
          f"latency_samples={len(lat)} "
          f"tail=p{tail_p:g} attempted={ctx.attempted} failed={ctx.failed} "
          f"error_ratio={ctx.failed / max(1, ctx.attempted):.4g} "
          f"inputs={t_inputs:.1f}s session={session_s:.1f}s "
          f"warmup={warm_s:.1f}s setup={setup_s:.1f}s check={check_s:.1f}s "
          f"wall={time.perf_counter() - T_PROCESS:.1f}s")
    if not ctx.trace:
        values = {
            "setup_s": setup_s,
            "pass_s": median(m.passes),
            "latency_p50_ms": median(lat),
            "latency_tail_ms": percentile(lat, tail_p),
            "peak_mem_mb": mem.peak_bytes / 2**20,
        }
        units = end_to_end
    else:
        values = {k: 0.0 for k in per_layer}
        values["engine.session_start_s"] = session_s
        values["jvm.live_heap_mb"] = live_heap_mb
        values.update(wl.layers(m))
        exec_layers, reconciled = _exec_layers(ctx, m)
        values.update(exec_layers)
        values["trace.overhead_ratio"] = median(m.passes) / median(
            base.passes)
        if not reconciled:
            ctx.failed += 1
            ctx.attempted += 1
            correct = False
            print("FAILED trace: an op does not reconcile", file=sys.stderr)
        values["error_ratio"] = ctx.failed / max(1, ctx.attempted)
        ctx.tracer.write(os.path.join(out, "spans.jsonl"))
        with open(os.path.join(out, "layers.json"), "w") as f:
            json.dump(values, f, indent=1, sort_keys=True)
        units = per_layer
    watchdog.cancel()
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in units.items()}}))
    return 0 if correct else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["olap", "stream_predict"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return run(p.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
