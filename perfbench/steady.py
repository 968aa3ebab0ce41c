"""Steadiness tool: run one workload repeatedly and check each
end-to-end metric's spread against the bound ``BENCHMARK.json`` fixes.

    python3 perfbench/steady.py --workload olap --runs 10 --seed 1
    python3 perfbench/steady.py --workload olap --runs 10 --seed 1 \\
        --vary-seed --against perfbench/out/steady-olap.json

Each run is ``perfbench/run.py`` in a fresh process with the run length
from ``BENCHMARK.json``. With ``--vary-seed`` run i uses seed + i,
otherwise every run uses the same seed. For each metric it prints the
median, the quartiles (``statistics.quantiles(values, n=4)``) and the
spread (q3 - q1) / median, and marks a spread over the metric's bound.
``--against`` compares the medians
with an earlier result of this tool: a median worse by more than the
bound fails. The result is written to perfbench/out/steady-<workload>.json.
Exits 1 when a run fails or a check does not hold.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:] = [REPO] + [p for p in sys.path
                        if os.path.abspath(p or ".") != HERE]

from perfbench.stats import spread  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--vary-seed", action="store_true")
    p.add_argument("--against", help="an earlier steady-<workload>.json")
    args = p.parse_args(argv)

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {k: [] for k in metrics}
    runs, ok = [], True
    for i in range(args.runs):
        seed = args.seed + i if args.vary_seed else args.seed
        cmd = bench["command"] + ["--workload", args.workload,
                                  "--seed", str(seed), "--seconds",
                                  str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and proc.returncode == 0 \
            else None
        if result is None or not result["correct"]:
            ok = False
            print(f"run {i} seed {seed}: FAILED (exit {proc.returncode})\n"
                  f"{proc.stderr[-2000:]}")
            continue
        for k in metrics:
            values[k].append(result["metrics"][k]["value"])
        runs.append({"seed": seed, "wall_s": wall,
                     "metrics": {k: result["metrics"][k]["value"]
                                 for k in metrics}})
        print(lines[-2] if len(lines) > 1 else "")
        print(f"run {i} seed {seed}: {wall:.1f} s  " + "  ".join(
            f"{k}={result['metrics'][k]['value']:.4g}" for k in metrics),
            flush=True)

    prior = None
    if args.against:
        with open(args.against) as f:
            prior = json.load(f)["summary"]
    summary = {}
    print(f"\n{args.workload}: {len(runs)} runs, mean wall "
          f"{sum(r['wall_s'] for r in runs) / max(1, len(runs)):.1f} s")
    for k, m in metrics.items():
        if len(values[k]) < 2:
            ok = False
            continue
        q1, med, q3, sp = spread(values[k])
        bound = m["bound"]
        flag = "ok"
        if sp > bound:
            flag, ok = "SPREAD OVER BOUND", False
        elif sp > bound / 3:
            flag = "over a third of the bound"
        if prior and k in prior:
            before = prior[k]["median"]
            worse = (med - before) / before if m["better"] == "lower" \
                else (before - med) / before
            if worse > bound:
                flag, ok = f"MEDIAN WORSE BY {worse:.1%}", False
        summary[k] = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                      "bound": bound, "values": values[k]}
        print(f"  {k:18s} median {med:12.4f} {m['unit']:5s} q1 {q1:12.4f} "
              f"q3 {q3:12.4f} spread {sp:6.3f} bound {bound:5.2f}  {flag}")
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", f"steady-{args.workload}.json"),
              "w") as f:
        json.dump({"workload": args.workload, "runs": runs,
                   "summary": summary}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
