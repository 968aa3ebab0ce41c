#!/usr/bin/env python
"""Time declared queries at a scale factor (default sf0.1) — the
breadth companion to bench.py's 17-query headline: one warmup run and
two timed runs per query (min reported), full-plan execution via noop
sink, each query's jobs tagged with its name (``setJobDescription``).

    python tools/time_all.py [--sf DIR] [query ...]

With no query names every declared query is timed, TIMINGS.json is
written at the repo root, and the total plus the slowest 15 are
printed. Named queries only print their timings.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default="/root/testdata/sf0.1",
                    help="table directory (%(default)s)")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from pravega_flink_ai_flow_spark.engine.session import get_spark
    from pravega_flink_ai_flow_spark.queries import load_all

    registry = load_all()
    unknown = [n for n in args.queries if n not in registry]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    spark = get_spark("time-all")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name in args.queries or sorted(registry):
        spark.sparkContext.setJobDescription(f"time_all: {name}")
        try:
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                registry[name].fn(spark, args.sf).write.format("noop") \
                    .mode("overwrite").save()
                runs.append(time.perf_counter() - t0)
            timings[name] = round(min(runs[1:]), 3)
        except Exception as e:  # noqa: BLE001 — record, keep timing others
            failures[name] = f"{type(e).__name__}: {str(e)[:200]}"
    spark.stop()

    if args.queries:
        for name, t in timings.items():
            print(f"{t:7.3f}  {name}")
        print(json.dumps({"queries": timings, "failures": failures}))
        return

    # the artifact must cover the ENTIRE registry it was run against
    # (tests/test_artifact_coverage.py), or say loudly that it doesn't
    missing = sorted(set(registry) - set(timings) - set(failures))
    assert not missing, (
        f"TIMINGS is stale vs the registry: {len(missing)} declared "
        f"queries never ran: {missing}")
    out = {
        "sf_dir": args.sf,
        "n_queries": len(timings),
        "registry_size": len(registry),
        "total_steady_sec": round(sum(timings.values()), 3),
        "failures": failures,
        "queries": timings,
    }
    path = os.path.join(REPO, "TIMINGS.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({k: out[k] for k in
                      ("sf_dir", "n_queries", "total_steady_sec", "failures")}))
    worst = sorted(timings.items(), key=lambda kv: -kv[1])[:15]
    for name, t in worst:
        print(f"  {t:6.2f}s  {name}")


if __name__ == "__main__":
    main()
