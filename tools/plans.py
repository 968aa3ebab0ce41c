#!/usr/bin/env python
"""Physical-plan inspection for the declared queries: every subcommand
reads ``explain("formatted")`` taken on a cache-free session.

    python tools/plans.py [--sf DIR] dump DIR [query ...]
        write DIR/<query>.txt, the evidence for plan-shape claims
    python tools/plans.py [--sf DIR] fingerprint OUT.json
        a hash of every query's normalized plan; diff two revisions'
        files to find the queries whose plan changed
    python tools/plans.py [--sf DIR] census OUT.json [query ...]
        scan, exchange and join counts per query, with the smells
        (duplicate scan signatures, CartesianProduct, BatchEvalPython)

No query names means every declared query. ``--sf`` names the table
directory; the default is the sf0.01 tier the oracle gate checks.
"""
from __future__ import annotations

import argparse
import hashlib
import io
import json
import os
import re
import sys
from collections import Counter
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"


def formatted_plan(spark, query: str, sf_dir: str) -> str:
    """The formatted plan of one declared query. The cache is cleared
    first: an earlier query's ``persist()`` would otherwise rewrite this
    plan's matching subtrees to InMemoryRelation, so the plan would
    depend on which queries ran before it."""
    from pravega_flink_ai_flow_spark.queries import load_all
    spark.catalog.clearCache()
    df = load_all()[query].fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _field(block: str, name: str) -> str:
    m = re.search(rf"^{name}: (.*)$", block, re.M)
    return m.group(1) if m else ""


def _blocks(plan: str, node: str) -> list[str]:
    """The detail blocks (``(n) <node>`` and the lines below it) of one
    node type."""
    return [b for b in plan.split("\n\n")
            if re.match(rf"\(\d+\) {node}\b", b.lstrip("\n"))]


def scan_signatures(plan: str) -> list[tuple[str, str, str]]:
    """``(table, ReadSchema, PushedFilters)`` of every parquet scan-detail
    block. Each field is looked up on its own: Spark 4.1 prints
    PushedFilters before ReadSchema, and an unfiltered scan has none."""
    sigs = []
    for block in _blocks(plan, "Scan parquet"):
        loc = re.search(r"^Location: .*?\[(?:file:)?([^,\]]+)", block, re.M)
        table = os.path.basename(loc.group(1).rstrip("/")) if loc else ""
        sigs.append((table.replace(".parquet", ""),
                     _field(block, "ReadSchema"),
                     _field(block, "PushedFilters")))
    return sigs


def census_record(plan: str) -> dict:
    """Counts and smells of one formatted plan. ``dup_scans`` is the
    largest number of scans that share one signature (0 when none
    repeats); ``single_partition`` counts the exchanges that funnel all
    rows into one task."""
    sigs = Counter(scan_signatures(plan))
    exchanges = _blocks(plan, "Exchange")
    dups = {"|".join(s): n for s, n in sigs.items() if n > 1}
    return {
        "scans_per_table": dict(Counter(s[0] for s in sigs.elements())),
        "dup_scan_signatures": dups,
        "dup_scans": max(dups.values(), default=0),
        "exchanges": len(exchanges),
        "single_partition": sum(
            _field(b, "Arguments").startswith("SinglePartition")
            for b in exchanges),
        "bhj": len(_blocks(plan, "BroadcastHashJoin")),
        "smj": len(_blocks(plan, "SortMergeJoin")),
        "cartesian": "CartesianProduct" in plan,
        "batch_eval_python": "BatchEvalPython" in plan,
    }


def normalize(plan: str) -> str:
    """Strip ids, statistics, paths and counters so only the plan's
    shape is hashed."""
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"\[id=#?\d+\]", "[id=N]", plan)
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics(N)", plan)
    # scratch dirs carry random suffixes, warehouse paths the checkout's
    # absolute prefix
    plan = re.sub(r"file:[^\s,\]]+", "file:X", plan)
    plan = re.sub(r"Location: \S+ \[[^\]]*\]", "Location: X", plan)
    # lambda variables carry a session-global counter, RDD ids a
    # per-context serial
    plan = re.sub(r"lambda [a-z]+_\d+", "lambda v", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    return plan


def _write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1)
    print("wrote", path)


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", default=SF, help="table directory (%(default)s)")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("dump").add_argument("dir")
    sub.add_parser("fingerprint").add_argument("out")
    sub.add_parser("census").add_argument("out")
    for cmd in ("dump", "census"):
        sub.choices[cmd].add_argument("queries", nargs="*")
    args = ap.parse_args(argv)

    from pravega_flink_ai_flow_spark.engine.session import get_spark
    from pravega_flink_ai_flow_spark.queries import load_all

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    names = getattr(args, "queries", None) or sorted(load_all())
    plans, errors = {}, {}
    for name in names:
        try:
            plans[name] = formatted_plan(spark, name, args.sf)
        except Exception as e:  # noqa: BLE001 - reported per query
            errors[name] = f"ERROR: {type(e).__name__}: {str(e)[:120]}"
            print(name, errors[name], file=sys.stderr)
    spark.stop()

    if args.cmd == "dump":
        os.makedirs(args.dir, exist_ok=True)
        for name, plan in plans.items():
            with open(os.path.join(args.dir, f"{name}.txt"), "w") as fh:
                fh.write(plan)
        print(f"wrote {len(plans)} plans to {args.dir}")
    elif args.cmd == "fingerprint":
        _write_json(args.out, {
            **{n: hashlib.sha256(normalize(p).encode()).hexdigest()[:16]
               for n, p in plans.items()}, **errors})
    else:
        recs = {n: census_record(p) for n, p in plans.items()}
        _write_json(args.out, {"sf_dir": args.sf, "queries": recs,
                               "errors": errors})
        print(f"{len(recs)} plans:",
              sum(r["cartesian"] for r in recs.values()), "CartesianProduct,",
              sum(r["batch_eval_python"] for r in recs.values()),
              "BatchEvalPython")
        for n, r in recs.items():
            marks = [f"{k}={r[k]}" for k in ("dup_scans", "single_partition",
                                             "cartesian", "batch_eval_python")
                     if r[k]]
            if marks:
                print(f"  {n}: {', '.join(marks)}")
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
