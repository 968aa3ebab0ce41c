"""``olap``: twelve relational declared queries over seeded TPC-H-like
tables, closed loop, one client.

One op is ``registry[name].fn(spark, sf_dir)`` (the Python plan build)
followed by a noop-sink write. A pass runs every query once, in an order
the seed shuffles per pass. The set-up ends with a warm-up pass that
collects every query and compares it with its DuckDB oracle; the time
the oracle and the comparison take is not set-up time. The warm-up runs
the queries in one fixed order: the order a cold JVM first meets them in
set how fast every later pass of the run went (one seed's order made all
its passes about 30% slower), so a seeded warm-up order would make the
seed, not the engine, move ``pass_s``.
"""

from __future__ import annotations

import importlib.util
import math
import os
import random
import statistics
import time

from perfbench import datagen
from perfbench.harness import REPO, Context, Measured

OLAP_QUERIES = (
    "a1_pricing_summary", "a3_count_distinct", "j2_broadcast_dim_join",
    "j3_large_large_join", "j9_asof_join", "tpch_q3", "tpch_q5",
    "tpch_q18", "w4_running_sum", "o3_topk_per_group", "t5_session_window",
    "f_explode_wordcount",
)
SF = 0.01          # lineitem ≈ 60k rows: fits a run in the time budget
# A run makes a fixed number of passes per second of --seconds: the same
# work on every commit, and always the same passes down the JIT warm-up
# curve (a time limit would let a faster commit run further down it).
PASSES_PER_S = 0.5
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents")


def _oracle_tools():
    """``canon_rows`` and ``type_mismatches`` from the repository's
    correctness checker, the same canonicalization the gate uses."""
    path = os.path.join(REPO, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_rows, mod.type_mismatches


def same_rows(a: list[tuple], b: list[tuple]) -> bool:
    """Canonical rows equal, floats within a summation-order tolerance
    (1e-9 relative, 1e-6 absolute)."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if x == y:
                continue
            if isinstance(x, float) and isinstance(y, float) and \
                    math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                continue
            return False
    return True


class Olap:
    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        # The engine's maximum heap stands; its first 2 GB are committed
        # and touched at JVM start. Without this the heap grew
        # differently in every run, and peak memory and pass walls spread
        # by 0.13 and 0.22 from run to run (see README.md).
        ctx.java_options = "-Xms2g -XX:+AlwaysPreTouch"
        self.rng = random.Random(ctx.seed)
        self.sf_dir = ""
        self.registry = None
        self.build_s: list[float] = []     # per traced timed pass
        self.py4j: list[int] = []          # per traced timed pass
        self.walls: dict[str, list[float]] = {q: [] for q in OLAP_QUERIES}

    # -- harness interface -------------------------------------------------

    def make_inputs(self) -> float:
        t0 = time.perf_counter()
        self.sf_dir = os.path.dirname(self.ctx.path("tables", "x"))
        datagen.make_tables(self.sf_dir, self.ctx.seed, SF)
        return time.perf_counter() - t0

    def setup(self) -> None:
        """Load the query registry and resolve every table's metadata."""
        from pravega_flink_ai_flow_spark.queries import load_all, tables

        self.registry = load_all()
        for df in tables(self.ctx.spark, self.sf_dir, *TABLES):
            df.schema

    def release(self) -> None:
        pass

    def warmup(self, check: bool) -> float:
        """One warm-up pass. With ``check`` it collects every query and
        compares it with its DuckDB oracle, otherwise it runs the timed
        ops unrecorded. Returns the seconds the checking itself took."""
        if check:
            return self._check_pass()
        self._pass(Measured(), record=False)
        return 0.0

    def _check_pass(self) -> float:
        import duckdb

        t0 = time.perf_counter()
        canon_rows, type_mismatches = _oracle_tools()
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{self.sf_dir}/{t}.parquet'")
        engine_s = 0.0        # fn() and collect(): the warm-up itself
        for name in OLAP_QUERIES:
            q = self.registry[name]
            self.ctx.next_op()
            try:
                t_engine = time.perf_counter()
                sdf = q.fn(self.ctx.spark, self.sf_dir)
                rows = [tuple(r) for r in sdf.collect()]
                engine_s += time.perf_counter() - t_engine
                rel = con.sql(q.oracle)
                _, mine = canon_rows(sdf.columns, rows)
                _, want = canon_rows(rel.columns, rel.fetchall())
            except Exception as e:  # any engine error fails the check
                self.ctx.attempted += 1
                self.ctx.fail(f"{name}: check raised", e)
                continue
            self.ctx.check(bool(rows) and same_rows(mine, want)
                           and sorted(sdf.columns) == sorted(rel.columns)
                           and not type_mismatches(sdf, rel),
                           f"{name}: result differs from its oracle")
        con.close()
        return time.perf_counter() - t0 - engine_s

    def measure(self, seconds: float) -> Measured:
        m = Measured(first_op=time.perf_counter())
        for _ in range(max(1, round(seconds * PASSES_PER_S))):
            m.passes.append(self._pass(m, record=self.ctx.tracer.enabled))
        return m

    def layers(self, m: Measured) -> dict:
        out = {"queries.build_s": statistics.median(self.build_s),
               "queries.build_py4j_calls": statistics.median(self.py4j)}
        for q, walls in self.walls.items():
            out[f"query.{q}_s"] = statistics.median(walls) if walls else 0.0
        return out

    # -- internals ---------------------------------------------------------

    def _order(self) -> list[str]:
        names = list(OLAP_QUERIES)
        self.rng.shuffle(names)
        return names

    def _pass(self, m: Measured, record: bool) -> float:
        """Run every op once; with ``record``, keep the pass's per-query
        walls, build time and py4j round trips for the traced layers."""
        from perfbench.trace import Py4jCounter

        ctx, tr = self.ctx, self.ctx.tracer
        counter = Py4jCounter(ctx.spark) if record else None
        build = 0.0
        t_pass = time.perf_counter()
        for name in self._order():
            fn = self.registry[name].fn
            op = ctx.next_op()
            m.ops_attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span("op", op):
                    with tr.span("queries.build"):
                        if counter:
                            with counter.count():
                                df = fn(ctx.spark, self.sf_dir)
                                df.schema
                        else:
                            df = fn(ctx.spark, self.sf_dir)
                    build += time.perf_counter() - t0
                    with tr.span("exec.noop_write"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # counted; the pass goes on
                ctx.fail(f"{name}: op raised", e)
                continue
            wall = time.perf_counter() - t0
            m.latencies_ms.append(wall * 1e3)
            m.ops.add(op)
            if record:
                self.walls[name].append(wall)
        if record:
            self.build_s.append(build)
            self.py4j.append(counter.calls)
        return time.perf_counter() - t_pass
