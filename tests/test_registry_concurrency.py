"""Registry layer under CONCURRENCY (r11 verdict #6) — the one surface
that had correctness-only coverage. Two real concerns:

1. The SQLite registry claims cross-PROCESS safety (version numbers
   allocated under ``BEGIN IMMEDIATE``'s write lock, stage transitions
   visible across processes). Claim ≠ test: this suite runs ≥2 separate
   OS processes hammering one db file and asserts the allocation
   sequence is exactly 1..N with no duplicate and the stage machine
   lands consistent.

2. Version allocation is a ``max+1`` read-modify-write, so THREADS
   sharing one registry object must not both read max=N and both take
   N+1: the write lock serializes them too.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import threading
import time

from pravega_flink_ai_flow_spark.ml.registry import (
    ModelRegistry,
    ModelVersionStage,
)

N_PROCS = 3
N_PER_PROC = 20


def _sqlite_writer(db_path: str, worker: int, out_path: str) -> None:
    """One writer process: allocate N versions, promote each of its own
    allocations GENERATED → VALIDATED, then report what it saw."""
    reg = ModelRegistry(db_path)
    got = []
    for i in range(N_PER_PROC):
        mv = reg.register_model_version("m", f"/models/w{worker}/{i}")
        reg.update_model_version("m", mv.version,
                                 ModelVersionStage.VALIDATED)
        got.append(mv.version)
    with open(out_path, "w") as f:
        json.dump(got, f)


def test_sqlite_concurrent_writers_allocate_unique_versions(tmp_path):
    db = str(tmp_path / "reg.db")
    ctx = mp.get_context("spawn")   # no inherited state, like real jobs
    outs = [str(tmp_path / f"w{w}.json") for w in range(N_PROCS)]
    t0 = time.perf_counter()
    procs = [ctx.Process(target=_sqlite_writer, args=(db, w, outs[w]))
             for w in range(N_PROCS)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(120)
        assert p.exitcode == 0
    wall = time.perf_counter() - t0

    per_proc = [json.load(open(o)) for o in outs]
    allocated = sorted(v for vs in per_proc for v in vs)
    n = N_PROCS * N_PER_PROC
    # THE assertion: no duplicate, no gap — the write lock serialized
    # every max+1 allocation across processes
    assert allocated == list(range(1, n + 1)), allocated

    # stage machine consistent across processes: every version exists
    # exactly once and was promoted by exactly its allocating process
    reg = ModelRegistry(db)
    versions = reg.versions("m")
    assert len(versions) == n
    assert all(v.current_stage == ModelVersionStage.VALIDATED
               for v in versions)
    # and a cross-process read sees a deploy made here
    reg.update_model_version("m", allocated[-1], ModelVersionStage.DEPLOYED)
    assert ModelRegistry(db).get_deployed_model_version(
        "m").version == allocated[-1]
    rate = (2 * n) / wall   # each version = 1 allocation + 1 promotion
    print(f"sqlite registry: {N_PROCS} writer processes, "
          f"{n} versions + {n} promotions in {wall:.2f}s "
          f"({rate:.0f} mutations/s)")


def _writer_thread(reg, worker: int, got: list) -> None:
    for i in range(N_PER_PROC):
        mv = reg.register_model_version("m", f"/models/t{worker}/{i}")
        reg.update_model_version("m", mv.version,
                                 ModelVersionStage.VALIDATED)
        got.append(mv.version)


def test_concurrent_threads_allocate_unique_versions(tmp_path):
    """4 threads sharing one registry object allocate exactly 1..N: no
    two threads read the same max and both take max+1."""
    db = str(tmp_path / "a.db")
    reg = ModelRegistry(db)
    results: list[list] = [[] for _ in range(4)]
    t0 = time.perf_counter()
    threads = [threading.Thread(target=_writer_thread,
                                args=(reg, w, results[w]))
               for w in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    wall = time.perf_counter() - t0
    allocated = sorted(v for r in results for v in r)
    n = 4 * N_PER_PROC
    assert allocated == list(range(1, n + 1)), allocated
    # a fresh object over the same store sees every promotion
    versions = ModelRegistry(db).versions("m")
    assert [v.version for v in versions] == list(range(1, n + 1))
    assert all(v.current_stage == ModelVersionStage.VALIDATED
               for v in versions)
    print(f"sqlite registry: 4 writer threads, {n} versions + "
          f"{n} promotions in {wall:.2f}s ({2 * n / wall:.0f} mutations/s)")


def test_sqlite_stage_visibility_across_fresh_connections(tmp_path):
    """A stage transition made through one registry object is visible
    to a brand-new one over the same file (each op opens a fresh
    connection — the cross-process read path without the processes)."""
    db = str(tmp_path / "reg.db")
    a = ModelRegistry(db)
    mv = a.register_model_version("m", "/models/x")
    a.update_model_version("m", mv.version, ModelVersionStage.DEPLOYED)
    b = ModelRegistry(db)
    assert b.get_deployed_model_version("m").version == mv.version
    b.update_model_version("m", mv.version, ModelVersionStage.DEPRECATED)
    assert a.get_deployed_model_version("m") is None
