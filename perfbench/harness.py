"""Run context shared by the workloads: paths, the Spark session the
benchmark starts and restarts, failure accounting, and the process-tree
memory sampler."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from perfbench.trace import OP_TAG, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    out: str                       # kept: trace output of this run
    work: str                      # scratch inputs, checkpoints; removed
    cores: int = field(default_factory=cpu_count)
    spark: object = None
    tracer: Tracer = field(default_factory=Tracer)
    extra_conf: dict = field(default_factory=dict)
    java_options: str = ""         # the workload's own JVM options
    eventlog_dir: str | None = None
    attempted: int = 0
    failed: int = 0
    _op: int = 0

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    # -- session -----------------------------------------------------------

    def start_session(self) -> float:
        """Start (or restart) the engine session; return its start
        seconds. ``local[N]`` is capped at the cores this process may
        use. The JVM keeps Spark's and its own temporary files under the
        run's directory."""
        from pravega_flink_ai_flow_spark.engine.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp', 'jvm')} "
                f"-XX:-UsePerfData {self.java_options}",
            **self.extra_conf,
        }
        t0 = time.perf_counter()
        with self.tracer.span("engine.get_spark"):
            self.spark = get_spark(f"perfbench-{self.workload}",
                                   master=f"local[{self.cores}]",
                                   extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def live_heap_mb(self) -> float:
        """JVM heap in use right after a full collection: what the
        engine keeps in memory (caches, broadcasts still held, state)."""
        runtime = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        self.spark.sparkContext._jvm.java.lang.System.gc()
        return (runtime.totalMemory() - runtime.freeMemory()) / 2**20

    @staticmethod
    def stop_jvm() -> None:
        """End the JVM the session started (its Python workers go with
        it) and wait until it has exited. The JVM exits when its stdin
        closes."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is None:
            return
        gateway.close()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- ops and failures ----------------------------------------------------

    def next_op(self) -> int:
        """A fresh op id; Spark jobs started until the next call carry it
        in their job description."""
        self._op += 1
        self.spark.sparkContext.setJobDescription(f"{OP_TAG}{self._op}")
        return self._op

    def fail(self, what: str, exc: BaseException | None = None) -> None:
        """Count one failed op and say why on stderr."""
        self.failed += 1
        print(f"FAILED {self.workload}: {what}", file=sys.stderr)
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness check; a false ``ok`` is a failure."""
        self.attempted += 1
        if not ok:
            self.fail(what)
        return ok


@dataclass
class Measured:
    """What one measurement window produced."""
    passes: list[float] = field(default_factory=list)        # s per pass
    latencies_ms: list[float] = field(default_factory=list)  # per op
    ops: set[int] = field(default_factory=set)   # op ids of timed ops
    ops_attempted: int = 0
    exec_units: int = 0     # what event-log totals are divided by
    first_op: float | None = None   # perf_counter() when timing began


class MemorySampler:
    """Peak memory of this process and all its descendants (the JVM and
    Python workers), sampled from /proc every ``interval`` s. Each
    sample sums the processes' proportional set sizes (Pss: resident
    pages, with a page shared by n processes counted 1/n in each), so
    Python workers forked from one daemon are not counted n times over."""

    def __init__(self, interval: float = 0.25) -> None:
        self.peak_bytes = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="memory-sampler")

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:          # process ended while we looked
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:          # process ended while we looked
                continue
        self.peak_bytes = max(self.peak_bytes, total)
