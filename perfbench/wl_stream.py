"""``stream_predict``: the reference's predict-over-Pravega job.

Open loop on a fixed schedule: a generator thread appends iris-shaped
events to a benchmark-owned ``PravegaEmulatorServer`` at a constant rate.
Each event carries ``created_us``, the time it was due. About a tenth of
the events are sent twice, and event timestamps arrive out of order
within the watermark. The pipeline is ``pravega_socket`` readStream →
``stream_dedup_within_watermark(event_id)`` → the deployed model's
predict UDF → exactly-once ``pravega_socket`` sink, on a processing-time
trigger. The session keeps the engine's own configuration, its shuffle
partitions included. Latency runs from when an event was due to the
moment the sink commit that makes it visible returns.

The generator starts with the query. The timed window opens at the
first micro-batch to start after the query finished its first batch
(the cold one) and closes at the first batch to start ``--seconds`` or
more later; the generator stops there, and the run ends when that last
batch has committed. Both ends fall on batch starts, so the window
always covers whole batch cycles and the latency figures do not hang on
where in a cycle it happened to begin. A pass is one micro-batch:
``pass_s`` is the median trigger time of the batches that start inside
the window.

The model the stream serves comes from one refresh cycle of the
reference DAG (``iris_cycle``) run through ``workflow.Workflow`` before
timing, so the workflow, registry, stream-directory and CSV layers are
exercised and traced here too.
"""

from __future__ import annotations

import datetime
import json
import random
import statistics
import sys
import threading
import time

import numpy as np

from perfbench import datagen
from perfbench.harness import Context, Measured
from perfbench.iris_cycle import (
    FEATURES, MODEL, check_cycle, cycle_layers, open_sqlite_registry,
    run_cycle,
)
from perfbench.stats import percentile
from perfbench.trace import OP_TAG

# Events per second, fixed; never derived from the commit under test.
# About a third of the pipeline's drain capacity as first measured: a
# preloaded backlog of 20,000 events went through this pipeline with
# availableNow at 1.6-1.75k rows/s warm (0.9k cold) on 4 cores.
RATE = 550
WARM_BATCHES = 1           # batches with input before the window opens
MAX_WARM_S = 60.0          # the warm-in must end within this
MAX_BATCH_S = 40.0         # schedule slack per batch around the window
LATENCY_LIMIT_MS = 60_000  # an event later than this is a failure
TRIGGER = "250 milliseconds"
WATERMARK = "5 seconds"
MAX_DISORDER_S = 1.0       # event-time jitter, well inside the watermark
DUP_SHARE = 0.1
DUP_DELAY_S = 0.5
SCOPE = "bench"
IN_SCHEMA = ("event_id bigint, ts timestamp, sl double, sw double, "
             "pl double, pw double, created_us bigint")
SERVER_METHODS = ["read", "tail", "append", "txn_write", "txn_commit"]


def _epoch_s(iso: str) -> float:
    """Seconds since the epoch of a progress report's UTC timestamp."""
    return datetime.datetime.fromisoformat(
        iso.replace("Z", "+00:00")).timestamp()


class _Events:
    """Seeded iris-shaped events: features are a random iris row plus
    small noise."""

    def __init__(self, rng: np.random.Generator, iris: np.ndarray) -> None:
        self.rng = rng
        self.iris = iris
        self.next_id = 0

    def make(self, n: int) -> list[dict]:
        rows = self.iris[self.rng.integers(0, len(self.iris), n)]
        # unrounded noise: no two points are equally far from a training
        # row, so the model's answer does not hang on how a batch rounds
        x = rows + self.rng.normal(0, 0.05, rows.shape)
        out = []
        for f in x:
            out.append({"event_id": self.next_id, "sl": float(f[0]),
                        "sw": float(f[1]), "pl": float(f[2]),
                        "pw": float(f[3])})
            self.next_id += 1
        return out


class _Window:
    """The timed window of one open loop, set from the server calls the
    pipeline makes: each micro-batch starts with one tail call on the
    source (its ``latestOffset``) and ends with a sink commit."""

    def __init__(self, source: str, sink: str, seconds: float) -> None:
        self.source = source
        self.sink = sink
        self.seconds = seconds
        self.lock = threading.Lock()   # held while the generator appends
        self.commits = 0               # sink commits that added rows
        self.armed = False             # the warm-in is over
        self.start: float | None = None      # first batch start, epoch s
        self.start_pc: float | None = None   # the same, perf_counter()
        self.end: float | None = None        # last batch start, epoch s
        self.last_due: float = 0.0     # due time of the last event sent

    def on_commit(self, stream: str) -> None:
        if stream == self.sink:
            self.commits += 1
            self.armed = self.commits >= WARM_BATCHES

    def on_tail(self, stream: str) -> None:
        if stream != self.source or not self.armed or self.end is not None:
            return
        now = time.time()
        if self.start is None:
            self.start, self.start_pc = now, time.perf_counter()
        elif now >= self.start + self.seconds:
            with self.lock:            # nothing sent after this batch's
                self.end = now         # tail: it carries the last events


class StreamPredict:
    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.rng = np.random.default_rng(ctx.seed)
        self.server = None
        self.registry = None
        self.model = None
        self.query = None
        self.window: _Window | None = None
        self.commits: dict[str, list[tuple[int, float]]] = {}
        self.n_cycles = 0
        self.loops = 0
        self.progress: list[dict] = []
        self.backlog_samples: list[int] = []
        self.late_ms: list[float] = []
        self.dups_injected = 0
        self.dups_dropped = 0
        self.rates: list[float] = []
        self.traced_cycles = 0
        self.cycle_rng = random.Random(ctx.seed)

    # -- harness interface -------------------------------------------------

    def make_inputs(self) -> float:
        """The iris rows of the refresh cycle, and the event schedule:
        (seconds after the loop starts, event, event-time lag) in due
        order, duplicates included."""
        t0 = time.perf_counter()
        train, test = datagen.iris_rows()
        self.train_rows = train
        self.test_csv = self.ctx.path("iris_test.csv")
        datagen.write_csv(self.test_csv, test)
        events = _Events(self.rng, np.array([r[:4] for r in train + test]))
        n = int(RATE * (MAX_WARM_S + self.ctx.seconds + 2 * MAX_BATCH_S))
        lags = self.rng.uniform(0, MAX_DISORDER_S, n)
        sched = [(i / RATE, e, lag)
                 for i, (e, lag) in enumerate(zip(events.make(n), lags))]
        for i in self.rng.choice(n, int(n * DUP_SHARE), replace=False):
            off, e, lag = sched[i]
            sched.append((off + self.rng.uniform(0, DUP_DELAY_S), e, lag))
        sched.sort(key=lambda s: s[0])
        self.schedule = sched
        return time.perf_counter() - t0

    def setup(self) -> None:
        """Start the emulator and open a fresh SQLite model registry."""
        from pravega_flink_ai_flow_spark.io import pravega_source
        from pravega_flink_ai_flow_spark.io.pravega_server import (
            PravegaEmulatorServer,
        )

        ctx = self.ctx
        pravega_source.register(ctx.spark)
        self.server = PravegaEmulatorServer()
        ctx.tracer.wrap_methods(self.server, SERVER_METHODS, "server")
        self._record_commits(self.server)
        self.server.start()
        self.registry = open_sqlite_registry(
            ctx, "registry.db")

    def release(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()
        self.query = None
        if self.server is not None:
            self.server.stop()
            self.server = None

    def warmup(self, check: bool = True) -> float:
        """Deploy the model the stream serves with one refresh cycle of
        the reference DAG. The cycle is always checked (a cycle that
        does not deploy ends the run); returns the seconds the check
        took."""
        from pravega_flink_ai_flow_spark.ml.models import load_model

        ctx = self.ctx
        self.n_cycles += 1
        with ctx.tracer.span("refresh_cycle"):
            out = run_cycle(ctx, self.registry, self.train_rows,
                            self.test_csv, self.n_cycles, self.cycle_rng)
        ctx.spark.sparkContext.setJobDescription(None)
        t0 = time.perf_counter()
        if not check_cycle(ctx, out):
            raise RuntimeError("the refresh cycle did not deploy a model")
        check_s = time.perf_counter() - t0
        if ctx.tracer.enabled:
            self.traced_cycles += 1
        self.model = load_model(out["deployed"].model_path)
        return check_s

    def measure(self, seconds: float) -> Measured:
        m = Measured()
        self._open_loop(m, seconds)
        return m

    def layers(self, m: Measured) -> dict:
        tr = self.ctx.tracer
        n = max(1, m.exec_units)
        prog = self.progress
        median = statistics.median
        dur = lambda k: median([p["durationMs"].get(k, 0)  # noqa: E731
                                for p in prog]) if prog else 0.0
        state = [p["stateOperators"][0] for p in prog
                 if p.get("stateOperators")]
        return {
            # server calls per micro-batch
            "server.read_calls": tr.counts["server.read"] / n,
            "server.read_events": tr.counts["server.read_events"] / n,
            "server.tail_calls": tr.counts["server.tail"] / n,
            "server.txn_write_calls": tr.counts["server.txn_write"] / n,
            "server.txn_commit_calls": tr.counts["server.txn_commit"] / n,
            "server.busy_s": tr.busy["server.calls"] / n,
            # open-loop micro-batches
            "stream.batches": len(prog),
            "stream.rows_per_batch": median(
                [p["numInputRows"] for p in prog]) if prog else 0.0,
            "stream.trigger_ms": dur("triggerExecution"),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.latest_offset_ms": dur("latestOffset"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.commit_offsets_ms": dur("commitOffsets"),
            "stream.backlog_rows": float(np.mean(self.backlog_samples))
            if self.backlog_samples else 0.0,
            "stream.state_rows": median([s["numRowsTotal"] for s in state])
            if state else 0.0,
            "stream.state_memory_bytes": median(
                [s["memoryUsedBytes"] for s in state]) if state else 0.0,
            "stream.rows_dropped_by_watermark": sum(
                s.get("numRowsDroppedByWatermark", 0) for s in state),
            "stream.dedup_useful_ratio": self.dups_dropped
            / max(1, self.dups_injected),
            "stream.processed_rows_per_s": median(self.rates)
            if self.rates else 0.0,
            "gen.late_ms": percentile(self.late_ms, 99)
            if self.late_ms else 0.0,
            # the traced set-up's refresh cycle
            **cycle_layers(tr, self.traced_cycles),
        }

    # -- internals ---------------------------------------------------------

    def _record_commits(self, server) -> None:
        """Note when each sink commit returns and the tail it leaves:
        that is the moment its rows become visible to readers. Pass each
        tail call to the open window, and count the events served by
        ranged reads."""
        tr = self.ctx.tracer
        orig_tail = server.tail

        def tail(scope, stream):
            if self.window is not None:
                self.window.on_tail(stream)
            return orig_tail(scope, stream)
        server.tail = tail
        orig_read = server.read

        def read(scope, stream, start, end):
            events = orig_read(scope, stream, start, end)
            if tr.enabled:
                tr.add("server.read_events", len(events))
            return events
        server.read = read
        orig = server.txn_commit

        def txn_commit(scope, stream, txns, group=None, batch_id=None):
            resp = orig(scope, stream, txns, group, batch_id)
            if not resp.get("missing"):
                done = self.commits.setdefault(stream, [])
                grew = resp["tail"] > (done[-1][0] if done else 0)
                done.append((resp["tail"], time.time()))
                if grew and self.window is not None:
                    self.window.on_commit(stream)
            return resp
        server.txn_commit = txn_commit

    def _start_query(self, source: str, sink: str):
        """Start the pipeline from ``source`` to ``sink`` as a new op;
        return (op id, query). The query's name carries the op id into
        the job descriptions of its micro-batches."""
        from pravega_flink_ai_flow_spark.ml import ops as ml_ops
        from pravega_flink_ai_flow_spark.streaming.ops import (
            stream_dedup_within_watermark,
        )

        ctx, uri = self.ctx, self.server.controller_uri
        src = (ctx.spark.readStream.format("pravega_socket")
               .option("schema", IN_SCHEMA).option("controller", uri)
               .option("scope", SCOPE).option("stream", source).load())
        deduped = stream_dedup_within_watermark(src, ["event_id"], "ts",
                                                WATERMARK)
        scored = ml_ops.predict(deduped, registry=self.registry,
                                model_name=MODEL, feature_cols=FEATURES)
        op = ctx.next_op()
        query = (scored.select("event_id", "created_us", "prediction")
                 .writeStream.format("pravega_socket")
                 .queryName(f"{OP_TAG}{op}")
                 .option("controller", uri).option("scope", SCOPE)
                 .option("stream", sink)
                 .option("checkpointLocation", ctx.path("ck", sink))
                 .trigger(processingTime=TRIGGER).start())
        return op, query

    def _peek_tail(self, stream: str) -> int:
        """The stream's tail, read past the call counters: the
        benchmark's own polling is not load on the server."""
        return type(self.server).tail(self.server, SCOPE, stream)

    def _sink_rows(self, sink: str) -> list[dict]:
        return type(self.server).read(self.server, SCOPE, sink, 0,
                                      self._peek_tail(sink))

    def _check(self, sink: str, sent: dict[int, dict], what: str) -> list:
        """Every distinct sent id exactly once in the sink, with the
        deployed model's prediction; return the sink rows."""
        rows = self._sink_rows(sink)
        ids = [r["event_id"] for r in rows]
        dup = len(ids) - len(set(ids))
        lost = len(set(sent) - set(ids))
        extra = len(set(ids) - set(sent))
        got = [r for r in rows if r["event_id"] in sent]
        wrong = []
        if got:
            x = np.array([[sent[r["event_id"]][f] for f in FEATURES]
                          for r in got])
            want = self.model.predict(x).astype("float64")
            wrong = [(r["event_id"], r["prediction"], w)
                     for r, w in zip(got, want) if r["prediction"] != w]
        bad = dup + lost + extra + len(wrong)
        if bad:
            self.ctx.failed += bad
            print(f"FAILED stream_predict: {what}: {lost} lost, {dup} "
                  f"duplicated, {extra} unknown, {len(wrong)} mispredicted "
                  f"(id, got, want): {wrong[:5]}", file=sys.stderr)
        return rows

    def _open_loop(self, m: Measured, seconds: float) -> None:
        """Send the schedule at RATE from the query's start; time the
        events due in the window (see the module docstring)."""
        self.loops += 1
        source, sink = f"events-{self.loops}", f"live-{self.loops}"
        self.server.create_stream(SCOPE, source)
        win = self.window = _Window(source, sink, seconds)
        t0 = time.time() + 0.5
        evs = {}                       # a duplicate is the same event
        for off, e, lag in self.schedule:
            if e["event_id"] not in evs:
                evs[e["event_id"]] = {**e, "created_us": int((t0 + off) * 1e6),
                                      "ts": int((t0 + off - lag) * 1e6)}
        sched = [(t0 + off, evs[e["event_id"]])
                 for off, e, _ in self.schedule]
        sent: dict[int, dict] = {}
        late: list[float] = []
        appended = [0]
        quit_gen = threading.Event()

        def generate():
            i = 0
            while i < len(sched) and not quit_gen.is_set():
                now = time.time()
                if sched[i][0] > now:
                    time.sleep(min(0.005, sched[i][0] - now))
                    continue
                with win.lock:
                    if win.end is not None:
                        return
                    j = i
                    while j < len(sched) and sched[j][0] <= now:
                        j += 1
                    chunk = [e for _, e in sched[i:j]]
                    self.server.append(SCOPE, source, chunk)
                    late.append((time.time() - sched[i][0]) * 1e3)
                    for e in chunk:
                        sent[e["event_id"]] = e
                    appended[0] += len(chunk)
                    win.last_due = sched[j - 1][0]
                i = j

        seen: dict[int, dict] = {}
        gen = threading.Thread(target=generate, name="event-generator")
        with self.ctx.tracer.span("op") as sp:
            op, self.query = self._start_query(source, sink)
            if sp is not None:
                sp["op"] = op
            gen.start()
            try:
                while self.query.isActive:
                    time.sleep(0.1)
                    self._poll(seen, source, win.start is not None
                               and win.end is None)
                    if win.end is not None:
                        # done when the last batch's rows are in the sink
                        # and its progress report is out
                        if self._peek_tail(sink) >= len(sent) and any(
                                p["numInputRows"] > 0 and _epoch_s(
                                    p["timestamp"]) >= win.end - 0.2
                                for p in seen.values()) or \
                                time.time() > win.end + LATENCY_LIMIT_MS / 1e3:
                            break
                    elif not gen.is_alive():
                        raise RuntimeError("the event schedule ran out "
                                           "before the window closed")
                    elif not win.armed and time.time() > t0 + MAX_WARM_S:
                        raise RuntimeError(
                            f"the stream did not finish {WARM_BATCHES} "
                            f"batches within {MAX_WARM_S} s")
            finally:
                quit_gen.set()
                gen.join(timeout=10)
                self.query.stop()
        self._poll(seen, source, False)
        if self.query.exception() is not None:
            raise RuntimeError(f"stream query failed: "
                               f"{self.query.exception()}")
        if win.end is None:
            raise RuntimeError("the stream query stopped before the window "
                               "closed")
        self.query = None
        self.window = None
        rows = self._check(sink, sent, "open loop")
        m.ops_attempted += len(sent)
        m.first_op = win.start_pc
        commits = list(self.commits.get(sink, []))
        lo, hi = win.start * 1e6, win.last_due * 1e6
        over = 0
        for idx, r in enumerate(rows):
            while commits and commits[0][0] <= idx:
                commits.pop(0)
            if not lo <= r["created_us"] <= hi:
                continue
            visible = commits[0][1] if commits else float("inf")
            lat = (visible * 1e6 - r["created_us"]) / 1e3
            m.latencies_ms.append(lat)
            over += lat > LATENCY_LIMIT_MS
        if over:
            self.ctx.failed += over
            print(f"FAILED stream_predict: {over} events over the "
                  f"{LATENCY_LIMIT_MS} ms latency limit", file=sys.stderr)
        # batch starts are at least a trigger interval (250 ms) apart, and
        # a batch's trigger begins a little before its tail call
        timed = [p for _, p in sorted(seen.items())
                 if p["numInputRows"] > 0
                 and win.start - 0.2 <= _epoch_s(p["timestamp"]) <= win.end]
        m.passes.extend(p["durationMs"]["triggerExecution"] / 1e3
                        for p in timed)
        m.ops.add(op)
        m.exec_units += len(seen)
        if self.ctx.tracer.enabled:
            self.progress.extend(seen.values())
            self.rates.extend(p["processedRowsPerSecond"] for p in timed)
            self.late_ms.extend(late)
            self.dups_injected += appended[0] - len(sent)
            self.dups_dropped += appended[0] - len(rows)

    def _poll(self, seen: dict, source: str, sample: bool) -> None:
        """Collect new progress reports; with ``sample``, sample the
        input backlog."""
        for p in self.query.recentProgress:
            d = json.loads(p.json) if hasattr(p, "json") else dict(p)
            seen.setdefault(d["batchId"], d)
        if seen and sample and self.ctx.tracer.enabled:
            last = seen[max(seen)]
            end = last["sources"][0]["endOffset"] or {}
            if isinstance(end, str):
                end = json.loads(end)
            self.backlog_samples.append(
                self._peek_tail(source) - int(end.get("offset", 0)))
