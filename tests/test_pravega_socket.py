"""Network (TCP) Pravega transport: PravegaEmulatorServer + the
``pravega_socket`` Python Data Source (SURVEY.md S4/S5, T1/T9).

The reference connector pulls stream data over TCP from a controller at
``tcp://localhost:9090`` (processor.py:83,106,217); the file-backed
stream-dir is the default simulation, and this suite covers the real
socket path end-to-end: parallel executor-side ranged reads, offset
checkpointing with exactly-once replay, admission control, stream and
batch writes, and the DDL ``'transport' = 'socket'`` opt-in.
"""

import datetime
import os

import pytest

from pravega_flink_ai_flow_spark.io import pravega_source
from pravega_flink_ai_flow_spark.io.pravega_server import (
    PravegaEmulatorServer, parse_controller_uri, pravega_rpc,
)

SCHEMA = "event_id bigint, ts timestamp, value double, tag string"


def _events(lo, hi):
    return [{"event_id": i, "ts": 1_700_000_000_000_000 + i * 1_000_000,
             "value": float(i), "tag": f"t{i % 3}"} for i in range(lo, hi)]


@pytest.fixture()
def server():
    srv = PravegaEmulatorServer()
    srv.start()
    yield srv
    srv.stop()


def _read(spark, srv, stream, **opts):
    r = (spark.read.format("pravega_socket")
         .schema(SCHEMA)
         .option("controller", srv.controller_uri)
         .option("scope", "scope").option("stream", stream))
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_server_rpc_roundtrip(server):
    host, port = parse_controller_uri(server.controller_uri)
    pravega_rpc(host, port, {"op": "create_stream", "scope": "s",
                             "stream": "x"})
    assert pravega_rpc(host, port, {"op": "append", "scope": "s",
                                    "stream": "x",
                                    "events": [{"a": 1}]})["tail"] == 1
    assert pravega_rpc(host, port, {"op": "tail", "scope": "s",
                                    "stream": "x"})["tail"] == 1
    assert pravega_rpc(host, port,
                       {"op": "read", "scope": "s", "stream": "x",
                        "start": 0, "end": 1})["events"] == [{"a": 1}]
    with pytest.raises(RuntimeError, match="unknown op"):
        pravega_rpc(host, port, {"op": "nope"})


def test_batch_read_parallel_partitions(spark, server):
    server.append("scope", "ev", _events(0, 500))
    pravega_source.register(spark)
    df = _read(spark, server, "ev", rowsPerPartition="120")
    # 500 records / 120 per chunk → 5 executor-side pulls
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 500
    row = df.orderBy("event_id").first()
    assert row.event_id == 0 and row.value == 0.0 and row.tag == "t0"
    assert row.ts == datetime.datetime(2023, 11, 14, 22, 13, 20)


def test_batch_read_empty_stream(spark, server):
    server.create_stream("scope", "empty")
    pravega_source.register(spark)
    assert _read(spark, server, "empty").count() == 0


def test_stream_exactly_once_resume(spark, server, tmp_workdir):
    """availableNow drain → append more → re-run from the SAME
    checkpoint: the second run must deliver only the new records (the
    append-only log + checkpointed record offsets give deterministic
    replay)."""
    server.append("scope", "s1", _events(0, 300))
    pravega_source.register(spark)
    ckpt = os.path.join(tmp_workdir, "ckpt")
    sink = os.path.join(tmp_workdir, "sink")

    def drain():
        sdf = (spark.readStream.format("pravega_socket")
               .schema(SCHEMA)
               .option("controller", server.controller_uri)
               .option("scope", "scope").option("stream", "s1")
               .load())
        q = (sdf.writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    drain()
    first = spark.read.parquet(sink).count()
    assert first == 300
    server.append("scope", "s1", _events(300, 450))
    drain()
    got = spark.read.parquet(sink)
    assert got.count() == 450  # +150, no duplicates
    assert got.select("event_id").distinct().count() == 450


def test_stream_admission_control(spark, server, tmp_workdir):
    """With maxRecordsPerBatch set, a backlog drains as several bounded
    micro-batches under a processing-time trigger.

    Load-tolerant poll (r15 driver flake): the old loop imposed a hard
    90 s wall deadline — a contended box that spends seconds per
    200 ms-trigger batch can still be mid-drain at 90 s, failing the
    count assert with nothing wrong (the driver's r15 run measured
    830 ms/batch under load and went red here). The deadline now binds
    only on STALL: as long as the sink's row count keeps advancing the
    drain is healthy and the poll keeps waiting; 60 s with zero
    progress is the genuine-hang bar, and 600 s overall bounds a drain
    that keeps advancing too slowly to finish. The batch-shape asserts
    are unchanged — they follow from the 100-row admission cap, not
    from trigger cadence."""
    server.append("scope", "s2", _events(0, 250))
    pravega_source.register(spark)
    sdf = (spark.readStream.format("pravega_socket")
           .schema(SCHEMA)
           .option("controller", server.controller_uri)
           .option("scope", "scope").option("stream", "s2")
           .option("maxRecordsPerBatch", "100")
           .load())
    name = "adm_sink"
    q = (sdf.writeStream.format("memory").queryName(name)
         .option("checkpointLocation", os.path.join(tmp_workdir, "c2"))
         .trigger(processingTime="200 milliseconds").start())
    try:
        import time
        seen, start = -1, time.time()
        last_advance = start
        while (time.time() - last_advance < 60
               and time.time() - start < 600):
            c = spark.sql(f"SELECT COUNT(*) c FROM {name}").first().c
            if c == 250:
                break
            if c > seen:
                seen, last_advance = c, time.time()
            time.sleep(0.5)
        progress = q.recentProgress
    finally:
        q.stop()
    assert spark.sql(f"SELECT COUNT(*) c FROM {name}").first().c == 250
    # ≥3 micro-batches moved data (250 records / 100-cap)
    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) >= 3
    assert max(p["numInputRows"] for p in data_batches) <= 100


def test_capped_restart_no_duplicates(spark, server, tmp_workdir):
    """Restart-from-checkpoint WITH the admission cap: the reader's
    first latestOffset() of the new run lags the checkpoint (position
    unknown until a partitions() call) — Spark must plan no backward
    batch and the drain must finish without duplicates or loss."""
    import time

    server.append("scope", "s3", _events(0, 200))
    pravega_source.register(spark)
    ckpt = os.path.join(tmp_workdir, "ckpt3")
    sink = os.path.join(tmp_workdir, "sink3")

    def run(expect):
        sdf = (spark.readStream.format("pravega_socket")
               .schema(SCHEMA)
               .option("controller", server.controller_uri)
               .option("scope", "scope").option("stream", "s3")
               .option("maxRecordsPerBatch", "80").load())
        q = (sdf.writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .trigger(processingTime="200 milliseconds").start())
        deadline = time.time() + 90
        while time.time() < deadline:
            try:
                if spark.read.parquet(sink).count() >= expect:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        q.stop()
        q.awaitTermination(60)

    run(200)
    server.append("scope", "s3", _events(200, 300))
    run(300)
    got = spark.read.parquet(sink)
    assert got.count() == 300
    assert got.select("event_id").distinct().count() == 300


def test_stream_chaos_recovery_equals_uninterrupted(spark, server,
                                                    tmp_workdir):
    """Exactly-once under INJECTED failures (r12 verdict #6 — the claim
    was pytest-proven only on clean restarts). Three failure points:

    1. mid-pull TCP drop: the server closes an executor's ranged-read
       connection without a response (torn read) — the micro-batch
       fails, the query dies, and the checkpoint restart must replay
       that exact range;
    2. server death between micro-batches: the listener goes away
       entirely (connection refused at the next offset probe), then
       comes back on the SAME port with the log intact;
    3. query killed mid-backlog: an admission-capped drain is stopped
       after the first committed micro-batch, with records still
       unread.

    After all three recoveries the sink must equal the uninterrupted
    drain of the same 900 records on a pristine server: same count,
    every event_id exactly once."""
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    pravega_source.register(spark)
    server.append("scope", "chaos", _events(0, 600))
    ckpt = os.path.join(tmp_workdir, "ck_chaos")
    sink = os.path.join(tmp_workdir, "sink_chaos")
    # capture the address once: the property asserts a LIVE listener,
    # and failure point 2 deliberately probes a dead one
    uri = server.controller_uri

    def drain(**extra):
        sdf = (spark.readStream.format("pravega_socket")
               .schema(SCHEMA)
               .option("controller", uri)
               .option("scope", "scope").option("stream", "chaos"))
        for k, v in extra.items():
            sdf = sdf.option(k, v)
        q = (sdf.load().writeStream.format("parquet")
             .option("path", sink).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    # failure point 1: torn read mid-pull (local[4] has no task
    # retries, so the dropped connection fails the whole query)
    server.inject_connection_drops("read", 1)
    with pytest.raises(StreamingQueryException):
        drain()
    assert server._chaos_drops.get("read") == 0   # the drop DID fire
    drain()                                       # recovery replay
    assert spark.read.parquet(sink).count() == 600

    # failure point 2: server dies between micro-batches, comes back on
    # the same port with the log intact
    server.append("scope", "chaos", _events(600, 750))
    host, port = parse_controller_uri(server.controller_uri)
    server.stop()
    with pytest.raises(Exception):
        pravega_rpc(host, port, {"op": "tail", "scope": "scope",
                                 "stream": "chaos"})   # really down
    with pytest.raises(StreamingQueryException):
        drain()
    server.restart()
    assert parse_controller_uri(server.controller_uri)[1] == port
    drain()
    assert spark.read.parquet(sink).count() == 750

    # failure point 3: kill the query mid-backlog (capped continuous
    # trigger, stopped after the first committed rows), then finish
    server.append("scope", "chaos", _events(750, 900))
    sdf = (spark.readStream.format("pravega_socket")
           .schema(SCHEMA)
           .option("controller", server.controller_uri)
           .option("scope", "scope").option("stream", "chaos")
           .option("maxRecordsPerBatch", "50").load())
    q = (sdf.writeStream.format("parquet")
         .option("path", sink).option("checkpointLocation", ckpt)
         .trigger(processingTime="100 milliseconds").start())
    deadline = time.time() + 90
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in (q.recentProgress or [])):
            break
        time.sleep(0.2)
    q.stop()           # mid-backlog kill
    q.awaitTermination(60)
    mid = spark.read.parquet(sink).count()
    assert mid < 900   # genuinely killed with backlog remaining
    # finish from the checkpoint. Python stream sources fall back to
    # single-batch execution for availableNow (Spark's own WARN), so a
    # restart over an UNCOMMITTED batch replays that batch's recorded
    # range first and needs another drain for the rest — loss/dup-free
    # either way, which is what this test pins
    for _ in range(3):
        drain()
        if spark.read.parquet(sink).count() >= 900:
            break

    got = spark.read.parquet(sink)
    assert got.count() == 900
    ids = sorted(r.event_id for r in got.select("event_id").collect())
    assert ids == list(range(900))   # drain-equal: no loss, no dup

    # the uninterrupted control: a pristine server + fresh checkpoint
    # over the same 900 records lands the identical set
    ctrl = PravegaEmulatorServer()
    ctrl.start()
    try:
        ctrl.append("scope", "chaos", _events(0, 900))
        sink2 = os.path.join(tmp_workdir, "sink_ctrl")
        sdf = (spark.readStream.format("pravega_socket")
               .schema(SCHEMA)
               .option("controller", ctrl.controller_uri)
               .option("scope", "scope").option("stream", "chaos").load())
        q = (sdf.writeStream.format("parquet")
             .option("path", sink2)
             .option("checkpointLocation",
                     os.path.join(tmp_workdir, "ck_ctrl"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        ids2 = sorted(r.event_id for r in
                      spark.read.parquet(sink2).select("event_id").collect())
        assert ids2 == ids
    finally:
        ctrl.stop()


def test_batch_write_and_timestamp_roundtrip(spark, server):
    pravega_source.register(spark)
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)
    df = spark.createDataFrame(
        [(1, ts, 2.5, "a"), (2, ts, 3.5, "b")], SCHEMA)
    (df.write.format("pravega_socket").mode("append")
     .option("controller", server.controller_uri)
     .option("scope", "scope").option("stream", "w1").save())
    assert server.tail("scope", "w1") == 2
    back = _read(spark, server, "w1").orderBy("event_id").collect()
    assert [r.event_id for r in back] == [1, 2]
    assert back[0].ts == ts  # micros survive the wire roundtrip
    with pytest.raises(Exception, match="append-only"):
        (df.write.format("pravega_socket").mode("overwrite")
         .option("controller", server.controller_uri)
         .option("stream", "w1").save())


def test_stream_write(spark, server, tmp_workdir):
    server.append("scope", "in", _events(0, 120))
    pravega_source.register(spark)
    sdf = (spark.readStream.format("pravega_socket")
           .schema(SCHEMA)
           .option("controller", server.controller_uri)
           .option("scope", "scope").option("stream", "in").load())
    q = (sdf.writeStream.format("pravega_socket")
         .option("controller", server.controller_uri)
         .option("scope", "scope").option("stream", "out")
         .option("checkpointLocation", os.path.join(tmp_workdir, "c3"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert server.tail("scope", "out") == 120


def test_reused_sink_planner_worker_reads_no_zip_directory(
        spark, server, tmp_workdir):
    """Each micro-batch's ``commit`` runs in Spark's reused
    ``python_streaming_sink_runner`` planner worker, which starts from
    ``pyspark.daemon`` whatever ``spark.python.daemon.module`` says.
    Unpickling the data source there installed the engine's zip stamp
    check, so the ``importlib.invalidate_caches()`` every planner call
    starts with reads no zip directory."""
    log = os.path.join(tmp_workdir, "commits.log")

    # Local classes pickle by value; their base classes load
    # io.pravega_source in the planner worker.
    class ProbeWriter(pravega_source._StreamWriter):
        def commit(self, messages, batchId):
            import importlib
            import zipimport
            reads = []
            original = zipimport._read_directory

            def counting(archive):
                reads.append(archive)
                return original(archive)

            zipimport._read_directory = counting
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = original
            with open(log, "a") as f:
                f.write(f"{os.getpid()} {len(reads)}\n")
            super().commit(messages, batchId)

    class ProbeSource(pravega_source.PravegaSocketDataSource):
        @classmethod
        def name(cls):
            return "pravega_socket_planner_probe"

        def streamWriter(self, schema, overwrite):
            return ProbeWriter(self.options, schema)

    server.append("scope", "zin", _events(0, 300))
    pravega_source.register(spark)
    spark.dataSource.register(ProbeSource)
    sdf = (spark.readStream.format("pravega_socket")
           .schema(SCHEMA)
           .option("controller", server.controller_uri)
           .option("scope", "scope").option("stream", "zin")
           .option("maxRecordsPerBatch", "100")
           .load())
    q = (sdf.writeStream.format(ProbeSource.name())
         .option("controller", server.controller_uri)
         .option("scope", "scope").option("stream", "zout")
         .option("checkpointLocation", os.path.join(tmp_workdir, "c"))
         .trigger(processingTime="200 milliseconds").start())
    try:
        import time
        start = time.time()
        while server.tail("scope", "zout") < 300 and time.time() - start < 300:
            time.sleep(0.5)
    finally:
        q.stop()
    assert server.tail("scope", "zout") == 300
    with open(log) as f:
        commits = [tuple(map(int, line.split())) for line in f]
    assert len(commits) >= 3
    assert [reads for _, reads in commits] == [0] * len(commits)
    first_pid = commits[0][0]
    assert [pid for pid, _ in commits] == [first_pid] * len(commits)


def test_ddl_socket_transport(spark, server, tmp_path):
    """The reference's CREATE TABLE … WITH('connector'='pravega',
    'controller-uri'='tcp://…') shape, opted into the network path."""
    from pravega_flink_ai_flow_spark.engine.ddl import FlinkDdlEnv

    server.append("scope", "train-stream",
                  [{"sl": 6.4, "sw": 2.8, "pl": 5.6, "pw": 2.2, "type": 2.0}
                   for _ in range(30)])
    env = FlinkDdlEnv(spark, stream_root=str(tmp_path))
    env.execute_sql(f"""
        create table train (sl DOUBLE, sw DOUBLE, pl DOUBLE, pw DOUBLE,
                            type DOUBLE) with (
            'connector' = 'pravega',
            'controller-uri' = '{server.controller_uri}',
            'transport' = 'socket',
            'scope' = 'scope',
            'scan.streams' = 'train-stream',
            'scan.execution.type' = 'batch',
            'format' = 'json'
        )
    """)
    assert env.from_path("train").count() == 30
    assert spark.sql("SELECT COUNT(*) c FROM train").first().c == 30

    env.execute_sql(f"""
        create table sink (sl DOUBLE, sw DOUBLE, pl DOUBLE, pw DOUBLE,
                           type DOUBLE) with (
            'connector' = 'pravega',
            'controller-uri' = '{server.controller_uri}',
            'transport' = 'socket',
            'scope' = 'scope',
            'sink.stream' = 'predict-stream',
            'format' = 'json'
        )
    """)
    env.add_insert("sink", env.from_path("train"))
    assert server.tail("scope", "predict-stream") == 30

    with pytest.raises(ValueError, match="controller-uri"):
        env.execute_sql("""
            create table bad (a INT) with (
                'connector' = 'pravega', 'transport' = 'socket',
                'scan.streams' = 'x', 'format' = 'json',
                'scan.execution.type' = 'batch'
            )
        """)
        env.from_path("bad")


# -- exactly-once transactional writes (Pravega txn writer semantics) -------

def test_txn_protocol_exactly_once(server):
    """Protocol-level retry simulation: attempt 0 stages a txn and dies;
    the retry stages its own txn; only the retry's txn is committed →
    one copy. A replayed commit of the same (group, batch) is a no-op,
    and aborted txns never surface."""
    host, port = parse_controller_uri(server.controller_uri)
    ev = _events(0, 5)
    # attempt 0 stages then "dies" (its txn id is never committed)
    pravega_rpc(host, port, {"op": "txn_write", "scope": "s", "stream": "t",
                             "txn": "attempt0", "events": ev})
    # retried attempt stages the same rows under its own txn
    pravega_rpc(host, port, {"op": "txn_write", "scope": "s", "stream": "t",
                             "txn": "attempt1", "events": ev})
    r = pravega_rpc(host, port, {"op": "txn_commit", "scope": "s",
                                 "stream": "t", "txns": ["attempt1"],
                                 "group": "g", "batch": 0})
    assert r == {"tail": 5, "duplicate": False, "missing": []}
    # checkpoint-recovery replay of batch 0: freshly staged txn, same
    # (group, batch) → server drops it instead of appending twice
    pravega_rpc(host, port, {"op": "txn_write", "scope": "s", "stream": "t",
                             "txn": "replay", "events": ev})
    r = pravega_rpc(host, port, {"op": "txn_commit", "scope": "s",
                                 "stream": "t", "txns": ["replay"],
                                 "group": "g", "batch": 0})
    assert r == {"tail": 5, "duplicate": True, "missing": []}
    # abort: staged rows never become visible
    pravega_rpc(host, port, {"op": "txn_write", "scope": "s", "stream": "t",
                             "txn": "doomed", "events": ev})
    pravega_rpc(host, port, {"op": "txn_abort", "scope": "s", "stream": "t",
                             "txns": ["doomed"]})
    assert server.tail("s", "t") == 5
    ids = [e["event_id"] for e in server.read("s", "t", 0, 5)]
    assert sorted(ids) == [0, 1, 2, 3, 4]


def test_task_retry_no_duplicates(tmp_workdir):
    """REAL task retry: a subprocess session with spark.task.maxFailures=2
    writes through the socket sink with every task's first attempt killed
    AFTER it staged its transaction. Exactly-once means the retried
    attempts' rows land exactly once and the dead attempts' staged txns
    never surface."""
    import subprocess
    import sys
    import textwrap

    script = textwrap.dedent("""
        import json, sys
        sys.path.insert(0, %r)
        from pyspark.sql import SparkSession
        from pravega_flink_ai_flow_spark.io import pravega_source
        from pravega_flink_ai_flow_spark.io.pravega_server import \\
            PravegaEmulatorServer

        srv = PravegaEmulatorServer()
        srv.start()
        spark = (SparkSession.builder.master("local[4,2]")
                 .appName("txn-retry")
                 .config("spark.sql.shuffle.partitions", "4")
                 .config("spark.ui.enabled", "false").getOrCreate())
        pravega_source.register(spark)
        df = spark.range(0, 40, 1, 4).selectExpr("id AS event_id")
        (df.write.format("pravega_socket").mode("append")
         .option("controller", srv.controller_uri)
         .option("scope", "s").option("stream", "out")
         .option("schema", "event_id bigint")
         .option("simulate-task-failure", "first-attempt").save())
        rows = srv.read("s", "out", 0, 10**9)
        print("RESULT " + json.dumps(sorted(e["event_id"] for e in rows)))

        # STREAMING path: same kill-first-attempt through writeStream
        # (availableNow); the driver-side commit must publish only the
        # retried attempts' txns
        srv.append("s", "in", [{"event_id": i} for i in range(40)])
        sdf = (spark.readStream.format("pravega_socket")
               .schema("event_id bigint")
               .option("controller", srv.controller_uri)
               .option("scope", "s").option("stream", "in").load())
        q = (sdf.writeStream.format("pravega_socket")
             .option("controller", srv.controller_uri)
             .option("scope", "s").option("stream", "sout")
             .option("schema", "event_id bigint")
             .option("simulate-task-failure", "first-attempt")
             .option("checkpointLocation", %r)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        srows = srv.read("s", "sout", 0, 10**9)
        print("SRESULT " + json.dumps(sorted(e["event_id"] for e in srows)))
        spark.stop()
    """) % (os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            os.path.join(tmp_workdir, "ckpt"))
    out = subprocess.run([sys.executable, "-c", script], timeout=300,
                         capture_output=True, text=True)
    assert out.returncode == 0, out.stderr[-3000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert line, out.stdout[-2000:]
    import json
    ids = json.loads(line[0][len("RESULT "):])
    # every row exactly once — no loss from the killed attempts, no
    # duplicates from their staged-but-uncommitted txns
    assert ids == list(range(40))
    sline = [ln for ln in out.stdout.splitlines() if ln.startswith("SRESULT ")]
    assert sline, out.stdout[-2000:]
    sids = json.loads(sline[0][len("SRESULT "):])
    # streaming path: same exactly-once guarantee through the
    # micro-batch commit protocol
    assert sids == list(range(40))


def test_txn_commit_of_unknown_txn_reports_missing(server):
    """Committing a txn id with no staged payload is DATA LOSS, not a
    no-op: the server reports the missing ids so the driver-side
    committer fails the batch (Pravega fails such commits too). The
    failure is ATOMIC (r7 ADVICE): nothing lands, the ledger stays
    unset, and every staged txn stays staged — so the retried batch
    (re-staging the lost txn) commits ALL rows exactly once instead of
    hitting the duplicate-ledger path and dropping them forever."""
    host, port = parse_controller_uri(server.controller_uri)
    pravega_rpc(host, port, {"op": "txn_write", "scope": "s2", "stream": "t",
                             "txn": "ok", "events": _events(0, 3)})
    r = pravega_rpc(host, port, {"op": "txn_commit", "scope": "s2",
                                 "stream": "t", "txns": ["ok", "ghost"],
                                 "group": "g", "batch": 7})
    assert r["missing"] == ["ghost"]
    # atomic: NOTHING visible, "ok" still staged, ledger not advanced
    assert r["tail"] == 0 and server.tail("s2", "t") == 0
    # the driver fails the batch; Spark's retry re-stages the lost txn
    # (and re-delivers "ok" idempotently) and re-commits the SAME
    # (group, batch_id) — it must NOT be treated as a duplicate
    pravega_rpc(host, port, {"op": "txn_write", "scope": "s2", "stream": "t",
                             "txn": "ok", "events": _events(0, 3)})
    pravega_rpc(host, port, {"op": "txn_write", "scope": "s2", "stream": "t",
                             "txn": "ghost", "events": _events(3, 5)})
    r2 = pravega_rpc(host, port, {"op": "txn_commit", "scope": "s2",
                                  "stream": "t", "txns": ["ok", "ghost"],
                                  "group": "g", "batch": 7})
    assert r2 == {"tail": 5, "duplicate": False, "missing": []}
    assert server.tail("s2", "t") == 5
    # and the NEXT replay of the now-committed batch is a clean duplicate
    r3 = pravega_rpc(host, port, {"op": "txn_commit", "scope": "s2",
                                  "stream": "t", "txns": ["ok", "ghost"],
                                  "group": "g", "batch": 7})
    assert r3["duplicate"] is True and server.tail("s2", "t") == 5


def test_engine_session_checkpoints_through_the_filesystem_manager(
        spark, tmp_workdir):
    """The engine session resolves its checkpoint manager to Spark's
    FileSystem one. Spark 4.1 moved these classes into
    ``...streaming.checkpointing``; a conf naming a moved class fails
    only at ``writeStream.start()`` (``CANNOT_LOAD_CHECKPOINT_FILE_MANAGER``),
    so this resolves it the way a starting stream does."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing \
        .CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(tmp_workdir),
            spark._jsparkSession.sessionState().newHadoopConf())
    assert manager.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager")


def test_stateful_stream_checkpoint_keeps_its_checksums(
        spark, server, tmp_workdir):
    """One micro-batch of a stateful stream on the engine session: the
    offset and commit logs still carry Hadoop's ``.crc`` side files, and
    state partition 0 holds its first delta with both Hadoop's side file
    and Spark's own checksum file."""
    from pravega_flink_ai_flow_spark.streaming.ops import (
        stream_dedup_within_watermark)

    server.append("scope", "ck", _events(0, 40))
    pravega_source.register(spark)
    sdf = (spark.readStream.format("pravega_socket")
           .schema(SCHEMA)
           .option("controller", server.controller_uri)
           .option("scope", "scope").option("stream", "ck").load())
    ckpt = os.path.join(tmp_workdir, "ck")
    q = (stream_dedup_within_watermark(sdf, ["event_id"], "ts", "1 hour")
         .writeStream.format("noop").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert [p["batchId"] for p in q.recentProgress] == [0]
    for log in ("offsets", "commits"):
        assert {"0", ".0.crc"} <= set(os.listdir(os.path.join(ckpt, log)))
    assert {"1.delta", ".1.delta.crc", "1.delta.crc"} <= set(
        os.listdir(os.path.join(ckpt, "state", "0", "0")))
