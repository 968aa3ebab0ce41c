"""``pravega_socket`` — a network Spark data source (SURVEY.md S4/S5,
T1/T9), built on Spark 4's Python Data Source API.

This is the "real deployment" transport the file-backed
:mod:`.pravega_sim` stands in for (VERDICT r4, missing #1): the
reference's connector pulls stream data over TCP from a controller at
``tcp://localhost:9090`` (batch_train_batch_predict_processor.py:83,
106,217). Here the same happens through
:class:`~pyspark.sql.datasource.DataSource` against
:class:`..io.pravega_server.PravegaEmulatorServer` (or anything
speaking its protocol):

- **batch read** (``spark.read.format("pravega_socket")``) — the
  ``scan.execution.type=batch`` bounded snapshot (processor.py:108):
  tail is pinned at planning time, the range is split into
  ``rowsPerPartition`` chunks, and EXECUTORS pull their chunks over
  their own sockets in parallel (segment-store-style reads — the
  driver never materializes the data);
- **stream read** (``spark.readStream``) — a
  :class:`DataSourceStreamReader` with checkpointable offsets
  ``{"offset": n}``: ``latestOffset`` advances the admission edge by at
  most ``maxRecordsPerBatch`` per micro-batch (rate limiting),
  ``partitions(start, end)`` splits each micro-batch for parallel
  executor pulls, and because the log is append-only a ranged read is
  deterministic forever — replay from a checkpoint is exactly-once;
- **stream write** (``writeStream.format("pravega_socket")``) —
  EXACTLY-ONCE, mirroring Pravega's ``TransactionalEventStreamWriter``
  (reference processor writes via the same connector,
  batch_train_batch_predict_processor.py:67-90): each executor stages
  its partition under a server-side transaction, the driver commits the
  surviving task attempts' txns atomically, and a (writer-group,
  batchId) ledger makes replayed micro-batch commits no-ops. A killed
  and retried write task therefore never duplicates rows
  (tests/test_pravega_socket.py::test_task_retry_no_duplicates).

Rows are JSON objects on the wire; conversion to Spark types is driven
by the REQUIRED ``schema`` option (a DDL string — the connector's
schema is always explicit in the reference's ``CREATE TABLE``,
processor.py:44-58). Timestamps ride as epoch micros (int) or ISO-8601
strings.

Imported inside a Spark Python worker, this module installs the engine
daemon's zip-archive stamp check
(:func:`..engine.pydaemon.install_zip_stamps`). The data-source planner
workers (``create_data_source``, ``write_into_data_source``,
``python_streaming_sink_runner``, …) start from ``pyspark.daemon``
whatever ``spark.python.daemon.module`` says, and each call's
``importlib.invalidate_caches()`` otherwise re-reads 17 zip importers
(about 28k entries, 110–230 ms on CPython 3.11). Each call unpickles
this source, and planner workers are reused, so only a worker's first
call pays the re-read. Imported on a driver, it changes nothing.
"""

from __future__ import annotations

import datetime
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.core.files import SparkFiles
from pyspark.sql.types import StructType

from .pravega_server import parse_controller_uri, pravega_rpc

_EPOCH = datetime.datetime(1970, 1, 1)


def _converter(dt):
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return lambda v: int(v)
    if s in ("float", "double"):
        return lambda v: float(v)
    if s == "boolean":
        return lambda v: bool(v)
    if s == "string":
        return lambda v: str(v)
    if s.startswith("timestamp"):
        def conv(v):
            if isinstance(v, str):
                return datetime.datetime.fromisoformat(v)
            return _EPOCH + datetime.timedelta(microseconds=int(v))
        return conv
    raise ValueError(f"pravega_socket: unsupported column type {s}")


class _Chunk(InputPartition):
    def __init__(self, host, port, scope, stream, start, end):
        self.host, self.port = host, port
        self.scope, self.stream = scope, stream
        self.start, self.end = start, end


class _Common:
    """Option parsing shared by the reader/writer roles."""

    def __init__(self, options, schema: StructType):
        self.host, self.port = parse_controller_uri(
            options.get("controller") or options.get("controller-uri")
            or "tcp://127.0.0.1:9090")
        self.scope = options.get("scope") or "scope"
        self.stream = options.get("stream") or options.get("scan.streams")
        if not self.stream:
            raise ValueError("pravega_socket needs a 'stream' option")
        self.schema = schema
        self.fields = [(f.name, _converter(f.dataType))
                       for f in schema.fields]
        self.rows_per_partition = int(options.get("rowsperpartition", 1000))

    def _chunks(self, start: int, end: int):
        step = max(1, self.rows_per_partition)
        out = []
        lo = start
        while lo < end:
            hi = min(lo + step, end)
            out.append(_Chunk(self.host, self.port, self.scope, self.stream,
                              lo, hi))
            lo = hi
        # zero-row planning still needs ≥1 partition (Spark requires a
        # non-empty partition list)
        return out or [_Chunk(self.host, self.port, self.scope, self.stream,
                              start, start)]

    def _read_chunk(self, part: _Chunk) -> Iterator[tuple]:
        if part.start >= part.end:
            return
        resp = pravega_rpc(part.host, part.port,
                           {"op": "read", "scope": part.scope,
                            "stream": part.stream,
                            "start": part.start, "end": part.end})
        for ev in resp["events"]:
            yield tuple(conv(ev[name]) if ev.get(name) is not None else None
                        for name, conv in self.fields)

    def _tail(self) -> int:
        return pravega_rpc(self.host, self.port,
                           {"op": "tail", "scope": self.scope,
                            "stream": self.stream})["tail"]


class _BatchReader(DataSourceReader, _Common):
    """Bounded snapshot: tail pinned at planning time
    (= ``scan.execution.type=batch``, processor.py:108,219)."""

    def __init__(self, options, schema):
        _Common.__init__(self, options, schema)
        self._end = self._tail()

    def partitions(self):
        return self._chunks(0, self._end)

    def read(self, partition: _Chunk) -> Iterator[tuple]:
        return self._read_chunk(partition)


class _StreamReader(DataSourceStreamReader, _Common):
    """Micro-batch reader with record-index offsets. The log is
    append-only, so ``partitions(start, end)`` + ``read`` replay
    deterministically from any checkpointed offset (exactly-once)."""

    def __init__(self, options, schema):
        _Common.__init__(self, options, schema)
        # 0 = unlimited (default). The cap is OPT-IN because
        # Trigger.AvailableNow pins its end at the FIRST latestOffset()
        # call for Python stream sources — a capped first answer would
        # silently truncate an availableNow drain. With a continuous
        # trigger the cap works as normal admission control.
        self.max_per_batch = int(options.get("maxrecordsperbatch", 0))
        # consumption position learned from partitions() calls — the
        # Python runner observably does NOT forward commit() to this
        # class (traced against Spark 4.1: latestOffset/initialOffset/
        # partitions only), so planned batch ends are the position
        # signal. None = position unknown (no batch planned yet this
        # run).
        self._planned: int | None = None

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        tail = self._tail()
        if self.max_per_batch <= 0:
            return {"offset": tail}
        # admission control: advance by at most max_per_batch past the
        # last PLANNED end, so a backlog becomes several bounded
        # micro-batches. Position-unknown (first call of a run) treats
        # the position as 0 — on a checkpoint restart the first answer
        # can therefore lag the checkpoint; the restart probe in
        # tests/test_pravega_socket.py pins what Spark does with that
        # (plans no backward batch; the next call has learned the real
        # position from partitions()).
        base = self._planned if self._planned is not None else 0
        return {"offset": min(tail, base + self.max_per_batch)}

    def partitions(self, start: dict, end: dict):
        s, e = int(start["offset"]), int(end["offset"])
        self._planned = max(self._planned or 0, s, e)
        return self._chunks(s, e)

    def read(self, partition: _Chunk) -> Iterator[tuple]:
        return self._read_chunk(partition)

    def commit(self, end: dict) -> None:
        pass  # never invoked by the Python runner; position is _planned

    def stop(self) -> None:
        pass


class _TxnMessage(WriterCommitMessage):
    """Carries the staged transaction back to the driver: only txns
    named in a driver-side commit ever become visible."""

    def __init__(self, txn: str | None, partition_id: int):
        self.txn = txn
        self.partition_id = partition_id


class _AppendMixin(_Common):
    """Transactional per-partition writes (exactly-once, mirroring
    Pravega's TransactionalEventStreamWriter): each task stages its rows
    server-side under a fresh txn id and reports the id in its commit
    message. Spark delivers ONE message per partition — from the attempt
    that succeeded — so a killed/retried attempt's staged txn is never
    committed and its rows never reach the stream. The driver's commit
    atomically publishes the surviving txns in partition order."""

    def __init__(self, options, schema):
        _Common.__init__(self, options, schema)
        self.col_names = [f.name for f in schema.fields]
        # identifies this sink for the server's replayed-batch ledger.
        # NOTE: the default (scope/stream) assumes ONE streaming query
        # per output stream — two queries sharing a sink stream would
        # share a ledger and suppress each other's batch ids. Set a
        # distinct 'writer-group' per query in that topology (Pravega
        # equivalently requires distinct writer ids).
        self.group = options.get("writer-group") \
            or options.get("writergroup") \
            or f"{self.scope}/{self.stream}"
        # test hook: "first-attempt" kills every task's attempt 0 AFTER
        # it has staged its txn — the crashed-mid-write shape the
        # exactly-once guarantee exists for
        self.simulate_failure = options.get("simulate-task-failure")

    def write(self, iterator) -> WriterCommitMessage:
        import uuid

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        events = []
        for row in iterator:
            ev = {}
            for name in self.col_names:
                v = row[name]
                if isinstance(v, datetime.datetime):
                    # epoch micros — the wire format _converter reads back
                    v = int((v - _EPOCH).total_seconds() * 1_000_000)
                ev[name] = v
            events.append(ev)
        if not events:
            return _TxnMessage(None, pid)
        txn = uuid.uuid4().hex
        pravega_rpc(self.host, self.port,
                    {"op": "txn_write", "scope": self.scope,
                     "stream": self.stream, "txn": txn, "events": events})
        if (self.simulate_failure == "first-attempt" and ctx
                and ctx.attemptNumber() == 0):
            # die AFTER staging — the retried attempt stages its own txn;
            # this one is never committed
            raise RuntimeError("simulated task failure after txn staged")
        return _TxnMessage(txn, pid)

    def _txns(self, messages) -> list:
        ordered = sorted((m for m in messages if m and m.txn),
                         key=lambda m: m.partition_id)
        return [m.txn for m in ordered]

    def _commit(self, messages, batch_id: int | None) -> None:
        txns = self._txns(messages)
        if not txns and batch_id is None:
            return
        resp = pravega_rpc(self.host, self.port,
                           {"op": "txn_commit", "scope": self.scope,
                            "stream": self.stream, "txns": txns,
                            "group": self.group
                            if batch_id is not None else None,
                            "batch": batch_id})
        missing = resp.get("missing") or []
        if missing and not resp.get("duplicate"):
            # a named txn had no staged payload server-side (expired or
            # lost): acking would silently drop rows — fail the batch so
            # Spark retries it instead (Pravega fails such commits too)
            raise RuntimeError(
                f"txn_commit: {len(missing)} transaction(s) unknown to "
                f"the server, data would be lost: {missing}")

    def _abort(self, messages) -> None:
        txns = self._txns(messages)
        if txns:
            pravega_rpc(self.host, self.port,
                        {"op": "txn_abort", "scope": self.scope,
                         "stream": self.stream, "txns": txns})


class _StreamWriter(_AppendMixin, DataSourceStreamWriter):
    def commit(self, messages, batchId) -> None:
        # (group, batchId) rides with the commit so a checkpoint-recovery
        # replay of an already-committed micro-batch is a server-side
        # no-op — exactly-once end to end, not just per attempt
        self._commit(messages, int(batchId))

    def abort(self, messages, batchId) -> None:
        self._abort(messages)


class _BatchWriter(_AppendMixin, DataSourceWriter):
    def commit(self, messages) -> None:
        # batch jobs have no replay ledger (a re-RUN of a batch job is a
        # new append by append-only stream semantics); staged txns of
        # failed attempts still never commit
        self._commit(messages, None)

    def abort(self, messages) -> None:
        self._abort(messages)


class PravegaSocketDataSource(DataSource):
    """Register once per session:
    ``spark.dataSource.register(PravegaSocketDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "pravega_socket"

    def schema(self):
        ddl = self.options.get("schema")
        if not ddl:
            raise ValueError(
                "pravega_socket needs an explicit 'schema' option (DDL "
                "string) — the reference's connector schema is always "
                "declared in CREATE TABLE (processor.py:44-58)")
        return ddl

    def reader(self, schema: StructType) -> DataSourceReader:
        return _BatchReader(self.options, schema)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _StreamReader(self.options, schema)

    def streamWriter(self, schema: StructType, overwrite: bool):
        return _StreamWriter(self.options, schema)

    def writer(self, schema: StructType, overwrite: bool):
        if overwrite:
            raise ValueError("pravega_socket is append-only (a Pravega "
                             "stream cannot be overwritten)")
        return _BatchWriter(self.options, schema)


def register(spark) -> None:
    """Idempotent per-session registration."""
    key = "pravega_socket_registered"
    if not spark.conf.get(f"spark.{key}", None):
        spark.dataSource.register(PravegaSocketDataSource)
        spark.conf.set(f"spark.{key}", "true")


# pyspark's setup_spark_files sets this flag before a worker unpickles
# the data source.
if SparkFiles._is_running_on_worker:
    from ..engine.pydaemon import install_zip_stamps

    install_zip_stamps()
