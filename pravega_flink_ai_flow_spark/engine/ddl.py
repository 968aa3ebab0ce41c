"""Connector-DDL entry point (SURVEY.md §2 gap #1, VERDICT.md r3).

The reference defines every source/sink as a Flink SQL DDL string with
connector options and then touches it through three calls:

    table_env.execute_sql("CREATE TABLE t (...) WITH ('connector'=...)")
    table_env.from_path("t")            # source → Table
    statement_set.add_insert("sink", t) # sink   ← Table

(`pravega_project/workflows/batch_train_batch_predict/
batch_train_batch_predict_processor.py:44-58` — filesystem/csv source;
`:73-90` — pravega/json sink; `:95-114` — pravega/json bounded scan.)

``FlinkDdlEnv`` re-expresses those entry points on Spark: the DDL is
parsed (columns → explicit StructType — the engine never infers schemas
on the read path, SURVEY.md §1.3; options → connector dispatch) and the
table becomes either a DataFrame-producing source (also registered as a
temp view, so raw ``spark.sql`` over it works) or a write target.

Connector mapping (all batch/stream semantics preserved):

- ``'connector'='filesystem'`` → ``spark.read``/``DataFrameWriter`` on
  ``'path'`` with ``'format'`` csv/json/parquet.
  ``'csv.ignore-parse-errors'='true'`` → PERMISSIVE mode (malformed
  fields null out — Flink's documented behavior for that option).
- ``'connector'='pravega'`` → the Pravega-sim stream-dir
  (:mod:`..io.pravega_sim` — an append-only JSON segment directory,
  the same durable-log contract). ``'scope'`` + ``'scan.streams'`` /
  ``'sink.stream'`` name the stream; ``'controller-uri'`` has no
  filesystem analog and is accepted-and-ignored.
  ``'scan.execution.type'='batch'`` → bounded snapshot read
  (processor.py:108,219); absent → unbounded ``readStream``.
- ``'connector'='datagen'`` → ``spark.range``-backed deterministic rows
  (Flink's datagen connector analog) honoring
  ``'number-of-rows'``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructField, StructType, _parse_datatype_string

# Flink SQL type → Spark DDL type. Parameterized types keep their
# arguments (DECIMAL(p,s)); sized char/binary types lose theirs (Spark
# strings/binaries are unsized).
_TYPE_MAP = {
    "TINYINT": "byte", "SMALLINT": "short", "INT": "int", "INTEGER": "int",
    "BIGINT": "long", "FLOAT": "float", "DOUBLE": "double",
    "DOUBLE PRECISION": "double", "BOOLEAN": "boolean", "DATE": "date",
    "STRING": "string", "BYTES": "binary",
}


def _map_type(flink_type: str) -> str:
    t = " ".join(flink_type.split()).upper()
    if t in _TYPE_MAP:
        return _TYPE_MAP[t]
    m = re.fullmatch(r"(VARCHAR|CHAR)\s*(\(\s*\d+\s*\))?", t)
    if m:
        return "string"
    m = re.fullmatch(r"(VARBINARY|BINARY)\s*(\(\s*\d+\s*\))?", t)
    if m:
        return "binary"
    m = re.fullmatch(r"(DECIMAL|NUMERIC)\s*(\(\s*\d+\s*(,\s*\d+\s*)?\))?", t)
    if m:
        return f"decimal{m.group(2) or '(10,0)'}".replace(" ", "")
    m = re.fullmatch(r"TIMESTAMP(?:\s*\(\s*\d\s*\))?(\s+WITH\s+LOCAL\s+TIME\s+ZONE)?", t)
    if m:
        return "timestamp"
    m = re.fullmatch(r"ARRAY\s*<\s*(.+)\s*>", t)
    if m:
        return f"array<{_map_type(m.group(1))}>"
    m = re.fullmatch(r"MAP\s*<\s*(.+?)\s*,\s*(.+)\s*>", t)
    if m:
        return f"map<{_map_type(m.group(1))},{_map_type(m.group(2))}>"
    raise ValueError(f"unsupported Flink type in DDL: {flink_type!r}")


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside quotes/parens/angle brackets."""
    parts, depth, quote, cur = [], 0, None, []
    for ch in s:
        if quote:
            cur.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            cur.append(ch)
        elif ch in "(<":
            depth += 1
            cur.append(ch)
        elif ch in ")>":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return [p.strip() for p in parts if p.strip()]


_CREATE_RE = re.compile(
    r"CREATE\s+(?:TEMPORARY\s+)?TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][\w.]*)\s*\((?P<cols>.*)\)\s*"
    r"WITH\s*\((?P<opts>.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL)

_OPT_RE = re.compile(r"'(?P<k>[^']+)'\s*=\s*'(?P<v>[^']*)'")


@dataclass
class ConnectorTable:
    name: str
    schema: StructType
    options: dict[str, str]

    @property
    def connector(self) -> str:
        return self.options.get("connector", "")


@dataclass
class FlinkDdlEnv:
    """Spark-backed stand-in for the reference's ``TableEnvironment`` +
    ``StatementSet`` pair: ``execute_sql`` (DDL), ``from_path`` (source
    read), ``add_insert`` (sink write). ``stream_root`` holds the
    emulated streams; each caller passes its own directory."""

    spark: SparkSession
    stream_root: str
    tables: dict[str, ConnectorTable] = field(default_factory=dict)

    # -- DDL ---------------------------------------------------------------

    def execute_sql(self, ddl: str) -> ConnectorTable:
        m = _CREATE_RE.match(ddl.strip())
        if not m:
            raise ValueError(
                "only CREATE TABLE ... WITH (...) DDL is supported here; "
                "run queries through spark.sql directly")
        cols = []
        for coldef in _split_top_level(m.group("cols")):
            cm = re.match(r"(?P<col>[A-Za-z_]\w*|`[^`]+`)\s+(?P<type>.+?)"
                          r"(\s+NOT\s+NULL)?$", coldef.strip(),
                          re.IGNORECASE | re.DOTALL)
            if not cm:
                raise ValueError(f"cannot parse column definition {coldef!r}")
            name = cm.group("col").strip("`")
            spark_t = _map_type(cm.group("type"))
            cols.append(StructField(name, _parse_datatype_string(spark_t),
                                    cm.group(3) is None))
        opts = {om.group("k"): om.group("v")
                for om in _OPT_RE.finditer(m.group("opts"))}
        if "connector" not in opts:
            raise ValueError("DDL WITH clause needs a 'connector' option")
        t = ConnectorTable(m.group("name"), StructType(cols), opts)
        self.tables[t.name] = t
        # batch sources register as temp views so spark.sql over the
        # table name works exactly like Flink's from_path/SQL access
        if t.connector in ("filesystem", "datagen") or (
                t.connector == "pravega"
                and opts.get("scan.execution.type") == "batch"
                and "scan.streams" in opts):
            try:
                self.from_path(t.name).createOrReplaceTempView(t.name)
            except AnalysisException as e:
                # sink-only tables may point at not-yet-written paths
                if e.getCondition() != "PATH_NOT_FOUND":
                    raise
        return t

    # -- source ------------------------------------------------------------

    def from_path(self, name: str) -> DataFrame:
        t = self.tables[name]
        if t.connector == "filesystem":
            return self._refresh_view(t, self._read_filesystem(t))
        if t.connector == "pravega":
            df = self._read_pravega(t)
            return df if df.isStreaming else self._refresh_view(t, df)
        if t.connector == "datagen":
            n = int(t.options.get("number-of-rows", 1000))
            df = self.spark.range(n)
            # deterministic per-column values derived from the row id.
            # Types a bigint can't CAST to (several are invalid under
            # ANSI, which the driver's vanilla session keeps ON) get
            # explicit constructions instead of a blind cast.
            exprs = []
            for i, f_ in enumerate(t.schema.fields):
                base = F.col("id") * (i + 1)
                dt = f_.dataType.simpleString()
                if dt in ("array", "map", "struct") or "<" in dt:
                    raise ValueError(
                        f"datagen connector cannot generate column "
                        f"{f_.name!r} of type {dt} — use a filesystem "
                        "source for complex-typed tables")
                if dt == "date":
                    # bounded day offset: epoch + 0..19999 days
                    col = F.date_add(F.lit("1970-01-01").cast("date"),
                                     (base % 20000).cast("int"))
                elif dt.startswith("timestamp"):
                    col = F.timestamp_seconds(base)
                elif dt == "boolean":
                    col = (base % 2) == 0
                elif dt == "binary":
                    col = base.cast("string").cast("binary")
                else:
                    col = base.cast(f_.dataType)
                exprs.append(col.alias(f_.name))
            return df.select(*exprs)
        raise ValueError(f"unsupported connector {t.connector!r}")

    def _refresh_view(self, t: ConnectorTable, df: DataFrame) -> DataFrame:
        # re-register on every read: a DataFrame pins its file listing at
        # load() time, while Flink's bounded scan snapshots at job
        # EXECUTION time — so a view registered at DDL time would read
        # stale (or zero, if the path appeared later) segments forever
        df.createOrReplaceTempView(t.name)
        return df

    # -- sink --------------------------------------------------------------

    def add_insert(self, name: str, df: DataFrame) -> None:
        """Write ``df`` into the DDL-declared sink (batch analog of
        ``statement_set.add_insert`` + ``execute``, processor.py:89)."""
        t = self.tables[name]
        out = df.select(*[F.col(f_.name).cast(f_.dataType)
                          for f_ in t.schema.fields])
        if t.connector == "filesystem":
            fmt = t.options.get("format", "csv")
            path = t.options["path"]
            out.write.mode("append").format(fmt).save(path)
            return
        if t.connector == "pravega":
            if t.options.get("format", "json") != "json":
                raise ValueError("pravega-sim sink is JSON (the reference's "
                                 "serialization format)")
            if self._socket_transport(t):
                (out.write.format("pravega_socket").mode("append")
                 .option("controller", t.options["controller-uri"])
                 .option("scope", t.options.get("scope", "scope"))
                 .option("stream", t.options["sink.stream"])
                 .save())
                return
            self._stream_dir(t, t.options["sink.stream"]).append(out)
            return
        raise ValueError(f"unsupported sink connector {t.connector!r}")

    # -- connector impls ---------------------------------------------------

    def _read_filesystem(self, t: ConnectorTable) -> DataFrame:
        fmt = t.options.get("format", "csv")
        reader = self.spark.read.schema(t.schema)
        if fmt == "csv":
            # Flink csv.ignore-parse-errors nulls out bad fields —
            # Spark's PERMISSIVE mode. Without the option Flink FAILS
            # the job on a parse error, so the default here must be
            # FAILFAST (PERMISSIVE is Spark's default and would
            # silently null where the reference errors loudly).
            if t.options.get("csv.ignore-parse-errors") == "true":
                reader = reader.option("mode", "PERMISSIVE")
            else:
                reader = reader.option("mode", "FAILFAST")
            for k, v in t.options.items():
                if k == "csv.field-delimiter":
                    reader = reader.option("sep", v)
                elif k == "csv.allow-comments" and v == "true":
                    reader = reader.option("comment", "#")
        return reader.format(fmt).load(t.options["path"])

    def _read_pravega(self, t: ConnectorTable) -> DataFrame:
        if t.options.get("format", "json") != "json":
            raise ValueError("pravega-sim source is JSON")
        stream = t.options.get("scan.streams")
        if not stream:
            raise ValueError("pravega source DDL needs 'scan.streams'")
        if self._socket_transport(t):
            # network path: pull from a live controller/segment-store
            # over TCP (the reference's actual transport,
            # processor.py:83,106) via the pravega_socket data source
            rdr = (self.spark.read if t.options.get("scan.execution.type")
                   == "batch" else self.spark.readStream)
            return (rdr.format("pravega_socket")
                    .schema(t.schema)
                    .option("controller", t.options["controller-uri"])
                    .option("scope", t.options.get("scope", "scope"))
                    .option("stream", stream.split(";")[0])
                    .load())
        sd = self._stream_dir(t, stream.split(";")[0])
        if t.options.get("scan.execution.type") == "batch":
            return sd.read_bounded(self.spark)   # processor.py:108,219
        return sd.read_stream(self.spark)        # unbounded default

    def _socket_transport(self, t: ConnectorTable) -> bool:
        """``'transport' = 'socket'`` opts a pravega table into the TCP
        data source (needs a live server at ``controller-uri``); the
        default stays the file-backed stream-dir simulation, which needs
        no running server."""
        if t.options.get("transport", "stream-dir") != "socket":
            return False
        if "controller-uri" not in t.options:
            raise ValueError("pravega socket transport needs "
                             "'controller-uri' (e.g. tcp://localhost:9090)")
        from ..io.pravega_source import register
        register(self.spark)
        return True

    def _stream_dir(self, t: ConnectorTable, stream: str):
        from ..io.pravega_sim import StreamDir
        scope = t.options.get("scope", "scope")
        return StreamDir(f"{self.stream_root}/{scope}/{stream}", t.schema)
