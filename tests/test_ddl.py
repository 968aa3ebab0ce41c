"""Connector-DDL translator tests (engine/ddl.py).

The DDL strings here are adapted from the reference's processors
(batch_train_batch_predict_processor.py:44-58 filesystem/csv source,
:73-90 pravega/json sink, :95-114 pravega bounded scan) with only the
paths changed — the point is that the reference's entry idiom runs
verbatim through the Spark engine.
"""

import os

import pytest

from pravega_flink_ai_flow_spark.engine.ddl import (
    FlinkDdlEnv, _map_type)


def test_type_mapping():
    assert _map_type("FLOAT") == "float"
    assert _map_type("INT") == "int"
    assert _map_type("BIGINT") == "long"
    assert _map_type("VARCHAR(255)") == "string"
    assert _map_type("DECIMAL(12, 2)") == "decimal(12,2)"
    assert _map_type("TIMESTAMP(3)") == "timestamp"
    assert _map_type("ARRAY<FLOAT>") == "array<float>"
    assert _map_type("MAP<STRING, INT>") == "map<string,int>"
    with pytest.raises(ValueError):
        _map_type("GEOMETRY")


def test_filesystem_csv_source_ignore_parse_errors(spark, tmp_workdir):
    # the DatagenSource DDL (processor.py:44-58), pointed at a CSV with
    # one malformed field — Flink's csv.ignore-parse-errors nulls it out
    csv_dir = os.path.join(tmp_workdir, "iris_csv")
    os.makedirs(csv_dir)
    with open(os.path.join(csv_dir, "part-0.csv"), "w") as f:
        f.write("5.1,3.5,1.4,0.2,0.0\n")
        f.write("4.9,notanumber,1.4,0.2,0.0\n")
        f.write("6.2,2.9,4.3,1.3,1.0\n")
    env = FlinkDdlEnv(spark, stream_root=tmp_workdir)
    env.execute_sql("""
        create table iris_train (
            sl FLOAT,
            sw FLOAT,
            pl FLOAT,
            pw FLOAT,
            type FLOAT
        ) with (
            'connector' = 'filesystem',
            'path' = '{}',
            'format' = 'csv',
            'csv.ignore-parse-errors' = 'true'
        )
    """.format(csv_dir))
    rows = [tuple(r) for r in env.from_path("iris_train").collect()]
    assert len(rows) == 3
    sws = sorted((r[1] for r in rows), key=lambda v: (v is not None, v or 0))
    assert sws[0] is None  # malformed field became NULL, row kept
    # registered as a temp view too
    assert spark.sql("SELECT COUNT(*) AS n FROM iris_train").first()["n"] == 3


def test_pravega_sink_then_bounded_scan(spark, tmp_workdir):
    env = FlinkDdlEnv(spark, stream_root=os.path.join(tmp_workdir, "streams"))
    env.execute_sql("""
        create table train_sink (
            sl FLOAT, sw FLOAT, pl FLOAT, pw FLOAT, type FLOAT
        ) with (
            'connector' = 'pravega',
            'controller-uri' = 'tcp://localhost:9090',
            'scope' = 'scope',
            'sink.stream' = 'train-stream',
            'format' = 'json'
        )
    """)
    src = spark.createDataFrame(
        [(5.1, 3.5, 1.4, 0.2, 0.0), (6.2, 2.9, 4.3, 1.3, 1.0)],
        "sl float, sw float, pl float, pw float, type float")
    env.add_insert("train_sink", src)
    env.execute_sql("""
        create table train_source (
            sl FLOAT, sw FLOAT, pl FLOAT, pw FLOAT, type FLOAT
        ) with (
            'connector' = 'pravega',
            'controller-uri' = 'tcp://localhost:9090',
            'scope' = 'scope',
            'scan.execution.type' = 'batch',
            'scan.streams' = 'train-stream',
            'format' = 'json'
        )
    """)
    got = sorted(tuple(r) for r in env.from_path("train_source").collect())
    assert got == sorted(tuple(r) for r in src.collect())


def test_pravega_unbounded_source_is_streaming(spark, tmp_workdir):
    env = FlinkDdlEnv(spark, stream_root=os.path.join(tmp_workdir, "streams"))
    os.makedirs(os.path.join(tmp_workdir, "streams", "scope", "x-stream"))
    env.execute_sql("""
        create table s (sl FLOAT) with (
            'connector' = 'pravega', 'scope' = 'scope',
            'scan.streams' = 'x-stream', 'format' = 'json'
        )
    """)
    assert env.from_path("s").isStreaming


def test_datagen_connector(spark, tmp_workdir):
    env = FlinkDdlEnv(spark, stream_root=tmp_workdir)
    env.execute_sql("""
        create table gen (a BIGINT, b DOUBLE) with (
            'connector' = 'datagen', 'number-of-rows' = '5'
        )
    """)
    rows = env.from_path("gen").collect()
    assert len(rows) == 5
    assert rows[0].__fields__ == ["a", "b"]


def test_datagen_noncastable_types(spark, tmp_workdir):
    """DATE/TIMESTAMP/BOOLEAN/BINARY datagen columns need explicit
    constructions — a blind bigint cast to these is invalid under ANSI
    (the driver's vanilla session keeps ANSI ON), so a datagen DDL
    declaring them used to fail at read despite DATE being in _TYPE_MAP
    (ADVICE r4). Complex types are rejected when the DDL runs, with a
    clear error instead of a Catalyst cast failure."""
    import datetime

    env = FlinkDdlEnv(spark, stream_root=tmp_workdir)
    env.execute_sql("""
        create table gen2 (d DATE, t TIMESTAMP(3), f BOOLEAN, raw BYTES)
        with ('connector' = 'datagen', 'number-of-rows' = '4')
    """)
    rows = env.from_path("gen2").orderBy("t").collect()
    assert len(rows) == 4
    assert isinstance(rows[1].d, datetime.date)
    assert isinstance(rows[1].t, datetime.datetime)
    assert rows[0].f is True and rows[1].f is False
    assert isinstance(rows[1].raw, (bytes, bytearray))
    # deterministic: d is column 0 (multiplier 1), so id=1 → epoch + 1 day
    assert rows[1].d == datetime.date(1970, 1, 2)

    with pytest.raises(ValueError, match="datagen connector cannot"):
        env.execute_sql("""
            create table gen3 (xs ARRAY<INT>)
            with ('connector' = 'datagen', 'number-of-rows' = '2')
        """)


def test_bad_ddl_raises(spark, tmp_workdir):
    env = FlinkDdlEnv(spark, stream_root=tmp_workdir)
    with pytest.raises(ValueError):
        env.execute_sql("SELECT 1")
    with pytest.raises(ValueError):
        env.execute_sql("create table t (a INT) with ('format'='csv')")


def test_csv_without_ignore_option_fails_fast(spark, tmp_workdir):
    """Flink's default is to FAIL on parse errors; absent
    csv.ignore-parse-errors the engine must error loudly too, not
    silently null the field (Spark's PERMISSIVE default)."""
    csv_dir = os.path.join(tmp_workdir, "strict_csv")
    os.makedirs(csv_dir)
    with open(os.path.join(csv_dir, "p.csv"), "w") as f:
        f.write("1.0,2.0\nbad,3.0\n")
    env = FlinkDdlEnv(spark, stream_root=tmp_workdir)
    env.execute_sql("""
        create table strict (a FLOAT, b FLOAT) with (
            'connector' = 'filesystem', 'path' = '%s', 'format' = 'csv'
        )""" % csv_dir)
    with pytest.raises(Exception):
        env.from_path("strict").collect()


def test_bounded_scan_sees_data_appended_after_ddl(spark, tmp_workdir):
    """Flink's bounded scan snapshots at job EXECUTION time, not DDL
    time: data appended between DDL and read must be visible, and a
    source declared before any data exists must work once data arrives."""
    env = FlinkDdlEnv(spark, stream_root=os.path.join(tmp_workdir, "s"))
    ddl = """
        create table late_src (x FLOAT) with (
            'connector' = 'pravega', 'scope' = 'scope',
            'scan.execution.type' = 'batch',
            'scan.streams' = 'late-stream', 'format' = 'json'
        )"""
    env.execute_sql(ddl.replace("late_src", "late_sink")
                    .replace("'scan.execution.type' = 'batch',", "")
                    .replace("'scan.streams'", "'sink.stream'"))
    env.execute_sql(ddl)   # declared while the stream dir is still empty
    env.add_insert("late_sink", spark.createDataFrame([(1.0,)], "x float"))
    assert env.from_path("late_src").count() == 1
    env.add_insert("late_sink", spark.createDataFrame([(2.0,)], "x float"))
    assert env.from_path("late_src").count() == 2     # re-snapshot
    assert spark.sql("SELECT COUNT(*) AS n FROM late_src").first()["n"] == 2
