"""Python workers fork from the engine daemon (``engine/pydaemon.py``),
which preloads the workers' imports and freezes them out of the
collector so the forked workers share those pages, and which re-reads a
zip archive only when it changed."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd

from pyspark.sql.functions import pandas_udf

from pravega_flink_ai_flow_spark.engine import pydaemon
from pravega_flink_ai_flow_spark.engine.pydaemon import invalidate_if_changed
from pravega_flink_ai_flow_spark.engine.session import session_conf

from conftest import REPO

DAEMON = "pravega_flink_ai_flow_spark.engine.pydaemon"


def test_session_conf_names_the_engine_daemon():
    key = "spark.python.daemon.module"
    assert session_conf()[key] == DAEMON
    assert session_conf(extra_conf={key: "pyspark.daemon"})[key] == \
        "pyspark.daemon"


def test_workers_fork_from_the_frozen_engine_daemon(spark):
    """A worker sees a frozen heap, and its parent is the engine daemon."""

    @pandas_udf("string")
    def probe(x: pd.Series) -> pd.Series:
        import gc
        import os
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().replace(b"\0", b" ").decode()
        return pd.Series([f"{gc.get_freeze_count()}|{parent}"] * len(x))

    frozen, parent = spark.range(4).select(probe("id")).first()[0].split(
        "|", 1)
    assert int(frozen) > 0
    assert DAEMON in parent.split()


def test_worker_task_start_reads_no_zip_directory(spark):
    """Inside a worker, ``importlib.invalidate_caches()`` (which pyspark
    calls at every task start) re-reads none of its zip archives."""

    @pandas_udf("long")
    def reads(x: pd.Series) -> pd.Series:
        import importlib
        import zipimport
        calls = []
        original = zipimport._read_directory

        def counting(archive):
            calls.append(archive)
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        return pd.Series([len(calls)] * len(x))

    assert spark.range(4).select(reads("id")).first()[0] == 0


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    """An unchanged archive is not re-read; one rewritten in place on
    ``sys.path`` is, so a module added to it becomes importable."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipmod_a": "X = 1\n"})
    reads = []
    original = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return original(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        invalidate_if_changed)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zipmod_a").X == 1
        importlib.invalidate_caches()  # no stamps yet: reads and stamps
        del reads[:]
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"zipmod_a": "X = 1\n", "zipmod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("zipmod_b").Y == 2
    finally:
        for name in ("zipmod_a", "zipmod_b"):
            sys.modules.pop(name, None)
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                vars(finder).pop("_archive_stamp", None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


# Imports the data source in a fresh interpreter, as a driver
# (argv[1] == "driver") or as a Spark worker after setup_spark_files.
IMPORT_SOURCE = textwrap.dedent("""
    import sys, zipimport
    sys.path.insert(0, %r)
    from pyspark.core.files import SparkFiles
    SparkFiles._is_running_on_worker = sys.argv[1] == "worker"
    import pravega_flink_ai_flow_spark.io.pravega_source  # noqa: F401
    print(zipimport.zipimporter.invalidate_caches.__qualname__,
          sorted({"pandas", "pyarrow"} & set(sys.modules)))
""") % REPO


def test_data_source_installs_the_stamp_check_only_in_a_worker(
        monkeypatch):
    """Importing ``io.pravega_source`` on a driver leaves
    ``zipimporter.invalidate_caches`` as it was; in a Spark worker it
    installs the stamp check without importing pandas or pyarrow. The
    installer patches once and stamps the zip importers it finds."""
    def imported_as(role):
        out = subprocess.run([sys.executable, "-c", IMPORT_SOURCE, role],
                             timeout=120, capture_output=True, text=True)
        assert out.returncode == 0, out.stderr[-2000:]
        return out.stdout.split()

    assert imported_as("driver") == ["zipimporter.invalidate_caches", "[]"]
    assert imported_as("worker") == ["invalidate_if_changed", "[]"]

    archive = "held.zip"
    held = object.__new__(zipimport.zipimporter)
    held.archive = archive
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon._read_archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, held)
    monkeypatch.setattr(pydaemon, "_stat_stamp",
                        lambda importer: (1, importer.archive))
    try:
        pydaemon.install_zip_stamps()
        assert zipimport.zipimporter.invalidate_caches is \
            invalidate_if_changed
        assert held._archive_stamp == (1, archive)
        held._archive_stamp = "kept"
        pydaemon.install_zip_stamps()
        assert held._archive_stamp == "kept"
    finally:
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                vars(finder).pop("_archive_stamp", None)


def test_driver_outside_the_repo_runs_a_pandas_udf(tmp_path):
    """With ``PYTHONPATH`` unset and another working directory, workers
    still find the daemon: ``get_spark`` puts the package root on the
    executors' ``PYTHONPATH`` ahead of the caller's value."""
    script = textwrap.dedent("""
        import sys
        sys.path.insert(0, %r)
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from pravega_flink_ai_flow_spark.engine.session import get_spark

        spark = get_spark("outside-repo", master="local[2]", extra_conf={
            "spark.executorEnv.PYTHONPATH": "/nonexistent"})
        print("PATH " + spark.conf.get("spark.executorEnv.PYTHONPATH"))

        @pandas_udf("long")
        def plus_one(x: pd.Series) -> pd.Series:
            return x + 1

        print("RESULT", sorted(r[0] for r in
                               spark.range(4).select(plus_one("id")).collect()))
        spark.stop()
    """) % REPO
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, timeout=300, capture_output=True, text=True)
    assert out.returncode == 0, out.stderr[-3000:]
    assert f"PATH {REPO}{os.pathsep}/nonexistent" in out.stdout
    assert "RESULT [1, 2, 3, 4]" in out.stdout


# Builds a frame with ``batch.from_rows``, then trains, deploys and
# applies the predict UDF, and prints the command lines of the JVM's
# child processes, one per line.
ROWS_THEN_PREDICT = textwrap.dedent("""
    import os, sys
    sys.path.insert(0, %r)
    from pravega_flink_ai_flow_spark.engine.session import get_spark
    from pravega_flink_ai_flow_spark.io import batch
    from pravega_flink_ai_flow_spark.ml import (
        KNNClassifier, ModelRegistry, ops as ml_ops)

    work, iris = sys.argv[1], sys.argv[2]
    spark = get_spark("one-daemon", master="local[2]")
    rows = [tuple(float(v) for v in line.split(","))
            for line in open(iris) if line.strip()]
    df = batch.from_rows(
        spark, rows, "sl double, sw double, pl double, pw double, type double")
    assert df.count() == len(rows) and len(df.collect()) == len(rows)
    features = ["sl", "sw", "pl", "pw"]
    reg = ModelRegistry(os.path.join(work, "aiflow.db"))
    ml_ops.train(df, registry=reg, model_name="m", feature_cols=features,
                 label_col="type", fit_fn=lambda x, y: KNNClassifier(5).fit(x, y),
                 model_dir=os.path.join(work, "models"))
    ml_ops.validate(df, registry=reg, model_name="m", feature_cols=features,
                    label_col="type", metrics_path=os.path.join(work, "metrics"))
    out = ml_ops.predict(df, registry=reg, model_name="m",
                         feature_cols=features).collect()
    assert len(out) == len(rows)

    jvm = str(spark._jvm.java.lang.ProcessHandle.current().pid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\\0", b" ").decode()
        except OSError:
            continue
        if ppid == jvm:
            print("CHILD", cmd)
    spark.stop()
""") % REPO


def test_rows_source_then_predict_udf_runs_one_engine_daemon(tmp_path):
    """A ``from_rows`` frame and the predict UDF share one engine daemon:
    the rows are decoded by the JVM, so no Python task with another
    worker environment starts a second daemon and its preloaded heap."""
    from conftest import DATA
    out = subprocess.run(
        [sys.executable, "-c", ROWS_THEN_PREDICT, str(tmp_path),
         os.path.join(DATA, "iris_train.csv")],
        timeout=300, capture_output=True, text=True)
    assert out.returncode == 0, out.stderr[-3000:]
    children = [l for l in out.stdout.splitlines() if l.startswith("CHILD")]
    daemons = [c for c in children if DAEMON in c.split()]
    assert len(daemons) == 1, children
