"""Python workers fork from the engine daemon (``engine/pydaemon.py``),
which preloads the workers' imports and freezes them out of the
collector so the forked workers share those pages."""

import os
import subprocess
import sys
import textwrap

import pandas as pd

from pyspark.sql.functions import pandas_udf

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
