"""SparkSession factory.

The reference initializes a Flink stream environment per job
(``batch_train_batch_predict_processor.py:36`` —
``flink.set_flink_env(flink.FlinkStreamEnv())``). Spark-first equivalent:
one shared SparkSession configured for determinism (UTC) and scale
(AQE, Arrow).

Scale notes (100 TB design intent, tested on local[32]):
- AQE on: runtime coalescing of shuffle partitions, dynamic broadcast
  joins, skew-join splitting — the knobs that keep a fixed logical plan
  healthy at 1000 executors.
- Arrow on: every pandas interchange (toPandas, pandas UDF, applyInPandas)
  is Arrow-batched, never row-at-a-time pickling.
- Shuffle partitions default to the session's task slots
  (``defaultParallelism``). A stateful streaming micro-batch pays one
  Python UDF start and one sink-writer start per state partition, and AQE
  never coalesces micro-batches: on 4 cores, 32 partitions made a batch
  ~36 tasks and ~9 s, one per core ~6 tasks and ~2 s.
- Python workers fork from :mod:`.pydaemon`, which imports numpy, pandas,
  pyarrow and the engine once and freezes them out of the collector, so
  the forked workers share those pages (``stream_predict`` worker-pool
  PSS at peak, 4 cores: 785 → 497 MB). Its workers also re-read a zip
  archive at task start only when it changed, which takes about 190 ms
  off every Python task start on CPython 3.11. Spark's data-source
  planner workers ignore the setting and start from ``pyspark.daemon``;
  the ``pravega_socket`` source installs the same check there.
- Streaming checkpoints are written through Spark's FileSystem
  checkpoint manager instead of its default FileContext one: a
  ``stream_predict`` micro-batch writes 10 checkpoint files (the offset
  and commit logs, and a state delta plus its checksum per state
  partition on 4 cores), and each atomic write took 15–18 ms instead of
  38–45 ms. Writes still go to a temp file and rename, and Hadoop's
  ``.crc`` side files stay.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
# The directory holding the package, which workers need to import the daemon.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

_DEFAULTS = {
    # determinism
    "spark.sql.session.timeZone": "UTC",
    # scale / performance
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.python.daemon.module": "pravega_flink_ai_flow_spark.engine.pydaemon",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Runtime bloom-filter semi-join pruning. Spark's defaults (probe side
    # over 10 GB, build side under 10 MB) almost never fire; with these
    # caps TPC-H Q5 at sf10 pruned its lineitem shuffle, 5.75 → 3.64 s.
    # Parquet scans carry no row-count stats, so each filter is sized by
    # expectedNumItems: 4M items / 2^25 bits was the wall-time optimum of
    # the grid 2^23..2^27 bits at sf10 (SHUFFLE_PROJECTION.json); at sf100
    # the 256 MB creation cap stops injecting Q5's filter (SHUFFLE_SF100.json).
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": str(64 * 1024 * 1024),
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
        str(256 * 1024 * 1024),
    "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems":
        str(4 * 1024 * 1024),
    "spark.sql.optimizer.runtime.bloomFilter.numBits": str(1 << 25),
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems":
        str(32 * 1024 * 1024),
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits":
        str(1 << 28),
    # local runs read small parquet; keep partition count sane
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Streaming offset, commit and state-delta files go through Hadoop's
    # FileSystem API: one atomic checkpoint file write took 15–18 ms with
    # it against 38–45 ms with the default FileContext manager (4 cores).
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
    # silence the UI in test harnesses
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
}


def session_conf(extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """The engine conf as a plain dict (pure assembly — testable without
    a JVM); ``extra_conf`` wins over the defaults. Shuffle partitions are
    left to :func:`shuffle_partitions` unless ``extra_conf`` sets them."""
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    return conf


def shuffle_partitions(conf: dict[str, str], parallelism: int) -> str:
    """``spark.sql.shuffle.partitions`` for a session with ``parallelism``
    task slots: an explicit value in ``conf`` wins, else one partition
    per slot."""
    return conf.get(SHUFFLE_PARTITIONS, str(parallelism))


def get_spark(app_name: str = "pravega-flink-ai-flow-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    so the same code runs unchanged under a cluster master URL.
    getOrCreate reuses a live session, so ``extra_conf`` only applies to
    the session that actually starts the JVM. Shuffle partitions are
    sized to the started session's ``defaultParallelism`` (``local[N]``
    gives N, a cluster its executor cores) unless ``extra_conf`` sets
    them.

    Python workers fork from the engine daemon (:mod:`.pydaemon`); the
    package's parent directory is prepended to
    ``spark.executorEnv.PYTHONPATH`` (after which any ``extra_conf``
    value follows) so workers can import it from any working directory.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    conf = session_conf(extra_conf)
    conf[_WORKER_PYTHONPATH] = os.pathsep.join(
        p for p in (_PACKAGE_ROOT, conf.get(_WORKER_PYTHONPATH)) if p)
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.conf.set(SHUFFLE_PARTITIONS, shuffle_partitions(
        conf, spark.sparkContext.defaultParallelism))
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
