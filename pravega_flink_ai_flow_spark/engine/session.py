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
    # Runtime bloom-filter semi-join pruning (r11, measured on TPC-H Q5
    # at the sf10 tier: the date-filtered orders side prunes the 60 M-row
    # lineitem shuffle 5.75 s → 3.64 s, -37%). Spark's defaults block it
    # both here AND at production scale: applicationSideScanSizeThreshold
    # defaults to 10 GB (the probe side must be huge) while
    # creationSideThreshold defaults to 10 MB (the build side must be
    # tiny) — a selective-dim ⋈ fact join at 100 TB has a build side far
    # over 10 MB, so the default pair almost never fires. 64 MB / 256 MB
    # lets mid-size filtered dims prune fact shuffles from sf1 up while
    # leaving sf0.1-and-below plans untouched (scan < 64 MB).
    "spark.sql.optimizer.runtime.bloomFilter."
    "applicationSideScanSizeThreshold": str(64 * 1024 * 1024),
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
        str(256 * 1024 * 1024),
    # ...and SIZE the bloom for the keys it will actually hold (r13,
    # tools/shuffle_projection.py): parquet scans carry no CBO row-count
    # stats, so Spark sizes every injected bloom from expectedNumItems
    # (default 1M → 8M bits) no matter how big the creation side is —
    # the sf10 tier's 10.45M-key creation sides got a 1M-item filter
    # whose FPR collapses (the bloom pruned lineitem 6M→4.2M at sf1 but
    # 60M→59.9M at sf10; that eroding prune was the whole measured
    # >10x within-regime shuffle-record slope on q5/j3/q21 —
    # SHUFFLE_PROJECTION.json). 4M items / 2^25 bits (4 MB) is the
    # MEASURED box optimum of the grid {2^23 (default), 2^25, 2^26,
    # 2^27} on sf10: q5 4.08→3.24 s with shuffle 448→223 MB, q21
    # 8.64→8.28 s with 2410→1555 MB, j3 4.24→5.03 s (its date filter
    # keeps ~70% of orders, so the prune ceiling is small and probe
    # cost dominates — the one regression, outweighed). Bigger filters
    # keep cutting BYTES but lose WALL here because a single box pays
    # per-row probes into a cache-unfriendly bit array while its
    # "network" is memcpy; on a real cluster the bytes cross actual
    # network, so deployments at 100 TB should raise these caps with
    # executor count (the projection tool records both byte slopes).
    # r14: the REAL sf100 decade (SHUFFLE_SF100.json) measured q5 at
    # 5.5× its projected shuffle — the whole 600M-row lineitem shuffled
    # — and the plan probe showed the o_orderkey bloom was ABSENT, not
    # eroded: the 256 MB creationSideThreshold above silently stops
    # injecting once the creation side's size estimate outgrows it
    # (orders crossed it between sf10's 227 MB and sf100's 2.2 GB). And
    # had it been admitted, this 4M-item grid would have held ~30M keys
    # at ~1.1 bits/key — FPR over half, the same erosion the r13 fix
    # bought one decade of. Two constants, two cliffs: ANY constant
    # here is only honest for the tier it was measured on.
    # r15: these grid values are therefore a FALLBACK for sessions
    # built with no knowledge of their data — the self-sizing path is
    # ``get_spark(data_dir=...)`` (or ``session_conf(data_dir=...)``),
    # which reads the tier's parquet FOOTERS (metadata only, no data
    # pages) and applies :func:`bloom_filter_sizing` to the largest
    # table's row count with zero manual input; production tables with
    # ANALYZE'd catalog stats self-size inside max{NumItems,NumBits}
    # without either.
    "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems":
        str(4 * 1024 * 1024),
    "spark.sql.optimizer.runtime.bloomFilter.numBits": str(1 << 25),
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems":
        str(32 * 1024 * 1024),
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits":
        str(1 << 28),
    # local runs read small parquet; keep partition count sane
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # silence the UI in test harnesses
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
}


def bloom_filter_sizing(creation_keys: int) -> dict[str, str]:
    """Runtime-bloom sizing for sessions whose inputs carry NO row-count
    statistics (raw parquet path reads) at a KNOWN data scale — the r14
    lesson from measuring the real sf100 decade: a constant grid is only
    honest for the tier it was measured on (1M saturated at sf10, the
    4M replacement at sf100 — each time the eroded filter silently
    passed ~everything and the fact shuffle went super-linear).

    ``creation_keys`` is an upper bound on any injected filter's
    creation-side key count; the biggest FACT table's row count is
    always a safe bound (creation sides are filtered siblings of the
    fact). Oversizing costs only memory — bits/key above ~8 just lowers
    FPR — while undersizing destroys the filter, so the clamp errs
    high: items in [4M, 2^26], bits = 8×items in [2^25, 2^29] (a 64 MB
    worst-case filter — broadcastable on the executors this engine
    assumes). Beyond the caps a filter stops being useful before it
    stops being injected; production tables with ANALYZE'd stats
    self-size inside max{NumItems,NumBits} instead, and creation sides
    too big for ANY useful filter are stopped by
    creationSideThreshold."""
    items = max(4 * 1024 * 1024, min(creation_keys, 1 << 26))
    bits = max(1 << 25, min(items * 8, 1 << 29))
    return {
        "spark.sql.optimizer.runtime.bloomFilter.expectedNumItems":
            str(items),
        "spark.sql.optimizer.runtime.bloomFilter.numBits": str(bits),
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems":
            str(max(items, 32 * 1024 * 1024)),
        "spark.sql.optimizer.runtime.bloomFilter.maxNumBits":
            str(max(bits, 1 << 28)),
        # the SECOND constant the sf100 decade caught (the first run's
        # q5 showed the 600M-row lineitem shuffled whole): the static
        # 256 MB creationSideThreshold silently STOPS injecting the
        # o_orderkey bloom once the creation side's size estimate
        # outgrows it — at sf100 the filter wasn't eroded, it was
        # ABSENT. Scale the admission bar with the same key bound
        # (~32 B/row estimate), because the filter's VALUE (pruned
        # fact-shuffle bytes) scales with exactly the same data growth
        # that grows the creation side.
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            str(max(256 * 1024 * 1024, creation_keys * 32)),
    }


def parquet_row_bound(data_dir: str) -> int | None:
    """Largest table's row count under ``data_dir``, from parquet FOOTERS
    only (pyarrow metadata read — a few KB per file, no data pages; at
    the 100 TB tier this is the one full-corpus statistic that costs
    nothing to know). Tables are ``*.parquet`` files or directories of
    part files; the max across tables is a safe upper bound for any
    runtime filter's creation-side key count, because every creation
    side is a filtered subset of some table. Returns None when no rows
    are found — callers keep the static fallback grid. An unreadable
    footer raises, naming its file: counting it as empty would silently
    undersize the grid."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return None
    if not os.path.isdir(data_dir):
        return None

    def file_rows(path: str) -> int:
        try:
            return pq.ParquetFile(path).metadata.num_rows
        except (OSError, ValueError) as e:
            raise ValueError(f"unreadable parquet footer: {path}: {e}") from e

    best = 0
    for entry in sorted(os.listdir(data_dir)):
        p = os.path.join(data_dir, entry)
        if os.path.isfile(p) and entry.endswith(".parquet"):
            best = max(best, file_rows(p))
        elif os.path.isdir(p):
            best = max(best, sum(
                file_rows(os.path.join(p, f)) for f in os.listdir(p)
                if f.endswith(".parquet")))
    return best or None


def session_conf(extra_conf: dict[str, str] | None = None,
                 data_dir: str | None = None) -> dict[str, str]:
    """The engine conf as a plain dict (pure assembly — testable without
    a JVM). ``data_dir`` is the r15 self-sizing path: derive the
    runtime-bloom grid from the tier's parquet footers via
    :func:`parquet_row_bound` + :func:`bloom_filter_sizing`, so no
    hand-set constant survives a decade jump (the r14 sf100 lesson —
    both static cliffs were invisible until the next decade ran).
    Explicit ``extra_conf`` still wins over the derived values.
    Shuffle partitions are left to :func:`shuffle_partitions` unless
    ``extra_conf`` sets them."""
    conf = dict(_DEFAULTS)
    if data_dir is not None:
        bound = parquet_row_bound(data_dir)
        if bound is not None:
            conf.update(bloom_filter_sizing(bound))
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
              extra_conf: dict[str, str] | None = None,
              data_dir: str | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    so the same code runs unchanged under a cluster master URL.
    ``data_dir`` self-sizes the runtime-bloom grid from that tier's
    parquet footers (see :func:`session_conf`); note getOrCreate reuses
    a live session, so sizing only applies to the session that actually
    starts the JVM. Shuffle partitions are sized to the started
    session's ``defaultParallelism`` (``local[N]`` gives N, a cluster its
    executor cores) unless ``extra_conf`` sets them.

    Python workers fork from the engine daemon (:mod:`.pydaemon`); the
    package's parent directory is prepended to
    ``spark.executorEnv.PYTHONPATH`` (after which any ``extra_conf``
    value follows) so workers can import it from any working directory.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    conf = session_conf(extra_conf, data_dir)
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
