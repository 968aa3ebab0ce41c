"""Source/sink queries (SURVEY.md §2.1, rows S1-S9).

Each query exercises a real engine source/sink round-trip and is verified
against the oracle reading the original parquet directly — so a format
bug (quoting, nulls, timestamp rendering) breaks the hash.

Round-trips write under ``.scratch/<pid>/`` inside the repo (the engine never
touches paths outside ``/root/repo``).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import declared, tables
from ..io import batch
from ..io.pravega_sim import StreamDir

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch")


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:   # alive, owned by another user
        pass
    return True


def _own_scratch() -> str:
    """This process's namespace ``.scratch/<pid>/``. Concurrent
    harnesses each get their own, so one never deletes another's live
    output; the first call drops the namespaces of dead processes."""
    own = os.path.join(_SCRATCH, str(os.getpid()))
    if not os.path.isdir(own):
        os.makedirs(_SCRATCH, exist_ok=True)
        for d in os.listdir(_SCRATCH):
            if d.isdigit() and not _pid_alive(int(d)):
                shutil.rmtree(os.path.join(_SCRATCH, d), ignore_errors=True)
        os.makedirs(own, exist_ok=True)
    return own


def _s14_warehouse() -> str:
    """The s14 database location, in this process's namespace: s14
    deletes a bucketed table's files that its own session's catalog does
    not know, which in a shared warehouse are another process's live
    table."""
    return os.path.join(_own_scratch(), "s14_warehouse")


def _tmpdir(prefix: str) -> str:
    own = _own_scratch()
    # drop this process's earlier runs of the same query so repeated
    # calls don't accumulate scratch dirs
    for old in os.listdir(own):
        if old.startswith(prefix):
            shutil.rmtree(os.path.join(own, old), ignore_errors=True)
    path = tempfile.mkdtemp(prefix=prefix, dir=own)
    shutil.rmtree(path)  # Spark writers want to create the dir themselves
    return path


NATION_SCHEMA = T.StructType([
    T.StructField("n_nationkey", T.IntegerType()),
    T.StructField("n_name", T.StringType()),
    T.StructField("n_regionkey", T.IntegerType()),
])

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


@declared(
    "s1_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    survey_ids=("S1", "S2"),
)
def s1_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink (processor.py:268-278) then CSV source with explicit schema
    and DROPMALFORMED (processor.py:44-58) — values must survive the
    round-trip bit-exact vs the parquet original."""
    (nation,) = tables(spark, sf_dir, "nation")
    path = _tmpdir("s1_csv_")
    batch.write(nation, "csv", path)
    return batch.read_csv(spark, path, NATION_SCHEMA).orderBy("n_nationkey")


@declared(
    "s3_s4_stream_dir_roundtrip",
    oracle="""
    SELECT event_type,
           COUNT(*)                      AS n_events,
           CAST(SUM(value) AS DOUBLE)    AS total_value,
           MIN(event_id)                 AS min_event_id,
           MAX(event_id)                 AS max_event_id
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    survey_ids=("S3", "S4", "S6"),
)
def s3_s4_stream_dir_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pravega-sim: JSON stream sink (processor.py:67-90) then bounded
    stream read (scan.execution.type=batch, processor.py:93-114), with an
    aggregate on top. Timestamps/doubles must survive JSON encode/decode."""
    (events,) = tables(spark, sf_dir, "events")
    stream = StreamDir(_tmpdir("s3_stream_"), EVENTS_SCHEMA)
    stream.append(events)
    bounded = stream.read_bounded(spark)
    return (
        bounded.groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("value").cast("double").alias("total_value"),
             F.min("event_id").alias("min_event_id"),
             F.max("event_id").alias("max_event_id"))
        .orderBy("event_type")
    )


@declared(
    "s7_parquet_pruned_scan",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 200000
    ORDER BY o_orderkey
    """,
    survey_ids=("S7",),
)
def s7_parquet_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan where Catalyst pushes the filter into the reader
    (PushedFilters: [GreaterThan(o_totalprice,...)]) and prunes to a
    2-column ReadSchema — the at-scale contract for every scan."""
    (orders,) = tables(spark, sf_dir, "orders")
    return (orders.filter(F.col("o_totalprice") > 200000)
            .select("o_orderkey", "o_totalprice")
            .orderBy("o_orderkey"))


@declared(
    "s8_rows_source",
    oracle="""
    SELECT t.r_name, COUNT(*) AS n_nations
    FROM (VALUES (0, 'AFRICA'), (1, 'AMERICA'), (2, 'ASIA'),
                 (3, 'EUROPE'), (4, 'MIDDLE EAST')) AS t(r_regionkey, r_name)
    JOIN nation ON nation.n_regionkey = t.r_regionkey
    GROUP BY t.r_name
    ORDER BY t.r_name
    """,
    survey_ids=("S8", "J2"),
)
def s8_rows_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory literal-rows source (pd.DataFrame.from_records,
    processor.py:248-249) joined against a real table."""
    (nation,) = tables(spark, sf_dir, "nation")
    rows = [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST")]
    lit = batch.from_rows(
        spark, rows,
        T.StructType([T.StructField("r_regionkey", T.IntegerType()),
                      T.StructField("r_name", T.StringType())]))
    return (
        nation.join(F.broadcast(lit), nation.n_regionkey == lit.r_regionkey)
        .groupBy("r_name").agg(F.count("*").alias("n_nations"))
        .orderBy("r_name")
    )


@declared(
    "s9_pandas_bridge",
    oracle="""
    SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey
    """,
    survey_ids=("S9",),
)
def s9_pandas_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow toPandas bridge (tab.to_pandas(), processor.py:124) and back —
    values must survive the Arrow conversion."""
    (region,) = tables(spark, sf_dir, "region")
    pdf = batch.to_pandas(region.orderBy("r_regionkey"))
    return spark.createDataFrame(pdf).orderBy("r_regionkey")


@declared(
    "s11_ddl_connector_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey
    """,
    survey_ids=("S1", "S3", "S4"),
)
def s11_ddl_connector_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector-DDL entry point: the reference's exact table lifecycle —
    ``execute_sql(CREATE TABLE ... WITH ('connector'='pravega', ...))``
    for a JSON sink (processor.py:73-90), ``add_insert`` (processor.py:89),
    then a second DDL with ``'scan.execution.type'='batch'``
    (processor.py:95-114) and a plain ``spark.sql`` read through the
    registered view. Values must survive DDL-declared schemas + JSON."""
    from ..engine.ddl import FlinkDdlEnv

    (nation,) = tables(spark, sf_dir, "nation")
    env = FlinkDdlEnv(spark, stream_root=_tmpdir("s11_ddl_"))
    env.execute_sql("""
        create table nation_sink (
            n_nationkey INT, n_name STRING, n_regionkey INT
        ) with (
            'connector' = 'pravega',
            'controller-uri' = 'tcp://localhost:9090',
            'scope' = 'scope',
            'sink.stream' = 'nation-stream',
            'format' = 'json'
        )""")
    env.add_insert("nation_sink", nation)
    env.execute_sql("""
        create table nation_ddl_source (
            n_nationkey INT, n_name STRING, n_regionkey INT
        ) with (
            'connector' = 'pravega',
            'controller-uri' = 'tcp://localhost:9090',
            'scope' = 'scope',
            'scan.execution.type' = 'batch',
            'scan.streams' = 'nation-stream',
            'format' = 'json'
        )""")
    return spark.sql("SELECT n_nationkey, n_name, n_regionkey "
                     "FROM nation_ddl_source ORDER BY n_nationkey")


@declared(
    "s12_jsonl_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderkey <= 1000
    ORDER BY o_orderkey
    """,
    survey_ids=("S6", "S2"),
)
def s12_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink then source — the de-facto interchange format for
    LLM training corpora (one JSON object per line, newline-delimited,
    splittable so a 100 TB corpus scans with full parallelism). Written
    with Spark's json writer, read back with the source's exact schema
    (no inference — schema inference is a full extra pass at scale);
    timestamps and doubles must survive the text encoding bit-exact vs
    the parquet original."""
    (orders,) = tables(spark, sf_dir, "orders")
    sel = (orders.filter(F.col("o_orderkey") <= 1000)
           .select("o_orderkey", "o_orderdate", "o_totalprice",
                   "o_orderpriority"))
    path = _tmpdir("s12_jsonl_")
    sel.write.mode("overwrite").json(path)
    return (spark.read.schema(sel.schema).json(path)
            .orderBy("o_orderkey"))


@declared(
    "s13_partitioned_pruned_scan",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_totalprice > 150000
    ORDER BY o_orderkey
    """,
    survey_ids=("S7", "P4"),
)
def s13_partitioned_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write (``partitionBy``) then a read whose
    partition predicate never touches the data files — at 100 TB,
    directory-level partition pruning is the first and cheapest filter
    any scan has (a date/source partition predicate skips whole shards
    before a single row group is opened). The pruning contract
    (``PartitionFilters`` in the scan, not a post-filter) is asserted
    in tests/test_plan_contracts.py; values here must survive the
    partition-column round-trip (partition values are encoded in
    directory names, so string escaping is part of what's checked)."""
    (orders,) = tables(spark, sf_dir, "orders")
    path = _tmpdir("s13_part_")
    (orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
     .write.mode("overwrite").partitionBy("o_orderpriority").parquet(path))
    return (spark.read.parquet(path)
            .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
                    & (F.col("o_totalprice") > 150000))
            .select("o_orderkey", "o_orderpriority", "o_totalprice")
            .orderBy("o_orderkey"))


def _s14_n_buckets(sf_dir: str) -> int:
    """Bucket count ∝ data volume (≈64 MB of source lineitem bytes per
    bucket, floor 8, cap 256) — the write-time sizing rule a 100 TB
    deployment uses; at 100 TB the 256 cap saturates and per-bucket
    size grows, exactly what production bucketing does. 64 MB/bucket
    measured BEST on this box (A/B at sf10: 16 buckets 4.6 s vs 8
    buckets 7.6 s vs 33 buckets 6.6 s — past ~2 buckets/core the
    per-bucket file overhead beats the extra parallelism). A FIXED count was the measured r11 sf10 tail
    (verdict #2): 8 buckets cap the zero-exchange join's parallelism at
    8 tasks on a 32-core box, so 10× data ran ≈10× wall (8.7×) with 24
    cores idle. Sized from file bytes (driver-side stat, no job); both
    tables use the SAME count so the join stays exchange-free."""
    path = os.path.join(sf_dir, "lineitem.parquet")
    try:
        if os.path.isdir(path):
            n_bytes = sum(e.stat().st_size for e in os.scandir(path)
                          if e.is_file())
        else:
            n_bytes = os.path.getsize(path)
    except OSError:
        n_bytes = 0
    return max(8, min(256, n_bytes // (64 * 1024 * 1024)))


@declared(
    "s14_bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice,
           COUNT(*) AS n_items,
           SUM(l.l_quantity) AS sum_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > 250000
    GROUP BY o.o_orderkey, o.o_totalprice
    ORDER BY o.o_orderkey
    """,
    survey_ids=("S7", "J3", "A1"),
)
def s14_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed tables + co-located join: both fact tables are written
    ``bucketBy(n, key)`` + ``sortBy(key)`` (n sized by data volume —
    :func:`_s14_n_buckets`), so the subsequent join and the per-key
    aggregate run with ZERO Exchange — each bucket pair joins locally.
    This is THE technique for repeated large-large joins at 100 TB: pay
    the partitioning once at write time, then every downstream join/agg
    on that key skips its shuffle entirely. The no-Exchange-between-
    scans contract is asserted in tests/test_plan_contracts.py; the
    bucket write itself (hash function, bucket pruning metadata) is
    what the value hash checks."""
    (orders, lineitem) = tables(spark, sf_dir, "orders", "lineitem")
    db_dir = _s14_warehouse()
    spark.sql(f"CREATE DATABASE IF NOT EXISTS s14_bucketed LOCATION "
              f"'{db_dir}'")
    # table names carry the scale-factor tag: one pytest session runs
    # several sf_dirs, and a cached table from another SF would
    # silently answer for the wrong dataset. Sanitize EVERY
    # non-identifier char, not just "." — the bench layout dirs carry
    # a hyphenated version prefix (v2-sf1) that broke the unquoted
    # table name (r11).
    import re
    tag = re.sub(r"[^A-Za-z0-9_]", "_",
                 os.path.basename(sf_dir.rstrip("/")))
    n_buckets = _s14_n_buckets(sf_dir)
    # bucket count is part of the table identity: a table left in
    # scratch by an older sizing rule must not answer for the new one
    ob_name = f"orders_b_{tag}_{n_buckets}"
    lb_name = f"lineitem_b_{tag}_{n_buckets}"
    for name, df, key in ((ob_name,
                           orders.select("o_orderkey", "o_totalprice"),
                           "o_orderkey"),
                          (lb_name,
                           lineitem.select("l_orderkey", "l_quantity"),
                           "l_orderkey")):
        if not spark.catalog.tableExists(f"s14_bucketed.{name}"):
            # a fresh session's catalog forgets managed tables, but the
            # previous session's files survive in .scratch — clear them
            # or saveAsTable refuses (LOCATION_ALREADY_EXISTS). Also
            # reclaim SIBLING tables of the same (table, tag) written
            # under a superseded bucket-count rule — without this every
            # sizing change strands another copy of the fact tables
            # sibling = same (table, tag) base + a NUMERIC bucket-count
            # suffix ONLY (r12 advice #3: a bare startswith also matched
            # another sf_dir whose sanitized tag extends this one with an
            # underscore segment — 'sf1' vs 'sf1_v2' — and silently
            # discarded that dataset's bucketed write)
            base = name.rsplit("_", 1)[0]
            sib = re.compile(re.escape(base) + r"_\d+$")
            try:
                for d in os.listdir(db_dir):
                    if sib.fullmatch(d) and d != name:
                        # drop the catalog entry FIRST: a same-session
                        # sibling (possible only when the sizing rule is
                        # monkeypatched, as the sf10 s14 measurement did)
                        # must not keep a dangling table over a deleted
                        # location
                        spark.sql(
                            f"DROP TABLE IF EXISTS s14_bucketed.{d}")
                        shutil.rmtree(os.path.join(db_dir, d),
                                      ignore_errors=True)
            except OSError:
                pass
            shutil.rmtree(os.path.join(db_dir, name), ignore_errors=True)
            (df.write.bucketBy(n_buckets, key).sortBy(key)
             .mode("overwrite").format("parquet")
             .saveAsTable(f"s14_bucketed.{name}"))
    ob = spark.table(f"s14_bucketed.{ob_name}")
    lb = spark.table(f"s14_bucketed.{lb_name}")
    return (ob.filter(F.col("o_totalprice") > 250000)
            .join(lb, lb.l_orderkey == ob.o_orderkey)
            .groupBy("o_orderkey", "o_totalprice")
            .agg(F.count("*").alias("n_items"),
                 F.sum("l_quantity").alias("sum_qty"))
            .orderBy("o_orderkey"))


@declared(
    "s10_orc_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    ORDER BY n_nationkey
    """,
    survey_ids=("S7",),
)
def s10_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write→read round-trip (the other columnar at-rest format);
    verified against the oracle reading the original parquet — a type
    mapping or null-handling bug in either direction breaks the hash."""
    (nation,) = tables(spark, sf_dir, "nation")
    path = _tmpdir("orc_roundtrip")
    nation.write.mode("overwrite").orc(path)
    return (spark.read.orc(path)
            .select("n_nationkey", "n_name", "n_regionkey")
            .orderBy("n_nationkey"))


@declared(
    "s15_table_profile",
    oracle="""
    SELECT * FROM (
        SELECT 'o_custkey' AS col_name, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nulls,
               COUNT(DISTINCT o_custkey) AS n_distinct,
               CAST(MIN(o_custkey) AS VARCHAR) AS min_str,
               CAST(MAX(o_custkey) AS VARCHAR) AS max_str
        FROM orders
        UNION ALL
        SELECT 'o_orderkey', COUNT(*),
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               COUNT(DISTINCT o_orderkey),
               CAST(MIN(o_orderkey) AS VARCHAR),
               CAST(MAX(o_orderkey) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*),
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               COUNT(DISTINCT o_orderpriority),
               MIN(o_orderpriority), MAX(o_orderpriority)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*),
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               COUNT(DISTINCT o_orderstatus),
               MIN(o_orderstatus), MAX(o_orderstatus)
        FROM orders
    ) ORDER BY col_name
    """,
    survey_ids=("S7", "A2", "A3"),
)
def s15_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling operator (the ANALYZE/summary pass every ingest
    pipeline runs before training): per-column row count, null count,
    exact distinct count, and min/max. One per-column value-histogram
    aggregate each (``groupBy(col).count()`` with map-side combine, then
    a global agg over the ndv-sized histogram: n_rows = Σcount, nulls =
    the null key's count, n_distinct = non-null keys, min/max = key
    min/max), unioned — the same shape as the oracle. The previous
    single-agg multi-``count_distinct`` form planned as a 5× row Expand
    into a SortAggregate keyed on ALL FOUR columns (near-zero partial
    reduction on the unique-key column, a full sort of the expanded
    rows) whose tiny-bytes exchange AQE then coalesced to ONE partition
    — the whole chain ran single-threaded (r15, guide §2.3/§2.5: 1.73 s
    → 0.50 s steady at sf0.1). Reading four pruned single-column scans
    costs the same parquet bytes as one four-column scan. Profiled
    columns are the int/string ones so min/max render identically as
    strings across engines (double/timestamp formatting differs)."""
    (orders,) = tables(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderkey", "o_orderpriority", "o_orderstatus"]
    parts = []
    for c in cols:
        hist = (orders.groupBy(F.col(c).alias("__v"))
                .agg(F.count(F.lit(1)).alias("__c")))
        parts.append(
            hist.agg(
                F.sum("__c").alias("n_rows"),
                F.coalesce(
                    F.sum(F.when(F.col("__v").isNull(), F.col("__c"))),
                    F.lit(0).cast("long")).alias("n_nulls"),
                F.count("__v").alias("n_distinct"),
                F.min("__v").cast("string").alias("min_str"),
                F.max("__v").cast("string").alias("max_str"))
            .select(F.lit(c).alias("col_name"), "n_rows", "n_nulls",
                    "n_distinct", "min_str", "max_str"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("col_name")


def _zspread(col):
    """Spread the low 16 bits of ``col`` so a second dimension can
    interleave into the odd bit positions (classic Morton magic-number
    cascade, 64-bit arithmetic on both engines)."""
    x = col.bitwiseAND(F.lit(0xFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
    return x



@declared(
    "s16_zorder_key",
    oracle="""
    WITH sp AS (
        SELECT o_orderkey, o_custkey,
               o_custkey & 65535 AS xa,
               date_diff('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) & 65535 AS ya
        FROM orders
    ),
    s1 AS (
        SELECT o_orderkey,
               ((xa | (xa << 8)) & 16711935) AS x1,
               ((ya | (ya << 8)) & 16711935) AS y1
        FROM sp
    ),
    s2 AS (
        SELECT o_orderkey,
               ((x1 | (x1 << 4)) & 252645135) AS x2,
               ((y1 | (y1 << 4)) & 252645135) AS y2
        FROM s1
    ),
    s3 AS (
        SELECT o_orderkey,
               ((x2 | (x2 << 2)) & 858993459) AS x3,
               ((y2 | (y2 << 2)) & 858993459) AS y3
        FROM s2
    ),
    s4 AS (
        SELECT o_orderkey,
               ((x3 | (x3 << 1)) & 1431655765) AS x4,
               ((y3 | (y3 << 1)) & 1431655765) AS y4
        FROM s3
    )
    SELECT o_orderkey, CAST(x4 | (y4 << 1) AS BIGINT) AS zval
    FROM s4
    ORDER BY zval, o_orderkey
    LIMIT 200
    """,
    survey_ids=("S7", "O1"),
)
def s16_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (custkey, order-day) — the
    multi-dimensional layout primitive behind Delta/Iceberg Z-ordering:
    writing a 100 TB table sorted by this key makes parquet row-group
    min/max stats selective for BOTH dimensions at once, so filters on
    either column prune file ranges (single-column sorting prunes only
    its own column). The interleave is the classic 4-step magic-number
    spread, pure 64-bit integer bit ops on both engines — exact, no
    floats anywhere. The declared output is the key computation itself
    (top-200 by zval); the s13/s14 queries cover the write-side layout
    mechanics this key would feed."""
    (orders,) = tables(spark, sf_dir, "orders")
    # day number via DATE arithmetic, not epoch micros: o_orderdate
    # arrives as TIMESTAMP_NTZ and an NTZ->LTZ cast would reinterpret
    # wall-clock in the session zone (off-UTC drivers shift the day)
    day = F.datediff(F.col("o_orderdate").cast("date"),
                     F.lit("1970-01-01").cast("date")).cast("long")
    z = _zspread(F.col("o_custkey")) \
        .bitwiseOR(F.shiftleft(_zspread(day), 1))
    return (orders.select("o_orderkey", z.alias("zval"))
            .orderBy("zval", "o_orderkey")
            .limit(200))


@declared(
    "s17_schema_evolution",
    oracle="""
    SELECT o_orderkey,
           o_totalprice,
           CAST(NULL AS VARCHAR) AS o_orderpriority,
           1 AS batch
    FROM orders WHERE o_orderkey <= 500
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority, 2 AS batch
    FROM orders WHERE o_orderkey > 500 AND o_orderkey <= 1000
    ORDER BY o_orderkey
    """,
    survey_ids=("S7",),
)
def s17_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on a partitioned parquet dataset: an early
    batch written WITHOUT ``o_orderpriority``, a later batch written
    WITH it, read back in one scan via ``mergeSchema`` + partition
    discovery (``batch=N`` directories become the partition column).
    This is how a long-lived 100 TB corpus actually grows — producers
    add columns over time and old shards are never rewritten; the
    footer-merge happens once at planning (driver-side, O(files))
    while the data path stays columnar, old files yielding NULL for
    the missing column. The oracle replays the same union with an
    explicit NULL cast."""
    (orders,) = tables(spark, sf_dir, "orders")
    path = _tmpdir("s17_evo_")
    (orders.filter(F.col("o_orderkey") <= 500)
     .select("o_orderkey", "o_totalprice")
     .write.mode("overwrite").parquet(path + "/batch=1"))
    (orders.filter((F.col("o_orderkey") > 500)
                   & (F.col("o_orderkey") <= 1000))
     .select("o_orderkey", "o_totalprice", "o_orderpriority")
     .write.mode("overwrite").parquet(path + "/batch=2"))
    return (spark.read.option("mergeSchema", "true")
            .option("basePath", path).parquet(path)
            .select("o_orderkey", "o_totalprice", "o_orderpriority",
                    F.col("batch").cast("int").alias("batch"))
            .orderBy("o_orderkey"))


@declared(
    "s18_permissive_csv",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 0 THEN NULL
                ELSE CAST(trunc(o_totalprice) AS BIGINT) END AS price_int,
           CASE WHEN o_orderkey % 10 = 0
                THEN CAST(o_orderkey AS VARCHAR) || ',X'
                ELSE NULL END AS corrupt_line,
           CAST(o_orderkey % 10 = 0 AS INT) AS is_malformed
    FROM orders WHERE o_orderkey <= 300
    ORDER BY o_orderkey
    """,
    survey_ids=("S1", "S6"),
)
def s18_permissive_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant CSV ingestion: a feed where every 10th record is
    malformed (non-numeric price), read back under PERMISSIVE mode with
    an explicit ``_corrupt_record`` column — at 100 TB, malformed rows
    are ROUTINE and a scan that either crashes (FAILFAST) or silently
    drops them (DROPMALFORMED) is operationally wrong; quarantining the
    raw line per record is the standard dead-letter pattern. Spark's
    documented PERMISSIVE semantics are exercised exactly: parseable
    fields of a bad row are KEPT (the key still parses), the bad field
    nulls out, and the verbatim line lands in the corrupt column. The
    oracle reconstructs all three from the generating rule."""
    (orders,) = tables(spark, sf_dir, "orders")
    lines = (orders.filter(F.col("o_orderkey") <= 300)
             .select(F.concat_ws(
                 ",",
                 F.col("o_orderkey"),
                 F.when(F.col("o_orderkey") % 10 == 0, F.lit("X"))
                  .otherwise(F.expr(
                      # Spark CAST(double AS BIGINT) truncates toward
                      # zero == DuckDB trunc()+cast (DuckDB's bare CAST
                      # rounds — the FIXTURES parity trap)
                      "CAST(CAST(o_totalprice AS BIGINT) AS STRING)"))
                 ).alias("value")))
    path = _tmpdir("s18_badcsv_")
    lines.write.mode("overwrite").text(path)
    parsed = (spark.read
              .schema("o_orderkey LONG, price_int LONG, "
                      "_corrupt_record STRING")
              .option("mode", "PERMISSIVE")
              .option("columnNameOfCorruptRecord", "_corrupt_record")
              .csv(path))
    return (parsed.select(
                "o_orderkey", "price_int",
                F.col("_corrupt_record").alias("corrupt_line"),
                F.col("_corrupt_record").isNotNull().cast("int")
                 .alias("is_malformed"))
            .orderBy("o_orderkey"))


@declared(
    "s19_compaction",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey <= 2000
    ORDER BY o_orderkey
    """,
    survey_ids=("S7", "O1"),
)
def s19_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (the OPTIMIZE maintenance op): a feed that
    arrived as ~40 tiny files is rewritten as a few key-range-sorted
    files — at 100 TB, streaming ingest leaves millions of small files
    whose per-file open/footer overhead dominates scans, and periodic
    range-compaction both fixes that and bakes in min/max data-skipping
    order (each output file covers a disjoint o_orderkey range). The
    oracle checks bit-exact data preservation through both rewrites;
    the file-count/layout contract (40 in, <= 4 out, disjoint ranges)
    is asserted in tests/test_plan_contracts.py."""
    (orders,) = tables(spark, sf_dir, "orders")
    sel = (orders.filter(F.col("o_orderkey") <= 2000)
           .select("o_orderkey", "o_custkey", "o_totalprice"))
    small = _tmpdir("s19_small_")
    sel.repartition(40).write.mode("overwrite").parquet(small)
    compacted = _tmpdir("s19_compact_")
    (spark.read.parquet(small)
     .repartitionByRange(4, "o_orderkey")
     .sortWithinPartitions("o_orderkey")
     .write.mode("overwrite").parquet(compacted))
    return spark.read.parquet(compacted).orderBy("o_orderkey")
