"""Declared-query corpus — the SURVEY.md §2 contract.

Every implemented operator is declared here as a named query:
a ``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible)
an equivalent ANSI-SQL string the DuckDB oracle runs on the same parquet
tables. The driver hash-compares both sides at sf0.01.

Conventions (see FIXTURES.md canonicalization rules):
- every computed column is aliased identically on both sides;
- sums over integer columns are cast to BIGINT in the oracle so types line
  up with Spark's LongType;
- approximate operators (approx_count_distinct, LSH paths) declare no
  oracle → the driver records a rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..engine.memo import memo


@dataclass
class DeclaredQuery:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    survey_ids: tuple[str, ...]   # SURVEY.md §2 rows this query covers
    allow_empty: bool = False     # 0 rows at small SF is by-design


REGISTRY: dict[str, DeclaredQuery] = {}


def declared(name: str, oracle: str | None, survey_ids: tuple[str, ...] = (),
             allow_empty: bool = False):
    """Register a declared query. ``oracle=None`` → rows-only check.
    ``allow_empty=True`` marks queries whose 0-row result at small SF is
    semantically expected; everything else FAILS the local checker on an
    empty result (a 0-row hash match proves nothing — VERDICT r4 j13,
    r5 u4_except)."""
    def deco(fn):
        prev = REGISTRY.get(name)
        # a silent overwrite would shadow a query out of the gate; compare
        # by origin rather than identity so importlib.reload of a query
        # module (new function objects, same definitions) stays legal
        if prev is not None and (prev.fn.__module__, prev.fn.__qualname__) \
                != (fn.__module__, fn.__qualname__):
            raise ValueError(f"duplicate declared query name {name!r}")
        REGISTRY[name] = DeclaredQuery(name, fn, oracle, survey_ids,
                                       allow_empty)
        return fn
    return deco


def load_all() -> dict[str, DeclaredQuery]:
    """Import every query module (side effect: fills REGISTRY)."""
    from . import (  # noqa: F401
        sources,
        projections,
        joins,
        aggregations,
        windows,
        sorts,
        setops,
        scalar_funcs,
        streaming_batch,
        tpch,
        tpch_full,
        llm_dedup,
        llm_export,
        llm_pipeline,
        llm_similarity,
        llm_text,
        ml_queries,
        multimodal,
    )
    return REGISTRY


# explicit raw-int64 ts schema — parquet hands back the physical stored
# integer for any timestamp unit, letting the reader convert exactly
_EVENTS_RAW_SCHEMA = ("event_id long, ts long, user_id long, "
                      "event_type string, value double, props string")


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    """events.parquet has stored ``ts`` as TIMESTAMP(NANOS) in some data
    generations (which Spark's parquet reader rejects outright) and plain
    TIMESTAMP(MICROS) in others. Sniff the physical unit from the parquet
    footer (driver-side, one footer read) and branch: micros reads
    natively; nanos reads as raw int64 via an explicit schema and converts
    to a microsecond timestamp JVM-side. Never assume the unit — the
    wrong divisor silently lands every event in 1970. An unreadable
    footer raises, naming its file; a path that is not local reads
    natively."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) \
        if os.path.isdir(path) else [path] if os.path.isfile(path) else []
    units: set[str | None] = set()
    # sniff EVERY footer (cheap, driver-side): a mixed-unit dataset
    # read with one unit would silently corrupt the other parts
    for f in files:
        try:
            units.add(getattr(pq.read_schema(f).field("ts").type,
                              "unit", None))
        except (OSError, ValueError, KeyError) as e:
            raise ValueError(
                f"unreadable events parquet footer: {f}: {e}") from e
    if len(units) > 1:
        raise ValueError(
            f"events parquet at {path} has mixed ts units {units}; "
            "refusing to guess — regenerate the dataset with one unit")
    unit = next(iter(units)) if units else None
    if unit is None:
        # no unit to sniff: native read is the safe default — it raises
        # loudly on nanos instead of silently dividing, and a cast
        # normalizes Spark 4's inferred TIMESTAMP_NTZ (which forbids the
        # numeric casts downstream consumers rely on)
        df = spark.read.parquet(path)
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    # Known unit → read the PHYSICAL int64 and convert with
    # timestamp_micros: preserves the stored instant independent of the
    # session/JVM timezone (an NTZ→TIMESTAMP cast would reinterpret
    # wall-clock in the session zone — off-UTC hosts shift vs the
    # DuckDB oracle's raw read). Integer `div`, not `/`: double division
    # of int64 nanos loses ~200ns, enough to flip a truncated micro.
    raw = spark.read.schema(_EVENTS_RAW_SCHEMA).parquet(path)
    divisor = {"ns": 1000, "us": 1, "ms": None, "s": None}[unit]
    if divisor is None:
        factor = 1000 if unit == "ms" else 1_000_000
        return raw.withColumn("ts", F.timestamp_micros(F.col("ts") * factor))
    return raw.withColumn(
        "ts", F.timestamp_micros(F.expr(f"ts div {divisor}")))


def tier(sf_dir: str) -> list[str]:
    """The table paths of a tier: the inputs that query-level memo
    entries (trained models, collected query sets) are derived from.
    A directory that cannot be listed locally stands for itself."""
    try:
        with os.scandir(sf_dir) as it:
            return sorted(e.path for e in it if e.name.endswith(".parquet"))
    except OSError:
        return [sf_dir]


ALL_TABLES = ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings")


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = ALL_TABLES) -> None:
    """Register the test tables as temp views so raw ``spark.sql(...)``
    works as a first-class entry point (events gets the nanos-safe
    reader) — the SQL face of the same engine; every declared query is
    equally expressible this way."""
    for n in names:
        tables(spark, sf_dir, n)[0].createOrReplaceTempView(n)


def tables(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    """Load driver test tables as DataFrames. A DataFrame is an immutable
    plan, so each table's read (file listing, footer and schema
    resolution) is memoised until its files change."""
    out = []
    for n in names:
        path = f"{sf_dir}/{n}.parquet"
        out.append(memo(spark, ("table", sf_dir, n), (path,),
                        lambda: _read_events(spark, path) if n == "events"
                        else spark.read.parquet(path)))
    return out


def one_sql(spark: SparkSession, sf_dir: str, names: "tuple[str, ...]",
            sql: str) -> DataFrame:
    """Build a query as ONE ``spark.sql`` call over just-registered temp
    views (r15 plan-build trim): a Column-DSL assembly of a multi-join
    query costs hundreds of py4j round trips (~0.1-0.2 s per build,
    bench `queries_plan_build`), while this path pays one
    ``createOrReplaceTempView`` per table plus one ``sql`` call —
    identical Catalyst plans, same session semantics (the SQL is parsed
    by the SAME session that the DSL would use, ANSI and timezone
    included). Views are (re-)registered on every build so a caller
    switching ``sf_dir`` mid-session can never read stale data; the
    returned DataFrame is analyzed eagerly, so later re-registration
    does not rebind it. SINGLE-THREADED-BUILD assumption (r15 advice):
    the views carry bare table names in the session catalog, so this
    clobbers any same-named user temp view, and two concurrent builds
    in one session with different ``sf_dir`` could race between the
    registration loop and ``spark.sql`` — eager analysis only protects
    sequential callers (every in-repo caller builds sequentially)."""
    for n, df in zip(names, tables(spark, sf_dir, *names)):
        df.createOrReplaceTempView(n)
    return spark.sql(sql)


def head_rows_fast(sf_dir: str, table: str, *, key_col: str, bound: int,
                   cols: "tuple[str, ...]") -> "list[tuple] | None":
    """Driver-side footer-pruned read of a broadcast-small key range —
    the fast path behind the collected query/test-split memos: the
    equivalent Spark collect schedules a real job (~0.3-0.4 s of
    per-session fixed cost) for a few hundred rows that parquet
    row-group statistics prune to one footer read. Values are identical
    — both paths surface the file's float32 embeddings as Python floats.
    Returns None when the table is not a local parquet file or directory
    of part files (callers fall back to the Spark collect); an
    unreadable file raises, naming it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(p):
        paths = [p]
    elif os.path.isdir(p):
        paths = sorted(os.path.join(p, f) for f in os.listdir(p)
                       if f.endswith(".parquet"))
    else:
        paths = []
    if not paths:
        return None
    parts = []
    for f in paths:
        try:
            parts.append(pq.read_table(f, columns=list(cols),
                                       filters=[(key_col, "<", bound)]))
        except (OSError, ValueError) as e:
            raise ValueError(f"unreadable parquet file: {f}: {e}") from e
    t = pa.concat_tables(parts)
    return list(zip(*[t.column(c).to_pylist() for c in cols])) \
        if t.num_rows else []
