"""Batch sources and sinks (SURVEY.md S1, S2, S6, S7, S8, S9).

Reference surface being re-expressed Spark-first:

- CSV filesystem source with parse-error tolerance — Flink DDL
  ``'connector'='filesystem','format'='csv','csv.ignore-parse-errors'='true'``
  (``batch_train_batch_predict_processor.py:44-58``) →
  ``spark.read.schema(...).option('mode','DROPMALFORMED').csv(path)``.
- CSV sink (``processor.py:268-278``) → ``df.write.csv``.
- JSON format (``processor.py:86,110,221``) → ``spark.read.json`` /
  ``df.write.json`` with explicit schema.
- Parquet (engine-native at-rest format; not in the reference, required
  by the test harness) → vectorized parquet reader with predicate
  pushdown / column pruning for free.
- Literal rows (``pd.DataFrame.from_records``, ``processor.py:248-249``)
  → the same pandas frame into ``spark.createDataFrame``.

Schemas are explicit everywhere — the reference always declares DDL
schemas and reads its CSVs headerless (SURVEY.md §1.3).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string

_FORMATS = ("csv", "json", "parquet")


def read(spark: SparkSession, data_format: str, uri: str,
         schema: StructType | None = None,
         options: dict | None = None) -> DataFrame:
    options = dict(options or {})
    if data_format == "csv":
        return read_csv(spark, uri, schema, **options)
    if data_format == "json":
        return spark.read.schema(schema).options(**options).json(uri)
    if data_format == "parquet":
        # parquet carries its own schema; Catalyst prunes columns and
        # pushes predicates into the scan
        return spark.read.parquet(uri)
    if data_format == "stream-dir":
        from .pravega_sim import StreamDir
        return StreamDir(uri, schema).read_bounded(spark)
    raise ValueError(f"unknown format {data_format!r}; expected {_FORMATS}")


def write(df: DataFrame, data_format: str, uri: str, mode: str = "overwrite",
          options: dict | None = None) -> None:
    options = dict(options or {})
    if data_format == "csv":
        df.write.mode(mode).options(**options).csv(uri)
    elif data_format == "json":
        df.write.mode(mode).options(**options).json(uri)
    elif data_format == "parquet":
        df.write.mode(mode).options(**options).parquet(uri)
    elif data_format == "stream-dir":
        from .pravega_sim import StreamDir
        StreamDir(uri, df.schema).append(df)
    else:
        raise ValueError(f"unknown format {data_format!r}")


def read_csv(spark: SparkSession, path: str, schema: StructType,
             ignore_parse_errors: bool = True, header: bool = False,
             **options) -> DataFrame:
    """CSV source with the reference's ignore-parse-errors semantics
    (``'csv.ignore-parse-errors'='true'``, processor.py:55) mapped to
    Spark's DROPMALFORMED mode. Headerless by default, matching the
    reference's iris CSVs (SURVEY.md §1.3)."""
    reader = (spark.read.schema(schema)
              .option("mode", "DROPMALFORMED" if ignore_parse_errors else "FAILFAST")
              .option("header", str(header).lower()))
    return reader.options(**options).csv(path)


def from_rows(spark: SparkSession, rows: Iterable, schema: StructType | str) -> DataFrame:
    """In-memory rows source — the reference builds tables from literal
    records via ``pd.DataFrame.from_records`` (processor.py:248-249).

    Built through pandas so that, with Arrow on, the JVM decodes the
    rows itself: a list of rows would run an RDD Python task, whose
    worker environment differs from the SQL tasks' and so starts a second
    Python daemon. ``schema`` is a ``StructType`` or a DDL string."""
    import pandas as pd  # not at import: the data-source workers skip it

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    pdf = pd.DataFrame.from_records(list(rows), columns=schema.names)
    return spark.createDataFrame(pdf, schema)


def to_pandas(df: DataFrame):
    """Driver-side pandas bridge (``tab.to_pandas()``, processor.py:124),
    Arrow-accelerated. Driver-memory bound — keep for small results only."""
    return df.toPandas()
