"""Testdata source layer: schema-normalized parquet loaders.

The reference reads typed Cassandra tables with hard-coded column lists and
reconstructs microsecond timestamps from a (data_time, data_time_us) split
(reference hdbpp.py:23-28, data.py:25-30). Our source boundary does the
equivalent normalization once, at load:

  - ``ts`` columns stored as parquet TIMESTAMP(NANOS) arrive as int64
    nanoseconds (session conf ``nanosAsLong``); convert to native
    microsecond TIMESTAMP via integer arithmetic - never float math
    (SURVEY §7.3: the reference's float-ms path hdbpp.py:86-87 loses
    precision; we use ``timestamp_micros(ns div 1000)``).
  - TIMESTAMP_NTZ columns are cast to TIMESTAMP under the UTC session
    zone (value-preserving) so every downstream comparison and literal works
    uniformly.

At 100 TB the same normalization applies per-file at scan time; it is pure
column arithmetic inside whole-stage codegen, costs no shuffle, and leaves
predicate pushdown intact (the conversion is applied after pushable filters
on the raw columns when filters are expressed on the derived ``ts``, Spark
still prunes row groups via the derived-column statistics of the rewrite).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import artifacts
from ..session import configure

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

def _normalize(df: DataFrame) -> DataFrame:
    """Convert raw physical column types to the engine's logical types."""
    cols = []
    for name, dtype in df.dtypes:
        if dtype == "bigint" and name == "ts":
            # int64 nanoseconds -> native microsecond timestamp (exact integer div)
            cols.append(F.timestamp_micros(F.expr(f"`{name}` div 1000")).alias(name))
            # keep the RAW scan column too: predicates on the derived
            # timestamp can't reach parquet row-group statistics, ones on
            # `_ts_ns` push down (see functions.time.push_time_filter);
            # column pruning drops it whenever unused
            cols.append(F.col(name).alias("_ts_ns"))
        elif dtype == "timestamp_ntz":
            # value-preserving under UTC session timezone
            cols.append(F.col(name).cast("timestamp").alias(name))
        else:
            cols.append(F.col(name))
    return df.select(*cols)


class _Tables(dict):
    """Table name -> normalized frame for one scale factor, each read,
    normalized and temp-view registered on first access: a caller that
    reads only ``events`` never opens the other nine files. Queries that
    run on concurrent threads share the mapping, so a table is opened
    under a lock and every caller gets the same frame."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        self._spark, self._sf_dir = spark, sf_dir
        self._lock = threading.Lock()

    def __missing__(self, name: str) -> DataFrame:
        if name not in TESTDATA_TABLES:
            raise KeyError(name)
        with self._lock:
            df = self.get(name)
            if df is None:
                df = _normalize(self._spark.read.parquet(f"{self._sf_dir}/{name}.parquet"))
                df.createOrReplaceTempView(name)
                self[name] = df
        return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The testdata tables of one scale factor, by name.

    One mapping per ``sf_dir`` is a session artifact (registry kind
    "tables"); it opens a table the first time a caller asks for it, so
    each normalized plan is derived once per session and only for the
    tables the session reads."""

    def build() -> dict[str, DataFrame]:
        configure(spark)
        return _Tables(spark, sf_dir)

    return artifacts.get_or_build(spark, "tables", sf_dir, build)
