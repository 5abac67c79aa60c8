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


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    register: bool = True,
    tables: list[str] | None = None,
) -> dict[str, DataFrame]:
    """Load (and temp-view register) the testdata tables for one scale factor.

    The full table set is a session artifact (registry kind "tables"), so
    the normalized plans are derived once per session, not once per
    declared query; a ``tables`` subset is loaded afresh."""

    def build() -> dict[str, DataFrame]:
        configure(spark)
        out: dict[str, DataFrame] = {}
        for name in tables or TESTDATA_TABLES:
            df = _normalize(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
            out[name] = df
            if register:
                df.createOrReplaceTempView(name)
        return out

    if tables is not None:
        return build()
    return artifacts.get_or_build(spark, "tables", sf_dir, build)
