"""Cassandra connector source adapter (config-gated deployment path).

Maps the reference's Cassandra access layer onto the Spark Cassandra
connector (``format("org.apache.spark.sql.cassandra")``): the reference
opens a cluster session and issues prepared CQL per (attribute, day)
partition (reference hdbpp.py:115-131 cluster/session setup,
hdbpp.py:147-211 prepared statements, hdbpp.py:303-321 per-day fan-out);
here the SAME restriction arrives as Catalyst filters which the connector's
DSv2 pushdown turns into CQL partition-key restrictions server-side:

  - ``att_conf_id = ?`` / ``att_conf_id IN (...)``  (partition key)
  - ``period IN (...)``                             (partition key)
  - ``data_time >= ? AND data_time <= ?``           (clustering column)

No live Cassandra (or connector jar) is needed to build or test the plan:
``source`` injection replaces the connector reader, and the plan-level test
asserts the pushable predicates are present as Catalyst filters - exactly
what the connector receives through SupportsPushDownFilters.

The physical row shape mirrors the reference's CQL column list
(hdbpp.py:196-208): (att_conf_id, period, data_time, data_time_us,
value_r, quality, error_desc) with second-precision ``data_time`` plus a
microsecond remainder; normalization to the engine's single microsecond
``ts`` happens here, once, in exact integer arithmetic (SURVEY §7.3 - the
reference re-derives it in three places at three precisions).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .hdbpp import DEFAULT_PERIOD_ZONE, day_partitions
from ..functions.time import utc_ts_lit

#: Spark Cassandra connector data source (public artifact
#: com.datastax.spark:spark-cassandra-connector; not bundled here)
CASSANDRA_FORMAT = "org.apache.spark.sql.cassandra"

#: reference table naming: att_<type> per Tango type x {ro,rw}
#: (reference hdbpp.py:55-82)
TABLE_PREFIX = "att_"


def cassandra_table(
    spark: SparkSession,
    keyspace: str,
    table: str,
    fmt: str = CASSANDRA_FORMAT,
) -> DataFrame:
    """A connector-backed DataFrame for one Cassandra table."""
    return spark.read.format(fmt).options(keyspace=keyspace, table=table).load()


def read_cassandra_datapoints(
    spark: SparkSession,
    keyspace: str,
    data_type: str,
    att_conf_ids: list[int] | None = None,
    t0: datetime | None = None,
    t1: datetime | None = None,
    zone: str = DEFAULT_PERIOD_ZONE,
    source: DataFrame | None = None,
) -> DataFrame:
    """Datapoint scan with partition-key pushdown, normalized to the
    engine's logical row shape (att_conf_id, data_type, period, ts,
    value_r, quality, error_desc).

    ``source`` (tests / non-Cassandra deployments) substitutes the
    connector reader; every predicate below stays a plain Catalyst filter
    on a physical column, so against the real connector it is pushed to
    CQL (partition keys att_conf_id + period, clustering column
    data_time), reproducing the reference's per-day prepared statements
    (hdbpp.py:196-208,303-321) without the client-side fan-out loop.
    """
    # the unified row shape is NUMERIC (value_r/value_w doubles): the
    # reference's string/state/enum tables carry text values that the
    # double cast would kill under ANSI (or silently NULL without it) -
    # refuse them loudly (r19 review); a deployment adds a typed
    # normalization per family, the engine's typed q29/q32 pattern
    for bad in ("devstring", "devstate", "devenum", "devencoded"):
        if bad in data_type:
            raise ValueError(
                f"{data_type!r} is not a numeric scalar family; the "
                "unified double row shape cannot represent it"
            )
    df = source if source is not None else cassandra_table(
        spark, keyspace, TABLE_PREFIX + data_type
    )
    if att_conf_ids is not None:
        df = df.where(F.col("att_conf_id").isin([int(i) for i in att_conf_ids]))
    if t0 is not None and t1 is not None:
        # partition-key day enumeration needs both bounds
        df = df.where(F.col("period").isin(day_partitions(t0, t1, zone)))
    # clustering-column range on the SECOND-precision storage column:
    # lower bound widened to the whole second so the exact microsecond
    # trim downstream never loses edge rows (reference trims client-side
    # too, data.py:102-108). Bounds apply INDEPENDENTLY (r19 review: a
    # single bound previously disabled time filtering entirely).
    if t0 is not None:
        df = df.where(F.col("data_time") >= utc_ts_lit(t0.replace(microsecond=0)))
    if t1 is not None:
        df = df.where(F.col("data_time") <= utc_ts_lit(t1))
    out = df.select(
        F.col("att_conf_id").cast("long").alias("att_conf_id"),
        F.lit(data_type).alias("data_type"),
        F.col("period"),
        # exact integer reconstruction of event time (P4):
        # us = unix_micros(second-precision data_time) + data_time_us
        F.timestamp_micros(
            F.unix_micros(F.col("data_time")) + F.col("data_time_us").cast("long")
        ).alias("ts"),
        F.col("value_r").cast("double").alias("value_r"),
        # rw tables carry value_w (the att_scalar_dev<type>_rw CQL column
        # set); ro tables surface it as NULL under the unified schema
        (
            F.col("value_w").cast("double")
            if data_type.endswith("_rw")
            else F.lit(None).cast("double")
        ).alias("value_w"),
        F.col("quality").cast("int").alias("quality"),
        F.col("error_desc"),
    )
    # exact microsecond trim on the derived ts, host-TZ-independent
    # literals (r19 - see utc_ts_lit); bounds apply independently
    if t0 is not None:
        out = out.where(F.col("ts") >= utc_ts_lit(t0))
    if t1 is not None:
        out = out.where(F.col("ts") <= utc_ts_lit(t1))
    return out


def cassandra_catalog(
    spark: SparkSession,
    keyspace: str,
    fmt: str = CASSANDRA_FORMAT,
    att_conf: DataFrame | None = None,
    att_names: DataFrame | None = None,
):
    """HdbppCatalog over the connector-backed dimension tables. The
    reference fetches them wholesale every 60 s (hdbpp.py:213-241); the
    catalog's snapshot does the same, collecting both tables again once
    it is older than ``hdbpp.CATALOG_TTL_S``. ``att_conf``/``att_names``
    (tests / non-Cassandra deployments) substitute the connector
    readers."""
    from .hdbpp import HdbppCatalog

    conf = att_conf if att_conf is not None else cassandra_table(
        spark, keyspace, "att_conf", fmt
    )
    names = att_names if att_names is not None else cassandra_table(
        spark, keyspace, "att_names", fmt
    )
    return HdbppCatalog(conf, names)
