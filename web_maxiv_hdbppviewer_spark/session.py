"""SparkSession factory and runtime configuration.

Scale posture (100 TB design point):
  - AQE on: runtime partition coalescing, skew-join splitting, dynamic
    broadcast decisions replace the reference's hand-rolled scan chunking
    (reference hdbpp.py:312-321 gathers 50 day-queries at a time; Spark's
    task scheduler + maxPartitionBytes subsume that).
  - UTC session timezone everywhere: the reference pins Europe/Stockholm
    because its day-partition key is a local date (hdbpp.py:303-308,
    Dockerfile:14-17); our engine computes in UTC and derives local-date
    partition keys only at the storage boundary (see sources/hdbpp.py).
  - nanosAsLong: the testdata parquet stores TIMESTAMP(NANOS) which Spark 4
    refuses by default; we read nanos as int64 and convert to native
    microsecond timestamps at the source boundary (sources/tables.py).

``configure(spark)`` applies the runtime-settable subset to an externally
provided session (e.g. the verification driver's), so the engine works on
any SparkSession, not just ones built here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

#: Confs that are runtime-settable (SQLConf) and required for correctness.
_RUNTIME_CONFS = {
    # all engine arithmetic is UTC; period derivation is explicit (SURVEY §7.3)
    "spark.sql.session.timeZone": "UTC",
    # testdata parquet uses TIMESTAMP(NANOS); read as int64 nanoseconds
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # runtime re-planning: coalesce post-shuffle partitions, split skewed joins
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # CPU-dense operators (array_intersect verification, cosine over 64-dim
    # vectors) do ~1000x more work per shuffled byte than a scan; AQE's
    # size-based coalescing would shrink their stages to 1-2 tasks (measured:
    # 5s serial verify stages at sf0.1). Keep small-byte shuffles parallel.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8m",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-settable on some deployments; engine still works, with
            # reduced guarantees (documented per-conf above)
            pass
    return spark


def get_spark(
    app_name: str = "hdbpp-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    on a real cluster pass ``None`` and set ``SPARK_MASTER``/spark-submit.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    # local[N] runs all executor threads inside the driver JVM: 32 concurrent
    # tasks cannot fit a default ~1 GB heap (each task holds shuffle/agg pages).
    # Must be set in the builder, BEFORE the JVM launches - spark.conf.set()
    # after getOrCreate() is silently ignored for heap sizing.
    # Sizing measured on the 44-query sf0.1 bench: 1 GB OOMs; 64 GB lets G1
    # grow a huge young gen whose rare evacuation pauses land mid-query
    # (up to +25 s on one query); 16-24 GB is both safe and GC-stable.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        # dimension joins (att_conf/nation/region/...) must broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for every pandas interop path (the dedup bloom-probe
        # pandas_udf, mapInPandas stages, toPandas)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())
