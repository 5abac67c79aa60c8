"""HDB++-shaped fixtures derived from the driver's testdata.

Builds the reference's logical model (catalogs + datapoint stream,
schemas.py) deterministically out of the ``events`` table so the §3
lifecycles (/query, /image, /attributes) can be exercised end-to-end
against real HDB++-shaped inputs: ``user_id`` plays ``att_conf_id``,
``value`` plays ``value_r``, rows with event_type='error' become
value-or-error rows (error_desc set, value_r nulled - reference
hdbpp.py:199,204 semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import artifacts
from ..sources.hdbpp import HdbppCatalog, derive_period
from ..sources.tables import load_tables

CS_NAME = "cs1"
DATA_TYPE = "scalar_devdouble_ro"

def _att_name(uid_col):
    return F.concat(
        F.lit("dom"), (uid_col % 5).cast("string"),
        F.lit("/fam"), (uid_col % 10).cast("string"),
        F.lit("/mem"), (uid_col % 3).cast("string"),
        F.lit("/attr"), uid_col.cast("string"),
    )


def hdbpp_datapoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The datapoints frame ALONE - for consumers that never route by
    name (scale_bucketed's layout witness): constructing the catalog
    here would enter the session catalog memo from a query that never
    pays its build, splitting the first-touch marker from the cost
    (the ft ledger must self-attribute; registry kind "hdbpp_catalog")."""
    events = load_tables(spark, sf_dir)["events"]
    uid = F.col("user_id")
    is_err = F.col("event_type") == "error"
    return events.select(
        uid.cast("long").alias("att_conf_id"),
        F.lit(DATA_TYPE).alias("data_type"),
        derive_period(F.col("ts")).alias("period"),
        F.col("ts"),
        F.when(~is_err, F.col("value")).alias("value_r"),
        F.lit(None).cast("double").alias("value_w"),
        F.lit(None).cast("string").alias("value_str"),
        F.lit(None).cast("array<double>").alias("value_arr"),
        F.lit(0).alias("quality"),
        F.when(is_err, F.lit("fixture error sample")).alias("error_desc"),
    )


def hdbpp_fixture(spark: SparkSession, sf_dir: str) -> tuple[HdbppCatalog, DataFrame]:
    """(catalog, datapoints) in the engine's HDB++ logical model.

    ``att_conf`` and ``att_names`` are plain derivations over ``events``:
    the catalog's driver-side snapshot collects them once per
    CATALOG_TTL_S, in one query that runs their shared distinct once,
    and answers every resolve, search and control-system listing in
    between. The catalog object itself is the session
    artifact (registry kind "hdbpp_catalog", one per (session, sf_dir)),
    so the lifecycle queries of one session share one snapshot."""

    def build() -> HdbppCatalog:
        events = load_tables(spark, sf_dir)["events"]
        uid = F.col("user_id")
        att_conf = events.select(uid).distinct().select(
            F.lit(CS_NAME).alias("cs_name"),
            _att_name(uid).alias("att_name"),
            uid.cast("long").alias("att_conf_id"),
            F.lit(DATA_TYPE).alias("data_type"),
        )
        att_names = att_conf.select(
            "cs_name",
            F.split_part(F.col("att_name"), F.lit("/"), F.lit(1)).alias("domain"),
            F.split_part(F.col("att_name"), F.lit("/"), F.lit(2)).alias("family"),
            F.split_part(F.col("att_name"), F.lit("/"), F.lit(3)).alias("member"),
            F.split_part(F.col("att_name"), F.lit("/"), F.lit(4)).alias("name"),
        )
        return HdbppCatalog(att_conf, att_names)

    # ro attributes genuinely have no write value (DATAPOINTS_SCHEMA
    # value_w sidecar; the rw carrier is mixed_type_datapoints)
    return (
        artifacts.get_or_build(spark, "hdbpp_catalog", sf_dir, build),
        hdbpp_datapoints(spark, sf_dir),
    )


def parameter_history_fixture(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(att_parameter, att_history) tables in the reference's shape
    (reference hdbpp.py:166-191 prepared CQL; schemas.ATT_PARAMETER_SCHEMA /
    ATT_HISTORY_SCHEMA), deterministically derived from ``events`` so a SQL
    oracle can rebuild them verbatim: every 7th event becomes a parameter
    snapshot (label/unit/description change over time, like real attribute
    reconfiguration); signup/purchase/error events become the attribute's
    add/start/stop lifecycle history."""
    events = load_tables(spark, sf_dir)["events"]
    uid = F.col("user_id")
    params = events.where(F.col("event_id") % 7 == 0).select(
        uid.cast("long").alias("att_conf_id"),
        F.col("ts").alias("recv_time"),
        F.concat(F.lit("attr"), uid.cast("string")).alias("label"),
        F.when(F.col("value") >= 100, "V").otherwise("mA").alias("unit"),
        F.when(F.col("value") >= 100, "V").otherwise("mA").alias("display_unit"),
        F.lit("%6.2f").alias("format"),
        F.col("event_type").alias("description"),
    )
    history = events.where(
        F.col("event_type").isin("signup", "purchase", "error")
    ).select(
        uid.cast("long").alias("att_conf_id"),
        F.col("ts").alias("time"),
        F.when(F.col("event_type") == "signup", "add")
        .when(F.col("event_type") == "purchase", "start")
        .otherwise("stop")
        .alias("event"),
    )
    return params, history


def mixed_type_datapoints(
    spark: SparkSession, sf_dir: str, write_values: bool = False
) -> DataFrame:
    """Mixed-type datapoints: every dispatch class of the Tango type matrix.

    Deterministically derived from ``events`` so a SQL oracle can rebuild it
    verbatim: attributes rotate through double / string / state / spectrum
    by ``user_id % 4``; readings land in the type's sidecar column
    (value_r / value_str / value_arr), error rows carry error_desc with all
    sidecars NULL - the reference's value-OR-error row shape
    (hdbpp.py:199-208).

    ``write_values=True`` makes the numeric class read-WRITE: its
    data_type becomes ``scalar_devdouble_rw`` and every ok reading also
    carries the setpoint ``value_w = value * 0.75 + 10.0`` (deterministic
    IEEE ops a SQL oracle replays bit-exactly) - the reference's own
    documented gap (server.py:21 "showing write values") made first-class.
    """
    events = load_tables(spark, sf_dir)["events"]
    uid = F.col("user_id")
    tmod = (uid % 4).cast("int")
    is_err = F.col("event_type") == "error"
    data_type = (
        F.when(
            tmod == 0,
            "scalar_devdouble_rw" if write_values else "scalar_devdouble_ro",
        )
        .when(tmod == 1, "scalar_devstring_ro")
        .when(tmod == 2, "scalar_devstate_ro")
        .otherwise("array_devdouble_ro")
    )
    value_w = (
        F.when((tmod == 0) & ~is_err, F.col("value") * 0.75 + 10.0)
        if write_values
        else F.lit(None).cast("double")
    )
    state = F.when(F.col("value") >= 50, "ON").otherwise("FAULT")
    return events.select(
        uid.cast("long").alias("att_conf_id"),
        data_type.alias("data_type"),
        derive_period(F.col("ts")).alias("period"),
        F.col("ts"),
        F.when((tmod == 0) & ~is_err, F.col("value")).alias("value_r"),
        value_w.alias("value_w"),
        F.when((tmod == 1) & ~is_err, F.col("event_type"))
        .when((tmod == 2) & ~is_err, state)
        .alias("value_str"),
        F.when(
            (tmod == 3) & ~is_err,
            F.array(F.col("value"), F.col("value") * 0.5, F.col("value") * 2),
        ).alias("value_arr"),
        F.lit(0).alias("quality"),
        F.when(is_err, F.lit("fixture error sample")).alias("error_desc"),
    )
