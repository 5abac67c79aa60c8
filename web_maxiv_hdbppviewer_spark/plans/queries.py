"""Declared correctness queries q1-q36 + the three lifecycle witnesses
(SURVEY.md §2.11).

Each function takes (spark, sf_dir) and returns a DataFrame; each has a
DuckDB-oracle twin in ``plans.oracle``. The queries are built with the
DataFrame API on top of the engine's operator library, so the correctness
gate exercises the operators, not ad-hoc SQL strings.

Determinism conventions (SURVEY §2.11): trailing ORDER BY on a unique key
prefix, ROUND on floating aggregates, integer bucket arithmetic, timestamps
compared as microsecond epochs. Global SUMs over many doubles are rounded at
the data's intrinsic 2-decimal grid (engines sum floats in different orders;
per-group aggregates are far from round boundaries, whole-table sums are
not).

Scale notes are per-query docstrings; the common posture: dimension joins
broadcast, fact-side aggregations rely on partial aggregation, no query
collects unbounded data to the driver (sinks stream / limit / are
pixel-bounded).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.time import (
    epoch_us, epoch_ms, nearest_bucket, push_time_filter, utc_ts_lit,
    US_PER_DAY,
)
from ..operators.asof import latest_per_key
from ..operators.raster import bin_2d, hover_stats
from ..operators.resample import resample_mean
from ..sources.tables import load_tables

# events table span (verified: 2024-01-01..2024-01-30 UTC)
X0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
X_SPAN_US = 2_592_000_000_000.0  # 30 days


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_tables(spark, sf_dir)[name]


# --- scans / projections -------------------------------------------------


def q1(spark, sf_dir):
    """S1/P1/U1: partition scan + projection (+ implicit union of files)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id", "user_id", epoch_us("ts").alias("t_us"), "value"
    ).orderBy("event_id")


def q2(spark, sf_dir):
    """S2: pushed lower-bound scan (reference's incremental fetch predicate)."""
    e = _t(spark, sf_dir, "events")
    return (
        push_time_filter(e, t0=datetime(2024, 1, 15))
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    )


def q3(spark, sf_dir):
    """S3/O2: catalog scan + sort (nation as the name catalog)."""
    return _t(spark, sf_dir, "nation").select("n_nationkey", "n_name").orderBy("n_name")


def q4(spark, sf_dir):
    """S4: config-dimension scan."""
    return _t(spark, sf_dir, "region").select("r_regionkey", "r_name").orderBy("r_regionkey")


def q5(spark, sf_dir):
    """P2/P3: integer epoch synthesis (us and floored ms)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        epoch_us("ts").alias("t_us"),
        epoch_ms("ts").alias("t_ms"),
    ).orderBy("event_id")


def q6(spark, sf_dir):
    """P5/P6/P8: name concat / split / lower over a broadcast dim join."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    full = F.concat(F.col("r_name"), F.lit("/"), F.col("n_name"))
    return (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "n_nationkey",
            F.lower(full).alias("full_name"),
            F.split_part(full, F.lit("/"), F.lit(1)).alias("cs"),
        )
        .orderBy("n_nationkey")
    )


def q7(spark, sf_dir):
    """P7: NULL normalization at the sink boundary (coalesce passes NaN
    through untouched - the NaN->NULL leg of P7 is witnessed by q22/q23's
    sink byte-shape tests, not this frame)."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id", F.coalesce(F.col("value"), F.lit(-1.0)).alias("v")
    ).orderBy("event_id")


# --- filters / aggregates ------------------------------------------------


def q8(spark, sf_dir):
    """F1/F5/A5: exact time-range trim + count + sum.

    SUM over the whole filtered table is rounded at the data's 2-decimal
    grid: summation order differs between engines and 1e-6 rounding of a
    ~1e6-magnitude float sum is not order-stable, 1e-2 is.
    """
    e = _t(spark, sf_dir, "events")
    return (
        push_time_filter(e, t0=datetime(2024, 1, 10), t1=datetime(2024, 1, 20))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
    )


def q9(spark, sf_dir):
    """F2/O1/O5: case-insensitive pattern search, sorted, capped."""
    p = _t(spark, sf_dir, "part")
    return (
        p.where(F.upper(F.col("p_name")).like("%RED%"))
        .select("p_partkey", "p_name")
        .orderBy("p_name", "p_partkey")
        .limit(100)
    )


def q10(spark, sf_dir):
    """F3/A2: positivity-style filter + per-series extrema."""
    e = _t(spark, sf_dir, "events")
    return (
        e.where(F.col("value") > 50.0)
        .groupBy("user_id")
        .agg(
            F.round(F.min("value"), 6).alias("vmin"),
            F.round(F.max("value"), 6).alias("vmax"),
        )
        .orderBy("user_id")
    )


def q11(spark, sf_dir):
    """F4/A4: per-key watermark (max event time) for the incremental merge."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(F.unix_micros(F.max("ts")).alias("watermark_us"))
        .orderBy("user_id")
    )


def q12(spark, sf_dir):
    """S6/O4: range scan + top-k (TakeOrderedAndProject, no full sort)."""
    e = _t(spark, sf_dir, "events")
    return (
        push_time_filter(
            e,
            t0=datetime(2024, 1, 5),
            t1=datetime(2024, 1, 25),
            lower_inclusive=False,
            upper_inclusive=False,
        )
        .orderBy("ts", "event_id")
        .limit(10)
        .select("event_id", "event_type")
    )


def q13(spark, sf_dir):
    """S5/J3/O3: as-of / latest-before-t per key (window top-1)."""
    e = push_time_filter(
        _t(spark, sf_dir, "events"), t1=datetime(2024, 1, 15), upper_inclusive=False
    )
    latest = latest_per_key(
        e, ["user_id"], [F.col("ts").desc(), F.col("event_id").desc()]
    )
    return latest.select("user_id", "event_id", "value").orderBy("user_id")


# --- joins ---------------------------------------------------------------


def q14(spark, sf_dir):
    """J1/J2: fact -> routing-dimension broadcast equi-join chain."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "c_name", "n_name", "r_name")
        .orderBy("c_custkey")
    )


def q15(spark, sf_dir):
    """Semi join: orders having a lineitem shipped after a date."""
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > utc_ts_lit(datetime(1995, 1, 1))
    )
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


def q16(spark, sf_dir):
    """U3: anti join - customers with no high-value orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


def q17(spark, sf_dir):
    """Range join with an equi key: ship within 90 days of order date.

    The equi key keeps this a hash/sort-merge join (no interval explosion);
    the range predicate is a post-join filter Catalyst evaluates inside the
    join. At scale, both sides shuffle on orderkey once.
    """
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        )
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderkey")
    )


# --- resample / raster ---------------------------------------------------


def q18(spark, sf_dir):
    """A1: resample - tumbling 1-day mean with round-to-NEAREST buckets
    (the reference's data.py:12-14 semantics, via operators.resample)."""
    e = _t(spark, sf_dir, "events")
    out = resample_mean(e, US_PER_DAY)
    return out.select(
        "bucket", F.round("mean_v", 6).alias("mean_v"), "n"
    ).orderBy("bucket")


def q19(spark, sf_dir):
    """A3: cross-series axis extrema (min of mins / max of maxes)."""
    e = _t(spark, sf_dir, "events")
    return e.where(F.col("event_type").isin("click", "view")).agg(
        F.round(F.min("value"), 6).alias("axis_min"),
        F.round(F.max("value"), 6).alias("axis_max"),
    )


def q20(spark, sf_dir):
    """A6: the rasterization kernel - 100x80 pixel 2-D binned aggregate."""
    e = _t(spark, sf_dir, "events")
    return bin_2d(e, X0_US, X_SPAN_US, 100, 0.0, 500.0, 80).orderBy("xb", "yb")


def q21(spark, sf_dir):
    """A8: per-pixel-column hover stats (1-D collapse of the raster)."""
    e = _t(spark, sf_dir, "events")
    return hover_stats(e, X0_US, X_SPAN_US, 100, 0.0, 500.0).orderBy("xb")


# --- sinks ---------------------------------------------------------------


def q22(spark, sf_dir):
    """K1: CSV-shaped projection (header applied at the sink)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.where(F.col("user_id") == 7)
        .select(epoch_us("ts").alias("t_us"), F.col("value").alias("value_r"), "event_id")
        .orderBy("t_us", "event_id")
        .drop("event_id")
    )


def q23(spark, sf_dir):
    """K2: Grafana datapoint pairs (value, ms timestamp) per target."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select("user_id", epoch_ms("ts").alias("t_ms"), "value", "event_id")
        .orderBy("user_id", "t_ms", "event_id")
        .drop("event_id")
    )


def q24(spark, sf_dir):
    """A9/A10: grouped collection, checked as exploded rows."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        r.join(F.broadcast(n), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")
    )


# --- engine-surface coverage beyond the reference ------------------------


def q25(spark, sf_dir):
    """Distinct aggregate."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.count_distinct(F.col("user_id")).alias("u"))
        .orderBy("event_type")
    )


def q26(spark, sf_dir):
    """Rollup."""
    e = _t(spark, sf_dir, "events")
    return (
        e.rollup("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.coalesce(F.col("event_type"), F.lit("ALL")).alias("et"), "n")
        .orderBy("et")
    )


def q27(spark, sf_dir):
    """Window analytics: lag delta + 5-row rolling mean."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("dv"),
        F.round(F.avg("value").over(w.rowsBetween(-4, 0)), 6).alias("ma5"),
    ).orderBy("event_id")


def q28(spark, sf_dir):
    """U2: set-operation family (intersect shown; union/except in operators)."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("x"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("x"))
    return c.intersect(s).orderBy("x")


def q29(spark, sf_dir):
    """Type-dispatched aggregation over the full Tango type matrix
    (double / string / state / spectrum), the types the reference declares
    but never implements (reference README.md:27, hdbpp.py:55-82). One
    grouped aggregation with kind-guarded aggregate expressions."""
    from ..operators.typed import typed_summary
    from ..sources.fixtures import mixed_type_datapoints

    return typed_summary(mixed_type_datapoints(spark, sf_dir))


def q30(spark, sf_dir):
    """S5: latest parameter snapshot strictly before a cutoff, per attribute
    (reference prepared 'parameter' CQL: ORDER BY recv_time DESC LIMIT 1,
    hdbpp.py:166-172) - window top-1 over the derived att_parameter table."""
    from ..operators.asof import latest_before
    from ..sources.fixtures import parameter_history_fixture

    params, _ = parameter_history_fixture(spark, sf_dir)
    # tiebreak (r19 review): (att_conf_id, recv_time) is unique on the
    # current corpus (the (user_id, ts) invariant), but the top-1 pick
    # must stay deterministic BY CONSTRUCTION if a regenerated fixture
    # ever lands two snapshots on one microsecond - the q13 convention
    latest = latest_before(
        params, datetime(2024, 1, 20), keys=["att_conf_id"],
        ts_col="recv_time", tiebreak=["description"],
    )
    return latest.select(
        "att_conf_id",
        epoch_us("recv_time").alias("recv_us"),
        "label",
        "unit",
        "description",
    ).orderBy("att_conf_id")


def q31(spark, sf_dir):
    """S6: windowed event history, first 10 events per attribute (reference
    prepared 'history' CQL: time range + ORDER BY time LIMIT 10,
    hdbpp.py:178-186) - rank-per-key instead of a per-attribute loop."""
    from ..sources.fixtures import parameter_history_fixture

    _, history = parameter_history_fixture(spark, sf_dir)
    t0, t1 = datetime(2024, 1, 5), datetime(2024, 1, 20)
    # "event" tiebreak (r19 review): deterministic rank under same-
    # microsecond events by construction, not by corpus invariant
    w = Window.partitionBy("att_conf_id").orderBy("time", "event")
    return (
        history.where((F.col("time") > utc_ts_lit(t0)) & (F.col("time") < utc_ts_lit(t1)))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 10)
        .select("att_conf_id", epoch_us("time").alias("t_us"), "event", "rn")
        .orderBy("att_conf_id", "t_us", "event")
    )


def q32(spark, sf_dir):
    """Spectrum per-element resample: tumbling 1-day mean of every array
    CHANNEL of the array-typed attributes - the first analytical operation
    the reference's missing spectrum support (README.md:27) would need."""
    from ..operators.typed import spectrum_resample
    from ..sources.fixtures import mixed_type_datapoints

    out = spectrum_resample(mixed_type_datapoints(spark, sf_dir), US_PER_DAY)
    return out.orderBy("att_conf_id", "bucket", "idx")


def q33(spark, sf_dir):
    """S7: paged fetch - one PAGE of a sorted range scan (the reference's
    fetchmany-style page iteration, hdbpp.py paged result walk): rows
    [400, 600) of the time-ordered window. Spark plans offset+limit as
    CollectLimit with a skip - per-partition top-(offset+limit) then one
    merge, never a global sort; at scale a resumable reader would keyset-
    paginate (WHERE ts > last_seen) instead, which is q2's pushed scan."""
    e = _t(spark, sf_dir, "events")
    return (
        push_time_filter(e, t0=datetime(2024, 1, 10), t1=datetime(2024, 1, 20))
        .orderBy("ts", "event_id")
        .offset(400)
        .limit(200)
        .select("event_id", epoch_us("ts").alias("t_us"), "value")
    )


def q34(spark, sf_dir):
    """F6: future-period cache guard as a declared query - per day-period
    of the events table, the row count and whether an immutable day-slice
    cache may admit it relative to a fixed 'now' (2024-01-15, mid-range):
    the ISO-lexicographic rule of the reference's guard (hdbpp.py:352-359),
    whose one engine expression is ``cache.cacheable_period``, so the oracle
    hash witnesses its decision boundary including the today-is-hot edge."""
    from datetime import date

    from ..cache import cacheable_period

    e = _t(spark, sf_dir, "events")
    return (
        e.select(F.date_format("ts", "yyyy-MM-dd").alias("period"))
        .groupBy("period")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "period", "n", cacheable_period(F.col("period"), date(2024, 1, 15)).alias("cacheable")
        )
        .orderBy("period")
    )


def q35(spark, sf_dir):
    """Write-value (rw attribute) surface - the reference's own documented
    gap (server.py:21 "showing write values" missing) closed end-to-end:
    the numeric class of the mixed-type fixture carries a deterministic
    setpoint sidecar (value_w = value * 0.75 + 10.0, DATAPOINTS_SCHEMA
    value_w), and typed_summary(write_values=True) reports the rw surface
    per attribute: n_w, wmin/wmax/wmean, and trk_err_r - the mean
    read-minus-setpoint tracking error. Same single-HashAggregate shape
    as q29; non-rw attribute classes report NULL write aggregates."""
    from ..operators.typed import typed_summary
    from ..sources.fixtures import mixed_type_datapoints

    return typed_summary(
        mixed_type_datapoints(spark, sf_dir, write_values=True),
        write_values=True,
    )


def lifecycle_aggregate(spark, sf_dir):
    """End-to-end /image lifecycle witness (reference server.py:92-148):
    fixture catalog -> HdbppQueryEngine.image_aggregates -> the complete
    pre-render artifact as ONE hashable frame. Rows are the per-series 2-D
    raster (A6, kind='raster') unioned with the per-column hover stats
    (A8, kind='hover', yb=-1/vmean=NULL), every row carrying the padded
    axis y_range the engine computed driver-side (A2/A3 extrema fold +
    plot.py:160-188 padding). This hashes the exact numbers /image encodes
    into pixels, so a green row proves routing, extrema, padding, clipping
    and binning agree with first-principles SQL - not just that the raster
    aggregates match (q20/q21 already witness those in isolation)."""
    from ..api.lifecycle import HdbppQueryEngine
    from ..sources.fixtures import hdbpp_fixture

    catalog, datapoints = hdbpp_fixture(spark, sf_dir)
    engine = HdbppQueryEngine(catalog, datapoints)
    names = [f"cs1/dom{u % 5}/fam{u % 10}/mem{u % 3}/attr{u}" for u in range(10)]
    aggs = engine.image_aggregates(
        [{"name": n, "y_axis": 0} for n in names],
        datetime(2024, 1, 5),
        datetime(2024, 1, 20),
        (100, 80),
    )
    ax = aggs[0]
    y0, y1 = ax["y_range"]
    raster = ax["raster"].select(
        F.lit("raster").alias("kind"),
        "att_conf_id", "xb", "yb", "cnt", "vmean", "vmin", "vmax",
    )
    hover = ax["hover"].select(
        F.lit("hover").alias("kind"),
        "att_conf_id", "xb",
        F.lit(-1).cast("int").alias("yb"),
        "cnt",
        F.lit(None).cast("double").alias("vmean"),
        "vmin", "vmax",
    )
    return (
        raster.unionAll(hover)
        # raw doubles, no rounding: y0/y1 derive from MIN/MAX (exact) via the
        # identical IEEE ops on both sides, so they are bit-equal by design
        .withColumn("y0", F.lit(float(y0)))
        .withColumn("y1", F.lit(float(y1)))
        .orderBy("kind", "att_conf_id", "xb", "yb")
    )


def lifecycle_query(spark, sf_dir):
    """End-to-end /query lifecycle witness (reference server.py:151-165 ->
    get_att_data, data.py:17-75), the §3.2 twin of lifecycle_aggregate:
    fixture catalog -> name resolution (J1 catalog snapshot) -> ONE
    combined query_raw_df plan -> exact time trim (F1) -> the raw series
    UNION the interval-resampled series (A1 round-to-NEAREST, 12h
    buckets), as one hashable frame (kind, name, t, value_r). A green row
    proves resolution, routing, trimming, epoch synthesis, bucket
    arithmetic and the broadcast name join agree with first-principles
    SQL through the public API surface - not just that the resample
    operator matches in isolation (q18 already witnesses that).
    Resampled means carry the house ROUND(.,6) portability discipline;
    raw values are untouched parquet doubles (bit-equal by design)."""
    from ..api.lifecycle import HdbppQueryEngine
    from ..sources.fixtures import hdbpp_fixture

    catalog, datapoints = hdbpp_fixture(spark, sf_dir)
    engine = HdbppQueryEngine(catalog, datapoints)
    names = [f"cs1/dom{u % 5}/fam{u % 10}/mem{u % 3}/attr{u}" for u in range(6)]
    t0, t1 = datetime(2024, 1, 5), datetime(2024, 1, 20)
    # ONE catalog resolve for all three variants, shared through the
    # _ids parameter (the image_aggregates one-resolve discipline)
    ids = engine._resolve(names)
    raw = engine.query_raw_df(names, t0, t1, _ids=ids).select(
        F.lit("raw").alias("kind"), "name", "t", "value_r"
    )
    res = engine.query_raw_df(names, t0, t1, interval="12h", _ids=ids).select(
        F.lit("resampled").alias("kind"),
        "name",
        "t",
        F.round("value_r", 6).alias("value_r"),
    )
    # /httpquery's no-trim/no-interval variant (reference server.py:167-181
    # -> get_data restrict_time=False): MID-DAY request bounds, but whole
    # covered day-periods come back (hdbpp.py:16-21 over-fetch contract) -
    # the witness proves the day-span filter, not the exact trim
    http = engine.query_raw_df(
        names,
        datetime(2024, 1, 5, 12),
        datetime(2024, 1, 19, 18),
        restrict_time=False,
        _ids=ids,
    ).select(F.lit("httpquery").alias("kind"), "name", "t", "value_r")
    return raw.unionAll(res).unionAll(http).orderBy("kind", "name", "t")


def lifecycle_image(spark, sf_dir):
    """The PNG path witnessed end-to-end (reference server.py:92-148 +
    plot.py render): fixture catalog -> render_image -> base64 PNG per
    axis -> DECODED pixel array digested to one row per axis (axis, w, h,
    n_lit opaque pixels, sha256 of the raw RGBA bytes, y0, y1). Hashing
    the decoded array, not the PNG bytes, keeps the digest stable across
    zlib versions while still pinning every pixel the line raster, alpha
    equalization, spread and palette produced. Rows-only driver entry: the
    render is not SQL-expressible, but the digest is deterministic, so any
    regression anywhere in the raster -> compose -> encode stack flips the
    value hash. Driver-side work stays pixel-bounded (w*h rows per axis)."""
    import base64
    import hashlib
    from datetime import datetime as _dt

    from ..api.lifecycle import HdbppQueryEngine
    from ..api.png import decode_png_rgba
    from ..sources.fixtures import hdbpp_fixture

    catalog, datapoints = hdbpp_fixture(spark, sf_dir)
    engine = HdbppQueryEngine(catalog, datapoints)
    attrs = [
        {"name": f"cs1/dom{u % 5}/fam{u % 10}/mem{u % 3}/attr{u}", "y_axis": u % 2}
        for u in range(8)
    ]
    out = engine.render_image(
        attrs, _dt(2024, 1, 1), _dt(2024, 1, 31), (200, 120)
    )
    rows = []
    for axis in sorted(out["images"]):
        ax = out["images"][axis]
        img = decode_png_rgba(base64.b64decode(ax["image"]))
        rows.append(
            (
                int(axis),
                int(img.shape[1]),
                int(img.shape[0]),
                int((img[:, :, 3] > 0).sum()),
                hashlib.sha256(img.tobytes()).hexdigest(),
                float(ax["y_range"][0]),
                float(ax["y_range"][1]),
            )
        )
    return spark.createDataFrame(
        rows,
        "axis int, width int, height int, n_lit long, pixel_sha256 string,"
        " y0 double, y1 double",
    )


def q36(spark, sf_dir):
    """P5/P6 right-anchored attribute-name split (reference hdbpp.py:90-92
    ``attr.rsplit("/", 4)``): constructed 5-part full names whose cs
    segment CONTAINS slashes (real Tango style, ``tango://host:10000``),
    split back with the column extractors. A left-anchored split (the
    pre-r13 defect) returns cs='tango:' here and hash-fails. The unioned
    3-segment malformed names pin the column form's ''-degradation (the
    driver-side ``_split_attr`` raises instead, like the reference -
    documented divergence in functions/names.py). Scale: broadcast dim
    join + pure string expressions, no shuffle beyond the final sort."""
    from ..functions.names import attr_control_system, attr_without_cs

    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cs = F.concat(
        F.lit("tango://"),
        F.lower(F.replace(F.col("r_name"), F.lit(" "), F.lit("-"))),
        F.lit(":10000"),
    )
    full = F.concat(
        cs, F.lit("/"), F.lower(F.col("n_name")),
        F.lit("/fam"), (F.col("n_nationkey") % 3).cast("string"),
        F.lit("/mem"), (F.col("n_nationkey") % 2).cast("string"),
        F.lit("/attr"), F.col("n_nationkey").cast("string"),
    )
    well_formed = (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(F.col("n_nationkey").alias("id"), full.alias("full_name"))
    )
    malformed = nation.select(
        (F.col("n_nationkey") + 100).alias("id"),
        F.concat(F.lower(F.col("n_name")), F.lit("/only/three")).alias("full_name"),
    )
    return (
        well_formed.unionAll(malformed)
        .select(
            "id",
            "full_name",
            attr_control_system("full_name").alias("cs"),
            attr_without_cs("full_name").alias("att_name"),
        )
        .orderBy("id")
    )


CORE_QUERIES = {f"q{i}": globals()[f"q{i}"] for i in range(1, 37)}
CORE_QUERIES["lifecycle_aggregate"] = lifecycle_aggregate
CORE_QUERIES["lifecycle_query"] = lifecycle_query
CORE_QUERIES["lifecycle_image"] = lifecycle_image
