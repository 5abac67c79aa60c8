"""Engine-surface tests: HDB++ model, lifecycles, renderers, cache,
incremental merge, storage layout, streaming (SURVEY §5.2-§5.4)."""

import json
import math
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine
from web_maxiv_hdbppviewer_spark.api.render import (
    render_csv_combined,
    render_grafana_json_combined,
)
from web_maxiv_hdbppviewer_spark.operators.asof import asof_join
from web_maxiv_hdbppviewer_spark.operators.extrema import pad_range
from web_maxiv_hdbppviewer_spark.sources.fixtures import hdbpp_fixture
from web_maxiv_hdbppviewer_spark.sources.hdbpp import (
    day_partitions,
    read_datapoints,
    write_datapoints,
)
from web_maxiv_hdbppviewer_spark.sources.tables import load_tables
from web_maxiv_hdbppviewer_spark.streaming.incremental import (
    incremental_merge,
    streaming_resample,
)

T0 = datetime(2024, 1, 5)
T1 = datetime(2024, 1, 20)


@pytest.fixture(scope="module")
def engine(spark):
    catalog, datapoints = hdbpp_fixture(spark, SF_SMOKE)
    return HdbppQueryEngine(catalog, datapoints)


@pytest.fixture(scope="module")
def events(spark):
    return load_tables(spark, SF_SMOKE)["events"]


def _attr_name(uid: int) -> str:
    return f"cs1/dom{uid % 5}/fam{uid % 10}/mem{uid % 3}/attr{uid}"


def _series(frame) -> dict:
    """The combined /query frame as {name: its rows in (t) order}."""
    out: dict = {}
    for r in frame.collect():
        out.setdefault(r["name"], []).append(r)
    return out


# --- /query lifecycle ----------------------------------------------------


def test_query_raw_matches_source(engine, events):
    uid = events.select("user_id").limit(1).collect()[0][0]
    name = _attr_name(uid)
    out = _series(engine.query_raw_df([name.upper()], T0, T1))  # P8: lookup is case-insensitive
    assert set(out) == {name.upper()}
    got = out[name.upper()]
    expected = (
        events.where((F.col("user_id") == uid) & F.col("ts").between(T0, T1))
        .where(F.col("event_type") != "error")  # error rows have NULL value_r
        .count()
    )
    non_null = [r for r in got if r["value_r"] is not None]
    assert len(non_null) == expected
    assert all(T0.timestamp() * 1e6 <= r["t"] <= T1.timestamp() * 1e6 for r in got)


def test_query_raw_resample_means(engine, events):
    uid = events.select("user_id").limit(1).collect()[0][0]
    name = _attr_name(uid)
    out = _series(engine.query_raw_df([name], T0, T1, interval="1d"))[name]
    # property: count conservation and constant-series mean. Exported t
    # is the MEAN of the member timestamps (reference data.py:47: the
    # groupby().mean() averages t too; the bucket key is the dropped
    # index), keyed here by the half-to-EVEN bucket for grouping only.
    width = 86_400_000_000
    manual = (
        events.where((F.col("user_id") == uid) & F.col("ts").between(T0, T1))
        .select(
            # half-to-EVEN like the engine/reference (bround, not +0.5 floor)
            F.bround(F.unix_micros("ts") / float(width)).cast("long").alias("b"),
            F.unix_micros("ts").alias("t_us"),
            # error rows are NULL-valued datapoints: they skip the value
            # mean but their t still counts in the t mean (pandas'
            # per-column NaN-skipping mean does exactly this)
            F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
        )
        .groupBy("b")
        .agg(F.avg("v").alias("m"), F.avg("t_us").alias("mt"))
        .collect()
    )
    expect = {r["b"]: r["m"] for r in manual}
    expect_t = {r["b"]: r["mt"] for r in manual}
    got = {round(r["t"] / width): r["value_r"] for r in out}
    got_t = {round(r["t"] / width): r["t"] for r in out}
    assert got_t.keys() == expect_t.keys()
    for b in expect_t:
        assert got_t[b] == pytest.approx(expect_t[b], abs=1.0)  # sub-µs
    assert got.keys() == expect.keys()
    for t in expect:
        if expect[t] is None:
            assert got[t] is None  # all-error bucket: NULL mean survives
        else:
            assert got[t] == pytest.approx(expect[t], rel=1e-12)


def test_query_unknown_attribute_dropped(engine):
    out = _series(engine.query_raw_df(["cs1/no/such/attr/x"], T0, T1))
    assert out == {}


# --- renderers -----------------------------------------------------------


def test_render_csv_shape(engine, events):
    uid = events.select("user_id").limit(1).collect()[0][0]
    name = _attr_name(uid)
    data = engine.query_raw_df([name], T0, T1)
    text = render_csv_combined(data, [name]).decode()
    lines = text.splitlines()
    assert lines[0] == name
    assert lines[1] == "t[us],value_r"
    first_t = int(lines[2].split(",")[0])
    assert first_t >= T0.timestamp() * 1e6


def test_render_csv_rw_write_values(spark):
    """A frame carrying the value_w sidecar (rw attribute) renders a third
    CSV column; NULL write values stay empty cells, exactly like value_r
    (the reference's server.py:21 missing write-value surface)."""
    name = "cs1/a/b/c/rw0"
    df = spark.createDataFrame(
        [(name, 1, 1.5, 2.0), (name, 2, None, 3.5), (name, 3, 4.25, None)],
        "name string, t long, value_r double, value_w double",
    )
    text = render_csv_combined(df, [name]).decode()
    lines = text.splitlines()
    assert lines[0] == "cs1/a/b/c/rw0"
    assert lines[1] == "t[us],value_r,value_w"
    assert lines[2] == "1,1.5,2.0"
    assert lines[3] == "2,,3.5"
    assert lines[4] == "3,4.25,"


def test_render_grafana_json_nan_to_null(engine, events):
    uid = (
        events.where(F.col("event_type") == "error")
        .select("user_id").limit(1).collect()[0][0]
    )
    name = _attr_name(uid)
    data = engine.query_raw_df([name], T0, T1)
    payload = json.loads(render_grafana_json_combined(data, [name]).decode())
    assert payload[0]["target"] == name
    values = [p[0] for p in payload[0]["datapoints"]]
    assert None in values  # error samples render as null, never NaN
    assert not any(isinstance(v, float) and math.isnan(v) for v in values)


# --- /image lifecycle ----------------------------------------------------


def test_image_aggregates_bounded_and_padded(engine, events):
    uids = [r[0] for r in events.select("user_id").distinct().limit(2).collect()]
    attrs = [{"name": _attr_name(u), "y_axis": 0} for u in uids]
    w, h = 50, 40
    result = engine.image_aggregates(attrs, T0, T1, (w, h))
    ax = result[0]
    raster_rows = ax["raster"].count()
    assert raster_rows <= w * h * len(uids)
    xbs = [r["xb"] for r in ax["hover"].collect()]
    assert all(0 <= x <= w for x in xbs)
    y0, y1 = ax["y_range"]
    assert y0 < y1
    for desc in ax["descs"].values():
        assert desc["total_points"] > 0


def test_image_manual_axis_override(engine, events):
    uid = events.select("user_id").limit(1).collect()[0][0]
    attrs = [{"name": _attr_name(uid), "y_axis": 1}]
    result = engine.image_aggregates(
        attrs, T0, T1, (10, 10), axes={"1": {"min": 0.0, "max": 100.0}}
    )
    y0, y1 = result[1]["y_range"]
    assert (y0, y1) == pytest.approx(pad_range(0.0, 100.0))


def test_pad_range_branches():
    """The reference's exact padding algebra (plot.py:160-188): constant
    series invent v/2..1.5v (scale-independent, +/-0.5 only at v == 0,
    mirrored for v < 0); log axes pad 5% in LOG space; linear axes 5%
    of the value range."""
    assert pad_range(None, None) == (0.0, 1.0)
    assert pad_range(5.0, 5.0) == (2.5, 7.5)
    assert pad_range(0.0, 0.0) == (-0.5, 0.5)
    assert pad_range(-4.0, -4.0) == (-6.0, -2.0)
    assert pad_range(10.0, 10.0, log_scale=True) == (5.0, 15.0)
    lo, hi = pad_range(0.0, 100.0)
    assert lo == -5.0 and hi == 105.0
    # log-space pad: extrema (10, 1000) -> (10^0.9, 10^3.1), floor > 0
    lo, hi = pad_range(10.0, 1000.0, log_scale=True)
    assert lo == pytest.approx(10 ** 0.9) and hi == pytest.approx(10 ** 3.1)
    assert lo > 0


# --- search lifecycle ----------------------------------------------------


def test_search_glob_and_cap(engine):
    hits = engine.search("cs1", "dom1/*", max_n=5).collect()
    assert 0 < len(hits) <= 5
    assert all(r["name"].startswith("dom1/") for r in hits)
    all_hits = engine.search("cs1", "*", max_n=100000).collect()
    contains_hits = engine.search("cs1", "fam2", contains=True, max_n=100000).collect()
    assert 0 < len(contains_hits) < len(all_hits)
    assert engine.controlsystems().collect()[0]["cs_name"] == "cs1"


# --- as-of join ----------------------------------------------------------


def test_asof_join_backward(spark):
    hist = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c")], ["k", "ts", "val"]
    )
    probes = spark.createDataFrame([(1, 15), (1, 25), (2, 5)], ["k", "ts"])
    got = {
        (r["k"], r["ts"]): r["asof"]["val"] if r["asof"] else None
        for r in asof_join(probes, hist, ["k"]).collect()
    }
    assert got == {(1, 15): "a", (1, 25): "b", (2, 5): None}


def test_asof_join_forward_includes_ties(spark):
    """'at-or-after': a history row exactly AT the probe timestamp matches
    (tie ordering regression: _side must sort history before the probe)."""
    hist = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c")], ["k", "ts", "val"]
    )
    probes = spark.createDataFrame([(1, 10), (1, 15), (1, 21), (2, 15)], ["k", "ts"])
    got = {
        (r["k"], r["ts"]): r["asof"]["val"] if r["asof"] else None
        for r in asof_join(probes, hist, ["k"], direction="forward").collect()
    }
    assert got == {(1, 10): "a", (1, 15): "b", (1, 21): None, (2, 15): "c"}


# --- incremental merge (X8: merged == full re-read) ----------------------


def test_incremental_merge_equals_full(spark, events):
    full = events.select("user_id", "ts", "value")
    cut = datetime(2024, 1, 15)
    cached = full.where(F.col("ts") < F.lit(cut))

    def fetch_from(wm):
        return full.where(F.col("ts") >= F.lit(wm)) if wm else full

    merged = incremental_merge(cached, fetch_from, keys=["user_id"])
    # events may legitimately collide on (user_id, ts); compare against the
    # same dedup of the full table. (anti-join compare: exceptAll over a
    # dropDuplicates union trips INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in
    # Spark 4.1's ReplaceExceptWithSomething rewrite)
    full_dd = full.dropDuplicates(["user_id", "ts"])
    assert merged.count() == full_dd.count()
    assert merged.join(full_dd, ["user_id", "ts", "value"], "left_anti").count() == 0


# --- storage layout ------------------------------------------------------


def test_write_read_datapoints_roundtrip(spark, tmp_path):
    catalog, datapoints = hdbpp_fixture(spark, SF_SMOKE)
    path = str(tmp_path / "dp")
    write_datapoints(datapoints, path)
    t0, t1 = datetime(2024, 1, 10), datetime(2024, 1, 12)
    back = read_datapoints(spark, path, t0=t0, t1=t1)
    expected = datapoints.where(F.col("ts").between(F.lit(t0), F.lit(t1))).count()
    assert back.count() == expected
    # partition pruning is THE 100 TB lever for the day-partitioned scan
    # (S1/T2): the FileScan must carry a NON-EMPTY PartitionFilters
    # section naming period ('period' alone appears in any plan of this
    # scan - ReadSchema/output - so that substring proves nothing) ...
    plan = back._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PartitionFilters: [" in scan_line, scan_line
    pf = scan_line.split("PartitionFilters: [", 1)[1]
    assert pf.split("]")[0].strip(), f"empty PartitionFilters: {scan_line}"
    assert "period" in pf, scan_line
    # ... and the scan must TOUCH only the three matched day directories
    days = day_partitions(t0, t1)
    assert days == ["2024-01-10", "2024-01-11", "2024-01-12"]
    # input_file_name() reflects the files the executed scan actually
    # read (DataFrame.inputFiles would list the unpruned index)
    touched = {
        seg.split("=", 1)[1]
        for (f,) in back.select(F.input_file_name()).distinct().collect()
        for seg in f.split("/")
        if seg.startswith("period=")
    }
    assert touched and touched <= set(days), touched
    n_all_periods = (
        spark.read.parquet(path).select("period").distinct().count()
    )
    assert n_all_periods > len(days), "fixture spans too few days to prove pruning"


# --- structured streaming ------------------------------------------------


def test_streaming_resample_matches_batch(spark, events, tmp_path):
    src = str(tmp_path / "stream_src")
    batch = events.select("user_id", "ts", F.col("value").alias("value_r"))
    batch.write.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)
    agg = streaming_resample(stream, 86400, keys=["user_id"])
    q = (
        agg.writeStream.format("memory")
        .queryName("resampled")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM resampled")
    expect = (
        batch.groupBy("user_id", F.window("ts", "86400 seconds").alias("win"))
        .agg(F.avg("value_r").alias("mean_v"), F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("win.start").alias("bucket_start"), "mean_v", "n")
    )
    assert got.count() == expect.count()
    assert got.exceptAll(expect).count() == 0


def test_stream_events_unit_drift_guard(spark):
    """The streamed events feed must agree with the batch table on the REAL
    testdata files — r6 regression guard: a hard-coded stream schema read
    timestamp[us] parquet as the old nanos-as-int64 layout and every streamed
    ts came out 1000x too small while the batch path stayed correct. Any
    future storage-layout drift that the stream normalizes differently from
    the batch path trips this immediately."""
    from tests.conftest import SF_SMOKE
    from web_maxiv_hdbppviewer_spark.plans.extensions import _stream_events
    from web_maxiv_hdbppviewer_spark.sources.tables import load_tables

    batch = load_tables(spark, SF_SMOKE)["events"]
    q = (
        _stream_events(spark, SF_SMOKE)
        .select("ts")
        .writeStream.format("memory")
        .queryName("unit_drift_guard")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT min(ts) AS lo, max(ts) AS hi, count(*) AS n FROM unit_drift_guard"
    ).first()
    want = batch.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi"), F.count(F.lit(1)).alias("n")
    ).first()
    assert (got.lo, got.hi, got.n) == (want.lo, want.hi, want.n)


# --- single-plan /query + combined renderers ------------------------------


def test_render_csv_combined_byte_identical(engine, events):
    """The CSV bytes of a 3-attribute /query equal blocks built from the
    source rows: each series' window rows in t order, error readings as
    empty cells."""
    uids = [r[0] for r in events.select("user_id").distinct().limit(3).collect()]
    names = [_attr_name(u) for u in uids]
    got = render_csv_combined(engine.query_raw_df(names, T0, T1), names)
    blocks = []
    for uid, name in zip(uids, names):
        rows = (
            events.where((F.col("user_id") == uid) & F.col("ts").between(T0, T1))
            .select(
                F.unix_micros("ts").alias("t"),
                F.when(F.col("event_type") != "error", F.col("value")).alias("v"),
            )
            .orderBy("t")
            .collect()
        )
        lines = [name, "t[us],value_r"] + [
            f"{r['t']},{'' if r['v'] is None or math.isnan(r['v']) else repr(r['v'])}"
            for r in rows
        ]
        blocks.append("\n".join(lines) + "\n")
    assert got == "\n".join(blocks).encode()


def test_query_raw_df_resample_matches_per_attr(engine, events):
    """Each series of a 2-attribute resampled /query equals the buckets
    computed from its own source rows: half-to-even day buckets, t the
    mean member timestamp, value_r the mean of the non-error values."""
    uids = [r[0] for r in events.select("user_id").distinct().limit(2).collect()]
    names = [_attr_name(u) for u in uids]
    combined = engine.query_raw_df(names, T0, T1, interval="1d")
    width = 86_400_000_000
    for uid, name in zip(uids, names):
        want = (
            events.where((F.col("user_id") == uid) & F.col("ts").between(T0, T1))
            .groupBy(F.bround(F.unix_micros("ts") / float(width)).alias("b"))
            .agg(
                F.avg(F.unix_micros("ts")).alias("t"),
                F.avg(
                    F.when(F.col("event_type") != "error", F.col("value"))
                ).alias("v"),
            )
            .orderBy("t")
            .collect()
        )
        got = combined.where(F.col("name") == name).orderBy("t").collect()
        assert len(got) == len(want) > 0
        for g, w in zip(got, want):
            assert g["t"] == pytest.approx(w["t"], abs=1.0)  # sub-µs
            if w["v"] is None:
                assert g["value_r"] is None
            else:
                assert g["value_r"] == pytest.approx(w["v"], rel=1e-12)


# --- dedup: skew cap + partial-color compose ------------------------------


def test_max_shingle_df_keeps_similarity_exact(spark):
    """A planted ultra-frequent shingle is dropped from candidate generation
    only: surviving pairs keep EXACT similarity values (verification uses all
    shingles); near-dup pairs still found via their rare shingles."""
    from web_maxiv_hdbppviewer_spark.operators.dedup import ngram_jaccard_pairs

    stop = "the end"  # planted in every doc -> df == n_docs
    docs = [(i, f"unique{i} words number{i} extra{i} tail{i} " + stop) for i in range(20)]
    # two near-identical docs sharing their rare shingles
    docs.append((100, "alpha beta gamma delta epsilon zeta " + stop))
    docs.append((101, "alpha beta gamma delta epsilon zeta " + stop))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, 0.8).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, 0.8, max_shingle_df=5).collect()
    }
    assert (100, 101) in uncapped
    assert capped == uncapped  # same pairs, bit-identical similarity values


def test_compose_image_partial_colors_falls_back(spark):
    from web_maxiv_hdbppviewer_spark.api.png import LINE_COLORS, compose_image

    rows = [
        {"series": 7, "xb": 0, "yb": 0, "cnt": 1},
        {"series": 9, "xb": 1, "yb": 0, "cnt": 1},
    ]
    img = compose_image(rows, 2, 1, colors={7: (1, 2, 3)})
    assert tuple(img[0, 0][:3]) == (1, 2, 3)  # explicit override
    assert tuple(img[0, 1][:3]) == LINE_COLORS[1]  # uncolored -> palette slot


# --- Cassandra connector adapter (plan-level; no live cluster) ------------


def test_cassandra_adapter_pushdown_and_normalization(spark):
    """The connector adapter must express its restriction as Catalyst
    filters on the PHYSICAL columns (partition keys att_conf_id/period,
    clustering column data_time) - that is what DSv2 pushdown hands to the
    connector as CQL - and reconstruct microsecond event time exactly."""
    from web_maxiv_hdbppviewer_spark.sources.cassandra import (
        read_cassandra_datapoints,
    )

    phys = spark.createDataFrame(
        [
            (7, "2024-01-05", datetime(2024, 1, 5, 12, 0, 0), 123456, 1.5, 0, None),
            (7, "2024-01-06", datetime(2024, 1, 6, 0, 0, 1), 999999, 2.5, 0, None),
            (8, "2024-01-05", datetime(2024, 1, 5, 1, 0, 0), 1, 9.0, 0, None),
            (7, "2024-02-01", datetime(2024, 2, 1, 0, 0, 0), 0, 4.0, 0, None),
        ],
        "att_conf_id long, period string, data_time timestamp, "
        "data_time_us long, value_r double, quality int, error_desc string",
    )
    out = read_cassandra_datapoints(
        spark,
        "hdb",
        "scalar_devdouble_ro",
        att_conf_ids=[7],
        t0=datetime(2024, 1, 5),
        t1=datetime(2024, 1, 7),
        source=phys,
    )
    rows = {(r["att_conf_id"], r["ts"], r["value_r"]) for r in out.collect()}
    assert rows == {
        (7, datetime(2024, 1, 5, 12, 0, 0, 123456), 1.5),
        (7, datetime(2024, 1, 6, 0, 0, 1, 999999), 2.5),
    }
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "att_conf_id" in plan and "IN (2024-01-05,2024-01-06,2024-01-07)" in plan.replace(
        "'", ""
    ) or "period" in plan
    # the three pushable restrictions all survive to the optimized plan
    for col in ("att_conf_id", "period", "data_time"):
        assert col in plan, f"missing pushable predicate on {col}"


# --- rasterline: Catalyst operator vs numpy reference ----------------------


def test_rasterline_native_equals_reference(spark, events):
    """Property: the Catalyst line raster draws the same pixels with the
    same counts as the sequential numpy walk, on fixture events over the
    whole month, a log axis, a deep zoom whose segments are anchored far
    off the canvas, and a series with non-finite values."""
    from tests.rasterline_reference import assert_native_equals_reference

    data = events.select(
        "user_id", "ts", F.col("value").alias("value_r"),
        F.log10(F.col("value")).alias("log_v"),
    )
    x0 = 1_704_067_200_000_000  # 2024-01-01 UTC
    span = 2_592_000_000_000.0
    kw = dict(series_col="user_id", w=64, ymin=0.0, ymax=500.0, h=48)
    month = assert_native_equals_reference(data, x0, span, **kw)
    assert len(month) > 0
    log_axis = assert_native_equals_reference(
        data, x0, span, **{**kw, "ymin": -1.0, "ymax": 3.0}, value_col="log_v"
    )
    assert len(log_axis) > 0
    # 0.001 of the month over a 2-unit value band, centered on one point
    # of a series, so its segments enter from anchors far off the canvas
    t_mid, v_mid = data.where(F.col("value_r").isNotNull()).orderBy("user_id", "ts").select(
        F.unix_micros("ts"), "value_r"
    ).first()
    zoom = assert_native_equals_reference(
        data, t_mid - int(span * 0.0005), span * 0.001,
        **{**kw, "ymin": v_mid - 1.0, "ymax": v_mid + 1.0},
    )
    assert len(zoom) > 0
    odd = data.sparkSession.createDataFrame(
        [(1, 0, float("nan")), (1, 1000, 5.0), (1, 2000, float("inf")),
         (1, 3000, 7.0), (1, 4000, 8.0), (2, 500, 1e300), (2, 900, 3.0),
         (3, 2500, 4.5), (4, 100, -float("inf")), (5, -23, 4.0)],
        "user_id long, t long, value_r double",
    ).select("user_id", F.timestamp_micros("t").alias("ts"), "value_r")
    odd_px = assert_native_equals_reference(odd, 0, 5000.0, **{**kw, "ymax": 10.0})
    # series 1 draws only its finite 7 -> 8 segment, series 3 is a lone
    # dot, series 4's only point is non-finite, series 5's lone point
    # floors off the canvas (x = -0.29) although it rounds onto it
    assert {s for s, _, _ in odd_px} == {1, 2, 3}


# --- parameter / history lifecycles (S5/S6) --------------------------------


@pytest.fixture(scope="module")
def ph_engine(spark):
    from web_maxiv_hdbppviewer_spark.sources.fixtures import (
        parameter_history_fixture,
    )

    catalog, datapoints = hdbpp_fixture(spark, SF_SMOKE)
    params, history = parameter_history_fixture(spark, SF_SMOKE)
    return HdbppQueryEngine(catalog, datapoints, parameters=params, history=history)


def test_get_parameters_latest_before(ph_engine, events):
    uid = (
        events.where(F.col("event_id") % 7 == 0)
        .select("user_id").limit(1).collect()[0][0]
    )
    name = _attr_name(uid)
    row = ph_engine.get_parameters(name, T1)
    assert row is not None
    assert row["label"] == f"attr{uid}"
    assert row["recv_time"] < T1
    # the snapshot returned is the LATEST one before the cutoff
    newest = (
        events.where((F.col("event_id") % 7 == 0) & (F.col("user_id") == uid))
        .where(F.col("ts") < F.lit(T1))
        .agg(F.max("ts")).collect()[0][0]
    )
    assert row["recv_time"] == newest
    assert ph_engine.get_parameters("cs1/no/such/attr/x", T1) is None


def test_get_history_window_cap_and_shape(ph_engine, events):
    uid = (
        events.where(F.col("event_type").isin("signup", "purchase", "error"))
        .groupBy("user_id").count().orderBy(F.desc("count"))
        .limit(1).collect()[0][0]
    )
    name = _attr_name(uid)
    windowed = ph_engine.get_history(name, (T0, T1))
    assert 0 < len(windowed) <= 10  # reference caps windowed history at 10
    assert all(set(e) == {"timestamp", "event"} for e in windowed)
    assert all(e["event"] in ("add", "start", "stop") for e in windowed)
    ts = [e["timestamp"] for e in windowed]
    assert ts == sorted(ts)
    full = ph_engine.get_history(name)
    assert len(full) >= len(windowed)


def test_run_cancellable_tags_and_returns(ph_engine):
    sc = ph_engine.datapoints.sparkSession.sparkContext
    seen = {}

    def work():
        seen["group"] = sc.getLocalProperty("spark.jobGroup.id")
        return ph_engine.controlsystems().count()

    assert ph_engine.run_cancellable("req-42", work) == 1
    assert seen["group"] == "req-42"
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    ph_engine.cancel("req-42")  # no running jobs: a no-op, must not raise


def test_streaming_last_value_matches_batch(spark, events, tmp_path):
    """applyInPandasWithState current-state operator: after draining the
    stream (forced through MULTIPLE micro-batches so state actually carries
    across batches), the final per-key state equals the batch latest-by-ts."""
    from web_maxiv_hdbppviewer_spark.streaming.stateful import streaming_last_value

    src = str(tmp_path / "state_src")
    batch = events.select(
        F.col("user_id").cast("long").alias("att_conf_id"), "ts",
        F.col("value").alias("value_r"),
    ).where(F.col("value").isNotNull())
    batch.repartition(4).write.parquet(src)  # 4 files
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(src)
    )
    out = streaming_last_value(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("laststate")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # update mode emits one row per key per batch; the LAST emission per key
    # is the final state
    got = {
        r["att_conf_id"]: (r["last_ts"], r["last_value"], r["n"])
        for r in spark.sql(
            "SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY att_conf_id "
            "ORDER BY n DESC) AS rn FROM laststate) WHERE rn = 1"
        ).collect()
    }
    expect = {
        r["att_conf_id"]: (r["last_ts"], r["last_value"], r["n"])
        for r in batch.groupBy("att_conf_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.max_by("value_r", "ts").alias("last_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == expect


def test_hyperplane_lsh_survives_correlated_dims(spark):
    """Coordinate-sign bucketing degenerates on correlated embeddings: if
    every vector's leading coordinates share a sign (common for real
    embedding models), ALL vectors collapse into one bucket and the
    candidate join becomes all-pairs. Random-hyperplane buckets must (a)
    keep discriminating on exactly that corpus and (b) still collide
    near-duplicate vectors (the recall side)."""
    from web_maxiv_hdbppviewer_spark.operators.similarity import (
        hyperplane_bucket,
        sign_bucket,
    )

    # deterministic correlated corpus: 100 vectors, all 64 coords > 0
    x, rows = 12345, []
    for vid in range(100):
        vec, vals = [], []
        for _ in range(64):
            x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            vals.append(0.05 + (x >> 40) / float(1 << 24))  # in (0.05, 1.05)
        rows.append((vid, vals))
    # plant a near-duplicate of vector 0 (tiny positive perturbation)
    dup = [v * 1.001 for v in rows[0][1]]
    rows.append((100, dup))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = df.select(
        "vec_id",
        sign_bucket(F.col("embedding"), 4).alias("sb"),
        hyperplane_bucket(F.col("embedding"), 4).alias("hb"),
    ).collect()
    sign_buckets = {r["sb"] for r in out}
    hyper_buckets = {r["hb"] for r in out}
    assert len(sign_buckets) == 1, "expected coordinate signs to collapse"
    assert len(hyper_buckets) > 1, "hyperplane buckets must keep discriminating"
    by_id = {r["vec_id"]: r["hb"] for r in out}
    assert by_id[0] == by_id[100], "near-duplicate must share its hyperplane bucket"


def test_lang_id_trigram_classifies_planted_languages(spark):
    """The trigram-profile classifier must pick the right language for
    planted non-English fixtures (the marker-word v1 needed exact stopword
    hits; trigrams must classify inflected/compound forms too)."""
    from web_maxiv_hdbppviewer_spark.operators.textquality import lang_id

    rows = [
        (0, "the cat and the dog are sitting in the garden of the house"),
        (1, "die verschiedenen einrichtungen und die geschichte der stadt"),
        (2, "la questione era que los escritorios estaban ocupados en la oficina"),
        (3, "le paysage et le laboratoire est entre les grandes eaux"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(df).collect()}
    assert got == {0: "en", 1: "de", 2: "es", 3: "fr"}, got


def test_snapshot_diff_null_text_semantics(spark):
    """NULL content must fingerprint as a DISTINCT value, not vanish:
    concat_ws skips NULL args, so without the coalesce sentinel a
    (NULL,)-content doc hashes identically to ('',) and ('a', NULL) to
    ('a', ''). NULL==NULL across snapshots is 'unchanged'; NULL vs ''
    and NULL vs value are 'changed'."""
    from web_maxiv_hdbppviewer_spark.operators.delta import snapshot_diff

    schema = "doc_id long, text string, title string"
    old = spark.createDataFrame(
        [(1, None, "t"), (2, "", "t"), (3, "a", None), (4, None, "t")], schema
    )
    new = spark.createDataFrame(
        [(1, None, "t"), (2, None, "t"), (3, "a", ""), (4, "x", "t")], schema
    )
    got = {
        r["id"]: r["status"]
        for r in snapshot_diff(
            old, new, content_cols=("text", "title")
        ).collect()
    }
    assert got == {1: "unchanged", 2: "changed", 3: "changed", 4: "changed"}


def test_bpe_merge_application_is_exact_greedy():
    """Merge application must be greedy left-to-right non-overlapping: a
    run [a,a,a] under pair (a,a) merges the FIRST two symbols ([aa, a], no
    cascade within the pass), and alternations [x,a,b,a,b] merge every
    eligible pair in one pass - the semantics the DuckDB list_reduce oracle
    replicates verbatim."""
    from web_maxiv_hdbppviewer_spark.operators.bpe import _apply_merge_local

    assert _apply_merge_local(["a", "a", "a"], "a", "a") == ["aa", "a"]
    assert _apply_merge_local(["x", "a", "b", "a", "b"], "a", "b") == ["x", "ab", "ab"]
    assert _apply_merge_local(["a"], "a", "b") == ["a"]  # single symbol untouched


def test_bpe_local_trainer_matches_naive_greedy_at_scale(spark):
    """The incremental driver-side trainer (round-5 scale path: one corpus
    pass, then vocabulary-sized driver work) must produce the EXACT merge
    table a naive recount-everything greedy trainer produces - for hundreds
    of merges, in seconds. The naive twin recounts every adjacent pair per
    step, so agreement at n=64 over the real sf0.001 vocabulary pins the
    incremental bookkeeping (patch-only-affected-words) to the greedy
    semantics; n=256 pins the runtime claim."""
    import time

    from web_maxiv_hdbppviewer_spark.operators.bpe import (
        _apply_merge_local,
        train_merges_local,
        word_frequencies,
    )

    docs = spark.read.parquet(SF_SMOKE + "/documents.parquet")
    wf = [(r["w"], int(r["f"])) for r in word_frequencies(docs).orderBy("w").collect()]

    def naive(wordfreqs, n_merges):
        syms = [list(w) for w, _ in wordfreqs]
        freqs = [f for _, f in wordfreqs]
        merges = []
        for step in range(1, n_merges + 1):
            counts = {}
            for s, f in zip(syms, freqs):
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
            if not counts:
                break
            (lhs, rhs), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((step, lhs, rhs, n))
            syms = [_apply_merge_local(s, lhs, rhs) for s in syms]
        return merges

    assert train_merges_local(wf, 64) == naive(wf, 64)
    t0 = time.perf_counter()
    big = train_merges_local(wf, 256)
    # the tiny synthetic vocabulary (31 words) exhausts its pairs before
    # 256 merges - BOTH trainers must break early at the same step
    assert big == naive(wf, 256)
    assert time.perf_counter() - t0 < 30, "256 merges must train in seconds"


def test_bpe_trainer_early_break_on_exhausted_pairs(spark):
    """A vocabulary whose pairs run out before n_merges must yield a SHORT
    merge table (Spark side breaks early) and the SQL oracle must agree -
    its st{k} chain falls through via the LEFT JOIN identity fallback
    instead of going empty (ADVICE r4)."""
    import duckdb

    from web_maxiv_hdbppviewer_spark.operators.bpe import train_bpe_merges
    from web_maxiv_hdbppviewer_spark.plans.extensions_oracle import _bpe_train_sql

    docs = spark.createDataFrame([(1, "ab ab"), (2, "ab")], "doc_id long, text string")
    got = [tuple(r) for r in train_bpe_merges(docs, 6).orderBy("step").collect()]
    assert got == [(1, "a", "b", 3)]  # one merge possible, then exhausted

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES (1, 'ab ab'), (2, 'ab'))"
        " t(doc_id, text)"
    )
    oracle = [tuple(r) for r in con.execute(_bpe_train_sql(6)).fetchall()]
    assert oracle == [(1, "a", "b", 3)]
    con.close()


def test_bpe_train_vocab_collect_is_driver_bounded(spark):
    """The trainer's vocabulary collect must be BOUNDED on a
    hapax-dominated corpus (VERDICT r7 'What's wrong' #2): with
    max_vocab=50 over 2000 one-off words plus a Zipf head, (a) the
    physical plan is a distributed top-N (TakeOrderedAndProject - only N
    rows ever reach the driver), (b) at most 50 rows come back with the
    head word among them, and (c) the winning merge is identical to
    training on the full vocabulary, because the head pair's count
    (3000) out-masses anything the dropped hapax tail shares ((h,x)
    appears in all 2000 tail words)."""
    from web_maxiv_hdbppviewer_spark.operators.bpe import (
        bounded_word_frequencies,
        train_bpe_merges,
    )

    rows = [(i, f"hx{i}q") for i in range(2000)]  # 2000 hapax words
    rows += [(10000 + j, " ".join(["ab"] * 60)) for j in range(50)]  # head
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = bounded_word_frequencies(docs, max_vocab=50)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    got = capped.collect()
    assert len(got) <= 50
    assert ("ab", 3000) in [(r["w"], r["f"]) for r in got]

    bounded = [
        tuple(r)
        for r in train_bpe_merges(docs, 1, max_vocab=50).orderBy("step").collect()
    ]
    full = [
        tuple(r)
        for r in train_bpe_merges(docs, 1, max_vocab=None).orderBy("step").collect()
    ]
    assert bounded == [(1, "a", "b", 3000)]
    assert bounded == full


def test_bpe_train_min_freq_drops_hapax(spark):
    """min_freq=2 must exclude one-off words from training entirely: a
    corpus whose only repeated word is 'cd cd' trains (c,d) even when
    hapax junk would otherwise dominate pair counts."""
    from web_maxiv_hdbppviewer_spark.operators.bpe import train_bpe_merges

    rows = [(i, f"zz{i}zz{i}") for i in range(30)]  # hapax, (z,z)-rich
    rows += [(100, "cd cd"), (101, "cd")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        tuple(r)
        for r in train_bpe_merges(docs, 1, min_freq=2).orderBy("step").collect()
    ]
    assert got == [(1, "c", "d", 3)]


def test_bpe_apply_heavy_tail_vocab_no_collect(spark):
    """apply_bpe_merges must size a hapax-dominated vocabulary correctly
    WITHOUT collecting it: 2000 distinct one-off words (the heavy tail),
    a few Zipf-head repeats, an all-spaces doc and a NULL-text doc (both
    must vanish - explode semantics; NULL crashed the r7 kernel with
    AttributeError) and case folding. Expected counts computed by a local
    reference implementation of the same greedy merge."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators.bpe import (
        _apply_merge_local,
        apply_bpe_merges,
    )

    merges = [("a", "b"), ("ab", "c"), ("x", "y")]
    rows = [
        (i, " ".join(f"w{i}abc{j}xy" for j in range(3))) for i in range(2000)
    ]
    rows += [(9001, "THE the ABCxy the"), (9002, "   "), (9003, "abc abc")]
    docs = spark.createDataFrame(
        rows + [(9004, None)], "doc_id long, text string"
    )

    def local_n(word):
        syms = list(word.lower())
        for a, b in merges:
            syms = _apply_merge_local(syms, a, b)
        return len(syms)

    expect = {
        i: sum(local_n(t) for t in text.lower().split(" ") if t)
        for i, text in rows
        if any(t for t in text.split(" "))
    }
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in apply_bpe_merges(docs, merges).collect()
    }
    assert got == expect
    assert 9002 not in got
    assert 9004 not in got


def test_quantization_error_bounded_by_half_scale(spark):
    """Symmetric int8 quantization error must never exceed scale/2: codes
    are round-to-nearest and max|v| maps to exactly +-127, so clamping
    never truncates. A violation means the scale or rounding drifted."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["sim_quantize"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["max_err_r"] <= r["scale_r"] / 2 + 1e-9, (
            r["id"], r["max_err_r"], r["scale_r"])
        assert -127 <= r["q_min"] <= r["q_max"] <= 127


def test_datapoints_text_formats_round_trip(spark, tmp_path):
    """CSV / JSONL / ORC interchange must round-trip the datapoints dataset
    losslessly under the ENFORCED schema: microsecond timestamps survive
    the ISO text encoding, NULL vs empty-string readings stay distinct,
    and the spectrum array survives CSV's flat encoding."""
    from datetime import datetime

    from web_maxiv_hdbppviewer_spark.schemas import DATAPOINTS_SCHEMA
    from web_maxiv_hdbppviewer_spark.sources import formats

    rows = [
        (1, "scalar_devdouble_ro", "2024-01-05",
         datetime(2024, 1, 5, 12, 0, 0, 123456), 1.5, None, None, None, 0, None),
        (1, "scalar_devstring_ro", "2024-01-05",
         datetime(2024, 1, 5, 12, 0, 1, 999999), None, None, "", None, 0, None),
        (2, "scalar_devstring_ro", "2024-01-06",
         datetime(2024, 1, 6, 0, 0, 0, 1), None, None, "hello world", None,
         1, "err"),
        # an rw reading: value_w sidecar must survive every wire format
        (2, "scalar_devdouble_rw", "2024-01-06",
         datetime(2024, 1, 6, 23, 59, 59, 500000), -0.25, 12.625, None,
         [1.0, -2.5, 0.1234567890123], None, None),
        # the three CSV corner contracts: a reading whose TEXT is literally
        # the \N null marker (and one with bare backslashes), an EMPTY
        # spectrum distinct from a NULL one
        (3, "scalar_devstring_ro", "2024-01-07",
         datetime(2024, 1, 7, 1, 2, 3, 4), None, None, "\\N", None,
         0, "a\\b\\\\N"),
        (3, "array_devdouble_ro", "2024-01-07",
         datetime(2024, 1, 7, 2, 3, 4, 5), None, None, None, [], 0, None),
    ]
    df = spark.createDataFrame(rows, DATAPOINTS_SCHEMA)
    want = sorted(map(tuple, df.collect()))

    p = str(tmp_path / "csv")
    formats.write_datapoints_csv(df, p)
    got = sorted(map(tuple, formats.read_datapoints_csv(spark, p).collect()))
    assert got == want, "csv round-trip drifted"

    p = str(tmp_path / "jsonl")
    formats.write_datapoints_jsonl(df, p)
    got = sorted(map(tuple, formats.read_datapoints_jsonl(spark, p).collect()))
    assert got == want, "jsonl round-trip drifted"

    p = str(tmp_path / "orc")
    formats.write_datapoints_orc(df, p)
    got = sorted(map(tuple, formats.read_datapoints_orc(spark, p).collect()))
    assert got == want, "orc round-trip drifted"


def test_csv_export_refuses_nonfinite_spectra(spark, tmp_path):
    """NaN/Inf/NULL array elements are outside the %.17g round-trip
    guarantee: the CSV writer must raise, not rewrite (use JSONL/ORC)."""
    from datetime import datetime

    import pytest as _pytest

    from web_maxiv_hdbppviewer_spark.schemas import DATAPOINTS_SCHEMA
    from web_maxiv_hdbppviewer_spark.sources import formats

    for bad in ([float("nan")], [float("inf"), 1.0], [1.0, None]):
        df = spark.createDataFrame(
            [(1, "array_devdouble_ro", "2024-01-05",
              datetime(2024, 1, 5), None, None, None, bad, 0, None)],
            DATAPOINTS_SCHEMA,
        )
        with _pytest.raises(Exception, match="finite|round-trip"):
            formats.write_datapoints_csv(df, str(tmp_path / "nf"))


def test_csv_ingest_failfast_on_malformed_rows(spark, tmp_path):
    """Re-ingest must fail LOUDLY on schema-violating rows (FAILFAST), not
    null them out: a 100 TB re-ingest that silently drops readings is data
    loss with green dashboards."""
    import pytest as _pytest

    from web_maxiv_hdbppviewer_spark.sources import formats

    d = tmp_path / "bad" / "period=2024-01-05"
    d.mkdir(parents=True)
    (d / "part-000.csv").write_text(
        "att_conf_id,data_type,ts,value_r,value_w,value_str,value_arr_csv,quality,error_desc\n"
        "not_a_number,scalar_devdouble_ro,2024-01-05T12:00:00.000000Z,1.5,\\N,\\N,\\N,0,\\N\n"
    )
    with _pytest.raises(Exception, match="Malformed|FAILFAST|BadRecord"):
        formats.read_datapoints_csv(spark, str(tmp_path / "bad")).collect()


def test_pq_assignment_and_adc_match_numpy_brute_force(spark):
    """Independent PQ check: the oracle replicates the engine's OWN argmin
    formulation, so a shared misconception would pass parity. Here numpy
    recomputes codebook assignment (nearest codeword per subspace, round-6
    L2, cid tiebreak) and the ADC cosine from first principles on random
    vectors, with no shared expression code."""
    import numpy as np

    from web_maxiv_hdbppviewer_spark.operators.similarity import (
        pq_assign,
        topk_cosine_pq,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(40, 64)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cb = train_pq_codebooks(df)
    books = {}  # m -> sorted list of (cid, np vector)
    for r in cb.collect():
        books.setdefault(r["m"], []).append((r["cid"], np.array(r["cv"])))

    def np_code(v64, m):
        sub = v64[m * 16 : (m + 1) * 16].astype(np.float64)
        best = None
        for cid, cv in sorted(books[m]):
            d = round(float(sub @ sub - 2 * (sub @ cv) + cv @ cv), 6)
            if best is None or (d, cid) < best[:2]:
                best = (d, cid)
        return best[1]

    got = {(r["id"], r["m"]): r["code"] for r in pq_assign(df, cb).collect()}
    for i in range(len(vecs)):
        for m in range(4):
            assert got[(i, m)] == np_code(vecs[i], m), (i, m)

    # ADC: approx cosine from the codes, numpy-recomputed
    top = topk_cosine_pq(df, 3, query_ids_below=2, codebooks=cb).collect()
    assert top
    for r in top:
        qv = vecs[r["q_id"]].astype(np.float64)
        pd_sum = 0.0
        nsq_sum = 0.0
        for m in range(4):
            cv = dict(books[m])[np_code(vecs[r["cand_id"]], m)]
            pd_sum += round(float(qv[m * 16 : (m + 1) * 16] @ cv), 6)
            nsq_sum += round(float(cv @ cv), 6)
        expect = round(pd_sum / (float(np.sqrt(qv @ qv)) * float(np.sqrt(nsq_sum))), 6)
        assert abs(r["acos_r"] - expect) < 2e-6, (tuple(r), expect)


def test_snapshot_diff_matches_dict_reference(spark):
    """Randomized reference check for snapshot_diff: generated corpus
    pairs with overlapping ids, shared texts, edits, adds and removes
    must produce exactly the statuses a dict-based reference computes -
    the id partition (every id in either side appears once) comes free."""
    import random

    from web_maxiv_hdbppviewer_spark.operators.delta import snapshot_diff

    rng = random.Random(5)
    for _ in range(3):
        texts = ["x", "y", "zz", ""] + [f"t{j}" for j in range(6)]
        old = {i: rng.choice(texts) for i in rng.sample(range(250), 120)}
        new = {}
        for i in rng.sample(range(250), 120):
            if i in old and rng.random() < 0.5:
                new[i] = old[i]  # unchanged
            else:
                new[i] = rng.choice(texts)
        expected = {}
        for i in set(old) | set(new):
            if i not in old:
                expected[i] = "added"
            elif i not in new:
                expected[i] = "removed"
            elif old[i] == new[i]:
                expected[i] = "unchanged"
            else:
                expected[i] = "changed"
        o = spark.createDataFrame(list(old.items()), "doc_id long, text string")
        n = spark.createDataFrame(list(new.items()), "doc_id long, text string")
        got = {r["id"]: r["status"] for r in snapshot_diff(o, n).collect()}
        assert got == expected


def test_stream_sessions_evict_drops_state(spark):
    """Append-mode sessionization must EVICT emitted sessions from the
    state store (the bounded-state claim stream_sessions_evict makes):
    after the drain, state rows must equal the open sessions (merged
    session end past the final watermark), a strict subset of all
    sessions - complete mode by contrast retains |sessions| rows."""
    import json

    from pyspark.sql import functions as F

    from tests.conftest import SF_SMOKE
    from web_maxiv_hdbppviewer_spark.functions.time import epoch_us
    from web_maxiv_hdbppviewer_spark.plans.extensions import (
        SESSION_GAP,
        _stream_events,
    )
    from web_maxiv_hdbppviewer_spark.sources.tables import load_tables

    load_tables(spark, SF_SMOKE)
    feed = _stream_events(spark, SF_SMOKE).select(
        "user_id", F.col("ts").alias("tss"), "value"
    )
    q = (
        feed.withWatermark("tss", "1 hour")
        .groupBy("user_id", F.session_window(F.col("tss"), SESSION_GAP).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("evict_state_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180)
        progs = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
    emitted = spark.table("evict_state_probe").count()

    # ground truth from batch: all merged sessions + the final watermark
    ev = load_tables(spark, SF_SMOKE)["events"]
    sessions = [
        r["e"]
        for r in (
            ev.select("user_id", F.col("ts").alias("tss"))
            .groupBy(
                "user_id", F.session_window(F.col("tss"), SESSION_GAP).alias("w")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .select(epoch_us("w.end").alias("e"))
            .collect()
        )
    ]
    mx = ev.agg(F.max(epoch_us(F.col("ts"))).alias("m")).collect()[0]["m"]
    wm = (mx // 1000) * 1000 - 3_600_000_000
    open_sessions = sum(1 for e in sessions if e > wm)
    assert emitted == len(sessions) - open_sessions

    state_rows = [
        s["numRowsTotal"]
        for p in progs
        for s in p.get("stateOperators", [])
        if s.get("numRowsTotal") is not None
    ]
    assert state_rows, "no state operator metrics recorded"
    # eviction happened: the store ends at exactly the open sessions,
    # strictly below its pre-eviction peak
    assert state_rows[-1] == open_sessions
    assert state_rows[-1] < max(state_rows)


def test_semantic_dedup_keep_lowest_id_within_cell(spark):
    """semantic_dedup drops exactly the vectors with a lower-id cluster-mate
    above the cosine threshold, points dup_of at the SMALLEST such mate, and
    never pairs across cells (planted orthogonal clusters make membership
    unambiguous)."""
    from web_maxiv_hdbppviewer_spark.operators.similarity import semantic_dedup

    # two orthogonal directions; ids 0/1/2 on e1 (1 and 2 near-dups of 0),
    # ids 3/4 on e2 (4 a near-dup of 3), id 5 on e1 but anti-aligned (kept:
    # cosine -1 < threshold even though it lands in a cell with 0/1/2)
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0]),
        (2, [0.98, 0.02, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.97, 0.03]),
        (5, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "cid long, cvec array<double>",
    )
    out = {
        r["id"]: (r["cell"], r["dup_of"], r["keep"])
        for r in semantic_dedup(df, 0.9, cents).collect()
    }
    assert out[0] == (0, -1, True)
    assert out[1] == (0, 0, False)
    assert out[2] == (0, 0, False)  # smallest qualifying mate, not id 1
    assert out[3] == (1, -1, True)
    assert out[4] == (1, 3, False)
    assert out[5][1:] == (-1, True)  # same cell as 0 but cos = -1: kept
    # plan shape: centroid assignment broadcast, no cartesian pair join
    plan = (
        semantic_dedup(df, 0.9, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan


def test_compaction_range_clusters_and_detects_fragmentation(spark, tmp_path):
    """compact() produces ceil(n/target) key-disjoint files; the overlap
    probe is non-vacuous - it must FLAG the round-robin fragmented layout
    (whose every file spans the key range) and clear the compacted one."""
    from web_maxiv_hdbppviewer_spark.operators import compact as cp

    df = spark.range(0, 1000).select(F.col("id").alias("k"))
    frag, comp = str(tmp_path / "frag"), str(tmp_path / "comp")
    cp.write_fragmented(df, frag, 16)
    assert cp.count_part_files(frag) == 16
    assert cp.n_range_overlaps(spark, frag, "k") > 0  # negative control

    n_files = cp.compact(spark, frag, comp, "k", 300)
    assert n_files == 4  # ceil(1000/300)
    assert cp.count_part_files(comp) == 4
    assert cp.n_range_overlaps(spark, comp, "k") == 0
    # lossless: same keys, same checksum
    back = spark.read.parquet(comp)
    assert back.count() == 1000
    assert back.agg(F.sum("k")).collect()[0][0] == 499500


def test_hll_distinct_bound_and_merge_invariance(spark):
    """At 10^4 distinct keys (well past HLL's sparse-exact regime) the
    estimate is genuinely approximate yet inside the 3-sigma bound
    events_distinct_approx checks, and the union of per-group partial
    sketches estimates IDENTICALLY to the one-shot sketch."""
    n_distinct = 9973
    df = spark.range(0, 50000).select(
        (F.col("id") % n_distinct).alias("u"), (F.col("id") % 7).alias("d")
    )
    one = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("u")).alias("e")
    ).collect()[0]["e"]
    assert abs(one - n_distinct) <= 3 * 1.04 / (2**12) ** 0.5 * n_distinct + 1
    merged = (
        df.groupBy("d")
        .agg(F.hll_sketch_agg("u").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .collect()[0]["e"]
    )
    assert merged == one
    # sensitivity control: the sketch tracks the data, not a constant
    half = df.where(F.col("u") < 5000).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("u")).alias("e")
    ).collect()[0]["e"]
    assert half < one * 0.6


def test_json_parse_paths_agree_on_malformed_rows(spark):
    """The paths_agree claim in events_props_parse is about DEGENERATE
    inputs: schema'd from_json and get_json_object must yield the same
    typed value - or the same NULL - for valid, missing-field, wrong-type,
    malformed and NULL JSON."""
    rows = [
        (0, '{"k": 7}'),      # valid
        (1, '{"x": 1}'),      # field missing
        (2, '{"k": "abc"}'),  # wrong type
        (3, '{k: broken'),    # malformed
        (4, None),            # null document
        (5, '{"k": null}'),   # explicit null
    ]
    df = spark.createDataFrame(rows, "event_id long, props string")
    out = df.select(
        "event_id",
        F.from_json("props", "k INT")["k"].alias("ka"),
        F.get_json_object("props", "$.k").try_cast("int").alias("kb"),
    ).collect()
    got = {r["event_id"]: (r["ka"], r["kb"]) for r in out}
    assert got[0] == (7, 7)
    for i in (1, 2, 3, 4, 5):
        assert got[i] == (None, None), (i, got[i])


def test_collocations_pmi_matches_hand_computation(spark):
    """Planted corpus: an exclusive rare pair must out-PMI a frequent
    loosely-bound one, and every (count, pmi) must equal the from-scratch
    Python computation of ln((c12/B)/((c1/N)(c2/N)))."""
    import math
    from collections import Counter

    from web_maxiv_hdbppviewer_spark.operators.textquality import collocations

    docs = ["san francisco"] * 6 + ["a b a b a b a"] * 8 + ["a c b"] * 5
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)],
                               "doc_id long, text string")
    out = [
        (r["w1"], r["w2"], r["c12"], r["pmi_r"])
        for r in collocations(df, min_count=5, k=10).collect()
    ]

    uni, bi = Counter(), Counter()
    for d in docs:
        toks = d.split()
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    n, b = sum(uni.values()), sum(bi.values())
    expect = sorted(
        (
            (w1, w2, c12,
             round((c12 / b) / ((uni[w1] / n) * (uni[w2] / n)), 10))
            for (w1, w2), c12 in bi.items() if c12 >= 5
        ),
        key=lambda t: (-t[3], t[0], t[1]),
    )
    expect = [(w1, w2, c12, round(math.log(r), 6)) for w1, w2, c12, r in
              [(w1, w2, c12, (c12 / b) / ((uni[w1] / n) * (uni[w2] / n)))
               for w1, w2, c12, _ in expect]]
    assert out == expect
    assert out[0][:2] == ("san", "francisco")  # exclusive pair wins


def test_global_rank_matches_single_partition_window(spark):
    """Distributed range-partitioned ranking == the one-task global window
    it replaces, for any partition count, including ties broken by the id
    column (total order)."""
    from pyspark.sql import Window

    from web_maxiv_hdbppviewer_spark.operators.rank import global_rank

    rows = [(i, (i * 37) % 11) for i in range(500)]  # many ties in v
    df = spark.createDataFrame(rows, "id long, v long")
    w = Window.orderBy("v", "id")
    expect = {
        r["id"]: r["r"]
        for r in df.withColumn("r", F.row_number().over(w)).collect()
    }
    for n_parts in (1, 7, 32):
        got = {
            r["id"]: r["rank"]
            for r in global_rank(df, ["v", "id"], n_partitions=n_parts).collect()
        }
        assert got == expect, n_parts


def test_temperature_rebalance_flattens_the_head(spark):
    """alpha=0.5: the rarest domain keeps 100%, keep fractions decrease
    with domain size, and realized keeps track sqrt-flattened targets."""
    from web_maxiv_hdbppviewer_spark.operators.sampling import temperature_rebalance

    rows = [(i, "big") for i in range(900)] + \
           [(900 + i, "mid") for i in range(300)] + \
           [(1200 + i, "rare") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["source"]: r for r in temperature_rebalance(df, 0.5).collect()}
    assert out["rare"]["keep_bp"] == 10000
    assert out["rare"]["n_kept"] == 100
    assert out["mid"]["keep_bp"] == round(10000 * (100 / 300) ** 0.5)
    assert out["big"]["keep_bp"] == round(10000 * (100 / 900) ** 0.5)
    assert out["big"]["keep_bp"] < out["mid"]["keep_bp"] < 10000
    # realized counts within hash-bucket noise of the target fraction
    for s in ("big", "mid"):
        target = out[s]["n_total"] * out[s]["keep_bp"] / 10000
        assert abs(out[s]["n_kept"] - target) < 0.15 * out[s]["n_total"]


def test_semantic_dedup_matches_bruteforce_reference(spark):
    """Seeded randomized cross-check: semantic_dedup against an independent
    O(n^2) numpy reference implementing the same round-6 cosine discipline
    (max-cosine/lowest-cid assignment, keep-lowest-id within cell)."""
    import numpy as np

    from web_maxiv_hdbppviewer_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    for _trial in range(3):
        n, dim, k, thr = 60, 8, 4, 0.6

        vecs = rng.normal(size=(n, dim))
        cents = rng.normal(size=(k, dim))

        def r6cos(a, b):
            return round(
                float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))), 6
            )

        cell = [
            max(range(k), key=lambda c: (r6cos(vecs[i], cents[c]), -c))
            for i in range(n)
        ]
        dup_of = [
            min(
                (j for j in range(i)
                 if cell[j] == cell[i] and r6cos(vecs[i], vecs[j]) >= thr),
                default=-1,
            )
            for i in range(n)
        ]

        df = spark.createDataFrame(
            [(i, [float(x) for x in vecs[i]]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        cdf = spark.createDataFrame(
            [(c, [float(x) for x in cents[c]]) for c in range(k)],
            "cid long, cvec array<double>",
        )
        got = {
            r["id"]: (r["cell"], r["dup_of"], r["keep"])
            for r in semantic_dedup(df, thr, cdf).collect()
        }
        for i in range(n):
            assert got[i] == (cell[i], dup_of[i], dup_of[i] == -1), (_trial, i)


def test_containment_catches_subset_that_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment 1.0, Jaccard
    ~0.1 - the asymmetric pair must surface with cont_r = 1.0. Plus a
    seeded randomized cross-check against a brute-force python reference
    (exact recall of the smaller-side prefix index)."""
    import random

    from web_maxiv_hdbppviewer_spark.operators.dedup import containment_pairs

    quote = "alpha beta gamma delta epsilon"
    host = quote + " " + " ".join(f"w{i} x{i}" for i in range(20))
    df = spark.createDataFrame(
        [(0, quote), (1, host), (2, "unrelated words only here")],
        "doc_id long, text string",
    )
    got = {(r["id_a"], r["id_b"]): r["cont_r"]
           for r in containment_pairs(df, 0.9).collect()}
    assert got == {(0, 1): 1.0}

    rng = random.Random(11)
    vocab = [f"t{i}" for i in range(30)]
    docs = [(i, " ".join(rng.choices(vocab, k=rng.randint(6, 30))))
            for i in range(40)]
    t = 0.5

    def shingles(s):
        w = s.split()
        return set(zip(w, w[1:]))

    expect = {}
    for i, ta in docs:
        for j, tb in docs:
            if i < j:
                sa, sb = shingles(ta), shingles(tb)
                c = len(sa & sb)
                cont = round(c / min(len(sa), len(sb)), 6)
                if cont >= t:
                    expect[(i, j)] = cont
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    for strategy in ("count", "prefix"):
        got = {(r["id_a"], r["id_b"]): r["cont_r"]
               for r in containment_pairs(sdf, t, strategy=strategy).collect()}
        assert got == expect, strategy


def test_events_anomaly_flags_planted_spikes(spark):
    """A tight cluster plus planted spikes: exactly the spikes exceed the
    3-sigma band (computed from the round-6-pinned moments)."""
    from web_maxiv_hdbppviewer_spark.operators.extrema import zscore_outliers

    rows = [(0, 7, 100.0 + (i % 5) * 0.01) for i in range(200)]
    rows += [(200, 7, 500.0), (201, 7, -300.0)]  # spikes
    rows += [(300 + i, 8, float(i % 10)) for i in range(50)]  # calm user
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, value double"
    )
    out = {
        r["user_id"]: r["n_outliers"]
        for r in zscore_outliers(df.select("user_id", "value")).collect()
    }
    assert out[7] == 2  # both spikes, nothing from the tight cluster
    assert out[8] == 0  # uniform spread has no 3-sigma points


def test_tfidf_keywords_rank_rare_terms_first(spark):
    """A term unique to one doc must out-score that doc's common terms;
    a term in every doc has idf ln(1) = 0 and can never rank."""
    from web_maxiv_hdbppviewer_spark.operators.textquality import tfidf_keywords

    docs = [
        (0, "shared shared zebra shared"),
        (1, "shared common common"),
        (2, "shared common unique"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {(r["doc_id"], r["rk"]): (r["term"], r["score_r"])
           for r in tfidf_keywords(df, 2).collect()}
    import math
    assert out[(0, 1)] == ("zebra", round(math.log(3.0), 6))
    assert out[(2, 1)] == ("unique", round(math.log(3.0), 6))
    assert out[(1, 1)] == ("common", round(2 * math.log(3.0 / 2), 6))
    # 'shared' (df == N, idf 0) never beats a scoring term
    assert all(t != "shared" or s == 0.0 for t, s in out.values())


def test_funnel_seq_requires_strict_order(spark, tmp_path):
    """Planted journeys: only the user whose signup < view < purchase chain
    holds in strict time order reaches stage 3; out-of-order or skipped
    steps stall at the last satisfied stage."""
    import datetime as dt

    from web_maxiv_hdbppviewer_spark.plans import extensions as ext

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        # A: full ordered chain
        (1, ts(1), 10, "signup", 1.0, "{}"),
        (2, ts(2), 10, "view", 1.0, "{}"),
        (3, ts(3), 10, "purchase", 1.0, "{}"),
        # B: view BEFORE signup, purchase after - stalls at stage 1
        (4, ts(1), 11, "view", 1.0, "{}"),
        (5, ts(2), 11, "signup", 1.0, "{}"),
        (6, ts(3), 11, "purchase", 1.0, "{}"),
        # C: signup then purchase, no view - stalls at stage 1
        (7, ts(1), 12, "signup", 1.0, "{}"),
        (8, ts(2), 12, "purchase", 1.0, "{}"),
        # D: never signs up - not in the funnel at all
        (9, ts(1), 13, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r["stage"]: r["n_users"]
        for r in ext.events_funnel_seq(spark, str(tmp_path)).collect()
    }
    assert out == {1: 3, 2: 1, 3: 1}


def test_zscore_outliers_drops_singleton_groups(spark):
    """n == 1 groups have no sample variance (0/0 -> NaN in Spark, NULL in
    SQL engines); the operator drops them instead of diverging."""
    from web_maxiv_hdbppviewer_spark.operators.extrema import zscore_outliers

    df = spark.createDataFrame(
        [(1, 5.0), (2, 1.0), (2, 2.0), (2, 3.0)], "user_id long, value double"
    )
    out = {r["user_id"]: r["n"] for r in zscore_outliers(df).collect()}
    assert out == {2: 3}


def test_new_operator_edges(spark, tmp_path):
    """Degenerate-input contracts of the round-9 operators: single-domain
    temperature mix keeps everything; alpha=1 disables rebalancing; tiers
    split 4x125 exactly at n=500; fragmentation with fewer rows than
    writers yields one file per row."""
    from web_maxiv_hdbppviewer_spark.operators import compact as cp
    from web_maxiv_hdbppviewer_spark.operators.rank import quantile_tiers
    from web_maxiv_hdbppviewer_spark.operators.sampling import temperature_rebalance

    one = spark.createDataFrame(
        [(i, "only") for i in range(40)], "doc_id long, source string"
    )
    r = temperature_rebalance(one, 0.5).collect()[0]
    assert (r["keep_bp"], r["n_kept"]) == (10000, 40)

    two = spark.createDataFrame(
        [(i, "big" if i < 30 else "rare") for i in range(40)],
        "doc_id long, source string",
    )
    flat = {r["source"]: r["keep_bp"] for r in temperature_rebalance(two, 1.0).collect()}
    assert flat == {"big": 10000, "rare": 10000}

    q = spark.range(0, 500).select(F.col("id").alias("doc_id"),
                                   (F.col("id") % 97).cast("double").alias("quality"))
    tiers = quantile_tiers(q, ["quality", "doc_id"], 4)
    sizes = {r["tier"]: r["c"] for r in
             tiers.groupBy("tier").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert sizes == {1: 125, 2: 125, 3: 125, 4: 125}

    tiny = spark.range(0, 5).select(F.col("id").alias("k"))
    frag = str(tmp_path / "tinyfrag")
    cp.write_fragmented(tiny, frag, 16)
    # rows < writers: one file per non-empty partition, plus possibly the
    # schema-only file Spark always emits for an empty partition 0 - the
    # witness queries run in the n >= writers regime where the count is
    # exactly the writer count
    assert 5 <= cp.count_part_files(frag) <= 6
    assert spark.read.parquet(frag).count() == 5


def test_r9_float_queries_are_run_deterministic(spark):
    """The float-bearing round-9 queries must return identical rows across
    repeated executions in one session - the round-6-at-the-aggregation-
    boundary discipline means partial-sum order may not leak into output."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for name in ("pipe_stats", "events_anomaly", "text_collocations",
                 "text_keywords", "pipe_temperature_mix",
                 # continuation additions with float-bearing outputs
                 "pipe_bootstrap", "events_scaffold", "events_markov",
                 "sim_pca_gram", "text_lm_score", "dedup_spans",
                 # round-10 additions with float-bearing outputs
                 "pipe_sample_weighted", "sim_sparse_topk",
                 "sim_knn_graph", "text_domain_shift", "dedup_keep_best",
                 "pipe_reweight", "events_rolling", "sim_index_persist"):
        a = [tuple(r) for r in qs[name](spark, SF_SMOKE).collect()]
        b = [tuple(r) for r in qs[name](spark, SF_SMOKE).collect()]
        assert a == b, name


def test_span_dedup_first_occurrence_and_within_doc_repeats(spark):
    """Hand-built corpus over k=2 windows: cross-doc repeats are charged
    to the later (doc_id, window), a within-doc repeat counts as a dup,
    docs shorter than k emit no row, and the trailing partial window is
    ignored. Plus a seeded randomized cross-check against a brute-force
    python reference."""
    import random

    from web_maxiv_hdbppviewer_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(
        [
            (0, "a b c d"),          # spans: "a b", "c d"
            (1, "c d a b x"),        # both spans already in doc 0; "x" trails
            (2, "e f e f"),          # within-doc repeat: second "e f" dups
            (3, "z"),                # shorter than k -> no row
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_spans"], r["n_dup"], r["dup_frac_r"])
           for r in span_dedup(df, k=2).collect()}
    assert got == {0: (2, 0, 0.0), 1: (2, 2, 1.0), 2: (2, 1, 0.5)}

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(6)]  # tiny vocab -> many span collisions
    docs = [(i, " ".join(rng.choices(vocab, k=rng.randint(1, 17))))
            for i in range(40)]
    k = 3

    seen, expect = set(), {}
    for i, text in docs:
        toks = text.split()
        n_spans = n_dup = 0
        for w in range(len(toks) // k):
            span = tuple(toks[w * k:(w + 1) * k])
            n_spans += 1
            if span in seen:
                n_dup += 1
            seen.add(span)
        if n_spans:
            expect[i] = (n_spans, n_dup, round(n_dup / n_spans, 6))

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_spans"], r["n_dup"], r["dup_frac_r"])
           for r in span_dedup(sdf, k=k).collect()}
    assert got == expect


def test_heavy_hitters_cms_contracts_on_planted_skew(spark):
    """A planted 40% heavy key among 400 light keys: the declared CMS
    query must rank it first with its exact count, every sketch contract
    must hold, and the merged-halves sketch must agree with the one-shot
    sketch under the fixed seed (counter addition is exact)."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.plans import extensions

    n = 4000
    ev = spark.range(0, n).select(
        F.col("id").alias("event_id"),
        (F.timestamp_seconds(1_704_067_200 + F.col("id") * 60)).alias("ts"),
        F.when(F.col("id") % 5 < 2, F.lit(7)).otherwise(F.col("id") % 400).alias("user_id"),
        F.when(F.col("id") % 5 < 2, F.lit("click")).otherwise(F.lit("view")).alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    import web_maxiv_hdbppviewer_spark.sources.tables as tables

    orig = tables.load_tables
    try:
        tables.load_tables = lambda s, d: {"events": ev}
        extensions.load_tables = lambda s, d: {"events": ev}
        rows = extensions.events_heavy_hitters(spark, "ignored").collect()
    finally:
        tables.load_tables = orig
        extensions.load_tables = orig
    assert rows[0]["key"] == "7:click" and rows[0]["n_exact"] == 1600
    assert len(rows) == extensions.HH_TOPK
    for r in rows:
        assert r["cms_ge_exact"] and r["cms_within_eps"] and r["merge_exact"], tuple(r)


def test_stream_join_carries_state_across_micro_batches(spark, tmp_path):
    """The interval join must match view-side state buffered in an EARLIER
    micro-batch against clicks arriving in a LATER one: two part files +
    maxFilesPerTrigger=1 force the cross-batch path (the declared
    stream_join drains one file, which exercises only within-batch
    matching). Pairs: u1's click 30m after its view matches; u2's click
    2h after misses the window; u3 clicks with no view."""
    import time as _time

    from pyspark.sql import functions as F

    t0 = 1_704_067_200
    views = spark.createDataFrame(
        [(1, t0), (2, t0)], "user_id long, sec long"
    ).select("user_id", F.timestamp_seconds("sec").alias("ts"),
             F.lit("view").alias("event_type"))
    clicks = spark.createDataFrame(
        [(1, t0 + 1800), (2, t0 + 7200), (3, t0 + 60)],
        "user_id long, sec long",
    ).select("user_id", F.timestamp_seconds("sec").alias("ts"),
             F.lit("click").alias("event_type"))
    src = str(tmp_path / "ev")
    views.coalesce(1).write.parquet(src)
    clicks.coalesce(1).write.mode("append").parquet(src)

    raw = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    v = raw.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("view_ts")
    ).withWatermark("view_ts", "2 hours")
    c = raw.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("ts").alias("click_ts")
    ).withWatermark("click_ts", "2 hours")
    sink = f"sj_unit_{int(_time.time() * 1000) % 10_000_000}"
    q = (
        v.join(c, F.expr(
            "user_id = c_user_id AND click_ts >= view_ts "
            "AND click_ts <= view_ts + INTERVAL 1 HOUR"))
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(120)
        assert q.lastProgress["batchId"] >= 1, "expected multiple micro-batches"
    finally:
        q.stop()
    got = [(r["user_id"], (r["click_ts"] - r["view_ts"]).total_seconds())
           for r in spark.table(sink).collect()]
    assert got == [(1, 1800.0)]


def test_morton_interleave_matches_python_reference(spark):
    """The unrolled Morton expression must equal the textbook bit
    interleave for random 8-bit pairs, and truncating to the top 6 bits
    must bound each dim's variation to an axis-aligned rectangle of side
    2^(8-3) in scaled space - the data-skipping envelope z-order sells."""
    import random

    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators import zorder as zo

    rng = random.Random(3)
    pairs = [(rng.randrange(256), rng.randrange(256)) for _ in range(300)]

    def ref(a, b):
        z = 0
        for i in range(8):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "a long, b long")
    got = df.select(
        "a", "b",
        zo.interleave_bits(F.col("a"), F.col("b")).alias("z"),
        zo.z_bucket(zo.interleave_bits(F.col("a"), F.col("b")), 6).alias("bk"),
    ).collect()
    for r in got:
        assert r["z"] == ref(r["a"], r["b"]), (r["a"], r["b"])
        assert r["bk"] == ref(r["a"], r["b"]) >> 10
    # rectangle property, checked per bucket over the whole sample
    by_bucket = {}
    for r in got:
        by_bucket.setdefault(r["bk"], []).append((r["a"], r["b"]))
    for bk, pts in by_bucket.items():
        for dim in (0, 1):
            vals = [p[dim] for p in pts]
            assert max(vals) - min(vals) < 32, (bk, dim, min(vals), max(vals))


def test_bloom_contamination_exact_and_pruning(spark):
    """The bloom pre-filter must lose NO true overlaps (n_shared equals a
    brute-force python count on every eval doc) while pruning the exact
    join's input (candidates strictly fewer than shingles for docs with
    little overlap). Seeded random corpora."""
    import random

    from web_maxiv_hdbppviewer_spark.operators.dedup import bloom_contamination

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(60)]
    train = [(i, " ".join(rng.choices(vocab, k=30))) for i in range(30)]
    evald = [(100 + i, " ".join(rng.choices(vocab, k=30))) for i in range(10)]
    # plant one fully-contained eval doc
    evald.append((200, train[0][1]))

    k = 5

    def grams(text):
        w = text.split()
        return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}

    train_set = set().union(*(grams(t) for _, t in train))
    expect = {i: (len(grams(t)), len(grams(t) & train_set)) for i, t in evald}

    tdf = spark.createDataFrame(train, "doc_id long, text string")
    edf = spark.createDataFrame(evald, "doc_id long, text string")
    got = {r["id"]: r for r in bloom_contamination(edf, tdf, k).collect()}
    assert set(got) == set(expect)
    for i, (n_sh, n_shared) in expect.items():
        r = got[i]
        assert (r["n_shingles"], r["n_shared"]) == (n_sh, n_shared), i
        assert r["n_shared"] <= r["n_candidates"] <= r["n_shingles"]
    assert got[200]["shared_frac"] == 1.0


def test_pca_recovers_planted_axis(spark):
    """Covariance from integer moments must match numpy's covariance on
    a random corpus (round-6), and on data stretched along a planted
    direction the top eigenvector must align with it while every
    declared contract holds."""
    import numpy as np

    from web_maxiv_hdbppviewer_spark.operators import pca

    rng = np.random.default_rng(5)
    dim, n = 8, 400
    axis = np.zeros(dim)
    axis[2] = 0.8
    axis[5] = 0.6
    data = rng.normal(0, 0.05, (n, dim)) + np.outer(rng.normal(0, 1.0, n), axis)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>",
    )
    # float32 storage: compare against numpy on the same float32 values
    d32 = data.astype(np.float32).astype(np.float64)
    expect = np.cov(d32, rowvar=False, bias=True)
    got = np.zeros((dim, dim))
    for r in pca.covariance_df(df).collect():
        got[r["i"], r["j"]] = got[r["j"], r["i"]] = r["cov_r"]
    assert np.abs(got - expect).max() < 2e-6

    rows = pca.pca_summary(spark, df, dim=dim, n_comp=2).collect()
    assert [r["comp"] for r in rows] == [1, 2]
    for r in rows:
        assert r["resid_ok"] and r["var_ok"] and r["ortho_ok"] and r["ordered_ok"]
        assert r["n_vectors"] == n
    vals, vecs = pca.eigensolve(pca.covariance_df(df).collect(), dim)
    cos = abs(float(vecs[:, 0] @ axis))
    assert cos > 0.999, cos


def test_incremental_group_stats_matches_recompute(spark):
    """Maintenance algebra vs full recompute on a corpus engineered to
    exercise every case: a group that disappears (all docs removed), a
    group new in v2, changed docs moving token counts, and unchanged
    docs that must contribute nothing to the delta subtrees (plan check:
    both contribution branches are LEFT SEMI restricted)."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators.delta import (
        incremental_group_stats,
        snapshot_diff,
    )

    v1 = spark.createDataFrame(
        [
            (0, "en", "a", "one two three"),
            (1, "en", "a", "four five"),
            (2, "de", "b", "sechs"),          # whole group removed in v2
            (3, "en", "c", "seven eight"),
        ],
        "doc_id long, lang string, source string, text string",
    )
    v2 = spark.createDataFrame(
        [
            (0, "en", "a", "one two three"),          # unchanged
            (1, "en", "a", "four five six seven"),    # changed (+2 tokens)
            (3, "en", "c", "seven eight"),            # unchanged
            (4, "fr", "d", "neuf dix"),               # new group
        ],
        "doc_id long, lang string, source string, text string",
    )
    diff = snapshot_diff(v1, v2)
    got = {(r["lang"], r["source"]): (r["n_docs"], r["tok_sum"], r["char_sum"])
           for r in incremental_group_stats(v1, v2, diff).collect()}
    expect = {}
    for r in v2.collect():
        k = (r["lang"], r["source"])
        n, t, c = expect.get(k, (0, 0, 0))
        expect[k] = (n + 1, t + len(r["text"].split()), c + len(r["text"]))
    assert got == expect
    assert ("de", "b") not in got and ("fr", "d") in got

    plan = incremental_group_stats(v1, v2, diff)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LeftSemi") == 2, plan


def test_bootstrap_weights_and_degenerate_ci(spark):
    """The integer-threshold draw must follow Poisson(1) (mean weight ~ 1,
    P(w=0) ~ 1/e over the doc x replicate grid), and a source whose docs
    all share one token count must collapse to a zero-width CI equal to
    the mean - the bootstrap cannot invent variance."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.plans import extensions as E
    import web_maxiv_hdbppviewer_spark.sources.tables as tables

    docs = spark.createDataFrame(
        [(i, "flat", "a b c d e") for i in range(40)]
        + [(100 + i, "vary", "tok " * (1 + i % 9)) for i in range(40)],
        "doc_id long, source string, text string",
    )
    orig = tables.load_tables
    try:
        tables.load_tables = lambda s, d: {"documents": docs}
        E.load_tables = lambda s, d: {"documents": docs}
        rows = {r["source"]: r for r in E.pipe_bootstrap(spark, "x").collect()}
    finally:
        tables.load_tables = orig
        E.load_tables = orig
    flat = rows["flat"]
    assert flat["mean_r"] == 5.0
    assert flat["ci_lo_r"] == flat["ci_hi_r"] == 5.0
    vary = rows["vary"]
    assert vary["ci_lo_r"] < vary["mean_r"] < vary["ci_hi_r"]

    from web_maxiv_hdbppviewer_spark.functions.texthash import md5_int60

    grid = spark.range(0, 20000).select(
        (md5_int60(F.concat_ws(":", F.col("id") % 500, F.col("id") % 64),
                   salt="boot") % E.BOOT_U_MOD).alias("u")
    )
    w = None
    for t in E.BOOT_THRESHOLDS:
        term = (F.col("u") >= t).cast("long")
        w = term if w is None else w + term
    stats = grid.select(w.alias("w")).agg(
        F.avg("w").alias("m"), F.avg((F.col("w") == 0).cast("double")).alias("p0")
    ).collect()[0]
    assert abs(stats["m"] - 1.0) < 0.03, stats["m"]
    assert abs(stats["p0"] - 0.3679) < 0.02, stats["p0"]


def test_pagerank_integer_recipe_and_hub_ranking(spark):
    """graph.pagerank must reproduce a python reference of the identical
    truncating-integer recipe on a star-plus-path graph, and rank the
    star hub first (degree-normalized centrality, not degree count)."""
    from web_maxiv_hdbppviewer_spark.operators.graph import pagerank

    edges = [(0, i) for i in range(1, 6)] + [(6, 7), (7, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["pr"] for r in pagerank(df, iterations=8).collect()}

    nbrs, deg = {}, {}
    for a, b in edges:
        nbrs.setdefault(a, []).append(b)
        nbrs.setdefault(b, []).append(a)
    for v in nbrs:
        deg[v] = len(nbrs[v])
    n = len(nbrs)
    scale = 10**12
    pr = {v: scale // n for v in nbrs}
    base = (15 * (scale // n)) // 100
    for _ in range(8):
        pr = {
            v: base + (85 * sum(pr[u] // deg[u] for u in nbrs[v])) // 100
            for v in nbrs
        }
    assert got == pr
    ranked = sorted(got, key=lambda v: (-got[v], v))
    assert ranked[0] == 0, ranked


def test_text_chunk_covers_every_token_with_overlap(spark):
    """Chunk arithmetic invariants on crafted lengths (1, 64, 65, 112,
    113, 200 tokens): first chunk starts at 0, consecutive starts differ
    by the stride, the final chunk reaches the document tail (every
    token covered), interior chunks are full windows, and the clamped
    tail length is n - (n_chunks-1)*stride."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.plans import extensions as E
    import web_maxiv_hdbppviewer_spark.sources.tables as tables

    W, S = E.CHUNK_WINDOW, E.CHUNK_STRIDE
    lengths = [1, 64, 65, 112, 113, 200]
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{k}" for k in range(n))) for i, n in enumerate(lengths)],
        "doc_id long, text string",
    )
    orig = tables.load_tables
    try:
        tables.load_tables = lambda s, d: {"documents": docs}
        E.load_tables = lambda s, d: {"documents": docs}
        rows = E.text_chunk(spark, "x").collect()
    finally:
        tables.load_tables = orig
        E.load_tables = orig
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["n_tok"]))
    for i, n in enumerate(lengths):
        chunks = sorted(by_doc[i])
        n_chunks = 1 if n <= W else (n - W + S - 1) // S + 1
        assert len(chunks) == n_chunks, (n, chunks)
        for idx, ntok in chunks[:-1]:
            assert ntok == W, (n, idx, ntok)
        last_idx, last_n = chunks[-1]
        assert last_idx == n_chunks - 1
        assert last_n == (n - last_idx * S if n > W else n)
        # coverage: the last chunk's end reaches the tail
        assert last_idx * S + last_n >= n


def test_stream_restart_is_idempotent_with_no_new_files(spark, tmp_path):
    """A new query instance on a fully-drained checkpoint must read the
    offset log and process NOTHING - the exactly-once idempotence the
    stream_restart witness relies on."""
    from pyspark.sql import functions as F

    src, land, ckpt = (str(tmp_path / d) for d in ("src", "land", "ckpt"))
    spark.range(0, 100).select(F.col("id").alias("event_id")).repartition(
        2
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def phase():
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.format("parquet")
            .option("path", land).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        assert q.awaitTermination(120)
        q.stop()
        return sum(p["numInputRows"] for p in q.recentProgress)

    assert phase() == 100
    assert phase() == 0
    assert spark.read.parquet(land).count() == 100


def test_scaffold_dense_grid_and_forward_fill(spark):
    """Hand corpus: the grid must span (users x full date range), gap
    days carry n_events = 0 with the carried-forward value, days before
    a user's first event carry NULL, and same-timestamp ties resolve to
    the higher event_id."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.plans import extensions as E
    import web_maxiv_hdbppviewer_spark.sources.tables as tables

    day0 = 1_704_067_200  # 2024-01-01, day 19723
    rows = [
        # user 1: day 0 (two events, same ts - id 11 wins), day 2
        (10, day0 + 100, 1, 5.0),
        (11, day0 + 100, 1, 7.0),
        (12, day0 + 2 * 86400, 1, 9.0),
        # user 2: only day 1
        (20, day0 + 86400 + 5, 2, 3.5),
    ]
    ev = spark.createDataFrame(
        [(i, ts, u, "view", v, "{}") for i, ts, u, v in rows],
        "event_id long, sec long, user_id long, event_type string, value double, props string",
    ).select("event_id", F.timestamp_seconds("sec").alias("ts"),
             "user_id", "event_type", "value", "props")
    orig = tables.load_tables
    try:
        tables.load_tables = lambda s, d: {"events": ev}
        E.load_tables = lambda s, d: {"events": ev}
        got = {(r["user_id"], r["day"]): (r["n_events"], r["ffill_r"])
               for r in E.events_scaffold(spark, "x").collect()}
    finally:
        tables.load_tables = orig
        E.load_tables = orig
    d = 19723
    assert got == {
        (1, d): (2, 7.0),        # tie -> event_id 11
        (1, d + 1): (0, 7.0),    # gap day carries forward
        (1, d + 2): (1, 9.0),
        (2, d): (0, None),       # before first observation
        (2, d + 1): (1, 3.5),
        (2, d + 2): (0, 3.5),
    }


def test_markov_transitions_on_planted_journeys(spark):
    """Planted journeys: u1 = A->B->A, u2 = A->B (same-second ties ordered
    by event_id); transitions A->B x2, B->A x1 and row-normalized
    probabilities; the cross-user boundary must NOT create a transition."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.plans import extensions as E
    import web_maxiv_hdbppviewer_spark.sources.tables as tables

    t0 = 1_704_067_200
    rows = [
        (1, t0, 1, "A"), (2, t0, 1, "B"), (3, t0 + 5, 1, "A"),
        (4, t0 + 99, 2, "A"), (5, t0 + 100, 2, "B"),
    ]
    ev = spark.createDataFrame(
        [(i, s, u, k, 1.0, "{}") for i, s, u, k in rows],
        "event_id long, sec long, user_id long, event_type string, value double, props string",
    ).select("event_id", F.timestamp_seconds("sec").alias("ts"),
             "user_id", "event_type", "value", "props")
    orig = tables.load_tables
    try:
        tables.load_tables = lambda s, d: {"events": ev}
        E.load_tables = lambda s, d: {"events": ev}
        got = {(r["src_type"], r["dst_type"]): (r["n"], r["p_r"])
               for r in E.events_markov(spark, "x").collect()}
    finally:
        tables.load_tables = orig
        E.load_tables = orig
    assert got == {("A", "B"): (2, 1.0), ("B", "A"): (1, 1.0)}


# --- SURVEY §5.2 named edges: empty day / single point / all-NULL series --


def test_engine_named_edges_empty_day_single_point_all_null(spark):
    """The reference-behavior edge list SURVEY §5.2 names explicitly,
    constructed: a time window containing ZERO rows (empty day) must
    return an empty frame with the stable (name, t, value_r) schema and
    render as a header-only CSV block; a SINGLE-point resample window
    must emit exactly one bucket whose mean is the point; a series whose
    rows are ALL error-nulled (all-NaN in the reference) must survive
    raw query and resample with NULL value_r, never raise, and render as
    empty CSV cells."""
    from datetime import datetime

    from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine
    from web_maxiv_hdbppviewer_spark.sources.fixtures import hdbpp_fixture

    catalog, _ = hdbpp_fixture(spark, SF_SMOKE)
    name = lambda u: f"cs1/dom{u % 5}/fam{u % 10}/mem{u % 3}/attr{u}"  # noqa: E731
    rows = [
        (0, datetime(2024, 1, 10, 12), 42.0),   # attr0: exactly one point
        (1, datetime(2024, 1, 10, 1), None),    # attr1: error rows only
        (1, datetime(2024, 1, 10, 2), None),
    ]
    dp = spark.createDataFrame(
        rows, "att_conf_id long, ts timestamp, value_r double"
    )
    engine = HdbppQueryEngine(catalog, dp)

    # empty day: no rows anywhere in the window
    empty = engine.query_raw_df(
        [name(0), name(1)], datetime(2024, 2, 1), datetime(2024, 2, 2)
    )
    assert [f.name for f in empty.schema.fields] == ["name", "t", "value_r"]
    assert empty.count() == 0
    csv = render_csv_combined(
        engine.query_raw_df([name(0)], datetime(2024, 2, 1), datetime(2024, 2, 2)),
        [name(0)],
    ).decode()
    assert csv == f"{name(0)}\nt[us],value_r\n"  # header-only block

    # single-point window, resampled: one bucket, mean == the point
    one = engine.query_raw_df(
        [name(0)], datetime(2024, 1, 10), datetime(2024, 1, 11), interval="12h"
    ).collect()
    assert len(one) == 1 and one[0]["value_r"] == 42.0

    # all-error series: raw keeps the NULLs; resample yields NULL means;
    # CSV renders them as empty cells
    raw = engine.query_raw_df(
        [name(1)], datetime(2024, 1, 10), datetime(2024, 1, 11)
    ).collect()
    assert len(raw) == 2 and all(r["value_r"] is None for r in raw)
    res = engine.query_raw_df(
        [name(1)], datetime(2024, 1, 10), datetime(2024, 1, 11), interval="12h"
    ).collect()
    assert res and all(r["value_r"] is None for r in res)
    csv = render_csv_combined(
        engine.query_raw_df([name(1)], datetime(2024, 1, 10), datetime(2024, 1, 11)),
        [name(1)],
    ).decode()
    body = [l for l in csv.splitlines()[2:] if l]
    assert len(body) == 2 and all(l.endswith(",") for l in body)


def test_image_axis_with_a_no_data_attribute_still_renders(spark):
    """SURVEY §5.2 'attribute with no data' (reference data.py:107,113 /
    F7): an /image axis mixing one attribute WITH points and one with
    NONE must aggregate the populated one and not raise; an axis whose
    every attribute is empty must come back without a y_range rather
    than exploding on empty extrema."""
    from datetime import datetime

    from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine
    from web_maxiv_hdbppviewer_spark.sources.fixtures import hdbpp_fixture

    catalog, _ = hdbpp_fixture(spark, SF_SMOKE)
    name = lambda u: f"cs1/dom{u % 5}/fam{u % 10}/mem{u % 3}/attr{u}"  # noqa: E731
    dp = spark.createDataFrame(
        [(0, datetime(2024, 1, 10, h), float(h)) for h in range(1, 5)],
        "att_conf_id long, ts timestamp, value_r double",
    )
    engine = HdbppQueryEngine(catalog, dp)
    out = engine.image_aggregates(
        [
            {"name": name(0), "y_axis": 0},   # has 4 points
            {"name": name(1), "y_axis": 0},   # resolves, zero points
            {"name": name(2), "y_axis": 1},   # axis 1: nothing at all
        ],
        datetime(2024, 1, 10),
        datetime(2024, 1, 11),
        (100, 50),
    )
    ax0 = out[0]
    y0, y1 = ax0["y_range"]
    assert y0 < 1.0 and y1 > 4.0  # padded beyond the data extrema
    assert ax0["raster"].count() > 0, "populated attribute must rasterize"
    # the no-data attribute resolves but contributes no extrema rows
    assert ax0["descs"][name(0)]["total_points"] == 4
    assert name(1) not in ax0["descs"]
    # the all-empty axis falls back to the degenerate (0, 1) band
    # (pad_range(None, None)) with an empty raster - never an error
    assert out[1]["y_range"] == (0.0, 1.0)
    assert out[1]["raster"].count() == 0


def test_image_log_axis_filters_nonpositive_from_raster_and_extrema(spark):
    """SURVEY §5.2 '<=0 values on log axis' (reference plot.py:94-97,
    F3) constructed through the /image path: with scale=log, values
    <= 0 must be invisible to BOTH the axis extrema (y_range derives
    from positive values only) and the raster (no pixel row for them)."""
    from datetime import datetime

    from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine
    from web_maxiv_hdbppviewer_spark.sources.fixtures import hdbpp_fixture

    catalog, _ = hdbpp_fixture(spark, SF_SMOKE)
    name0 = "cs1/dom0/fam0/mem0/attr0"
    dp = spark.createDataFrame(
        [
            (0, datetime(2024, 1, 10, 1), -5.0),
            (0, datetime(2024, 1, 10, 2), 0.0),
            (0, datetime(2024, 1, 10, 3), 10.0),
            (0, datetime(2024, 1, 10, 4), 1000.0),
        ],
        "att_conf_id long, ts timestamp, value_r double",
    )
    engine = HdbppQueryEngine(catalog, dp)
    out = engine.image_aggregates(
        [{"name": name0, "y_axis": 0}],
        datetime(2024, 1, 10),
        datetime(2024, 1, 11),
        (100, 50),
        axes={"0": {"scale": "log"}},
    )[0]
    y0, y1 = out["y_range"]
    assert y0 > 0.0, "log axis floor must come from positive values only"
    assert out["descs"][name0]["min_value"] == 10.0
    cells = out["raster"].agg(F.sum("cnt")).collect()[0][0]
    assert cells == 2  # only the two positive points rasterize


def test_search_class_glob_is_fully_anchored_like_the_reference():
    """CONSTRUCTED: the reference fully anchors a glob - re.match pins the
    start, fnmatch.translate's \\Z the end (server.py:78-86). An
    unanchored match would also admit 'xfam1b' (suffix) and anything
    longer (prefix). Case-insensitivity must hold on the class too."""
    from web_maxiv_hdbppviewer_spark.sources.hdbpp import match_names

    names = ["fam1b", "fam2b", "fam3b", "xfam1b", "fam1bx", "FAM2B"]
    got = sorted(match_names(names, "fam[12]?", limit=None))
    assert got == ["FAM2B", "fam1b", "fam2b"], got
