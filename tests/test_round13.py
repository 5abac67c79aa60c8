"""Round-13 constructed tests.

1. The right-anchored attribute-name split (reference hdbpp.py:90-92
   ``attr.rsplit("/", 4)``): real Tango control-system names contain
   slashes (``tango://host:10000``), so cs = everything before the LAST
   four separators. The pre-r13 engine split on the FIRST separator -
   every test here is red under that split.
2. pad_range's log-branch clamp must never place a "padded" bound inside
   the data (ADVICE r12: vmax > 1e308 fell above the old 308.0-capped
   upper bound).
"""

from datetime import datetime

import pytest

from tests.conftest import SF_SMOKE

SLASHED_CS = "tango://g-v-csdb-0:10000"


def test_split_attr_right_anchored_like_reference_rsplit():
    """_split_attr == reference split_cs_and_attribute (hdbpp.py:90-92)."""
    from web_maxiv_hdbppviewer_spark.api.lifecycle import _split_attr

    assert _split_attr(f"{SLASHED_CS}/sys/tg/1/volt") == (
        SLASHED_CS,
        "sys/tg/1/volt",
    )
    # slash-free cs (the fixture shape) is unchanged by the fix
    assert _split_attr("cs1/dom0/fam0/mem0/attr0") == ("cs1", "dom0/fam0/mem0/attr0")
    # empty segments split positionally, exactly like str.rsplit
    assert _split_attr("a//b/c/d/e") == ("a/", "b/c/d/e")
    # <4 separators: ValueError, like the reference's tuple unpack
    with pytest.raises(ValueError):
        _split_attr("dom/fam/attr")


def test_name_column_helpers_right_anchored(spark):
    """attr_control_system / attr_without_cs mirror rsplit("/", 4) in
    column form and round-trip attr_full_name for slashed cs names;
    malformed (<4 separator) names degrade to '' (documented in
    functions/names.py - the reference raises there)."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.functions.names import (
        attr_control_system,
        attr_full_name,
        attr_without_cs,
    )

    df = spark.createDataFrame(
        [
            (SLASHED_CS, "sys", "tg", "1", "volt"),
            ("cs1", "dom0", "fam0", "mem0", "attr0"),
            ("a/b", "", "c", "", "d"),  # empty segments stay positional
        ],
        "cs string, d string, f string, m string, n string",
    )
    out = df.select(
        "cs",
        attr_full_name("cs", "d", "f", "m", "n").alias("full"),
    ).select(
        "cs",
        "full",
        attr_control_system("full").alias("cs_back"),
        attr_without_cs("full").alias("attr_back"),
    )
    for r in out.collect():
        assert r["cs_back"] == r["cs"], r
        assert r["full"] == f"{r['cs_back']}/{r['attr_back']}", r
    malformed = spark.range(1).select(
        attr_control_system(F.lit("dom/fam/attr")).alias("cs"),
        attr_without_cs(F.lit("dom/fam/attr")).alias("att"),
    ).first()
    assert malformed["cs"] == "" and malformed["att"] == ""


def _slashed_catalog(spark):
    """A constructed catalog holding one attribute under a SLASHED cs and
    one under a plain cs (stored lower-cased, like the fixture)."""
    from web_maxiv_hdbppviewer_spark.sources.hdbpp import HdbppCatalog

    att_conf = spark.createDataFrame(
        [
            (SLASHED_CS, "sys/tg/1/volt", 7, "scalar_devdouble_ro"),
            ("cs1", "dom0/fam0/mem0/attr0", 1, "scalar_devdouble_ro"),
        ],
        "cs_name string, att_name string, att_conf_id long, data_type string",
    )
    att_names = spark.createDataFrame(
        [
            (SLASHED_CS, "sys", "tg", "1", "volt"),
            ("cs1", "dom0", "fam0", "mem0", "attr0"),
        ],
        "cs_name string, domain string, family string, member string, name string",
    )
    return HdbppCatalog(att_conf, att_names)


def test_resolve_routes_slashed_cs_attribute(spark):
    """End-to-end routing under a slashed cs: _resolve must find the
    att_conf_id and query_raw_df must return the rows. Red on the old
    left-anchored split (cs='tango:', att='//g-v-csdb-0:10000/...' ->
    route miss -> attribute silently dropped per F7)."""
    from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine

    catalog = _slashed_catalog(spark)
    dp = spark.createDataFrame(
        [
            (7, datetime(2024, 1, 10, 1), 230.0),
            (7, datetime(2024, 1, 10, 2), 231.5),
            (1, datetime(2024, 1, 10, 3), 5.0),
        ],
        "att_conf_id long, ts timestamp, value_r double",
    )
    engine = HdbppQueryEngine(catalog, dp)
    full = f"{SLASHED_CS}/sys/tg/1/volt"

    resolved = engine._resolve([full, "cs1/dom0/fam0/mem0/attr0"])
    assert resolved[full] == 7
    assert resolved["cs1/dom0/fam0/mem0/attr0"] == 1

    rows = engine.query_raw_df(
        [full], datetime(2024, 1, 10), datetime(2024, 1, 11)
    ).collect()
    assert sorted(r["value_r"] for r in rows) == [230.0, 231.5]
    assert all(r["name"] == full for r in rows)


def test_search_under_slashed_cs(spark):
    """catalog.search scoped to a slashed cs returns its attribute names
    (reference server.py:73-89 filters by the cs string as a unit)."""
    catalog = _slashed_catalog(spark)
    hits = catalog.search(SLASHED_CS, "sys/*").collect()
    assert [r["name"] for r in hits] == ["sys/tg/1/volt"]
    # and the plain cs still only sees its own names
    hits = catalog.search("cs1", "*").collect()
    assert [r["name"] for r in hits] == ["dom0/fam0/mem0/attr0"]


def test_image_aggregates_slashed_cs(spark):
    """The /image lifecycle resolves a slashed-cs attribute and rasters
    its points (the full J1 -> A2/A3 -> A6 chain, not just _resolve)."""
    from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine

    catalog = _slashed_catalog(spark)
    dp = spark.createDataFrame(
        [(7, datetime(2024, 1, 10, h), float(h)) for h in range(1, 5)],
        "att_conf_id long, ts timestamp, value_r double",
    )
    engine = HdbppQueryEngine(catalog, dp)
    full = f"{SLASHED_CS}/sys/tg/1/volt"
    out = engine.image_aggregates(
        [{"name": full, "y_axis": 0}],
        datetime(2024, 1, 10),
        datetime(2024, 1, 11),
        (100, 50),
    )[0]
    assert out["descs"][full]["total_points"] == 4
    assert out["raster"].count() > 0


def test_pad_range_log_clamp_never_undercuts_extrema():
    """ADVICE r12: for vmax near/above 1e308 the old 308.0-exponent cap
    returned an upper bound BELOW vmax; the padded band must always
    contain [vmin, vmax]."""
    import sys

    from web_maxiv_hdbppviewer_spark.operators.extrema import pad_range

    vmin, vmax = 1.0, 1.5e308
    lo, hi = pad_range(vmin, vmax, log_scale=True)
    assert hi >= vmax and lo <= vmin
    assert hi <= sys.float_info.max  # still a finite double
    # the very top of the double range
    lo, hi = pad_range(1e300, sys.float_info.max, log_scale=True)
    assert hi == sys.float_info.max
    # subnormal floor: clamping must not push the lower bound above vmin
    lo, hi = pad_range(5e-324, 1.0, log_scale=True)
    assert lo <= 5e-324
    # ordinary ranges still pad in log space, strictly outward
    lo, hi = pad_range(10.0, 1000.0, log_scale=True)
    assert 0 < lo < 10.0 and hi > 1000.0


def test_grafana_json_byte_shape_nan_to_null_ordering(spark):
    """K2 byte shape vs the reference renderer (reference data.py:58-75):
    datapoints are [value, t_ms] pairs - VALUE FIRST, float millisecond
    timestamp second - with NaN replaced by null BEFORE pairing (the
    df.replace happens ahead of the zip), so null lands in the value slot
    while the timestamp stays numeric. Asserted at the BYTE level against
    a hand-built expectation, including json.dumps' default ', '/': '
    separators which the reference also uses."""
    import json
    import math

    from web_maxiv_hdbppviewer_spark.api.render import render_grafana_json_combined

    name = "cs1/dom0/fam0/mem0/attr0"
    df = spark.createDataFrame(
        [
            (name, 1_704_067_200_000_000, 1.5),
            (name, 1_704_067_201_000_000, float("nan")),
            (name, 1_704_067_202_000_000, None),
            (name, 1_704_067_203_000_000, -42.0),
        ],
        "name string, t long, value_r double",
    )
    out = render_grafana_json_combined(df, [name])
    expected = json.dumps(
        [
            {
                "target": name,
                "datapoints": [
                    [1.5, 1704067200000.0],
                    [None, 1704067201000.0],
                    [None, 1704067202000.0],
                    [-42.0, 1704067203000.0],
                ],
            }
        ]
    ).encode()
    assert out == expected
    # and the null ordering survives a json round-trip: value slot None,
    # t slot float
    parsed = json.loads(out)
    assert parsed[0]["datapoints"][1] == [None, 1704067201000.0]
    assert not any(
        isinstance(v, float) and math.isnan(v)
        for pt in parsed[0]["datapoints"] for v in pt if v is not None
    )


def test_incremental_merge_duplicate_final_second_corpus(spark):
    """F4/T1 on a CRAFTED corpus (reference hdbpp.py:380-390): several
    rows share the cache's FINAL SECOND (distinct microseconds - the
    exact case Cassandra's second-precision filter cannot cut), and the
    seam row appears in both the cache and the re-fetch. The engine's
    exact-watermark merge must equal (a) a full re-read and (b) the
    reference's truncate-to-second + refetch-from-second merge,
    row-for-row."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.streaming.incremental import (
        incremental_merge,
    )

    us = lambda micro: datetime(2024, 1, 10, 10, 0, 5, micro)  # noqa: E731
    full_rows = [
        (1, datetime(2024, 1, 10, 9, 59, 59, 999999), 1.0),
        (1, us(100000), 2.0),   # final cached second begins
        (1, us(500000), 3.0),
        (1, us(900000), 4.0),   # the watermark row (seam)
        (1, us(950000), 5.0),   # same second, after the watermark
        (2, us(900000), 6.0),   # other key, bitwise-equal timestamp
        (1, datetime(2024, 1, 10, 10, 0, 6, 100000), 7.0),
    ]
    schema = "user_id long, ts timestamp, value double"
    full = spark.createDataFrame(full_rows, schema)
    # the cache saw everything up to and including the watermark row
    cached = spark.createDataFrame(
        [r for r in full_rows if r[1] <= us(900000)], schema
    )

    def fetch_from(wm):
        return full.where(F.col("ts") >= F.lit(wm)) if wm else full

    merged = incremental_merge(cached, fetch_from, keys=["user_id"])
    canon = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert canon(merged) == canon(full)

    # reference-style merge: truncate the cache strictly BEFORE the
    # watermark second, refetch ts >= that second (hdbpp.py:386-390)
    wm_s = datetime(2024, 1, 10, 10, 0, 5)
    ref_merged = cached.where(F.col("ts") < F.lit(wm_s)).unionByName(
        full.where(F.col("ts") >= F.lit(wm_s))
    )
    assert canon(ref_merged) == canon(merged)


def test_parse_time_to_naive_utc_boundaries():
    """Request-boundary time parsing (reference utils.py:14-19): naive
    strings pass through AS UTC; aware strings convert to UTC and drop
    the tzinfo; both forms of the same instant parse identically."""
    from datetime import datetime

    from web_maxiv_hdbppviewer_spark.functions.time import (
        parse_time_to_naive_utc as p,
    )

    naive = p("2024-01-10T12:30:00")
    assert naive == datetime(2024, 1, 10, 12, 30) and naive.tzinfo is None
    # aware, positive offset: 12:30+02:00 is 10:30 UTC
    aware = p("2024-01-10T12:30:00+02:00")
    assert aware == datetime(2024, 1, 10, 10, 30) and aware.tzinfo is None
    # Zulu suffix == naive-as-UTC == explicit +00:00
    assert p("2024-01-10T12:30:00Z") == p("2024-01-10T12:30:00") == p(
        "2024-01-10T12:30:00+00:00"
    )
    # microseconds survive, and date-only strings parse to midnight
    assert p("2024-01-10T12:30:00.000123-01:00") == datetime(
        2024, 1, 10, 13, 30, 0, 123
    )
    assert p("2024-01-10") == datetime(2024, 1, 10)


def test_lifecycle_image_stream_matches_batch_compositor(spark):
    """Independent derivation of the lifecycle_image_stream pin: batch
    bin_2d per series over the same feed, truncated to the columns the
    stream's watermark finalized (window end <= max synthetic ts - 1h),
    run through the SAME compose stack - the digest must equal the
    streamed query's. This is the lifecycle_image pattern: the oracle
    pin makes regressions driver-visible, this test derives the pinned
    value from the batch path so the pin is not self-certifying."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.api.png import compose_image
    from web_maxiv_hdbppviewer_spark.functions.time import epoch_us
    from web_maxiv_hdbppviewer_spark.operators.extrema import pad_range
    from web_maxiv_hdbppviewer_spark.operators.raster import bin_2d
    from web_maxiv_hdbppviewer_spark.plans.extensions import (
        lifecycle_image_stream,
    )
    from web_maxiv_hdbppviewer_spark.plans.queries import X0_US, X_SPAN_US
    from web_maxiv_hdbppviewer_spark.sources.tables import load_tables

    w, h = 200, 120
    col_us = int(X_SPAN_US / w)
    events = load_tables(spark, SF_SMOKE)["events"]
    keep = (F.col("user_id") < 2) & (F.col("event_type") != "error")
    ev = events.where(keep)
    ext = ev.agg(F.min("value").alias("a"), F.max("value").alias("b")).collect()[0]
    y0, y1 = pad_range(ext["a"], ext["b"])

    # the stream's final watermark rides the SYNTHETIC column-start time
    # of the latest surviving event (streaming/incremental.py), minus 1h
    max_us = (
        ev.where((F.col("value") >= y0) & (F.col("value") < y1))
        .select(epoch_us(F.max("ts")).alias("m")).collect()[0]["m"]
    )
    max_synth = X0_US + math.floor((max_us - X0_US) / X_SPAN_US * w) * col_us
    wm_us = max_synth - 3_600_000_000

    batch = bin_2d(
        ev, X0_US, X_SPAN_US, w, y0, y1, h, keys=["user_id"]
    ).collect()
    finalized = [
        {"series": r["user_id"], "xb": r["xb"], "yb": r["yb"], "cnt": r["cnt"]}
        for r in batch
        if X0_US + (r["xb"] + 1) * col_us <= wm_us
    ]
    assert finalized, "watermark left no finalized columns"
    img = compose_image(finalized, w, h, order=[0, 1])
    want = (
        int((img[:, :, 3] > 0).sum()),
        hashlib.sha256(img.tobytes()).hexdigest(),
    )

    got = lifecycle_image_stream(spark, SF_SMOKE).collect()[0]
    assert (got["n_lit"], got["pixel_sha256"]) == want
    assert (got["y0"], got["y1"]) == (y0, y1)
    # and later columns exist in batch but are (correctly) unemitted
    assert len(batch) > len(finalized)


def test_controlsystems_lists_slashed_cs_whole(spark):
    """The controlsystems catalog (reference server.py:63-70: sorted
    config keys) must list a slashed cs as ONE entry, never split at its
    internal separators."""
    catalog = _slashed_catalog(spark)
    got = [r["cs_name"] for r in catalog.controlsystems().collect()]
    assert got == sorted(["cs1", SLASHED_CS])


def test_httpquery_day_span_respects_period_zone(spark):
    """restrict_time=False returns whole covered day-periods in the
    DEPLOYMENT's period zone (reference hdbpp.py:304-308: periods are
    LOCAL dates, timestamps UTC - the r13 review finding: a UTC-hardcoded
    span returns partial local periods). Europe/Stockholm in January is
    UTC+1: the local day 2024-01-05 is [2024-01-04 23:00, 2024-01-05
    23:00) UTC, so a 23:30-UTC-on-Jan-4 row belongs to the covered
    period under the Stockholm zone but not under UTC."""
    from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine
    from web_maxiv_hdbppviewer_spark.sources.hdbpp import _covered_day_span_utc

    assert _covered_day_span_utc(
        datetime(2024, 1, 5, 12), datetime(2024, 1, 5, 13), "UTC"
    ) == (datetime(2024, 1, 5), datetime(2024, 1, 6))
    assert _covered_day_span_utc(
        datetime(2024, 1, 5, 12), datetime(2024, 1, 5, 13), "Europe/Stockholm"
    ) == (datetime(2024, 1, 4, 23), datetime(2024, 1, 5, 23))
    # midnight-UTC edge: 2024-01-05 00:30 UTC is already Jan 5 LOCAL
    # (01:30) in Stockholm; 2024-01-04 23:30 UTC is too
    assert _covered_day_span_utc(
        datetime(2024, 1, 4, 23, 30), datetime(2024, 1, 4, 23, 40),
        "Europe/Stockholm",
    ) == (datetime(2024, 1, 4, 23), datetime(2024, 1, 5, 23))

    catalog = _slashed_catalog(spark)
    rows = [
        (1, datetime(2024, 1, 4, 22, 30), 1.0),   # previous local day
        (1, datetime(2024, 1, 4, 23, 30), 2.0),   # Jan 5 local, Jan 4 UTC
        (1, datetime(2024, 1, 5, 12, 0), 3.0),    # mid-day
        (1, datetime(2024, 1, 5, 22, 30), 4.0),   # Jan 5 local, late UTC
        (1, datetime(2024, 1, 5, 23, 30), 5.0),   # Jan 6 local, Jan 5 UTC
    ]
    dp = spark.createDataFrame(rows, "att_conf_id long, ts timestamp, value_r double")
    name = "cs1/dom0/fam0/mem0/attr0"
    t0, t1 = datetime(2024, 1, 5, 10), datetime(2024, 1, 5, 14)

    utc_engine = HdbppQueryEngine(catalog, dp)
    got_utc = sorted(
        r["value_r"] for r in utc_engine.query_raw_df(
            [name], t0, t1, restrict_time=False
        ).collect()
    )
    assert got_utc == [3.0, 4.0, 5.0]  # the UTC day 2024-01-05

    sthlm = HdbppQueryEngine(catalog, dp, period_zone="Europe/Stockholm")
    got_sthlm = sorted(
        r["value_r"] for r in sthlm.query_raw_df(
            [name], t0, t1, restrict_time=False
        ).collect()
    )
    assert got_sthlm == [2.0, 3.0, 4.0]  # the Stockholm day 2024-01-05


def test_resampled_t_is_member_mean_reference_ground_truth(spark):
    """The resampled export's per-bucket timestamp is the MEAN of the
    member timestamps, not the bucket time (reference data.py:47: the
    groupby(round_timestamp).mean() averages the synthesized t column
    too, and both renderers export that average while the rounded bucket
    key stays in the DROPPED index - data.py:52-55 to_csv(index=False),
    data.py:71-72 df['t']). Ground truth observed from the reference
    implementation itself: rows at 1 s / 7 s / 61 s / 119 s under a 1 m
    interval export t = 4_000_000.0 (mean of the two bucket-0 members),
    61_000_000.0 and 119_000_000.0 - note 119 s rounds to the 120 s
    bucket yet exports its own 119 s timestamp. The pre-r13 engine
    emitted bucket*width (0 / 60_000_000 / 120_000_000) - red here."""
    from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine
    from web_maxiv_hdbppviewer_spark.api.render import render_csv_combined

    catalog = _slashed_catalog(spark)
    name = "cs1/dom0/fam0/mem0/attr0"
    rows = [
        (1, datetime(1970, 1, 1, 0, 0, 1), 1.0),
        (1, datetime(1970, 1, 1, 0, 0, 7), 2.0),
        (1, datetime(1970, 1, 1, 0, 1, 1), 3.0),
        (1, datetime(1970, 1, 1, 0, 1, 59), 4.0),
    ]
    dp = spark.createDataFrame(rows, "att_conf_id long, ts timestamp, value_r double")
    engine = HdbppQueryEngine(catalog, dp)
    t0, t1 = datetime(1970, 1, 1), datetime(1970, 1, 1, 1)

    got = engine.query_raw_df([name], t0, t1, interval="1m").collect()
    assert [(r["t"], r["value_r"]) for r in got] == [
        (4_000_000.0, 1.5),
        (61_000_000.0, 3.0),
        (119_000_000.0, 4.0),
    ]
    # the dtype split the reference emits: raw t int64, resampled DOUBLE
    raw_t = dict(engine.query_raw_df([name], t0, t1).dtypes)["t"]
    res_t = dict(engine.query_raw_df([name], t0, t1, interval="1m").dtypes)["t"]
    assert (raw_t, res_t) == ("bigint", "double")

    # CSV bytes match the reference's to_csv float formatting
    csv = render_csv_combined(
        engine.query_raw_df([name], t0, t1, interval="1m"), [name]
    ).decode()
    assert csv == (
        f"{name}\nt[us],value_r\n"
        "4000000.0,1.5\n61000000.0,3.0\n119000000.0,4.0\n"
    )


def test_resampled_t_mean_includes_null_value_rows(spark):
    """Null-valued (error) rows skip the value mean but their timestamps
    still count in the t mean - pandas' per-column NaN-skipping mean
    (the t column is never NaN, so every member contributes)."""
    from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine

    catalog = _slashed_catalog(spark)
    name = "cs1/dom0/fam0/mem0/attr0"
    rows = [
        (1, datetime(1970, 1, 1, 0, 0, 10), None),
        (1, datetime(1970, 1, 1, 0, 0, 20), 6.0),
    ]
    dp = spark.createDataFrame(rows, "att_conf_id long, ts timestamp, value_r double")
    engine = HdbppQueryEngine(catalog, dp)
    got = engine.query_raw_df(
        [name], datetime(1970, 1, 1), datetime(1970, 1, 1, 1), interval="1m"
    ).collect()
    assert [(r["t"], r["value_r"]) for r in got] == [(15_000_000.0, 6.0)]


def test_bin2d_canvas_edges_inclusive_with_upper_edge_snap(spark):
    """datashader Canvas bounds are INCLUSIVE both ends and a point
    exactly on the upper edge maps into the LAST bin (map_onto_pixel's
    ``xx - 1 if x == xmax``); everything outside the canvas is dropped.
    The pre-r13 bin_2d clipped y half-open ([ymin, ymax)) and passed x
    through unclipped - this pins the canvas contract directly."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.operators.raster import bin_2d, hover_stats

    x0 = 1_000_000_000
    span = 1_000_000.0  # 1 s canvas
    nx, ny = 10, 8
    rows = [
        (x0 - 1, 50.0),          # before canvas: dropped
        (x0, 0.0),               # lower-left corner: bin (0, 0)
        (x0 + 500_000, 250.0),   # interior: bin (5, 4)
        (x0 + 1_000_000, 500.0), # exact upper-right corner: SNAPS to (9, 7)
        (x0 + 1_000_001, 50.0),  # past canvas: dropped
        (x0 + 500_000, 500.5),   # y above canvas: dropped
    ]
    df = spark.createDataFrame(
        [(t, v) for t, v in rows], "t_us long, value double"
    ).select(F.timestamp_micros("t_us").alias("ts"), "value")
    got = {
        (r["xb"], r["yb"]): r["cnt"]
        for r in bin_2d(df, x0, span, nx, 0.0, 500.0, ny).collect()
    }
    assert got == {(0, 0): 1, (5, 4): 1, (9, 7): 1}
    hov = {r["xb"]: r["cnt"] for r in hover_stats(
        df, x0, span, nx, 0.0, 500.0
    ).collect()}
    assert hov == {0: 1, 5: 1, 9: 1}


def test_image_windows_match_reference_slices(spark):
    """The /image endpoint's THREE windows (reference get_images ->
    get_data restrict_time=False -> get_extrema -> Canvas):
      - raster/line input = WHOLE covered day-periods (data.py:78-114
        default restrict_time=False),
      - extrema & total_points = the HALF-OPEN request slice [t0, t1)
        (plot.py:88-90: searchsorted on both bounds),
      - the canvas clips points to [t0, t1] INCLUSIVE with the right
        edge snapped into the last pixel column,
      - line segments ENTER the view from off-screen anchor points in
        the covered days (the raster is drawn from the full frame).
    Pre-r13 all three were the single closed trim [t0, t1]."""
    from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine
    from web_maxiv_hdbppviewer_spark.operators.rasterline import (
        canvas_table, rasterize_lines,
    )

    catalog = _slashed_catalog(spark)
    name = "cs1/dom0/fam0/mem0/attr0"
    rows = [
        (1, datetime(2024, 1, 4, 23, 0), 400.0),  # previous day: NOT covered
        (1, datetime(2024, 1, 5, 3, 0), 10.0),    # covered day, before t0
        (1, datetime(2024, 1, 5, 12, 0), 20.0),   # in view
        (1, datetime(2024, 1, 5, 18, 0), 30.0),   # exactly t1: canvas edge
        (1, datetime(2024, 1, 5, 21, 0), 40.0),   # covered day, after t1
    ]
    dp = spark.createDataFrame(rows, "att_conf_id long, ts timestamp, value_r double")
    engine = HdbppQueryEngine(catalog, dp)
    t0, t1 = datetime(2024, 1, 5, 6), datetime(2024, 1, 5, 18)
    w, h = 100, 80

    ax = engine.image_aggregates([{"name": name, "y_axis": 0}], t0, t1, (w, h))[0]

    # extrema/total_points: [t0, t1) - only the 12:00 point
    assert ax["descs"][name]["total_points"] == 1
    assert ax["descs"][name]["min_value"] == 20.0
    assert ax["descs"][name]["max_value"] == 20.0
    # y_range padded around the constant 20.0 (reference invent-a-band)
    assert ax["y_range"] == (10.0, 30.0)

    # whole-days fetch: the four Jan-5 points, not the Jan-4 one
    days_ts = sorted(r["ts"] for r in ax["data"].collect())
    assert days_ts == [r[1] for r in rows[1:]]

    # point raster: canvas [t0, t1] inclusive - 12:00 in its column,
    # the exact-t1 point snapped into the LAST column; 03:00/21:00 out
    pts = {(r["xb"], r["cnt"]) for r in ax["raster"].collect()}
    assert {x for x, _ in pts} == {w // 2, w - 1}
    hov = {r["xb"] for r in ax["hover"].collect()}
    assert hov == {w // 2, w - 1}

    # line raster from the whole-days frame: the segment from the 03:00
    # off-view anchor (value 10 = bottom of the band) ENTERS the canvas,
    # so pixel column 0 is lit - with only in-view points the leftmost
    # lit column would be the 12:00 point's
    x0_us, x1_us = ax["x_range"]
    pix = rasterize_lines(
        ax["data"].select("att_conf_id", "ts", "value_r").crossJoin(
            canvas_table(spark, [(x0_us, float(x1_us - x0_us), w, *ax["y_range"], h)])
        )
    ).collect()
    assert min(r["xb"] for r in pix) == 0
    assert max(r["xb"] for r in pix) == w - 1  # ...and exits right


def test_pca_gram_kernel_equals_join_moments(spark):
    """The partial-Gram Arrow kernel must reproduce the join-form moment
    sums INTEGER FOR INTEGER - same per-product hi/lo trunc-div split
    (Spark DIV truncates toward zero; numpy // floors, so every negative
    product would shift its (s_hi, s_lo) pair under a naive port), same
    quantization, partition-then-merge == row-level aggregation. The
    corpus mixes signs so negative products are exercised, and spans
    multiple partitions so the merge path runs."""
    from web_maxiv_hdbppviewer_spark.operators import pca

    # unit-scale domain (|q| < 2^31 per the QSCALE header - larger
    # coordinates overflow int64 products in BOTH forms, by design)
    rows = [
        (1, [0.25, -1.75, 1.5, -0.0009]),
        (2, [-2.0, 0.333, -0.125, 1.0]),
        (3, [1.5, 1.5, -1.5, 0.75]),
        (4, [-0.6, -0.6, 0.6, -1.25]),
        (5, [0.0, 1.125, -1.3, 0.005]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(3)

    f_join, s_join = pca.moment_sums(pca.quantized_coords(df))
    f_gram, s_gram = pca.moment_sums_gram(df)

    fj = {r["i"]: (int(r["s"]), r["n"]) for r in f_join.collect()}
    fg = {r["i"]: (int(r["s"]), r["n"]) for r in f_gram.collect()}
    assert fj == fg
    sj = {(r["i"], r["j"]): (r["s_hi"], r["s_lo"]) for r in s_join.collect()}
    sg = {(r["i"], r["j"]): (r["s_hi"], r["s_lo"]) for r in s_gram.collect()}
    assert sj == sg
    # the sign mix really produced negative products (the trunc-div
    # hazard is exercised, not vacuously green)
    assert any(hi < 0 for hi, _ in sj.values())


def test_bin2d_canvas_clip_pushes_to_parquet(spark):
    """The canvas time clip must reach the parquet scan as pushed filters
    (plain ts bounds via push_time_filter, or the raw _ts_ns compare) -
    a clip on the DERIVED epoch_us(ts) is opaque to row-group statistics
    and a 100 TB raster would scan every partition the canvas excludes."""
    import __spark_entry__ as entry_mod

    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = (
            entry_mod.queries()["q20"](spark, SF_SMOKE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    scan_lines = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert scan_lines, "no parquet scan with PushedFilters in q20's plan"
    line = scan_lines[0]
    assert "GreaterThanOrEqual(ts" in line or "GreaterThanOrEqual(_ts_ns" in line, line
    assert "LessThanOrEqual(ts" in line or "LessThan(_ts_ns" in line, line


def test_resample_tie_and_nan_reference_ground_truth(spark):
    """Pinned from the reference implementation: half-tie instants round
    half-EVEN into their bucket (30 s under 1 m -> quotient 0.5 -> bucket
    0; 90 s -> 1.5 -> bucket 2) while the exported t stays the member
    mean, and a NaN reading contributes its timestamp to the t mean but
    not the value mean. Observed output: bucket 0 -> (30000000.0, 8.0),
    bucket 120 s -> (92500000.0, 4.0) for rows (30 s, 8.0), (90 s, NaN),
    (95 s, 4.0)."""
    from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine

    catalog = _slashed_catalog(spark)
    name = "cs1/dom0/fam0/mem0/attr0"
    rows = [
        (1, datetime(1970, 1, 1, 0, 0, 30), 8.0),
        (1, datetime(1970, 1, 1, 0, 1, 30), None),  # NaN reading
        (1, datetime(1970, 1, 1, 0, 1, 35), 4.0),
    ]
    dp = spark.createDataFrame(rows, "att_conf_id long, ts timestamp, value_r double")
    engine = HdbppQueryEngine(catalog, dp)
    got = engine.query_raw_df(
        [name], datetime(1970, 1, 1), datetime(1970, 1, 1, 1), interval="1m"
    ).collect()
    assert [(r["t"], r["value_r"]) for r in got] == [
        (30_000_000.0, 8.0),
        (92_500_000.0, 4.0),
    ]


def test_sim_pca_gram_plan_has_no_join_amplification(spark):
    """After the r13 partial-Gram rework the covariance plan must carry
    NO corpus join: the moments come pre-reduced from the checkpointed
    Arrow kernel, so the only joins are the two broadcast lookups of the
    first-moment rows and the one-row broadcast cross carrying n (the
    pre-r13 shape self-joined the exploded coords, amplifying every
    vector d-fold)."""
    import __spark_entry__ as entry_mod

    plan = (
        entry_mod.queries()["sim_pca_gram"](spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("CartesianProduct") == 0
    assert plan.count("BroadcastHashJoin") == 2
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row n cross


def test_total_points_counts_error_rows_and_log_masked_rows(spark):
    """The reference's per-series hover count is len(relevant)
    (plot.py:107) - EVERY row in the window slice, NaN/error readings
    included, and the log-axis positivity mask shrinks only the extrema
    (pandas .where(>0) keeps the frame shape, plot.py:95). Pre-r13 the
    engine counted non-null (and, under log, positive) VALUES."""
    from pyspark.sql import functions as F

    from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine
    from web_maxiv_hdbppviewer_spark.operators.extrema import series_extrema

    catalog = _slashed_catalog(spark)
    name = "cs1/dom0/fam0/mem0/attr0"
    rows = [
        (1, datetime(2024, 1, 10, 1), 5.0),
        (1, datetime(2024, 1, 10, 2), None),    # error reading
        (1, datetime(2024, 1, 10, 3), -2.0),    # nonpositive
        (1, datetime(2024, 1, 10, 4), 20.0),
    ]
    dp = spark.createDataFrame(rows, "att_conf_id long, ts timestamp, value_r double")
    engine = HdbppQueryEngine(catalog, dp)
    t0, t1 = datetime(2024, 1, 10), datetime(2024, 1, 11)

    lin = engine.image_aggregates([{"name": name, "y_axis": 0}], t0, t1, (50, 40))
    assert lin[0]["descs"][name] == {
        "total_points": 4, "min_value": -2.0, "max_value": 20.0,
    }
    log = engine.image_aggregates(
        [{"name": name, "y_axis": 0}], t0, t1, (50, 40),
        axes={"0": {"scale": "log"}},
    )
    assert log[0]["descs"][name] == {
        "total_points": 4, "min_value": 5.0, "max_value": 20.0,
    }

    # an all-nonpositive series under log: full row count, NULL extrema
    # (the reference's NaN-extrema nodata entry, plot.py:115-121)
    neg = spark.createDataFrame(
        [(1, datetime(2024, 1, 10, 1), -1.0), (1, datetime(2024, 1, 10, 2), -3.0)],
        "att_conf_id long, ts timestamp, value_r double",
    )
    got = series_extrema(
        neg.where(F.col("ts").between(t0, t1)), ["att_conf_id"], "value_r",
    ).collect()
    assert [(r["pmin"], r["pmax"], r["n"]) for r in got] == [(None, None, 2)]


def test_manual_axis_bounds_float_coerced_and_missing_axis_degrades(spark):
    """Manual axis min/max arrive as JSON strings from the client and the
    reference float()-coerces them (plot.py:103-104) - the engine must
    too, then pad them like any extrema (the reference pads manual
    bounds as well, plot.py:179-188). Divergence pin: when a non-empty
    axes config OMITS the queried axis the reference raises KeyError
    (plot.py:103 indexes axes[str(y_axis)]); the engine treats the
    missing entry as {} per the malformed-input degradation rule."""
    from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine

    catalog = _slashed_catalog(spark)
    dp = spark.createDataFrame(
        [(1, datetime(2024, 1, 10, h), float(h) * 10) for h in range(1, 5)],
        "att_conf_id long, ts timestamp, value_r double",
    )
    engine = HdbppQueryEngine(catalog, dp)
    name = "cs1/dom0/fam0/mem0/attr0"
    t0, t1 = datetime(2024, 1, 10), datetime(2024, 1, 11)

    # string bounds: float()-coerced, then the 5% linear pad applies
    out = engine.image_aggregates(
        [{"name": name, "y_axis": 0}], t0, t1, (50, 40),
        axes={"0": {"min": "0", "max": "100"}},
    )[0]
    assert out["y_range"] == (-5.0, 105.0)

    # axes config present but for ANOTHER axis: engine degrades to data
    # extrema (10..40 padded) instead of the reference's KeyError 500
    out = engine.image_aggregates(
        [{"name": name, "y_axis": 0}], t0, t1, (50, 40),
        axes={"1": {"scale": "log"}},
    )[0]
    assert out["y_range"] == (10.0 - 1.5, 40.0 + 1.5)


def test_covered_day_span_handles_dst_transition_days():
    """Zone-aware day periods on DST-transition days (the reference's
    periods are LOCAL dates, hdbpp.py:304-308, and its deployment zone
    observes DST): Europe/Stockholm's spring-forward local day
    2024-03-31 spans only 23 UTC hours and the fall-back day 2024-10-27
    spans 25 - a fixed 24 h bound would leak an hour of the neighboring
    period or drop one."""
    from web_maxiv_hdbppviewer_spark.sources.hdbpp import _covered_day_span_utc

    assert _covered_day_span_utc(
        datetime(2024, 3, 31, 10), datetime(2024, 3, 31, 11),
        "Europe/Stockholm",
    ) == (datetime(2024, 3, 30, 23), datetime(2024, 3, 31, 22))
    assert _covered_day_span_utc(
        datetime(2024, 10, 27, 10), datetime(2024, 10, 27, 11),
        "Europe/Stockholm",
    ) == (datetime(2024, 10, 26, 22), datetime(2024, 10, 27, 23))
