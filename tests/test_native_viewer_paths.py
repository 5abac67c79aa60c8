"""The viewer's request paths run without Python workers.

/image's line raster and /query's name join are plain Catalyst plans, and
name resolution, /attributes search and the control-system listing read
one driver-side catalog snapshot: a request launches no Python worker (no
``pyspark.daemon`` fork, no pandas/pyarrow import per worker), and a
catalog answer launches no Spark job at all while the snapshot is younger
than the catalog TTL. Set-up and /image do only the work the response
reads: the fixture opens the ``events`` table alone, and /image builds no
binned-raster or hover plan.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from tests.conftest import SF_SMOKE

from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine
from web_maxiv_hdbppviewer_spark.operators.rasterline import canvas_table, rasterize_lines
from web_maxiv_hdbppviewer_spark.sources import hdbpp
from web_maxiv_hdbppviewer_spark.sources.fixtures import hdbpp_fixture

#: physical nodes that run rows through a Python worker, or read an RDD a
#: Python worker fed (``createDataFrame`` of a local list)
PYTHON_NODES = (
    "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
    "MapInPandas", "ExistingRDD",
)

NAMES = [f"cs1/dom{u % 5}/fam{u % 10}/mem{u % 3}/attr{u}" for u in range(4)]
T0, T1 = datetime(2024, 1, 5), datetime(2024, 1, 20)


@pytest.fixture(scope="module")
def engine(spark):
    return HdbppQueryEngine(*hdbpp_fixture(spark, SF_SMOKE))


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _jobs_in_group(spark, group: str, fn):
    """(result of ``fn``, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_viewer_plans_have_no_python_nodes(engine):
    ids = engine._resolve(NAMES)
    assert len(ids) == len(NAMES)
    frames = {
        "rasterize_lines": rasterize_lines(
            engine.datapoints.where(engine.datapoints.att_conf_id.isin(list(ids.values())))
            .crossJoin(canvas_table(engine.datapoints.sparkSession, [
                (1_704_067_200_000_000, 2_592_000_000_000.0, 200, 0.0, 500.0, 120),
            ])),
        ),
        "query_raw_df raw": engine.query_raw_df(NAMES, T0, T1, _ids=ids),
        "query_raw_df resampled": engine.query_raw_df(NAMES, T0, T1, interval="12h", _ids=ids),
        "query_raw_df no names": engine.query_raw_df([], T0, T1),
    }
    for label, df in frames.items():
        plan = _physical_plan(df)
        found = [node for node in PYTHON_NODES if node in plan]
        assert not found, f"{label} plans {found}:\n{plan}"
    assert frames["query_raw_df raw"].count() > 0
    assert frames["query_raw_df no names"].count() == 0


def _fresh_catalog(spark) -> hdbpp.HdbppCatalog:
    """A catalog over the fixture's frames with no snapshot yet (the
    fixture's own catalog is shared by the session)."""
    shared, _ = hdbpp_fixture(spark, SF_SMOKE)
    return hdbpp.HdbppCatalog(shared.att_conf, shared.att_names)


def test_resolve_of_known_names_runs_no_spark_job(spark):
    engine = HdbppQueryEngine(_fresh_catalog(spark), hdbpp_fixture(spark, SF_SMOKE)[1])
    first, jobs = _jobs_in_group(spark, "resolve-first", lambda: engine._resolve(NAMES))
    assert jobs >= 1  # the snapshot is collected on first use
    again, jobs = _jobs_in_group(spark, "resolve-again", lambda: engine._resolve(NAMES))
    assert jobs == 0
    assert again == first and len(first) == len(NAMES)
    # unknown names are dropped (F7) and lookups are case-insensitive,
    # still without a job
    upper = NAMES[0].upper()
    mixed, jobs = _jobs_in_group(
        spark, "resolve-mixed",
        lambda: engine._resolve([upper, "cs1/dom0/fam0/mem0/nosuch"]),
    )
    assert jobs == 0
    assert mixed == {upper: first[NAMES[0]]}
    assert engine._resolve([]) == {}


def test_catalog_snapshot_expires_after_ttl(spark, monkeypatch):
    now = [1000.0]
    monkeypatch.setattr(hdbpp, "_clock", lambda: now[0])
    catalog = _fresh_catalog(spark)
    snap, jobs = _jobs_in_group(spark, "snapshot-first", catalog.ids)
    assert jobs >= 1 and snap
    now[0] += hdbpp.CATALOG_TTL_S
    same, jobs = _jobs_in_group(spark, "snapshot-fresh", catalog.ids)
    assert jobs == 0 and same is snap
    now[0] += 1.0
    fresh, jobs = _jobs_in_group(spark, "snapshot-expired", catalog.ids)
    assert jobs >= 1 and fresh is not snap and fresh == snap
    again, jobs = _jobs_in_group(spark, "snapshot-renewed", catalog.ids)
    assert jobs == 0 and again is fresh


def test_warm_search_and_controlsystems_run_no_spark_job(spark, engine):
    """/attributes and the control-system listing answer from the warm
    snapshot: matching, sorting and capping run on the driver, and the
    answer frame is a LocalRelation whose collect launches no job."""
    engine._resolve(NAMES)  # the snapshot is warm from here on
    hits, jobs = _jobs_in_group(
        spark, "search-warm", lambda: engine.search("cs1", "DOM1/*/mem?/*", 3).collect()
    )
    assert jobs == 0
    assert len(hits) == 3 and [r["name"] for r in hits] == sorted(r["name"] for r in hits)
    assert all(r["cs_name"] == "cs1" and r["name"].startswith("dom1/") for r in hits)
    cs, jobs = _jobs_in_group(spark, "controlsystems-warm", lambda: engine.controlsystems().collect())
    assert jobs == 0 and [r["cs_name"] for r in cs] == ["cs1"]


def test_render_image_builds_no_binned_or_hover_plan(engine, monkeypatch):
    """/image's response reads the line raster, never ``image_aggregates``'
    binned raster or hover stats, so render_image must not build them."""
    from web_maxiv_hdbppviewer_spark.api import lifecycle

    attributes = [{"name": n, "y_axis": k % 2} for k, n in enumerate(NAMES)]
    args = (attributes, T0, T1, (120, 60), {"1": {"scale": "log"}})
    want = engine.render_image(*args)

    def refuse(*_args, **_kwargs):
        raise AssertionError("render_image built a plan its response does not read")

    monkeypatch.setattr(lifecycle, "bin_2d", refuse)
    monkeypatch.setattr(lifecycle, "hover_stats", refuse)
    assert engine.render_image(*args) == want
    assert sorted(want["images"]) == [0, 1]


def _two_attribute_engine(spark):
    """An engine over two attributes of one day: attr0 with a null, a
    negative and positive values, attr1 with positive values only."""
    from web_maxiv_hdbppviewer_spark.sources.hdbpp import HdbppCatalog, derive_period
    from pyspark.sql import functions as F

    att_conf = spark.createDataFrame(
        [("cs1", "dom0/fam0/mem0/attr0", 1, "t"), ("cs1", "dom1/fam1/mem1/attr1", 2, "t")],
        "cs_name string, att_name string, att_conf_id long, data_type string",
    )
    att_names = spark.createDataFrame(
        [("cs1", "dom0", "fam0", "mem0", "attr0"), ("cs1", "dom1", "fam1", "mem1", "attr1")],
        "cs_name string, domain string, family string, member string, name string",
    )
    rows = [
        (1, datetime(2024, 1, 10, 1), 5.0), (1, datetime(2024, 1, 10, 2), None),
        (1, datetime(2024, 1, 10, 3), -2.0), (1, datetime(2024, 1, 10, 4), 20.0),
        (2, datetime(2024, 1, 10, 1, 30), 0.5), (2, datetime(2024, 1, 10, 2, 30), 100.0),
        (2, datetime(2024, 1, 10, 3, 30), 3.0),
    ]
    dp = spark.createDataFrame(
        rows, "att_conf_id long, ts timestamp, value_r double"
    ).withColumn("period", derive_period(F.col("ts")))
    return HdbppQueryEngine(HdbppCatalog(att_conf, att_names), dp)


def test_one_extrema_job_per_image_whatever_the_axis_scales(spark, monkeypatch):
    """An /image with a linear and a log axis collects ``series_extrema``
    once: each series' row carries the all-values and the positive-values
    extrema, and each axis reads its scale's pair. The same attribute on
    both axes gets the linear extrema on one and the positive ones on the
    other. The expected descs and y-ranges are those of the former
    one-job-per-scale pass. The whole two-axis /image is 5 Spark jobs, all
    in the caller's job group: 2 for the extrema and 3 for the one line
    raster of both axes."""
    from web_maxiv_hdbppviewer_spark.api import lifecycle

    engine = _two_attribute_engine(spark)
    a0, a1 = "cs1/dom0/fam0/mem0/attr0", "cs1/dom1/fam1/mem1/attr1"
    window = (datetime(2024, 1, 10), datetime(2024, 1, 11), (50, 40))
    axes = {"1": {"scale": "log"}}

    calls = []
    real = lifecycle.series_extrema

    def counting(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(lifecycle, "series_extrema", counting)

    engine._resolve([a0, a1])  # the catalog snapshot's job is not /image's
    tracker = spark.sparkContext.statusTracker()
    untagged = set(tracker.getJobIdsForGroup(None))
    out, jobs = _jobs_in_group(spark, "image-two-axes", lambda: engine.render_image(
        [{"name": a0, "y_axis": 0}, {"name": a1, "y_axis": 1}], *window, axes
    ))
    assert jobs == 5
    assert not set(tracker.getJobIdsForGroup(None)) - untagged
    assert len(calls) == 1
    assert out["descs"] == {
        a0: {"total_points": 4, "min_value": -2.0, "max_value": 20.0},
        a1: {"total_points": 3, "min_value": 0.5, "max_value": 100.0},
    }
    assert out["images"][0]["y_range"] == [-3.1, 21.1]
    assert out["images"][1]["y_range"] == [0.38363524950546274, 130.33213205630634]

    calls.clear()
    aggs = engine.image_aggregates(
        [{"name": a0, "y_axis": 0}, {"name": a0, "y_axis": 1}], *window, axes
    )
    assert len(calls) == 1
    assert aggs[0]["descs"] == {
        a0: {"total_points": 4, "min_value": -2.0, "max_value": 20.0}
    }
    assert aggs[1]["descs"] == {
        a0: {"total_points": 4, "min_value": 5.0, "max_value": 20.0}
    }
    assert aggs[0]["y_range"] == (-3.1, 21.1)
    assert aggs[1]["y_range"] == (4.665164957684037, 21.43546925072587)


def test_two_axis_image_matches_each_axis_alone(spark):
    """Each axis of a two-axis /image is the image of that axis requested
    alone: a linear and a log axis drawn by one plan, with one attribute
    on both axes keyed as two series, each with its own color, width and
    stacking slot."""
    import base64

    import numpy as np

    from web_maxiv_hdbppviewer_spark.api.png import decode_png_rgba

    engine = _two_attribute_engine(spark)
    a0, a1 = "cs1/dom0/fam0/mem0/attr0", "cs1/dom1/fam1/mem1/attr1"
    window = (datetime(2024, 1, 10), datetime(2024, 1, 11), (50, 40))
    axes = {"0": {"scale": "linear"}, "1": {"scale": "log"}}
    linear = [{"name": a0, "y_axis": 0, "color": "red", "width": 1}]
    log = [{"name": a1, "y_axis": 1}, {"name": a0, "y_axis": 1, "color": "#00f"}]
    both = engine.render_image([log[0], linear[0], log[1]], *window, axes)["images"]
    assert sorted(both) == [0, 1]
    for axis, specs in ((0, linear), (1, log)):
        alone = engine.render_image(specs, *window, axes)["images"]
        assert list(alone) == [axis]
        assert both[axis]["y_range"] == alone[axis]["y_range"]
        got, want = (decode_png_rgba(base64.b64decode(i[axis]["image"])) for i in (both, alone))
        assert want[..., 3].any()
        assert np.array_equal(got, want)


def test_fixture_opens_only_the_events_table(spark, tmp_path):
    """The HDB++ fixture reads ``events`` alone: built over a directory
    holding nothing else, the session's table mapping has one entry."""
    import shutil

    from web_maxiv_hdbppviewer_spark.cache import artifacts

    shutil.copy(f"{SF_SMOKE}/events.parquet", tmp_path / "events.parquet")
    catalog, datapoints = hdbpp_fixture(spark, str(tmp_path))
    assert list(artifacts.peek(spark, "tables", str(tmp_path))) == ["events"]
    assert len(catalog.ids()) == datapoints.select("att_conf_id").distinct().count()


def test_concurrent_first_use_opens_a_table_once(spark):
    """Threads that ask for an unopened table at once all get one frame."""
    import sys
    import threading

    from web_maxiv_hdbppviewer_spark.sources.tables import _Tables

    tables = _Tables(spark, SF_SMOKE)
    got, errors = [], []

    def fetch():
        try:
            got.append(tables["orders"])
        except Exception as e:  # reported below
            errors.append(e)

    threads = [threading.Thread(target=fetch) for _ in range(8)]
    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads) and not errors
    assert len(got) == len(threads) and all(df is got[0] for df in got)
    assert list(tables) == ["orders"]
