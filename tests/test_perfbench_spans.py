"""The viewer benchmark's per-layer spans stay live.

``perfbench/spans.py`` records a span per call of the engine's layer
boundaries (``png.compose_image``, ``rasterline.rasterize_lines(...)
.collect()``, ...). A refactor that routes around one of them leaves its
metric reading zero without failing anything, so one traced /image and
one traced /query render must record every span the benchmark reports.
"""

from __future__ import annotations

import importlib.util
import sys
from datetime import datetime
from pathlib import Path

from tests.conftest import SF_SMOKE

from web_maxiv_hdbppviewer_spark.api import render
from web_maxiv_hdbppviewer_spark.api.lifecycle import HdbppQueryEngine
from web_maxiv_hdbppviewer_spark.sources.fixtures import hdbpp_fixture

SPANS_PY = Path(__file__).resolve().parent.parent / "perfbench" / "spans.py"
NAMES = [f"cs1/dom{u % 5}/fam{u % 10}/mem{u % 3}/attr{u}" for u in range(4)]
T0, T1 = datetime(2024, 1, 5), datetime(2024, 1, 20)


def _spans_module():
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS_PY)
    module = importlib.util.module_from_spec(spec)
    # its dataclass looks its own module up by name
    sys.modules[spec.name] = module
    spec.loader.exec_module(module)
    return module


def test_benchmark_layer_spans_are_recorded(spark):
    spans = _spans_module()
    engine = HdbppQueryEngine(*hdbpp_fixture(spark, SF_SMOKE))
    tracer = spans.Tracer(spark.sparkContext)
    attributes = [{"name": n, "y_axis": k % 2} for k, n in enumerate(NAMES)]
    with tracer.install(type(spark.range(1))):
        tracer.active = True
        engine.render_image(attributes, T0, T1, (120, 60))
        body = render.render_csv_combined(engine.query_raw_df(NAMES, T0, T1, "1h"), NAMES)
        tracer.active = False
    recorded = {s.name for s in tracer.spans}
    for name in ("lifecycle.image", "lifecycle.extrema", "rasterline.collect",
                 "png.compose", "png.encode", "render"):
        assert name in recorded, f"span {name} not recorded; got {sorted(recorded)}"
    rasters = [s for s in tracer.spans if s.name == "rasterline.collect"]
    # both axes of the /image are drawn by one plan, collected once
    assert len(rasters) == 1
    assert rasters[0].attrs["rows"] > 0
    assert [s.attrs["bytes"] for s in tracer.spans if s.name == "render"] == [len(body)]
