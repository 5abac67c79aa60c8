"""Per-layer tracing, done from outside the program.

``Tracer.install`` wraps the engine's public layer boundaries with
``unittest.mock.patch`` for the tracer's lifetime and records one span per
call while ``Tracer.active`` is set:

- ``HdbppQueryEngine.render_image`` and ``_resolve``;
- ``png.compose_image`` and ``png.encode_png_rgba``;
- ``render.render_csv_combined`` and ``render.render_grafana_json_combined``;
- ``DataFrame.collect``. A frame returned by ``lifecycle.series_extrema``,
  ``rasterline.rasterize_lines`` or ``HdbppCatalog.search`` is tagged, and
  its collect is recorded under the tag's name.

A span belongs to the request whose Spark job group is set on the recording
thread: ``render_image`` copies the group into its per-axis threads, which
context variables would not reach. ``spark_counters`` reads the Spark status
store for one job group right after its request.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field
from unittest import mock

from py4j.protocol import Py4JJavaError

from web_maxiv_hdbppviewer_spark.api import lifecycle, png, render
from web_maxiv_hdbppviewer_spark.operators import rasterline
from web_maxiv_hdbppviewer_spark.sources.hdbpp import HdbppCatalog

_TAG = "_perfbench_span"

SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
)
COMMON_KEYS = ("latency_ms",) + SPARK_KEYS + ("driver.spark_wait_ms", "driver.self_ms")
#: per-layer metrics of each request kind, besides COMMON_KEYS
KIND_KEYS = {
    "search": ("hdbpp.search_ms",),
    "image": (
        "lifecycle.resolve_ms", "lifecycle.extrema_ms", "lifecycle.image_self_ms",
        "rasterline.collect_ms", "rasterline.pixel_rows",
        "png.compose_ms", "png.encode_ms", "png.bytes",
    ),
    "query": (
        "lifecycle.resolve_ms", "render.collect_ms", "render.format_ms",
        "render.rows", "render.bytes",
    ),
}


@dataclass
class Span:
    request: str | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.active = False
        self.spans: list[Span] = []

    def record(self, name: str, start: float, **attrs) -> None:
        end = time.perf_counter()
        request = self.sc.getLocalProperty("spark.jobGroup.id")
        self.spans.append(Span(request, name, start, end, attrs))

    def _timed(self, fn, name, measure=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            start = time.perf_counter()
            out = fn(*args, **kwargs)
            self.record(name, start, **(measure(out) if measure else {}))
            return out
        return wrapper

    def _tagging(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            setattr(out, _TAG, name)
            return out
        return wrapper

    def _collect(self, fn):
        @functools.wraps(fn)
        def collect(df):
            if not self.active:
                return fn(df)
            start = time.perf_counter()
            rows = fn(df)
            self.record(getattr(df, _TAG, "collect"), start, collect=True, rows=len(rows))
            return rows
        return collect

    @contextlib.contextmanager
    def install(self, frame_class):
        """Wrap the layer boundaries until the block exits."""
        nbytes = lambda out: {"bytes": len(out)}  # noqa: E731
        patches = [
            (lifecycle.HdbppQueryEngine, "render_image",
             self._timed(lifecycle.HdbppQueryEngine.render_image, "lifecycle.image")),
            (lifecycle.HdbppQueryEngine, "_resolve",
             self._timed(lifecycle.HdbppQueryEngine._resolve, "lifecycle.resolve")),
            (png, "compose_image", self._timed(png.compose_image, "png.compose")),
            (png, "encode_png_rgba", self._timed(png.encode_png_rgba, "png.encode", nbytes)),
            (render, "render_csv_combined",
             self._timed(render.render_csv_combined, "render", nbytes)),
            (render, "render_grafana_json_combined",
             self._timed(render.render_grafana_json_combined, "render", nbytes)),
            (lifecycle, "series_extrema", self._tagging(lifecycle.series_extrema, "lifecycle.extrema")),
            (rasterline, "rasterize_lines", self._tagging(rasterline.rasterize_lines, "rasterline.collect")),
            (HdbppCatalog, "search", self._tagging(HdbppCatalog.search, "hdbpp.search")),
            (frame_class, "collect", self._collect(frame_class.collect)),
        ]
        with contextlib.ExitStack() as stack:
            for target, attr, new in patches:
                stack.enter_context(mock.patch.object(target, attr, new))
            yield self


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total * 1e3


def _self_ms(span: Span, spans: list[Span]) -> float:
    """``span``'s duration minus the union of the spans nested inside it."""
    inner = [(s.start, s.end) for s in spans
             if s is not span and s.start >= span.start and s.end <= span.end]
    return (span.end - span.start) * 1e3 - _union_ms(inner)


def request_layers(kind: str, spans: list[Span], start: float, end: float) -> dict:
    """One traced request's per-layer metrics, from its spans."""
    def total(name, key=None):
        return sum(s.attrs[key] if key else (s.end - s.start) * 1e3
                   for s in spans if s.name == name)

    collects = [s for s in spans if s.attrs.get("collect")]
    wait = _union_ms([(s.start, s.end) for s in collects])
    out = {
        "latency_ms": (end - start) * 1e3,
        "driver.spark_wait_ms": wait,
        "driver.self_ms": (end - start) * 1e3 - wait,
    }
    if kind == "search":
        out["hdbpp.search_ms"] = total("hdbpp.search")
    elif kind == "image":
        out.update({
            "lifecycle.resolve_ms": total("lifecycle.resolve"),
            "lifecycle.extrema_ms": total("lifecycle.extrema"),
            "lifecycle.image_self_ms": sum(_self_ms(s, spans) for s in spans if s.name == "lifecycle.image"),
            "rasterline.collect_ms": total("rasterline.collect"),
            "rasterline.pixel_rows": total("rasterline.collect", "rows"),
            "png.compose_ms": total("png.compose"),
            "png.encode_ms": total("png.encode"),
            "png.bytes": total("png.encode", "bytes"),
        })
    else:
        renders = [s for s in spans if s.name == "render"]
        inside = [s for s in collects if any(r.start <= s.start and s.end <= r.end for r in renders)]
        out.update({
            "lifecycle.resolve_ms": total("lifecycle.resolve"),
            "render.collect_ms": sum((s.end - s.start) * 1e3 for s in inside),
            "render.format_ms": sum(_self_ms(r, spans) for r in renders),
            "render.rows": sum(s.attrs["rows"] for s in inside),
            "render.bytes": total("render", "bytes"),
        })
    return out


def spark_counters(sc, group: str) -> dict:
    """Jobs, stages, tasks and stage metrics of one job group."""
    jsc = sc._jsc.sc()
    # the status store is fed by the listener bus; let it catch up first
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    out = dict.fromkeys(SPARK_KEYS, 0)
    for job in tracker.getJobIdsForGroup(group):
        out["spark.jobs"] += 1
        for sid in tracker.getJobInfo(job).stageIds:
            try:
                stage = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage may have no attempt
                continue
            if str(stage.status()) == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += stage.numCompleteTasks()
            out["spark.failed_tasks"] += stage.numFailedTasks()
            out["spark.executor_run_ms"] += stage.executorRunTime()
            out["spark.executor_cpu_ms"] += stage.executorCpuTime() / 1e6
            out["spark.gc_ms"] += stage.jvmGcTime()
            out["spark.shuffle_read_bytes"] += stage.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += stage.shuffleWriteBytes()
            out["spark.spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
    return out
