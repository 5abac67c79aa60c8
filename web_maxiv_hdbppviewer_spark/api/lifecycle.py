"""The three query lifecycles of the reference server, engine-side
(SURVEY §3): /query raw+resampled data, /image pre-render aggregates,
/attributes catalog search.

Spark lifecycle (SURVEY §3.1 "Spark lifecycle equivalent"): request ->
DataFrame expression -> Catalyst optimized plan (partition pruning replaces
the reference's hand-built day fan-out, pushdown replaces its incremental
lower-bound scan) -> only bounded aggregates (pixels, extrema) ever reach
the driver. /attributes and name resolution run no Spark job: they read the
catalog's driver-side snapshot (``HdbppCatalog``).

Each viewer rule has one implementation: every request window is one
``hdbpp.prune_window`` call, an /image collects ONE ``series_extrema`` job
whatever its axes' scales and draws every axis' series from ONE window
frame in ONE line-raster collect, and /query is one combined frame
(``query_raw_df``) that ``api.render`` collects once. All of a request's
Spark jobs run on the calling thread, under its job group.
"""

from __future__ import annotations

import math
from datetime import datetime

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.time import datetime_to_epoch_us, epoch_us, utc_ts_lit
from ..operators import rasterline
from ..operators.extrema import pad_range, series_extrema
from ..operators.raster import bin_2d, hover_stats
from ..operators.resample import freq_to_us, resample_mean
from ..sources.hdbpp import HdbppCatalog, _covered_day_span_utc, prune_window

#: the thread-local job properties ``SparkContext.setJobGroup`` sets
_JOB_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def _split_attr(full_name: str) -> tuple[str, str]:
    """'cs/domain/family/member/name' -> (cs, attr), right-anchored like the
    reference's split_cs_and_attribute (reference hdbpp.py:90-92
    ``attr.rsplit("/", 4)``): real Tango cs names contain slashes
    (``tango://host:10000``), so the cs is everything before the LAST four
    separators, never the prefix before the first one. Like the reference,
    raises ValueError for names with fewer than four separators."""
    cs, domain, family, member, name = full_name.rsplit("/", 4)
    return cs, "/".join((domain, family, member, name))


#: basic CSS/matplotlib color names -> RGB; the reference hands color
#: strings straight to datashader/matplotlib, which accepts any
#: matplotlib color - the engine supports the core named set plus
#: #rgb/#rrggbb hex (r19 review: 3-digit shorthand and named colors
#: previously raised ValueError and 500'd the whole /image request)
_NAMED_COLORS = {
    "black": (0, 0, 0), "white": (255, 255, 255), "red": (255, 0, 0),
    "green": (0, 128, 0), "lime": (0, 255, 0), "blue": (0, 0, 255),
    "yellow": (255, 255, 0), "cyan": (0, 255, 255), "aqua": (0, 255, 255),
    "magenta": (255, 0, 255), "fuchsia": (255, 0, 255),
    "orange": (255, 165, 0), "purple": (128, 0, 128),
    "gray": (128, 128, 128), "grey": (128, 128, 128),
    "silver": (192, 192, 192), "maroon": (128, 0, 0),
    "olive": (128, 128, 0), "navy": (0, 0, 128), "teal": (0, 128, 128),
    "brown": (165, 42, 42), "pink": (255, 192, 203),
}


def _parse_color(color: str) -> tuple[int, int, int]:
    """Color spec -> (r, g, b): #rrggbb, #rgb shorthand (each digit
    doubled, CSS semantics), or a basic color name. Raises ValueError
    naming the spec for anything else - a clear 4xx-shaped error
    instead of the bare int() traceback."""
    name = color.strip().lower()
    if name in _NAMED_COLORS:
        return _NAMED_COLORS[name]
    c = name.lstrip("#")
    try:
        if len(c) == 3:
            return tuple(int(ch * 2, 16) for ch in c)
        if len(c) == 6:
            return tuple(int(c[i : i + 2], 16) for i in (0, 2, 4))
    except ValueError:
        pass
    raise ValueError(f"unsupported color spec {color!r}")


class HdbppQueryEngine:
    """Query surface over an HdbppCatalog + unified datapoints DataFrame.

    ``parameters``/``history`` (optional) are the att_parameter /
    att_history tables (schemas.ATT_PARAMETER_SCHEMA / ATT_HISTORY_SCHEMA)
    backing the reference's parameter and event-history lookups
    (reference hdbpp.py:166-191, 243-270).

    ``period_zone`` is the deployment's storage-partition zone (the
    reference pins a local zone for its day periods, hdbpp.py:304-308 +
    Dockerfile; the engine default is UTC per SURVEY §7.3) - it decides
    which calendar days "whole covered day-periods" means for
    restrict_time=False requests.
    """

    def __init__(
        self,
        catalog: HdbppCatalog,
        datapoints: DataFrame,
        parameters: DataFrame | None = None,
        history: DataFrame | None = None,
        period_zone: str = "UTC",
    ):
        self.catalog = catalog
        self.datapoints = datapoints
        self.parameters = parameters
        self.history = history
        self.period_zone = period_zone

    # --- name resolution -------------------------------------------------

    def _resolve(self, attributes: list[str]) -> dict[str, int]:
        """Requested name -> att_conf_id, looked up in the catalog's
        driver-side snapshot (J1): no Spark job while the snapshot is
        fresh. Names are lower-cased and split right-anchored
        (_split_attr); names absent from the catalog are dropped, like the
        reference's None results (reference data.py:107,113 F7), and an
        empty list resolves to {}."""
        ids = self.catalog.ids()
        found = ((a, ids.get(_split_attr(a.lower()))) for a in attributes)
        return {a: i for a, i in found if i is not None}

    # --- /query lifecycle (SURVEY §3.2) ----------------------------------

    def query_raw_df(
        self,
        attributes: list[str],
        t0: datetime,
        t1: datetime,
        interval: str | None = None,
        restrict_time: bool = True,
        _ids: dict[str, int] | None = None,
    ) -> DataFrame:
        """SINGLE-PLAN /query: one ``isin`` scan (+ one grouped resample)
        covers every requested attribute; series stay keyed by name as a
        column (J2). One Spark job regardless of attribute count - the
        reference instead gathered 50 concurrent day-queries
        (hdbpp.py:312-321); Catalyst's task scheduler subsumes that.

        restrict_time=True trims exactly to [t0, t1] (F1, data.py:102-108);
        False returns the whole covered day-periods (the reference's
        over-fetch-for-cache behavior, hdbpp.py:16-21). Both windows are
        one ``prune_window`` call.

        Returns (name, t, value_r) ordered by (name, t); t is int64 µs for
        raw queries, DOUBLE (mean member timestamp) when resampled. The
        renderers (``api.render``) collect it once for all attributes.
        ``_ids`` is an already-resolved {name: att_conf_id}.
        """
        ids = _ids if _ids is not None else self._resolve(attributes)
        spark = self.datapoints.sparkSession
        # from an Arrow table: the rows go to the JVM as one LocalRelation,
        # where a list of tuples would go through a Python-worker RDD
        name_dim = spark.createDataFrame(pa.table({
            "name": pa.array(list(ids), pa.string()),
            "att_conf_id": pa.array(list(ids.values()), pa.int64()),
        }))
        # /httpquery semantics (reference server.py:167-181 -> get_data
        # restrict_time=False): WHOLE covered day-periods, never the full
        # history - the reference fetches only the periods overlapping
        # [t0, t1] (hdbpp.py:304-308) and skips the exact trim. "Day"
        # means the deployment's period zone (self.period_zone; the
        # reference's periods are local-time dates while timestamps are
        # UTC) - the bounds are the zone-local midnights converted back to
        # the engine's naive UTC, still one sargable ts-range predicate,
        # so partition pruning holds at scale.
        lo, hi = (
            (t0, t1) if restrict_time
            else _covered_day_span_utc(t0, t1, self.period_zone)
        )
        df = prune_window(
            self.datapoints, list(ids.values()) or [-1], lo, hi,
            self.period_zone, upper_inclusive=restrict_time,
        )
        if interval:
            width = freq_to_us(interval)
            res = resample_mean(df, width, value_col="value_r", keys=["att_conf_id"])
            # resampled t = the MEAN of the member timestamps, not the
            # bucket time: the reference's groupby().mean() averages the
            # t column too and its renderers export that average while
            # the bucket key stays in the dropped index (data.py:47,
            # 52-55, 71-72). Raw t is int64 µs, resampled t is DOUBLE -
            # the same dtype split the reference emits.
            out = res.select(
                "att_conf_id",
                F.col("mean_t").alias("t"),
                F.col("mean_v").alias("value_r"),
            )
        else:
            out = df.select("att_conf_id", epoch_us("ts").alias("t"), "value_r")
        return (
            out.join(F.broadcast(name_dim), "att_conf_id")
            .select("name", "t", "value_r")
            .orderBy("name", "t")
        )

    # --- /image lifecycle (SURVEY §3.1, pre-render aggregates) -----------

    def _axis_windows(
        self,
        attributes: list[dict],
        t0: datetime,
        t1: datetime,
        size: tuple[int, int],
        axes: dict[str, dict] | None = None,
    ) -> tuple[dict, DataFrame | None]:
        """The preparation both /image paths share: one resolve, ONE
        extrema job for every series of every axis, each axis' y-range,
        descs (point count and extrema per series) and bin geometry, and
        ONE window frame for all axes. Builds no raster or hover plan.

        Each series' extrema row carries both the all-values pair and the
        positive-values pair (``series_extrema``); an axis reads the pair
        of its own scale, so one attribute on a linear and a log axis
        needs no second job.

        The frame is one ``prune_window`` scan of the covered days,
        broadcast-joined on att_conf_id to a ``canvas_table`` with one row
        per (axis, series): its ``series`` index, att_conf_id, axis, log
        flag and that axis' canvas in bin space. An attribute listed on
        both axes is two series, so its points reach both canvases. The
        log-axis rule is the frame's: ``NOT log OR value_r > 0`` and the
        bin value ``v_bin = IF(log, log10(value_r), value_r)``.

        Returns ({axis: preparation}, frame); the frame is None when no
        name resolves.

        ``attributes``: [{"name": full_name, "y_axis": 0|1}, ...]
        ``axes``: {"0": {"scale": "linear"|"log", "min": x?, "max": x?}}
        """
        axes = axes or {}
        w, h = size
        by_axis: dict[int, list[str]] = {}
        for spec in attributes:
            by_axis.setdefault(int(spec.get("y_axis", 0)), []).append(spec["name"])

        # timezone-independent epoch (naive datetimes are engine-wide UTC);
        # .timestamp() would shift the pixel x-axis by the host's UTC offset
        x0_us = datetime_to_epoch_us(t0)
        x1_us = datetime_to_epoch_us(t1)
        result: dict = {}

        # ONE catalog resolve for the whole request; per-axis routing
        # below is a driver-side dict slice. Same drop-unknown-names
        # semantics (F7).
        all_ids = self._resolve([spec["name"] for spec in attributes])
        if not all_ids:
            return result, None

        # reference /image windows (r13 parity): get_images fetches WHOLE
        # covered day-periods (get_data restrict_time defaults False,
        # server.py:124 -> data.py:78-114), computes extrema over the
        # HALF-OPEN request slice [t0, t1) (plot.py:88-90 searchsorted
        # both sides), and rasterizes from the full whole-days frame with
        # the canvas clipping to [t0, t1] INCLUSIVE (so line segments
        # enter the view from off-screen anchor points, and a point
        # exactly at t1 is drawn but not counted in extrema). Both windows
        # stay sargable ts ranges.
        day0, day1 = _covered_day_span_utc(t0, t1, self.period_zone)
        # per-series extrema (A2, log filter F3) of every requested series
        # in one collect; the driver result stays <= |attributes| rows
        view = prune_window(
            self.datapoints, list(all_ids.values()), t0, t1,
            self.period_zone, upper_inclusive=False,
        )
        ext = {
            r["att_conf_id"]: r
            for r in series_extrema(view, ["att_conf_id"], "value_r").collect()
        }

        # one canvas row per (axis, series): series index, att_conf_id,
        # axis, log flag, then the axis' canvas
        members: list[tuple] = []
        for axis, names in by_axis.items():
            cfg = axes.get(str(axis), {})
            log_scale = cfg.get("scale") == "log"
            lo, hi = ("pmin", "pmax") if log_scale else ("vmin", "vmax")
            ids = {n: all_ids[n] for n in names if n in all_ids}
            if not ids:
                continue
            id_to_name = {v: k for k, v in ids.items()}
            descs = {
                id_to_name[i]: {
                    "total_points": ext[i]["n"],
                    "min_value": ext[i][lo],
                    "max_value": ext[i][hi],
                }
                for i in id_to_name
                if i in ext
            }
            # axis fold (A3) + manual overrides (J4) + padding (plot.py:160-188)
            mins = [d["min_value"] for d in descs.values() if d["min_value"] is not None]
            maxs = [d["max_value"] for d in descs.values() if d["max_value"] is not None]
            # manual bounds are float()-coerced like the reference
            # (plot.py:103-104) - JSON clients send axis config numbers
            # as strings; a computed fallback passes through unchanged.
            # Divergence note: the reference does axes[str(y_axis)] when
            # ANY axes config exists and 500s on an axis the config
            # omits; the engine treats a missing axis entry as {} (the
            # malformed-input degradation rule, SURVEY §7.3).
            vmin = cfg.get("min")
            vmax = cfg.get("max")
            vmin = float(vmin) if vmin is not None else (min(mins) if mins else None)
            vmax = float(vmax) if vmax is not None else (max(maxs) if maxs else None)
            y0, y1 = pad_range(vmin, vmax, log_scale)

            # log axes bin on log10 POSITIONS while aggregating RAW
            # values - datashader Canvas(y_axis_type='log'), reference
            # plot.py:24 (r19 review: the raster previously binned log
            # axes in LINEAR value space, collapsing an exponential
            # decade spread into the bottom pixels). The frame's
            # positivity filter (F3) guarantees log10 is defined;
            # pad_range's log clamp keeps y0 > 0.
            if not log_scale:
                bin_lo, bin_hi = y0, y1
            elif y0 > 0 and y1 > 0:
                bin_lo, bin_hi = math.log10(y0), math.log10(y1)
            else:
                # pad_range's total-surface fallbacks for no-data /
                # zero-constant axes ((0,1), (-0.5,0.5)) are not
                # log-representable; the positivity filter leaves such
                # rasters EMPTY, so any valid log band renders
                # identically - one decade keeps the surface total
                bin_lo, bin_hi = 0.0, 1.0
            canvas = (x0_us, float(x1_us - x0_us), w, bin_lo, bin_hi, h)
            series = {i: len(members) + k for k, i in enumerate(id_to_name)}
            members += [(s, i, axis, log_scale, *canvas) for i, s in series.items()]
            result[axis] = {
                "y_range": (y0, y1),
                "x_range": (x0_us, x1_us),
                "bin_range": (bin_lo, bin_hi),
                "descs": descs,
                # resolved routing, and each name's series in the frame
                "ids": ids,
                "series": {n: series[i] for n, i in ids.items()},
            }
        canvas = rasterline.canvas_table(
            self.datapoints.sparkSession, members, ("series", "att_conf_id", "axis", "log")
        )
        frame = (
            prune_window(
                self.datapoints, list(all_ids.values()), day0, day1,
                self.period_zone, upper_inclusive=False,
            )
            .join(canvas, "att_conf_id")
            .where("NOT log OR value_r > 0")
            .selectExpr("*", "IF(log, log10(value_r), value_r) AS v_bin")
        )
        return result, frame

    def image_aggregates(
        self,
        attributes: list[dict],
        t0: datetime,
        t1: datetime,
        size: tuple[int, int],
        axes: dict[str, dict] | None = None,
    ) -> dict:
        """The /image pre-render aggregates: ``_axis_windows``' per-axis
        y_range and descs (extrema + padding + manual overrides,
        plot.py:74-188), the axis' slice of its window frame (``data``),
        and from that slice the 2-D binned raster aggregate (A6,
        ``raster``, binned on ``v_bin``) and per-column hover stats (A8,
        ``hover``) as lazy plans. Driver receives <= w*h rows per axis
        when collected.
        """
        w, h = size
        result, frame = self._axis_windows(attributes, t0, t1, size, axes)
        for axis, ax in result.items():
            x0_us, x1_us = ax["x_range"]
            span_us = float(x1_us - x0_us)
            ax["data"] = frame.where(F.col("axis") == axis)
            ax["raster"] = bin_2d(
                ax["data"], x0_us, span_us, w, *ax["bin_range"], h,
                value_col="value_r", keys=["att_conf_id"], bin_col="v_bin",
            )
            # hover clips on raw values (monotone-equivalent to the bin-
            # space clip) and never y-bins, so it stays in data space
            ax["hover"] = hover_stats(
                ax["data"], x0_us, span_us, w, *ax["y_range"],
                value_col="value_r", keys=["att_conf_id"],
            )
        return result

    def render_image(
        self,
        attributes: list[dict],
        t0: datetime,
        t1: datetime,
        size: tuple[int, int],
        axes: dict[str, dict] | None = None,
    ) -> dict:
        """The complete /image response (reference server.py:92-148):
        {"images": {axis: {image: base64 PNG, y_range, x_range}},
         "descs": {attr: per-series point count and extrema}}.

        Reads only ``_axis_windows``' preparation and the line raster (A7,
        Catalyst expressions per segment) of its window frame: every
        axis' series are drawn by ONE plan and collected ONCE, then each
        axis is composed and encoded in turn, its rows released after its
        compose. The binned raster and hover plans of ``image_aggregates``
        are not part of the response, so they are never built. The
        driver only ever sees pixel rows and the tiny extrema results.
        """
        from .png import render_png_base64

        w, h = size
        aggs, frame = self._axis_windows(attributes, t0, t1, size, axes)
        rows_of: dict[int, list] = {axis: [] for axis in aggs}
        if frame is not None:
            axis_of = {s: axis for axis, ax in aggs.items() for s in ax["series"].values()}
            # the canvases are in bin space (log10 positions on a log
            # axis); ``rasterize_lines`` is looked up at call time
            for r in rasterline.rasterize_lines(frame, "series", value_col="v_bin").collect():
                rows_of[axis_of[r[0]]].append(r)
        images: dict = {}
        descs: dict = {}
        for axis, ax in aggs.items():
            series_of = ax["series"]
            specs = [
                spec for spec in attributes
                if int(spec.get("y_axis", 0)) == axis and spec["name"] in series_of
            ]
            # z-order follows the request's attribute listing (reference
            # plot.py tf.stack over attributes.items()), not catalog id
            order = [series_of[spec["name"]] for spec in specs]
            colors = {
                series_of[spec["name"]]: _parse_color(spec["color"])
                for spec in specs if spec.get("color")
            }
            # per-series line widening (reference tf.spread px=width)
            widths = {
                series_of[spec["name"]]: int(spec["width"])
                for spec in specs if spec.get("width")
            }
            images[axis] = {
                "image": render_png_base64(
                    rows_of.pop(axis), w, h, colors or None, widths=widths or None,
                    order=order,
                ),
                "y_range": list(ax["y_range"]),
                "x_range": list(ax["x_range"]),
            }
            descs.update(ax["descs"])
        return {"images": images, "descs": descs}

    # --- parameter / history lifecycles (S5/S6) ---------------------------

    def get_parameters(self, attr: str, end_time: datetime):
        """Latest parameter snapshot strictly before ``end_time`` (reference
        get_parameters, hdbpp.py:261-270; prepared 'parameter' CQL
        hdbpp.py:166-172: ORDER BY recv_time DESC LIMIT 1). Returns a Row or
        None - an as-of lookup (S5/O3) via the window top-1 operator."""
        from ..operators.asof import latest_before

        if self.parameters is None:
            return None
        ids = self._resolve([attr])
        if attr not in ids:
            return None
        rows = latest_before(
            self.parameters.where(F.col("att_conf_id") == ids[attr]),
            end_time,
            keys=["att_conf_id"],
            ts_col="recv_time",
        ).collect()
        return rows[0] if rows else None

    def get_history(
        self,
        attr: str,
        time_window: tuple[datetime, datetime] | None = None,
        limit: int = 10,
    ) -> list[dict]:
        """Attribute lifecycle events (add/remove/start/stop...), reference
        get_history (hdbpp.py:243-259): windowed queries cap at 10 events
        ('no point trying to display too many'); unwindowed returns all.
        Output rows {'timestamp': epoch seconds float, 'event': str} exactly
        like the reference's time + time_us * 1e-6 assembly."""
        if self.history is None:
            return []
        ids = self._resolve([attr])
        if attr not in ids:
            return []
        df = self.history.where(F.col("att_conf_id") == ids[attr])
        if time_window is not None:
            t0, t1 = time_window
            df = df.where((F.col("time") > utc_ts_lit(t0)) & (F.col("time") < utc_ts_lit(t1)))
            df = df.orderBy("time").limit(limit)
        else:
            df = df.orderBy("time")
        return [
            {"timestamp": r["t_us"] / 1_000_000.0, "event": r["event"]}
            for r in df.select(epoch_us("time").alias("t_us"), "event").collect()
        ]

    # --- /attributes lifecycle (SURVEY §3.3) ------------------------------

    def search(self, cs: str, pattern: str, max_n: int = 100, contains: bool = False):
        """(cs_name, name) matches from the catalog snapshot, sorted and
        capped (``HdbppCatalog.search``); no Spark job while it is fresh."""
        return self.catalog.search(cs, pattern, max_n, contains)

    def controlsystems(self):
        """Sorted control systems from the same snapshot, no Spark job."""
        return self.catalog.controlsystems()

    # --- staleness control (X10) ------------------------------------------

    def run_cancellable(self, tag: str, fn):
        """Run ``fn`` with every Spark job it launches tagged by ``tag``.

        The reference client silently drops responses superseded by a newer
        request (reference js/actions.js:125-190) - the stale server work
        still runs to completion. Engine-side we can do better: a
        superseding request calls ``cancel(tag)`` and the stale request's
        jobs are interrupted instead of burning cluster time.

        The cleanup RESTORES the caller's previous thread-local job
        properties - all THREE that setJobGroup sets, including
        ``spark.job.interruptOnCancel`` (r19 review: clearing only
        group/description leaked interruptOnCancel=true onto every later
        job on the thread - executor-side Thread.interrupt that Spark
        defaults OFF because it can wedge storage clients - and
        resetting to None instead of the previous values untagged the
        outer request's remaining jobs under nesting).
        """
        sc = self.datapoints.sparkSession.sparkContext
        prev = {p: sc.getLocalProperty(p) for p in _JOB_PROPS}
        sc.setJobGroup(tag, f"hdbpp request {tag}", interruptOnCancel=True)
        try:
            return fn()
        finally:
            for p, v in prev.items():
                sc.setLocalProperty(p, v)

    def cancel(self, tag: str) -> None:
        """Cancel all running Spark jobs tagged with ``tag`` (X10)."""
        self.datapoints.sparkSession.sparkContext.cancelJobGroup(tag)
