"""Line rasterization (SURVEY A7, reference plot.py:27,34-42).

The reference draws each series with datashader's ``Canvas.line`` -
connect-the-dots onto the pixel grid - then shades per-series colors and
stacks. A segment between two points touches pixels no single row maps
to, so the raster is not a plain binning aggregate; it is still plain
Catalyst, and no Python worker runs: ``lead()`` pairs each point with the
next one of its series, each segment is clipped and sampled by column
expressions, its samples are exploded into pixel rows, and the pixels are
counted per (series, pixel), each segment at most once per pixel.
Everything after (shade, stack, encode) happens driver-side on <= w*h
rows per series.

The walk is the numpy kernel it replaced (kept as the test reference,
tests/rasterline_reference.py), expression for expression:

  - points map to CONTINUOUS pixel coordinates ``(t - x0) / span * w`` and
    ``(v - ymin) / (ymax - ymin) * h``, y in data orientation (yb 0 =
    ymin row); a series' points are connected in (t, v) order, so a tie
    in time connects the same way whatever the input partitioning;
  - a segment with a non-finite endpoint paints nothing;
  - each segment is Liang-Barsky-clipped to the conservative slab
    [-1, w] x [-1, h] (>= 0.5 px margin around every coordinate the
    in-canvas test can accept, so clipping never removes a pixel). A
    segment inside the slab keeps its original endpoints; the walk's
    sample count is bounded by the slab for ANY endpoint magnitude, and
    a far-anchored crossing stays solid;
  - the clipped segment is sampled at ``floor(span) + 1`` points exactly
    as ``np.linspace`` computes them and rounded half-to-even (``rint``);
  - a single-point series paints one FLOOR dot (bin_2d's mapping).

The stages are SQL expression text, one ``selectExpr`` each: a PySpark
Column operator is a py4j round trip, and the walk built from Column
operators took longer to construct than to run.
"""

from __future__ import annotations

import math
import sys

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.time import epoch_us


def _finite(*cols: str) -> str:
    """SQL: all ``cols`` finite (NaN, +-inf and null are not)."""
    return " AND ".join(f"abs({c}) <= {sys.float_info.max!r}D" for c in cols)


#: Liang-Barsky (p, q) pairs of a segment (x0, y0) -> (x1, y1) against the
#: slab [-1, w] x [-1, h]
_SLAB = (
    ("-(x1 - x0)", "x0 + 1.0D"), ("x1 - x0", "w - x0"),
    ("-(y1 - y0)", "y0 + 1.0D"), ("y1 - y0", "h - y0"),
)

#: a lone point on the canvas
_DOT = (f"lone AND {_finite('x0', 'y0')}"
        " AND x0 >= 0 AND x0 < w AND y0 >= 0 AND y0 < h")

_BY_TIME = "PARTITION BY series ORDER BY t_us, v"

#: each point with the next one of its series, connected in (t, v) order
_PAIRED = (
    "series",
    "x_lo", "x_span", "w", "y_lo", "y_span", "h",
    f"row_number() OVER ({_BY_TIME}) AS seg",
    f"count(1) OVER ({_BY_TIME} ROWS BETWEEN UNBOUNDED PRECEDING"
    " AND UNBOUNDED FOLLOWING) = 1 AS lone",
    "t_us",
    "v",
    f"lead(t_us) OVER ({_BY_TIME}) AS t_next",
    f"lead(v) OVER ({_BY_TIME}) AS v_next",
)

#: the walk as SQL over one row per point, (series, seg, lone, t_us, v,
#: t_next, v_next) plus the canvas columns (x_lo, x_span, w, y_lo, y_span,
#: h). Each stage reads the previous one's columns, so no expression is
#: repeated inside another. The text is fixed: request values arrive as
#: canvas columns, never spliced in.
_STAGES = (
    # continuous pixel coordinates of both endpoints, numpy's order of
    # operations
    ("series", "seg", "lone", "w", "h",
     "(CAST(t_us AS DOUBLE) - x_lo) / x_span * w AS x0",
     "(v - y_lo) / y_span * h AS y0",
     "(CAST(t_next AS DOUBLE) - x_lo) / x_span * w AS x1",
     "(v_next - y_lo) / y_span * h AS y1"),
    # Liang-Barsky: t0 = max(0, q/p over p < 0), t1 = min(1, q/p over
    # p > 0); reject when p == 0 & q < 0 or t0 > t1 - the same decisions
    # as the sequential clip loop
    ("series", "seg", "lone", "w", "h", "x0", "y0", "x1", "y1",
     "greatest(0.0D, " + ", ".join(
         f"CASE WHEN {p} < 0 THEN ({q}) / ({p}) END" for p, q in _SLAB) + ") AS t0",
     "least(1.0D, " + ", ".join(
         f"CASE WHEN {p} > 0 THEN ({q}) / ({p}) END" for p, q in _SLAB) + ") AS t1",
     "(" + " OR ".join(f"({p} = 0 AND {q} < 0)" for p, q in _SLAB) + ") AS miss"),
    # a lone point's pixel is its FLOOR (bin_2d's mapping); a segment's
    # endpoints are clipped, or kept exactly when the clip kept them
    ("series", "seg", "w", "h",
     f"CASE WHEN {_DOT} THEN floor(y0) * w + floor(x0) END AS dot",
     f"CASE WHEN {_DOT} THEN 1 WHEN {_finite('x0', 'y0', 'x1', 'y1')}"
     " AND NOT miss AND t0 <= t1 THEN 0 END AS walked",
     "CASE WHEN t0 = 0 THEN x0 ELSE least(greatest(x0 + t0 * (x1 - x0), -1.0D), w) END AS cx0",
     "CASE WHEN t0 = 0 THEN y0 ELSE least(greatest(y0 + t0 * (y1 - y0), -1.0D), h) END AS cy0",
     "CASE WHEN t1 = 1 THEN x1 ELSE least(greatest(x0 + t1 * (x1 - x0), -1.0D), w) END AS cx1",
     "CASE WHEN t1 = 1 THEN y1 ELSE least(greatest(y0 + t1 * (y1 - y0), -1.0D), h) END AS cy1"),
    # samples per walk: floor(span) + 1; one for a dot, none if nothing
    # is drawn
    ("series", "seg", "w", "h", "dot", "cx0", "cy0", "cx1", "cy1",
     "CASE walked WHEN 1 THEN 1"
     " WHEN 0 THEN floor(greatest(abs(cx1 - cx0), abs(cy1 - cy0))) + 1 END AS n"),
    # np.linspace(start, stop, n), bit for bit: sample k is k*step + start
    # and the last one (k = n - 1) is stop; a step that underflows to 0
    # samples (k/div)*delta + start instead; a one-sample walk is start
    ("series", "seg", "w", "h", "dot", "n - 1 AS last", "CAST(n - 1 AS DOUBLE) AS div",
     "cx0 AS x_start", "IF(n > 1, cx1, cx0) AS x_stop", "cx1 - cx0 AS x_delta",
     "IF(n > 1, (cx1 - cx0) / (n - 1), NULL) AS x_step",
     "cy0 AS y_start", "IF(n > 1, cy1, cy0) AS y_stop", "cy1 - cy0 AS y_delta",
     "IF(n > 1, (cy1 - cy0) / (n - 1), NULL) AS y_step",
     "explode(sequence(0L, n - 1)) AS k"),
    ("series", "seg", "w", "h", "dot") + tuple(
        f"rint(CASE WHEN k = last THEN {a}_stop"
        f" WHEN {a}_step = 0 THEN k / div * {a}_delta + {a}_start"
        f" ELSE k * {a}_step + {a}_start END) AS r{a}"
        for a in ("x", "y")),
    # the sample's pixel, null off the canvas
    ("series", "seg", "w",
     "CAST(coalesce(dot, CASE WHEN rx >= 0 AND rx < w AND ry >= 0 AND ry < h"
     " THEN ry * w + rx END) AS BIGINT) AS pix"),
)


def canvas_table(spark, rows: list[tuple], keys: tuple[str, ...] = ()) -> DataFrame:
    """One broadcast row per canvas, from ``rows`` of ``(*key values,
    x0_us, span_us, w, ymin, ymax, h)``: the ``keys`` columns, then the
    canvas columns the walk reads, (x_lo, x_span, w, y_lo, y_span, h).
    Join it to the points each canvas draws.

    The canvas enters the walk as columns, not as literals: the generated
    code then does not change between requests, so it is compiled once per
    session instead of once per request. A zero span maps every point off
    the canvas (NaN), as numpy's division by zero does."""
    *key_values, x0, span, w, ymin, ymax, h = zip(*rows)
    return F.broadcast(spark.createDataFrame(pa.table({
        **{k: pa.array(v) for k, v in zip(keys, key_values)},
        "x_lo": [float(x) for x in x0],
        "x_span": [float(s) if s else math.nan for s in span],
        "w": [float(n) for n in w],
        "y_lo": [float(lo) for lo in ymin],
        "y_span": [float(hi - lo) if hi != lo else math.nan for lo, hi in zip(ymin, ymax)],
        "h": [float(n) for n in h],
    })))


def rasterize_lines(
    df: DataFrame,
    series_col: str = "att_conf_id",
    ts_col: str = "ts",
    value_col: str = "value_r",
) -> DataFrame:
    """Connect-the-dots raster of points that carry their canvas columns
    (``canvas_table``) -> (series, xb, yb, cnt) rows: ``cnt`` is the
    number of segments of ``series`` that paint pixel (xb, yb) of its
    canvas. Null values are skipped; their neighbors connect."""
    walked = df.select(
        F.col(series_col).cast("long").alias("series"),
        epoch_us(F.col(ts_col)).alias("t_us"),
        F.col(value_col).cast("double").alias("v"),
        "x_lo", "x_span", "w", "y_lo", "y_span", "h",
    ).where("v IS NOT NULL").selectExpr(*_PAIRED)
    for stage in _STAGES:
        walked = walked.selectExpr(*stage)
    # a pixel counts once per segment however many of its samples land
    # there. Off-canvas samples (null pix) drop out AFTER the count: a
    # filter on pix would be pushed down and repeat the sample expressions.
    return (
        walked.groupBy("series", "pix", "w")
        .agg(F.expr("count(DISTINCT IF(pix IS NULL, NULL, seg)) AS cnt"))
        .where("cnt > 0")
        .selectExpr("series", "CAST(pix % w AS BIGINT) AS xb", "floor(pix / w) AS yb", "cnt")
    )
