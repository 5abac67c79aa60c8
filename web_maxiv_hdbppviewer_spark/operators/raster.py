"""Rasterization operators: the /image pipeline's aggregate kernel.

The reference rasterizes each timeseries into a per-pixel image with
datashader: ``Canvas.points`` with a summary of (count, mean, min, max) of
value per (x, y) pixel (reference plot.py:22-33), then collapses the 2-D
aggregate along y for per-pixel-column hover stats (reference plot.py:44-60).

Spark-first restatement: both are plain binned hash aggregates -
``groupBy(xbin, ybin).agg(...)`` - which Catalyst executes with partial
aggregation, so an arbitrary number of input rows reduces to at most
(w x h) output rows BEFORE anything reaches the driver. That is exactly the
reference's "response size bounded by screen resolution, not data volume"
property (reference server.py:144-146), achieved with a shuffle of at most
w*h rows per series. At 100 TB this is the only stage whose output the
driver ever collects.

The float expression shapes below are chosen to be bit-identical across
engines (same IEEE ops in the same order) so results hash-match any oracle
that mirrors the shape.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.time import epoch_us, push_time_filter

_EPOCH = datetime(1970, 1, 1)


def _canvas_time_clip(df: DataFrame, x0_us: int, span_us: float,
                      ts_col: str) -> DataFrame:
    """Inclusive [x0, x0+span] canvas clip expressed as a SARGABLE
    time-range predicate (push_time_filter: plain ts bounds, or the raw
    ``_ts_ns`` integer compare where the scan column exists) instead of a
    filter on the derived ``epoch_us(ts)`` - the derived form is opaque
    to parquet row-group statistics, so a 100 TB raster would scan every
    partition the canvas excludes. push_time_filter's inclusive bound
    translation keeps sub-µs rows of the edge instant exactly like an
    ``epoch_us(ts) <= x1`` comparison would (its documented ns
    translation), so the oracle's epoch_us filter matches verbatim.

    span_us must be an integral float (asserted; ADVICE r13): a
    non-integral span would let this clip (which floors the right edge
    to whole µs) and the float bin math disagree about points in
    (x0+int(span), x0+span] - vacuously for Spark's µs-precision
    timestamps, where no representable instant lies in that interval,
    but the assertion makes the disagreement impossible by construction
    rather than by a precision argument. Every /image span is an exact
    µs difference (x1_us - x0_us), so real callers always pass."""
    assert float(span_us).is_integer(), (
        f"canvas span must be integral microseconds, got {span_us!r}"
    )
    x1_us = x0_us + int(span_us)
    return push_time_filter(
        df,
        t0=_EPOCH + timedelta(microseconds=x0_us),
        t1=_EPOCH + timedelta(microseconds=x1_us),
        ts_col=ts_col,
    )


def xbin_long(t_us: Column, x0_us: int, span_us: float, nx: int) -> Column:
    """Pixel column index as LONG: floor((t - x0) / span * nx). The
    un-narrowed form for consumers that bin UNCLIPPED timestamps (the
    streaming raster's synthetic event time): a far-out-of-canvas event
    (a corrupt epoch-0 row on a zoomed live canvas) overflows int32 and
    would wrap to a garbage positive column - months-in-the-future
    synthetic time that jumps the watermark and drops all live data
    (r18 review). floor() already returns long; canvas-clipped callers
    narrow via ``xbin``."""
    return F.floor((t_us - F.lit(x0_us)) / F.lit(float(span_us)) * F.lit(nx))


def xbin(t_us: Column, x0_us: int, span_us: float, nx: int) -> Column:
    """Pixel column index: floor((t - x0) / span * nx), as int for the
    canvas-clipped batch paths (values in [0, nx] by construction)."""
    return xbin_long(t_us, x0_us, span_us, nx).cast("int")


def ybin(v: Column, ymin: float, ymax: float, ny: int) -> Column:
    """Pixel row index: floor((v - ymin) / (ymax - ymin) * ny)."""
    return F.floor((v - F.lit(float(ymin))) / F.lit(float(ymax) - float(ymin)) * F.lit(ny)).cast("int")


def _canvas_columns(
    df: DataFrame,
    x0_us: int,
    span_us: float,
    nx: int,
    y: Column,
    ymin: float,
    ymax: float,
    ts_col: str,
    keys: list[str] | None,
    *columns: Column,
) -> DataFrame:
    """The canvas rule ``bin_2d`` and ``hover_stats`` share: rows with
    ymin <= y <= ymax inside the inclusive time canvas
    (``_canvas_time_clip``), projected to (keys..., xb, columns...) with
    the pixel column's upper edge snapped into the last bin via
    ``least(xbin, nx - 1)`` (datashader's map_onto_pixel)."""
    t_us = epoch_us(F.col(ts_col))
    return _canvas_time_clip(
        df.where((y >= ymin) & (y <= ymax)), x0_us, span_us, ts_col
    ).select(
        *(keys or []),
        F.least(xbin(t_us, x0_us, span_us, nx), F.lit(nx - 1)).alias("xb"),
        *columns,
    )


def bin_2d(
    df: DataFrame,
    x0_us: int,
    span_us: float,
    nx: int,
    ymin: float,
    ymax: float,
    ny: int,
    ts_col: str = "ts",
    value_col: str = "value",
    keys: list[str] | None = None,
    bin_col: str | None = None,
) -> DataFrame:
    """2-D binned aggregate over the (time x value) plane (SURVEY A6).

    Output: (keys..., xb, yb, cnt, vmean, vmin, vmax) - the datashader
    ``summary(count, mean, min, max)`` decomposed into built-in aggregates
    (reference plot.py:29-33).

    ``bin_col`` (r19): the y BIN-COORDINATE column when the plot axis is
    a transformed space - datashader with ``y_axis_type='log'``
    (reference plot.py:24) bins on log10 POSITIONS while aggregating RAW
    values, so log-axis callers pass a pre-projected log10 column here
    (with ``ymin``/``ymax`` in the same log space) and keep
    ``value_col`` raw. Defaults to ``value_col`` - linear axes keep the
    exact historical expression tree.

    Canvas semantics (r13 parity): datashader's Canvas bounds are
    INCLUSIVE on both ends, with a point exactly on the upper edge mapped
    into the LAST bin (its map_onto_pixel does ``xx - 1 if x == xmax``) -
    so rows are kept for x0 <= t <= x0+span and ymin <= v <= ymax, and
    both bin indices snap the upper edge via ``least(floor(..), n-1)``
    (which also absorbs the one-ulp float-overshoot hazard the streaming
    twin documents). Rows outside the canvas are dropped HERE, exactly as
    the reference's canvas clips the whole-days frame /image feeds it
    (get_data restrict_time=False -> Canvas(x_range=[t0, t1])). The
    pre-r13 form clipped y half-open and passed x through unclipped - fine
    for pre-trimmed feeds, wrong for the edge rows themselves.
    """
    v = F.col(value_col)
    bv = F.col(bin_col) if bin_col is not None else v
    binned = _canvas_columns(
        df, x0_us, span_us, nx, bv, ymin, ymax, ts_col, keys,
        F.least(ybin(bv, ymin, ymax, ny), F.lit(ny - 1)).alias("yb"),
        v.alias("_v"),
    )
    return binned.groupBy(*(keys or []), "xb", "yb").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.avg("_v"), 6).alias("vmean"),
        F.round(F.min("_v"), 6).alias("vmin"),
        F.round(F.max("_v"), 6).alias("vmax"),
    )


def hover_stats(
    df: DataFrame,
    x0_us: int,
    span_us: float,
    nx: int,
    ymin: float,
    ymax: float,
    ts_col: str = "ts",
    value_col: str = "value",
    keys: list[str] | None = None,
) -> DataFrame:
    """Per-pixel-column stats for hover descriptions (SURVEY A8).

    The reference computes these by collapsing the 2-D raster along y
    (reference plot.py:44-60: nanmin of mins, nanmax of maxes, sum of
    counts per x column, keeping only columns with data). Expressed
    directly as a 1-D binned aggregate - Catalyst's partial/final agg is
    the reference's collapse. Canvas clip and upper-edge snap are
    ``bin_2d``'s own (``_canvas_columns``; the reference's hover reads the
    same canvas-clipped aggregate, plot.py:28-33,44-51).
    """
    v = F.col(value_col)
    binned = _canvas_columns(
        df, x0_us, span_us, nx, v, ymin, ymax, ts_col, keys, v.alias("_v")
    )
    return (
        binned.groupBy(*(keys or []), "xb")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("_v"), 6).alias("vmin"),
            F.round(F.max("_v"), 6).alias("vmax"),
        )
        .where(F.col("cnt") > 0)
    )
