"""numpy reference for ``operators.rasterline.rasterize_lines``.

A sequential, per-segment walk of the line raster: points in (t, v) order,
Liang-Barsky clip to the slab [-1, w] x [-1, h], ``np.linspace`` samples
rounded with ``np.rint``, in-canvas pixels counted once per segment, a
single-point series painted as one floor dot. The Catalyst operator must
reproduce it pixel for pixel and count for count; the helpers below run
both on the same rows.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np

from pyspark.sql import functions as F


def _draw_dot(grid: np.ndarray, x: float, y: float, w: int, h: int) -> None:
    """Paint one point at FLOOR pixel coordinates (bin_2d's mapping - a
    coordinate in (-1, 0) floors to -1 and is dropped; plain int() would
    truncate it to 0 and paint an off-canvas point onto the canvas edge).
    Non-finite coordinates paint nothing."""
    if not (np.isfinite(x) and np.isfinite(y)):
        return
    xi, yi = int(np.floor(x)), int(np.floor(y))
    if 0 <= xi < w and 0 <= yi < h:
        grid[yi, xi] += 1


def _clip_to_slab(
    x0: float, y0: float, x1: float, y1: float, w: int, h: int
):
    """Liang-Barsky clip of one segment to the conservative canvas slab
    [-1, w] x [-1, h]. The slab has >= 0.5px margin around every
    coordinate the keep mask can accept (rint maps exactly [-0.5,
    limit-0.5] into the canvas), so clipping never removes geometry that
    could paint a pixel.

    Returns the clipped endpoints, or None when the segment misses the
    slab. A segment already inside the slab comes back with its ORIGINAL
    float endpoints (t stays exactly [0, 1]), so its walk is bit-identical
    to the unclipped walk. Clipped endpoints of a far-anchored segment
    carry only O(|span| * eps) absolute error from the parametric
    evaluation, and are clamped back into the slab.
    """
    dx, dy = x1 - x0, y1 - y0
    t0, t1 = 0.0, 1.0
    for p, q in (
        (-dx, x0 - (-1.0)),
        (dx, float(w) - x0),
        (-dy, y0 - (-1.0)),
        (dy, float(h) - y0),
    ):
        if p == 0.0:
            if q < 0.0:
                return None
            continue
        r = q / p
        if p < 0.0:
            if r > t1:
                return None
            if r > t0:
                t0 = r
        else:
            if r < t0:
                return None
            if r < t1:
                t1 = r
    cx0 = x0 if t0 == 0.0 else min(max(x0 + t0 * dx, -1.0), float(w))
    cy0 = y0 if t0 == 0.0 else min(max(y0 + t0 * dy, -1.0), float(h))
    cx1 = x1 if t1 == 1.0 else min(max(x0 + t1 * dx, -1.0), float(w))
    cy1 = y1 if t1 == 1.0 else min(max(y0 + t1 * dy, -1.0), float(h))
    return cx0, cy0, cx1, cy1


def _segments_to_pixels(xs: np.ndarray, ys: np.ndarray, w: int, h: int) -> np.ndarray:
    """Walk each consecutive segment of one series onto a dense h x w
    count grid; a single point paints one dot.

    A segment with a non-finite endpoint paints nothing. Each segment is
    clipped to the slab BEFORE its sample count is computed, so the walk
    is bounded by the in-slab span (<= w + h + 4 samples) for ANY
    endpoint magnitude and in-view coverage stays solid
    (Bresenham-equivalent) - an unclipped walk at |endpoint| >~ 1e9 px
    would also cancel in k*step+start and alias the line."""
    grid = np.zeros((h, w), dtype=np.int64)
    if len(xs) == 1:
        _draw_dot(grid, xs[0], ys[0], w, h)
        return grid
    for i in range(len(xs) - 1):
        x0, y0, x1, y1 = xs[i], ys[i], xs[i + 1], ys[i + 1]
        if not (
            np.isfinite(x0) and np.isfinite(y0)
            and np.isfinite(x1) and np.isfinite(y1)
        ):
            continue
        clip = _clip_to_slab(x0, y0, x1, y1, w, h)
        if clip is None:
            continue
        x0, y0, x1, y1 = clip
        span = max(abs(x1 - x0), abs(y1 - y0))
        n = int(span) + 1
        px = np.rint(np.linspace(x0, x1, n)).astype(np.int64)
        py = np.rint(np.linspace(y0, y1, n)).astype(np.int64)
        keep = (px >= 0) & (px < w) & (py >= 0) & (py < h)
        if keep.any():
            # dedup within the segment so a pixel counts once per pass
            flat = np.unique(py[keep] * w + px[keep])
            grid.flat[flat] += 1
    return grid


def reference_pixels(rows, x0_us, span_us, w, ymin, ymax, h) -> dict:
    """{(series, xb, yb): cnt} of (series, t_us, v) rows; null values are
    skipped and each series is connected in (t_us, v) order."""
    by_series = defaultdict(list)
    for s, t, v in rows:
        if v is not None:
            by_series[s].append((t, v))
    out = {}
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        for s, pts in by_series.items():
            t = np.array([p[0] for p in pts], dtype=np.float64)
            v = np.array([p[1] for p in pts], dtype=np.float64)
            order = np.lexsort((v, t))
            xs = (t[order] - x0_us) / span_us * w
            ys = (v[order] - ymin) / (ymax - ymin) * h
            grid = _segments_to_pixels(xs, ys, w, h)
            for yb, xb in zip(*np.nonzero(grid)):
                out[(s, int(xb), int(yb))] = int(grid[yb, xb])
    return out


def native_pixels(df, x0_us, span_us, w, ymin, ymax, h, **kw) -> dict:
    """{(series, xb, yb): cnt} drawn by the Catalyst operator."""
    from web_maxiv_hdbppviewer_spark.operators.rasterline import canvas_table, rasterize_lines

    canvas = canvas_table(df.sparkSession, [(x0_us, span_us, w, ymin, ymax, h)])
    return {
        (r["series"], r["xb"], r["yb"]): r["cnt"]
        for r in rasterize_lines(df.crossJoin(canvas), **kw).collect()
    }


def assert_native_equals_reference(
    df, x0_us, span_us, w, ymin, ymax, h,
    series_col="att_conf_id", ts_col="ts", value_col="value_r",
) -> dict:
    """Draw ``df`` with both rasters and require identical pixel counts;
    returns the pixels."""
    rows = [
        (r[0], r[1], r[2])
        for r in df.select(
            F.col(series_col).cast("long"),
            F.unix_micros(F.col(ts_col)),
            F.col(value_col).cast("double"),
        ).collect()
    ]
    want = reference_pixels(rows, x0_us, span_us, w, ymin, ymax, h)
    got = native_pixels(
        df, x0_us, span_us, w, ymin, ymax, h,
        series_col=series_col, ts_col=ts_col, value_col=value_col,
    )
    assert got == want, (
        f"{len(set(got.items()) ^ set(want.items()))} pixel counts differ"
    )
    return got


#: µs of time per pixel in ``segments_frame``: pixel x = t_us / SCALE
SCALE = 100


def segments_frame(spark, segments, w, h):
    """One two-point series per pixel-space segment (x0, y0, x1, y1), with
    the canvas arguments that map it back to (about) those coordinates:
    x is quantized to 1/SCALE px (the reference sees the same rows, so
    both rasters draw identical floats), y is exact up to the mapping's
    rounding. Returns (df, canvas kwargs)."""
    rows = []
    for i, (x0, y0, x1, y1) in enumerate(segments):
        rows.append((i, int(round(x0 * SCALE)), float(y0)))
        rows.append((i, int(round(x1 * SCALE)), float(y1)))
    df = spark.createDataFrame(rows, "att_conf_id long, t long, value_r double").select(
        "att_conf_id", F.timestamp_micros("t").alias("ts"), "value_r"
    )
    return df, dict(x0_us=0, span_us=float(SCALE * w), w=w, ymin=0.0, ymax=float(h), h=h)
