"""Per-row reference for ``api.png.compose_image``.

The compositor as first written: pixel rows read one at a time by column
name, grouped into per-series lists, and every layer shaded, spread and
stacked over the whole canvas. ``compose_image`` must return the same
RGBA array, bit for bit, for any input this accepts.
"""

from __future__ import annotations

import numpy as np

from web_maxiv_hdbppviewer_spark.api.png import LINE_COLORS, _eq_hist_alpha, _spread


def compose_image_reference(
    pixel_rows: list,
    w: int,
    h: int,
    colors: dict | None = None,
    shading: str = "eqhist",
    widths: dict | None = None,
    order: list | None = None,
) -> np.ndarray:
    by_series: dict = {}
    for r in pixel_rows:
        by_series.setdefault(r["series"], []).append(r)
    if order is not None:
        series_ids = [s for s in order if s in by_series]
        series_ids += sorted(s for s in by_series if s not in set(order))
    else:
        series_ids = sorted(by_series)
    defaults = {s: LINE_COLORS[i % len(LINE_COLORS)] for i, s in enumerate(series_ids)}
    color_of = {**defaults, **(colors or {})}

    acc = np.zeros((h, w, 4), dtype=np.float64)
    for s in series_ids:
        rows = [
            r for r in by_series[s] if 0 <= int(r["xb"]) < w and 0 <= int(r["yb"]) < h
        ]
        if not rows:
            continue
        xs = np.array([int(r["xb"]) for r in rows])
        ys = h - 1 - np.array([int(r["yb"]) for r in rows])
        cnts = np.array([r["cnt"] for r in rows], dtype=np.float64)
        if shading == "linear":
            alphas = 128.0 + 127.0 * np.minimum(cnts / cnts.max(), 1.0)
        else:
            alphas = _eq_hist_alpha(cnts)
        layer_a = np.zeros((h, w), dtype=np.float64)
        layer_a[ys, xs] = alphas / 255.0
        layer_a = _spread(layer_a, int((widths or {}).get(s, 0)))
        rgb = np.array(color_of[s], dtype=np.float64)
        a = layer_a[..., None]
        acc[..., :3] = rgb * a + acc[..., :3] * (1.0 - a)
        acc[..., 3] = layer_a + acc[..., 3] * (1.0 - layer_a)

    img = np.zeros((h, w, 4), dtype=np.uint8)
    visible = acc[..., 3] > 0
    img[..., 3] = np.rint(acc[..., 3] * 255.0).astype(np.uint8)
    img[..., :3][visible] = np.rint(
        acc[..., :3][visible] / acc[..., 3][visible][:, None]
    ).astype(np.uint8)
    return img
