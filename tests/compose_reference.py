"""Per-row references for ``api.png.compose_image`` and
``api.png.encode_png_rgba``.

The compositor as first written: pixel rows read one at a time by column
name, grouped into per-series lists, and every layer shaded, spread (one
shifted canvas per kernel offset) and stacked over the whole canvas.
``compose_image`` must return the same RGBA array, bit for bit, for any
input this accepts.

The encoder as first written: one ``bytes`` object per scanline, joined.
``encode_png_rgba`` must return the same PNG bytes.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from web_maxiv_hdbppviewer_spark.api.png import LINE_COLORS, _chunk, _eq_hist_alpha


def _spread_reference(alpha: np.ndarray, px: int) -> np.ndarray:
    if px <= 0:
        return alpha
    h, w = alpha.shape
    out = alpha.copy()
    for dy in range(-px, px + 1):
        for dx in range(-px, px + 1):
            if dy == 0 and dx == 0:
                continue
            shifted = np.zeros_like(alpha)
            ys0, ys1 = max(dy, 0), h + min(dy, 0)
            xs0, xs1 = max(dx, 0), w + min(dx, 0)
            shifted[ys0:ys1, xs0:xs1] = alpha[ys0 - dy : ys1 - dy, xs0 - dx : xs1 - dx]
            np.maximum(out, shifted, out=out)
    return out


def encode_png_rgba_reference(img: np.ndarray) -> bytes:
    h, w = img.shape[:2]
    raw = b"".join(b"\x00" + img[row].tobytes() for row in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


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
        layer_a = _spread_reference(layer_a, int((widths or {}).get(s, 0)))
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
