"""PNG image sink (SURVEY K3, reference plot.py:27-71 + 195-216).

The reference shades each series' raster with its color (datashader
``tf.shade(agg, cmap=[color])`` - single-hue, EQ-HIST alpha by default),
optionally widens the line (``tf.spread(image, px=width)``,
plot.py:38-42), then stacks the per-series layers with source-over
compositing (``tf.stack``, plot.py:206). Here the pixel rows are the
line raster's collected (series, xb, yb, cnt) rows, at most w*h per
series, and shade/spread/stack/encode happens driver-side with a
dependency-free PNG writer (stdlib zlib):

  - columns: the rows are transposed into one array per column once, and
    grouped by series with a stable argsort (no per-row field lookups).
  - eq-hist shading: alpha follows the count histogram's CDF (rank-based),
    so dense and sparse regions both keep contrast - same transfer
    function family as datashader's default; ``shading="linear"`` keeps
    the simpler count-proportional alpha.
  - spread: per-series max-alpha dilation by a square (2*px+1) kernel
    before stacking (single-hue layers make over-compositing of a layer
    with itself equivalent to max-alpha).
  - stack: source-over in premultiplied float, unpremultiplied once at
    the end; later series over earlier in request order (ascending id
    without one), like the reference. Each layer is a (flat pixel,
    alpha) pair of arrays, and the accumulator holds one premultiplied
    RGBA row per pixel some layer paints: over-compositing a zero-alpha
    pixel leaves it unchanged, so the result equals a whole-canvas stack
    bit for bit. The only canvas-sized array is the (h, w, 4) uint8
    image.
  - encode: the filter bytes and scanlines are written into one
    (h, 1 + 4w) uint8 buffer, which zlib compresses as it stands.
"""

from __future__ import annotations

import base64
import struct
import zlib

import numpy as np

#: default per-series colors (mirrors the client's LINE_COLORS role,
#: reference js/reducers.js:96-131)
LINE_COLORS = [
    (31, 119, 180),
    (255, 127, 14),
    (44, 160, 44),
    (214, 39, 40),
    (148, 103, 189),
    (140, 86, 75),
]


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png_rgba(img: np.ndarray) -> bytes:
    """Minimal RGBA PNG encoder: img is (h, w, 4) uint8, row 0 = top."""
    h, w = img.shape[:2]
    # each scanline is filter byte 0 followed by the row's RGBA bytes
    raw = np.zeros((h, 1 + 4 * w), dtype=np.uint8)
    raw[:, 1:] = img.reshape(h, 4 * w)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def decode_png_rgba(data: bytes) -> np.ndarray:
    """Inverse of ``encode_png_rgba`` for the subset it emits (8-bit RGBA,
    filter 0 on every scanline, any IDAT chunking): back to (h, w, 4)
    uint8. Raises on anything else - this is a verification decoder for
    pixel-level witnesses (the PNG BYTES are not stable across zlib
    versions/levels; the decoded array is), not a general PNG reader."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if (depth, ctype) != (8, 6):
                raise ValueError("decoder handles 8-bit RGBA only")
        elif tag == b"IDAT":
            idat += payload
        pos += 12 + length
    if w is None:
        raise ValueError("missing IHDR chunk")
    raw = zlib.decompress(idat)
    stride = 1 + 4 * w
    rows = []
    for y in range(h):
        line = raw[y * stride : (y + 1) * stride]
        if line[0] != 0:
            raise ValueError(f"unexpected filter {line[0]} on row {y}")
        rows.append(np.frombuffer(line[1:], dtype=np.uint8).reshape(w, 4))
    return np.stack(rows)


#: datashader's default minimum alpha for shaded (non-empty) pixels
MIN_ALPHA = 40


def _eq_hist_alpha(cnts: np.ndarray, min_alpha: int = MIN_ALPHA) -> np.ndarray:
    """Histogram-equalized alpha (datashader tf.shade's default transfer
    function): alpha follows the CDF of the count distribution, so a few
    hot pixels can't wash out the rest of the line."""
    vals, inv, freq = np.unique(cnts, return_inverse=True, return_counts=True)
    if len(vals) == 1:
        return np.full(len(cnts), 255, dtype=np.float64)
    cdf = freq.cumsum().astype(np.float64)
    norm = (cdf - cdf[0]) / (cdf[-1] - cdf[0])
    return (min_alpha + (255.0 - min_alpha) * norm)[inv]


def _spread(alpha: np.ndarray, px: int) -> np.ndarray:
    """Max-alpha dilation by a (2*px+1)^2 kernel (reference tf.spread,
    plot.py:38-42): widens 1-pixel lines for visibility. A max over a
    square kernel is a max over the column offsets of a max over the row
    offsets, so it runs as two 1-D passes, each raising overlapping
    slices of the result in place from an unchanged source (2*px slice
    maxima per axis, not (2*px+1)^2). Offsets that leave the canvas are
    skipped, which for non-negative alphas changes nothing."""
    if px <= 0:
        return alpha
    h, w = alpha.shape
    out = alpha.copy()
    for d in range(1, min(px, h - 1) + 1):
        np.maximum(out[d:], alpha[:-d], out=out[d:])
        np.maximum(out[:-d], alpha[d:], out=out[:-d])
    cols = out.copy()
    for d in range(1, min(px, w - 1) + 1):
        np.maximum(out[:, d:], cols[:, :-d], out=out[:, d:])
        np.maximum(out[:, :-d], cols[:, d:], out=out[:, :-d])
    return out


def snap_streamed_edge_rows(pixel_rows: list, w: int) -> list:
    """Adapter from ``streaming_raster_windowed`` rows to batch canvas
    semantics at the RIGHT edge (ADVICE r13): the streaming raster leaves
    x unclipped (its watermark must ride every event), so an event
    bitwise-exactly on the canvas right edge x0+span opens column ``w``
    there, while batch ``bin_2d`` snaps it into ``w-1``
    (datashader's inclusive upper edge). Apply this when - and only when
    - the consumer's canvas right edge equals the raster's x0+span:
    rows at xb == w are folded into xb = w-1, summing ``cnt`` per
    (series, yb) exactly as the batch hash aggregate would have.
    Only ``cnt`` is merged - ``compose_image`` reads nothing else;
    callers needing merged vmean/vmin/vmax must re-aggregate upstream.
    Columns beyond w (a moved canvas) are left for compose's crop."""
    merged: dict = {}
    for r in pixel_rows:
        if int(r["xb"]) == w:
            key = (r["series"], int(r["yb"]))
            merged[key] = merged.get(key, 0) + r["cnt"]
    result = []
    for r in pixel_rows:
        if int(r["xb"]) == w:
            continue
        key = (r["series"], int(r["yb"]))
        if int(r["xb"]) == w - 1 and key in merged:
            result.append({**r, "cnt": r["cnt"] + merged.pop(key)})
        else:
            result.append(dict(r))
    # an edge-only pixel (no existing w-1 row to fold into) still renders
    for (series, yb), cnt in merged.items():
        result.append({"series": series, "xb": w - 1, "yb": yb, "cnt": cnt})
    return result


def _pixel_columns(pixel_rows: list) -> list:
    """The series, xb, yb and cnt columns of the pixel rows, one sequence
    each. Spark ``Row``s (all from one collect, so of one schema) are
    transposed with one ``zip`` and picked in ``Row.__fields__`` order;
    mappings are read by key."""
    names = ("series", "xb", "yb", "cnt")
    fields = getattr(pixel_rows[0], "__fields__", None) if pixel_rows else None
    if fields is None:
        return [[r[c] for r in pixel_rows] for c in names]
    cols = list(zip(*pixel_rows))
    return [cols[fields.index(c)] for c in names]


def compose_image(
    pixel_rows: list,
    w: int,
    h: int,
    colors: dict | None = None,
    shading: str = "eqhist",
    widths: dict | None = None,
    order: list | None = None,
) -> np.ndarray:
    """Shade + spread + stack per-series pixel rows (series, xb, yb, cnt)
    into one RGBA image. Data orientation yb=0 at bottom -> flipped to PNG
    top-down; series composite later OVER earlier in REQUEST order when
    ``order`` (series ids as the request listed them) is given — the
    reference stacks in attributes.items() request order (plot.py:206) —
    else in ascending id order. Either key is DETERMINISTIC, where
    first-appearance order of collected pixel rows depends on partition
    scheduling and would flip both the default palette assignment and the
    stacking between runs. ``widths`` maps series -> spread px.

    The rows become columns once and are grouped by a stable argsort of
    their series, so each series keeps its row order. Everything else is
    sized by the pixels the image paints: each layer is a (flat pixel,
    alpha) pair of arrays, a series with a spread width builds its
    footprint on one (h, w) layer, and the layers are stacked into one
    premultiplied RGBA row per painted pixel, with the same IEEE
    operations in the same order as a whole-canvas stack."""
    series, xb, yb, cnt = _pixel_columns(pixel_rows)
    present, code = np.unique(np.asarray(series), return_inverse=True)
    present = present.tolist()
    if order is not None:
        # request order first (reference z-order), any series the request
        # didn't name appended deterministically by ascending id
        listed, known = set(order), set(present)
        series_ids = [s for s in order if s in known]
        series_ids += [s for s in present if s not in listed]
    else:
        series_ids = present
    # user overrides layered OVER the default palette: a request that colors
    # only SOME series must not crash the uncolored ones (they fall back to
    # their palette slot, like the reference client's per-line defaults)
    defaults = {s: LINE_COLORS[i % len(LINE_COLORS)] for i, s in enumerate(series_ids)}
    color_of = {**defaults, **(colors or {})}

    # off-canvas rows are dropped before shading (they take no part in a
    # series' alpha histogram); a series left without rows paints nothing
    xs = np.asarray(xb).astype(np.int64)
    ys = np.asarray(yb).astype(np.int64)
    keep = (xs >= 0) & (xs < w) & (ys >= 0) & (ys < h)
    flat, code = (h - 1 - ys[keep]) * w + xs[keep], code[keep]
    cnts = np.asarray(cnt, dtype=np.float64)[keep]
    by_series = np.argsort(code, kind="stable")
    bounds = np.searchsorted(code[by_series], np.arange(len(present) + 1))
    rows_of = {s: by_series[bounds[i] : bounds[i + 1]] for i, s in enumerate(present)}

    # pass 1: each series' layer as sorted flat pixels and their alphas
    layers = []
    for s in series_ids:
        rows = rows_of[s]
        if not len(rows):
            continue
        c = cnts[rows]
        if shading == "linear":
            alphas = 128.0 + 127.0 * np.minimum(c / c.max(), 1.0)
        else:
            alphas = _eq_hist_alpha(c)
        # a pixel listed twice keeps its last row's alpha, as a canvas
        # assignment leaves it: its first row in reversed order
        pix, last = np.unique(flat[rows][::-1], return_index=True)
        a = (alphas / 255.0)[::-1][last]
        spread_px = int((widths or {}).get(s, 0))
        if spread_px > 0:
            layer = np.zeros(h * w, dtype=np.float64)
            layer[pix] = a
            wide = _spread(layer.reshape(h, w), spread_px).ravel()
            pix = np.flatnonzero(wide)
            a = wide[pix]
        layers.append((color_of[s], pix, a))

    # pass 2: premultiplied source-over into one row per painted pixel
    painted = np.unique(np.concatenate([np.empty(0, np.int64)] + [p for _, p, _ in layers]))
    acc = np.zeros((len(painted), 4), dtype=np.float64)
    for color, pix, a in layers:
        at = np.searchsorted(painted, pix)
        rgb = np.array(color, dtype=np.float64)
        acc[at, :3] = rgb * a[:, None] + acc[at, :3] * (1.0 - a[:, None])
        acc[at, 3] = a + acc[at, 3] * (1.0 - a)

    img = np.zeros((h, w, 4), dtype=np.uint8)
    out = img.reshape(h * w, 4)
    out[painted, 3] = np.rint(acc[:, 3] * 255.0).astype(np.uint8)
    # unpremultiply for straight-alpha PNG output
    visible = acc[:, 3] > 0
    out[painted[visible], :3] = np.rint(
        acc[visible, :3] / acc[visible, 3][:, None]
    ).astype(np.uint8)
    return img


def render_png_base64(
    pixel_rows: list,
    w: int,
    h: int,
    colors: dict | None = None,
    shading: str = "eqhist",
    widths: dict | None = None,
    order: list | None = None,
) -> str:
    """The /image payload's image field (reference plot.py:64-71)."""
    return base64.b64encode(
        encode_png_rgba(
            compose_image(pixel_rows, w, h, colors, shading, widths, order)
        )
    ).decode()
