"""Extrema operators for axis-range computation (SURVEY A2/A3/F3, J4).

The reference computes per-series min/max over the view window (reference
plot.py:92-99), dropping non-positive values first when the axis is log
scaled (plot.py:94-97), then folds min-of-mins / max-of-maxes across all
series on one axis (plot.py:112-130), finally merging manual axis overrides
(plot.py:101-104). The per-series pass is one aggregation here that yields
both the all-values and the positive-values extrema, so one job serves
linear and log axes alike; series with no surviving points surface as null
extrema (the reference's ``nodata`` set). The axis fold and the manual
overrides are driver-side over those few rows (``api.lifecycle``),
followed by ``pad_range``.
"""

from __future__ import annotations

import math
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def series_extrema(df: DataFrame, keys: list[str], value_col: str = "value") -> DataFrame:
    """Per-series (vmin, vmax, pmin, pmax, n) in ONE aggregate.

    ``vmin``/``vmax`` span every value - a linear axis reads them;
    ``pmin``/``pmax`` span the positive values only - a log axis reads
    them (the reference masks non-positive values for log axes only,
    plot.py:94-97). One pass thus serves every axis scale.

    ``n`` is the ROW count of the series' window slice - the reference's
    ``points = len(relevant)`` (plot.py:107) counts every row, NaN/error
    readings included, and the log-axis positivity mask shrinks only the
    extrema, never the count (pandas ``.where(>0)`` keeps the frame shape,
    plot.py:95). A ``count(value)`` here - the pre-r13 form - undercounted
    both. The positivity mask is a null-out, not a filter, for the same
    reason: an all-nonpositive series still reports its row count with
    NULL ``pmin``/``pmax`` (the reference's NaN-extrema ``nodata``
    entries, plot.py:115-121)."""
    v = F.col(value_col)
    positive = F.when(v > 0, v)  # plot.py:94-97
    return df.groupBy(*keys).agg(
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
        F.min(positive).alias("pmin"),
        F.max(positive).alias("pmax"),
        F.count(F.lit(1)).alias("n"),
    )


def pad_range(vmin: float, vmax: float, log_scale: bool = False) -> tuple[float, float]:
    """Driver-side axis-range padding, replicating the reference's exact
    algebra (reference plot.py:160-188):

      - constant series invent a band scale-INDEPENDENTLY (the reference
        ignores the axis scale here, plot.py:162-177): v/2 .. 1.5v for
        v > 0, the mirrored 1.5v .. v/2 for v < 0, and +/-0.5 at v == 0;
      - log axes pad 5% in LOG space - 10^(log10(min) - p) .. - a linear
        5% pad would push a positive floor NEGATIVE (e.g. extrema
        (10, 1000) -> -39.5), which is both off-reference and
        geometrically meaningless on a log axis;
      - linear axes pad 5% of the value range.

    The (None, None) -> (0, 1) fallback is ours: the reference skips an
    axis it cannot derive limits for (plot.py:150-158 ``continue``); the
    engine instead returns a degenerate band so the aggregate surface
    stays total (the axis carries an empty raster either way).
    """
    if vmin is None or vmax is None:
        return (0.0, 1.0)
    if vmin == vmax:
        v = vmin
        if v > 0:
            return (v / 2.0, 1.5 * v)
        if v == 0:
            return (-0.5, 0.5)
        return (1.5 * v, v / 2.0)
    if log_scale and vmin > 0:
        # exponents clamped to the double range: 10**309 would raise
        # OverflowError for extrema near 1e308. The clamp must never put
        # the "padded" bound INSIDE the data (a 308.0 cap undercuts
        # vmax > 1e308; a -323.0 floor overshoots subnormal vmin), so both
        # ends snap back to the raw extremum if clamping crossed it.
        logmin, logmax = math.log10(vmin), math.log10(vmax)
        p = 0.05 * (logmax - logmin)
        try:
            hi = 10 ** min(logmax + p, math.log10(sys.float_info.max))
        except OverflowError:  # 10**log10(DBL_MAX) itself overflows
            hi = sys.float_info.max
        lo = 10 ** max(logmin - p, -323.0)
        return (min(lo, vmin), max(hi, vmax))
    # linear pad - also the log-axis fallback when a MANUAL override puts
    # a non-positive bound on a log axis (cfg 'min'/'max' bypass the
    # positivity filter applied to data extrema): the reference's numpy
    # log10 degrades to 0/NaN bands there; a finite linear band keeps the
    # request servable instead of raising math-domain errors
    pad = (vmax - vmin) * 0.05
    return (vmin - pad, vmax + pad)


def zscore_outliers(df, key_col: str = "user_id", value_col: str = "value"):
    """Per-key 3-sigma outlier audit: (key, n, mean_r, sd_r, n_outliers).

    The sum and sum-of-squares are ROUNDED to 6 decimals at the
    aggregation boundary, so every derived quantity (mean, sd, the flag
    threshold) is identical deterministic double arithmetic in any
    engine - the same discipline as the ranking round-6 rule. Two passes:
    one map-side-combinable moment aggregation, then a K-row broadcast of
    the stats back onto the stream for the flag count.
    """
    ev = df.select(F.col(key_col).alias("k"), F.col(value_col).alias("v"))
    # n == 1 groups have no sample variance: (s2 - s1^2/n)/(n-1) is 0/0,
    # which Spark propagates as NaN and SQL engines as NULL - drop them
    # rather than diverge on the degenerate case
    mom = ev.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("v"), 6).alias("s1"),
        F.round(F.sum(F.col("v") * F.col("v")), 6).alias("s2"),
    ).where(F.col("n") >= 2)
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    stats = mom.select(
        "k",
        "n",
        F.round(F.col("s1") / F.col("n"), 6).alias("mean_r"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("sd_r"),
    )
    return (
        ev.join(F.broadcast(stats), "k")
        .groupBy("k")
        .agg(
            F.first("n").alias("n"),
            F.first("mean_r").alias("mean_r"),
            F.first("sd_r").alias("sd_r"),
            F.sum(
                (F.abs(F.col("v") - F.col("mean_r")) > F.lit(3.0) * F.col("sd_r"))
                .cast("long")
            ).alias("n_outliers"),
        )
        .withColumnRenamed("k", key_col)
    )
