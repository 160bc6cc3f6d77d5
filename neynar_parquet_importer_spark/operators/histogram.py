"""Fixed-bin histograms: mergeable value-distribution state with
provable quantile error.

Completes the mergeable-sketch trio this engine maintains as bounded
DataFrame state (``operators/hll`` = distinct counts, ``operators/cms``
= key frequencies): the histogram is the DISTRIBUTION sketch — per
(group, bin) counts over a fixed equi-width grid, from which any
quantile is answerable with error <= one bin width BY CONSTRUCTION
(the true quantile value lies inside the selected bin; the estimate is
that bin's upper edge). Unlike t-digest/KLL the state shape is static
and engine-portable — bin assignment is one floor-divide, so the whole
pipeline (build, merge, quantile extraction) replays as static SQL and
merge is plain addition (the CMS merge law).

At scale: the build is a partial+final hash aggregate whose shuffle
carries at most ``groups x n_bins`` rows regardless of input volume;
quantile extraction is a per-group cumulative window over n_bins rows
(never a data-sized window). Values outside [lo, hi) clamp into the
edge bins — the audit columns ``n_below``/``n_above`` in
``histogram_profile`` exist to catch a mis-sized grid rather than
silently absorbing it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def bin_col(value_col: str, lo: float, width: float, n_bins: int):
    """Bin index expression: clamp(floor((v - lo) / width), 0, n-1).
    Pure double arithmetic both engines evaluate identically."""
    raw = F.floor((F.col(value_col) - F.lit(lo)) / F.lit(width))
    return F.least(
        F.greatest(raw, F.lit(0)), F.lit(n_bins - 1)
    ).cast("int")


def histogram_build(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    width: float,
    n_bins: int,
) -> DataFrame:
    """(group..., bin, cnt): one bounded aggregate — at most
    groups x n_bins output rows. NULL AND NaN values are dropped (a
    histogram of known values; count them separately if they are a
    signal). NaN matters: floor(NaN) clamps into BIN 0, silently
    inflating the low edge and dragging every quantile down, while the
    profile audit counts the same NaN in n_above (NaN sorts greatest in
    Spark) — the sketch and its own sizing audit would disagree."""
    return (
        df.filter(F.col(value_col).isNotNull() & ~F.isnan(value_col))
        .select(*group_cols, bin_col(value_col, lo, width, n_bins).alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantiles(
    hist: DataFrame,
    group_cols: list[str],
    probs: list[float],
    lo: float,
    width: float,
) -> DataFrame:
    """(group..., p, rank, n_total, bin, q_upper): for each probability
    the FIRST bin whose cumulative count reaches rank ceil(p * n).
    ``q_upper = lo + (bin + 1) * width`` over-estimates the true
    quantile by at most one bin width. All arithmetic is identical
    IEEE ops cross-engine, so the result replays as SQL."""
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        *group_cols,
        "bin",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy(*group_cols).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_total"),
    )
    out = None
    for p in probs:
        rank = F.ceil(F.lit(p) * F.col("n_total"))
        hit = (
            cum.filter(F.col("cum") >= rank)
            .groupBy(*group_cols)
            .agg(
                F.min("bin").alias("bin"),
                F.min("n_total").alias("n_total"),
            )
            .select(
                *group_cols,
                F.lit(p).alias("p"),
                F.ceil(F.lit(p) * F.col("n_total")).alias("rank"),
                "n_total",
                "bin",
                (F.lit(lo) + (F.col("bin") + 1) * F.lit(width)).alias(
                    "q_upper"
                ),
            )
        )
        out = hit if out is None else out.unionAll(hit)
    return out


def histogram_profile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
) -> DataFrame:
    """Grid-sizing audit: per group, how much mass falls outside
    [lo, hi) — the check that keeps edge-bin clamping honest."""
    v = F.col(value_col)
    # same population as histogram_build: NULLs and NaNs excluded
    return (
        df.filter(v.isNotNull() & ~F.isnan(value_col))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum((v < lo).cast("long")).alias("n_below"),
            F.sum((v >= hi).cast("long")).alias("n_above"),
        )
    )
