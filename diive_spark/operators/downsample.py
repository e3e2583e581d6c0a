"""M4 width-aware downsampling (Jugel et al., VLDB 2014).

The aggregation-based dashboard downsampler: per (key, pixel-column time
bucket) keep exactly the four points a line renderer needs — first, last,
min-value, max-value — which reproduces the pixel-perfect line at the
target width.  Complements the shape-heuristic LTTB (operators/lttb.py):
M4 is fully declarative (one codegen aggregation, no kernel, no per-series
sequential dependency), so it is the 100 TB-scale default and LTTB the
last-mile refiner.

diive downsamples by plain interval aggregation only
(/root/reference/diive/core/times/resampling.py — mean/sum per bin, which
flattens extremes); M4 is the rollup-engine upgrade that keeps spikes
visible at every retention tier.

Plan shape: ONE map-side-combinable groupBy — the four points come from
four lexicographic struct extremes computed in the same aggregate, so the
operator is a single exchange on (key, bucket) with partial aggregation
before it; no join, no window, no second scan.  Tie-breaks are pinned
(first/min take the smallest companion coordinate, last/max the largest —
the lexicographic struct order), so output is deterministic and
engine-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "M4_STATE",
    "m4_downsample",
    "m4_finalize",
    "m4_merge",
    "m4_merge_aggs",
    "m4_partial_aggs",
]

# The M4 state: four (a, b) struct extremes plus the point count.  Each
# struct is ordered lexicographically, which pins the tie-breaks: first/last
# are time-major (a = x, b = y), min/max are value-major (a = y, b = x).
M4_STATE = ("_f", "_l", "_mn", "_mx", "n_in")
_EXTREME = {"_f": F.min, "_l": F.max, "_mn": F.min, "_mx": F.max}
# (state struct, field) -> flat M4 column, in output order
_FLAT = (
    ("_f", "a", "x_first"), ("_f", "b", "y_first"),
    ("_l", "a", "x_last"), ("_l", "b", "y_last"),
    ("_mn", "b", "x_ymin"), ("_mn", "a", "y_min"),
    ("_mx", "b", "x_ymax"), ("_mx", "a", "y_max"),
)


def _pair(a: Column, b: Column) -> Column:
    return F.struct(a.alias("a"), b.alias("b"))


def _m4_aggs(pairs: dict[str, Column], n_in: Column) -> list[Column]:
    aggs = [_EXTREME[s](pairs[s]).alias(s) for s in _EXTREME]
    return aggs + [n_in.cast("long").alias("n_in")]


def m4_partial_aggs(x: Column, y: Column) -> list[Column]:
    """M4 state aggregates over raw points.  ``min(struct(x, y))`` yields
    (min x, min y among min-x ties) — the deterministic tie-break the
    DuckDB twin replicates with conditional aggregation."""
    xy, yx = _pair(x, y), _pair(y, x)
    return _m4_aggs({"_f": xy, "_l": xy, "_mn": yx, "_mx": yx}, F.count(F.lit(1)))


def m4_merge_aggs() -> list[Column]:
    """Merge of M4 state rows: extreme of extremes, sum of counts."""
    return _m4_aggs({s: F.col(s) for s in _EXTREME}, F.sum("n_in"))


def m4_finalize(df: DataFrame) -> DataFrame:
    """Flatten the M4 state into the standard M4 row (other columns kept
    first)."""
    return df.select(
        *[c for c in df.columns if c not in M4_STATE],
        *[F.col(f"{s}.{f}").alias(name) for s, f, name in _FLAT],
        "n_in",
    )


def m4_downsample(
    df: DataFrame,
    key_col: str = "key",
    x_col: str = "ts_s",
    y_col: str = "value",
    bucket_s: int = 3600,
) -> DataFrame:
    """One row per (key, bucket): the M4 tuple
    (x_first, y_first, x_last, y_last, x_ymin, y_min, x_ymax, y_max, n_in).
    """
    x = F.col(x_col)
    return m4_finalize(
        df.groupBy(
            F.col(key_col), F.floor(x / F.lit(bucket_s)).cast("long").alias("bucket")
        ).agg(*m4_partial_aggs(x, F.col(y_col)))
    )


def m4_merge(m4: DataFrame, key_col: str, factor: int) -> DataFrame:
    """Roll ``factor`` fine M4 buckets into one coarse bucket WITHOUT
    re-reading raw data — every M4 component is an associative extreme
    (first of firsts, min of mins, ...), so the tuple is a mergeable
    continuous aggregate like the CMS/HLL/histogram tiers:
    ``m4_merge(m4_downsample(raw, w), f) == m4_downsample(raw, w·f)``
    bit-exactly (pinned in tests/test_trend_m4.py).  The flat rows are
    re-packed into the state structs, so the same lexicographic order
    propagates the tie-breaks.
    """
    fields = {(s, f): name for s, f, name in _FLAT}
    state = m4.select(
        key_col,
        F.floor(F.col("bucket") / factor).cast("long").alias("bucket"),
        *[
            _pair(F.col(fields[s, "a"]), F.col(fields[s, "b"])).alias(s)
            for s in _EXTREME
        ],
        "n_in",
    )
    return m4_finalize(state.groupBy(key_col, "bucket").agg(*m4_merge_aggs()))
