"""Min-count-gated downsampling — the heart of the rollup engine.

Re-expresses ``resample_series_to_30MIN``
(/root/reference/diive/core/times/resampling.py:13-132) and the generalized
``resample_df`` (/root/reference/diive/core/dfun/frames.py:323-393) as a
grouped tumbling-window aggregation:

  1. (optional) convert END-labeled input to MIDDLE (``ts - freq/2``) so
     records land in the correct bin (resampling.py:67-68);
  2. bucket into ``[start, end)`` windows — pandas ``closed='left'`` — and
     label each bucket with its END — pandas ``label='right'``
     (resampling.py:86);
  3. aggregate mean/sum/count per (key, bucket) (resampling.py:88-89);
  4. per key: ``maxcount = max(bucket count)``, ``mincount =
     int(maxcount * mincounts_perc)``, floored to 1 when < 3
     (resampling.py:76-83);
  5. keep buckets with ``count >= mincount`` (resampling.py:96-97).

This module is the ONE definition of that rollup cell; every other rollup
layer (TierEngine tiers, the streaming rollup, the calendar rollup, the
sum/count tier spec) calls it instead of re-deriving it:

  * :func:`window_end_s` — the window-end bucket expression (step 2);
  * :func:`partial_aggs` — the mergeable ``(psum, pcount, pslots)``
    partials per (key, window) (step 3);
  * :func:`merge_aggs` — the merge of those partials by summation;
  * :func:`rollup_cell` — ``agg_mean = psum / pcount`` plus the min-count
    gate over merged counts (steps 4-5).

Scale notes: step 3 is one shuffle on (key, bucket) with map-side partial
aggregation; step 4 is a window over the *aggregated* (small) result — no
second pass over raw data. For hot keys, :func:`resample_gated` supports
salted two-phase aggregation (``salt_buckets``): the same partials are
computed per (key, bucket, salt) and merged, so a single key's raw rows
never all land on one task. Salted or not, the mean is recomposed from the
partials, so salting does not change results.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from diive_spark.operators.sanitize import ts_shift

PARTIALS = ("psum", "pcount", "pslots")


def window_end_s(ts: Column, seconds: int) -> Column:
    """Epoch-second END label of the ``[start, start+seconds)`` bucket
    containing ``ts`` (timestamp or timestamp_ntz).  A plain expression,
    so it stays inside whole-stage codegen."""
    us = seconds * 1_000_000
    end = (F.floor(F.unix_micros(ts.cast("timestamp")) / us) + 1) * seconds
    return end.cast("long")


def partial_aggs(value_col: str) -> list[Column]:
    """Mergeable partials per (key, window): non-null sum, non-null count
    and the slot count.  Slots include records whose value is null: the
    reference derives maxcount from a dummy ONES series over ALL index
    slots (resampling.py:76-79), while the gate compares the NON-null
    count (resampling.py:88,96)."""
    return [
        F.sum(value_col).alias("psum"),
        F.count(value_col).alias("pcount"),
        F.count(F.lit(1)).alias("pslots"),
    ]


def merge_aggs() -> list[Column]:
    """Merge of :func:`partial_aggs` rows by summation — associative and
    commutative, so any merge tree yields identical partials."""
    return [F.sum(c).alias(c) for c in PARTIALS]


def rollup_cell(
    partials: DataFrame,
    key_col: str,
    window_col: str,
    mincounts_perc: float | None,
) -> DataFrame:
    """``(key, window, psum, pcount, pslots)`` -> ``(key, window, agg_mean,
    agg_sum, n_vals)``.

    ``agg_mean = psum / pcount`` (null when ``pcount = 0``).  Unless
    ``mincounts_perc`` is None, the min-count gate keeps a window when
    ``n_vals >= mincount``, with ``mincount = floor(maxcount * perc)``
    floored to 1 when under 3 and ``maxcount`` the key's largest slot count.
    """
    out = partials.select(
        key_col,
        window_col,
        F.when(F.col("pcount") > 0, F.col("psum") / F.col("pcount")).alias("agg_mean"),
        F.col("psum").alias("agg_sum"),
        F.col("pcount").alias("n_vals"),
        "pslots",
    )
    if mincounts_perc is None:
        return out.drop("pslots")
    mincount = F.floor(F.col("__maxcount") * mincounts_perc)
    return (
        out.withColumn("__maxcount", F.max("pslots").over(Window.partitionBy(key_col)))
        .filter(F.col("n_vals") >= F.when(mincount < 3, F.lit(1)).otherwise(mincount))
        .drop("pslots", "__maxcount")
    )


def resample_gated(
    df: DataFrame,
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_seconds: int = 1800,
    mincounts_perc: float = 0.9,
    source_freq_seconds: int | None = None,
    salt_buckets: int = 0,
    window_col: str = "window_end",
) -> DataFrame:
    """Downsample ``value`` per series with the reference's min-count gate.

    Returns ``(key, window_end, agg_mean, agg_sum, n_vals)`` — only buckets
    that pass the gate. ``agg_mean``/``agg_sum`` ignore nulls, and ``n_vals``
    counts non-null values, exactly like pandas ``resample().count()``.

    ``salt_buckets > 0`` enables two-phase salted aggregation for skewed
    keys (SURVEY.md §4.1 item 5).
    """
    ts_eff = F.col(ts_col)
    if source_freq_seconds:
        # END -> MIDDLE for correct bin assignment (resampling.py:67-68)
        ts_eff = ts_shift(ts_eff, -source_freq_seconds / 2)
    keys = [
        F.col(key_col),
        F.timestamp_seconds(window_end_s(ts_eff, bucket_seconds)).alias(window_col),
    ]
    if salt_buckets > 0:
        keys.append((F.crc32(F.col(ts_col).cast("string")) % salt_buckets).alias("__salt"))
    agg = df.groupBy(*keys).agg(*partial_aggs(value_col))
    if salt_buckets > 0:
        agg = agg.groupBy(key_col, window_col).agg(*merge_aggs())
    return rollup_cell(agg, key_col, window_col, mincounts_perc)


def cascade_tiers(
    df: DataFrame,
    tiers,
    key_col: str = "url",
    ts_col: str = "ts",
    value_col: str = "value",
    source_freq_seconds: int | None = None,
) -> dict[str, DataFrame]:
    """Multi-resolution continuous aggregates: resample the SOURCE at every
    tier with the tier's own ``mincounts_perc`` (the reference re-runs
    resample per resolution rather than aggregating aggregates — the
    min-count gate must see raw counts per level; SURVEY.md §2.3 note after
    A17).

    Returns ``{tier.name: gated DataFrame}``. The binned source is reused
    across tiers by Spark's shuffle reuse when the plans share the scan.
    """
    return {
        tier.name: resample_gated(
            df,
            key_col=key_col,
            ts_col=ts_col,
            value_col=value_col,
            bucket_seconds=tier.seconds,
            mincounts_perc=tier.mincounts_perc,
            source_freq_seconds=source_freq_seconds,
        )
        for tier in tiers
    }
