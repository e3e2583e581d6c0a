"""Feature-engineering operators (SURVEY §2.4 T8/T9/T10, §2.7 date/time):
lagged variants, rolling variants, cumulative sums, calendar features,
right-closed calendar resampling.

All window-based; every function keeps ONE (key, order) window layout so
chained features reuse a single shuffle+sort (Catalyst collapses window
exprs over the same WindowSpec into one WindowExec)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from diive_spark.operators.resample import partial_aggs, rollup_cell


def lagged_variants(
    df: DataFrame,
    key_col: str,
    value_col: str,
    order_cols: list[str],
    shifts: list[int],
) -> DataFrame:
    """Shifted copies ±k records (reference ``lagged_variants``,
    /root/reference/diive/core/dfun/frames.py:760-850). Negative shift =
    lead (future), positive = lag (past), matching pandas ``shift(k)``."""
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    out = df
    for k in shifts:
        name = f"{value_col}_lag{k}" if k >= 0 else f"{value_col}_lead{-k}"
        out = out.withColumn(name, F.lag(value_col, k).over(w))
    return out


def rolling_variants(
    df: DataFrame,
    key_col: str,
    value_col: str,
    order_cols: list[str],
    window_rows: int,
    min_periods: int | None = None,
) -> DataFrame:
    """Trailing rolling mean/max over ``window_rows`` records with a
    min-periods gate (reference ``rolling_variants``, frames.py:728-747:
    ``min_periods = ceil(n/2)``)."""
    if min_periods is None:
        min_periods = -(-window_rows // 2)  # ceil
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(-(window_rows - 1), 0)
    )
    cnt = F.count(value_col).over(w)
    gate = lambda c: F.when(cnt >= min_periods, c)  # noqa: E731
    return df.withColumn(
        f"{value_col}_rollmean{window_rows}", gate(F.avg(value_col).over(w))
    ).withColumn(f"{value_col}_rollmax{window_rows}", gate(F.max(value_col).over(w)))


def cumulative_sum(
    df: DataFrame,
    key_col: str,
    value_col: str,
    order_cols: list[str],
    out_col: str = "cumsum",
) -> DataFrame:
    """Per-key running total (reference cumsum uses,
    randomforest_ts.py:838-839, times.py:1124)."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))


def calendar_features(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Timestamp-derived feature columns (reference
    ``include_timestamp_as_cols``, times.py:515-599: YEAR/SEASON/MONTH/
    YEARMONTH/WEEK/YEARWEEK/DOY/YEARDOY/HOUR) + meteorological season 1-4
    (times.py:602-634: MAM=1, JJA=2, SON=3, DJF=4)."""
    ts = F.col(ts_col)
    year, month = F.year(ts), F.month(ts)
    week, doy = F.weekofyear(ts), F.dayofyear(ts)
    season = (
        F.when(month.isin(3, 4, 5), 1)
        .when(month.isin(6, 7, 8), 2)
        .when(month.isin(9, 10, 11), 3)
        .otherwise(4)
    )
    return (
        df.withColumn("f_year", year.cast("long"))
        .withColumn("f_month", month.cast("long"))
        .withColumn("f_week", week.cast("long"))
        .withColumn("f_doy", doy.cast("long"))
        .withColumn("f_hour", F.hour(ts).cast("long"))
        .withColumn("f_season", season.cast("long"))
        .withColumn("f_yearmonth", (year * 100 + month).cast("long"))
        .withColumn("f_yearweek", (year * 100 + week).cast("long"))
        .withColumn("f_yeardoy", (year * 1000 + doy).cast("long"))
    )


def resample_calendar_right(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    unit: str = "month",
    mincounts_perc: float = 0.25,
) -> DataFrame:
    """Calendar downsample (week / month / year) with RIGHT-closed,
    right-labeled bins (reference ``resample_df`` freq policy: W/M/A ->
    label='right', closed='right', frames.py:323-393; weeks start Monday
    like diive, frames.py:374-377) and the min-count gate of
    resampling.py:76-92.

    Spark's ``window()`` only does fixed durations, so calendar bins use
    ``date_trunc`` bucketing; the END label is the next period start.
    The partials, mean and gate are the rollup cell of
    operators/resample.py.  Scale: groupBy (key, period) — partial
    aggregation map-side, the gate's per-key maxcount is a tiny window."""
    start = F.date_trunc(unit, F.col(ts_col))
    if unit == "month":
        period_end = F.add_months(start, 1)
    elif unit == "year":
        period_end = F.add_months(start, 12)
    elif unit == "week":
        period_end = F.date_add(start.cast("date"), 7).cast("timestamp")
    else:
        raise ValueError(f"unsupported calendar unit: {unit}")
    agg = df.groupBy(F.col(key_col), period_end.alias("period_end")).agg(
        *partial_aggs(value_col)
    )
    return rollup_cell(agg, key_col, "period_end", mincounts_perc)
