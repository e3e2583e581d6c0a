"""Feature/correction query registry (SURVEY §2.4 T8-T10, §2.7 calendar,
§2.3 A2 right-closed bins, §2.9 C1/C2/C4) with exact DuckDB oracles."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diive_spark.operators import corrections as CR
from diive_spark.operators import features as FE
from diive_spark.queries_stats2 import _events


def _es_floor() -> F.Column:
    return F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000).cast(
        "long"
    )


# ---------------------------------------------------------------------------
# lagged_rolling_features — T8 + T9 + T10
# ---------------------------------------------------------------------------

def q_lagged_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "ts",
        "value",
    )
    order = ["ts", "event_id"]
    out = FE.lagged_variants(ev, "user_id", "value", order, shifts=[1, 2, -1])
    out = FE.rolling_variants(out, "user_id", "value", order, window_rows=5)
    out = FE.cumulative_sum(out, "user_id", "value", order)
    return out.select(
        "event_id",
        "user_id",
        F.round("value_lag1", 4).alias("lag1"),
        F.round("value_lag2", 4).alias("lag2"),
        F.round("value_lead1", 4).alias("lead1"),
        F.round("value_rollmean5", 4).alias("rollmean5"),
        F.round("value_rollmax5", 4).alias("rollmax5"),
        F.round("cumsum", 4).alias("cumsum"),
    )


SQL_LAGGED_ROLLING = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       round(lag(value, 1) OVER w, 4) AS lag1,
       round(lag(value, 2) OVER w, 4) AS lag2,
       round(lead(value, 1) OVER w, 4) AS lead1,
       round(CASE WHEN count(value) OVER wr >= 3
                  THEN avg(value) OVER wr END, 4) AS rollmean5,
       round(CASE WHEN count(value) OVER wr >= 3
                  THEN max(value) OVER wr END, 4) AS rollmax5,
       round(sum(value) OVER wc, 4) AS cumsum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
       wr AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       wc AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING)
"""


# ---------------------------------------------------------------------------
# calendar_features — §2.7 date/time family
# ---------------------------------------------------------------------------

def q_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("event_id").cast("long").alias("event_id"), "ts"
    )
    return FE.calendar_features(ev).drop("ts")


SQL_CALENDAR_FEATURES = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(year(ts) AS BIGINT) AS f_year,
       CAST(month(ts) AS BIGINT) AS f_month,
       CAST(weekofyear(ts) AS BIGINT) AS f_week,
       CAST(dayofyear(ts) AS BIGINT) AS f_doy,
       CAST(hour(ts) AS BIGINT) AS f_hour,
       CAST(CASE WHEN month(ts) IN (3, 4, 5) THEN 1
                 WHEN month(ts) IN (6, 7, 8) THEN 2
                 WHEN month(ts) IN (9, 10, 11) THEN 3
                 ELSE 4 END AS BIGINT) AS f_season,
       CAST(year(ts) * 100 + month(ts) AS BIGINT) AS f_yearmonth,
       CAST(year(ts) * 100 + weekofyear(ts) AS BIGINT) AS f_yearweek,
       CAST(year(ts) * 1000 + dayofyear(ts) AS BIGINT) AS f_yeardoy
FROM events
"""


# ---------------------------------------------------------------------------
# monthly_resample_right — A2 (right-closed calendar bins + min-count gate)
# ---------------------------------------------------------------------------

def q_monthly_resample_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value"
    )
    out = FE.resample_calendar_right(
        ev, "user_id", "ts", "value", unit="month", mincounts_perc=0.25
    )
    return out.select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("period_end").cast("timestamp")) / 1_000_000
        ).cast("long").alias("month_end_s"),
        (F.floor(F.col("agg_mean") * 10000 + 0.5) / 10000).alias("agg_mean"),
        (F.floor(F.col("agg_sum") * 10000 + 0.5) / 10000).alias("agg_sum"),
        "n_vals",
    )


SQL_MONTHLY_RESAMPLE = """
WITH agg AS (
  SELECT user_id,
         CAST(floor(epoch(date_trunc('month', ts) + INTERVAL 1 MONTH)) AS BIGINT)
           AS month_end_s,
         avg(value) AS agg_mean, sum(value) AS agg_sum,
         count(value) AS n_vals, count(*) AS n_slots
  FROM events GROUP BY 1, 2
), gated AS (
  SELECT *, max(n_slots) OVER (PARTITION BY user_id) AS maxcount FROM agg
)
SELECT CAST(user_id AS BIGINT) AS user_id, month_end_s,
       floor(agg_mean * 10000 + 0.5) / 10000 AS agg_mean,
       floor(agg_sum * 10000 + 0.5) / 10000 AS agg_sum,
       CAST(n_vals AS BIGINT) AS n_vals
FROM gated
WHERE n_vals >= CASE WHEN floor(maxcount * 0.25) < 3 THEN 1
                     ELSE floor(maxcount * 0.25) END
"""


# ---------------------------------------------------------------------------
# weekly_resample_right — A2 (W policy: right-closed, right-labeled,
# weeks start Monday like diive, frames.py:374-377)
# ---------------------------------------------------------------------------

def q_weekly_resample_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "value"
    )
    out = FE.resample_calendar_right(
        ev, "user_id", "ts", "value", unit="week", mincounts_perc=0.25
    )
    return out.select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("period_end").cast("timestamp")) / 1_000_000
        ).cast("long").alias("week_end_s"),
        # floor-scale instead of round: the mean can land EXACTLY on a
        # .xx5 boundary (sf0.001 hit 62.505) where Spark HALF_UP and
        # DuckDB disagree about the underlying double; floor(x*100+0.5)
        # evaluates the same IEEE double in both engines
        (F.floor(F.col("agg_mean") * 100 + 0.5) / 100).alias("agg_mean"),
        (F.floor(F.col("agg_sum") * 100 + 0.5) / 100).alias("agg_sum"),
        "n_vals",
    )


SQL_WEEKLY_RESAMPLE = """
WITH agg AS (
  SELECT user_id,
         CAST(floor(epoch(date_trunc('week', ts) + INTERVAL 7 DAY)) AS BIGINT)
           AS week_end_s,
         avg(value) AS agg_mean, sum(value) AS agg_sum,
         count(value) AS n_vals, count(*) AS n_slots
  FROM events GROUP BY 1, 2
), gated AS (
  SELECT *, max(n_slots) OVER (PARTITION BY user_id) AS maxcount FROM agg
)
SELECT CAST(user_id AS BIGINT) AS user_id, week_end_s,
       floor(agg_mean * 100 + 0.5) / 100 AS agg_mean,
       floor(agg_sum * 100 + 0.5) / 100 AS agg_sum,
       CAST(n_vals AS BIGINT) AS n_vals
FROM gated
WHERE n_vals >= CASE WHEN floor(maxcount * 0.25) < 3 THEN 1
                     ELSE floor(maxcount * 0.25) END
"""


# ---------------------------------------------------------------------------
# setto_value_ranges — C4 + F7
# ---------------------------------------------------------------------------

RANGES = [
    ("2024-01-05 00:00:00", "2024-01-07 00:00:00", 0.0),
    ("2024-01-20 12:00:00", "2024-01-21 00:00:00", -1.0),
]


def q_setto_value_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("event_id").cast("long").alias("event_id"), "ts", "value"
    )
    out = CR.setto_value_ranges(ev, "ts", "value", RANGES)
    return out.select(
        "event_id",
        F.round("value_set", 4).alias("value_set"),
        "flag_setto_value",
    )


SQL_SETTO_VALUE = f"""
SELECT CAST(event_id AS BIGINT) AS event_id,
       round(CASE
         WHEN ts BETWEEN TIMESTAMP '{RANGES[1][0]}' AND TIMESTAMP '{RANGES[1][1]}'
           THEN {RANGES[1][2]}
         WHEN ts BETWEEN TIMESTAMP '{RANGES[0][0]}' AND TIMESTAMP '{RANGES[0][1]}'
           THEN {RANGES[0][2]}
         ELSE value END, 4) AS value_set,
       CAST(CASE
         WHEN ts BETWEEN TIMESTAMP '{RANGES[0][0]}' AND TIMESTAMP '{RANGES[0][1]}'
           OR ts BETWEEN TIMESTAMP '{RANGES[1][0]}' AND TIMESTAMP '{RANGES[1][1]}'
           THEN 2 ELSE 0 END AS INT) AS flag_setto_value
FROM events
"""


# ---------------------------------------------------------------------------
# rh_offset_correction — C2
# ---------------------------------------------------------------------------

def q_rh_offset_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _events(spark, sf_dir)
        .select(
            F.col("event_id").cast("long").alias("event_id"),
            F.col("user_id").cast("long").alias("user_id"),
            "ts",
            "value",
        )
        .withColumn("day_s", (F.floor(_es_floor() / 86400) * 86400).cast("long"))
    )
    out = CR.rh_offset_correction(
        ev, "user_id", "day_s", "value", order_cols=["ts", "event_id"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("offset_filled", 6).alias("offset_r6"),
        # decimal round() is NOT engine-portable on boundary doubles (Spark
        # BigDecimal-HALF_UP vs DuckDB float rounding disagree on exact
        # x.xxxx5 like 60.57625) -> emit a floor-scaled INTEGER: floor of an
        # identical double is bit-deterministic in both engines
        F.floor((F.col("value") - F.round("offset_filled", 6)) * 10000 + F.lit(0.5))
        .cast("long")
        .alias("value_corr_e4"),
    )


SQL_RH_OFFSET = """
WITH e AS (
  SELECT event_id, user_id, ts, value,
         CAST(floor(floor(epoch(ts)) / 86400) * 86400 AS BIGINT) AS day_s
  FROM events
), d AS (
  SELECT *, avg(CASE WHEN value > 100.0 THEN value - 100.0 END)
              OVER (PARTITION BY user_id, day_s) AS day_off
  FROM e
), pos AS (
  SELECT *, row_number() OVER wo AS p FROM d
  WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id)
), ctx AS (
  SELECT *,
         last_value(day_off IGNORE NULLS) OVER wp AS prev_v,
         last_value(CASE WHEN day_off IS NOT NULL THEN p END IGNORE NULLS) OVER wp AS prev_p,
         first_value(day_off IGNORE NULLS) OVER wn AS next_v,
         first_value(CASE WHEN day_off IS NOT NULL THEN p END IGNORE NULLS) OVER wn AS next_p
  FROM pos
  WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wn AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
), filled AS (
  SELECT *,
         coalesce(
           day_off,
           CASE WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                THEN prev_v + (next_v - prev_v) * (p - prev_p) / (next_p - prev_p) END,
           prev_v,
           next_v,
           0.0) AS off
  FROM ctx
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       round(off, 6) AS offset_r6,
       CAST(floor((value - round(off, 6)) * 10000 + 0.5) AS BIGINT) AS value_corr_e4
FROM filled
"""


# ---------------------------------------------------------------------------
# radiation_offset_correction — C1 (night = hour < 6)
# ---------------------------------------------------------------------------

def q_radiation_offset_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    hour = F.floor(F.pmod(_es_floor(), 86400) / 3600)
    ev = (
        _events(spark, sf_dir)
        .select(
            F.col("event_id").cast("long").alias("event_id"),
            F.col("user_id").cast("long").alias("user_id"),
            "ts",
            "value",
        )
        .withColumn("day_s", (F.floor(_es_floor() / 86400) * 86400).cast("long"))
        .withColumn("is_night", (hour < 6).cast("int"))
        # sf0.1-sweep hardening: nightly-offset means are order-dependent
        # double sums — run the operator on e4-INTEGER-valued doubles
        # (exact partials in any order) and floor-offset the outputs
        .withColumn(
            "value",
            F.floor(F.col("value") * 10_000 + F.lit(0.31830988618367))
            .cast("double"),
        )
    )
    out = CR.radiation_offset_correction(
        ev, "user_id", "day_s", "value", "is_night"
    )
    off_v = (
        F.floor(F.col("offset_applied") * 100 + F.lit(0.31830988618367))
        / 1_000_000.0
    )  # e4-scale offset -> value scale at 6 decimals
    return out.select(
        "event_id",
        "user_id",
        "is_night",
        off_v.alias("offset_r6"),
        (
            F.floor(
                F.when(F.col("is_night") == 1, F.lit(0.0)).otherwise(
                    F.greatest(
                        F.col("value") / 10_000.0 - off_v, F.lit(0.0)
                    )
                )
                * 10_000
                + F.lit(0.31830988618367)
            )
            / 10_000.0
        ).alias("value_corr"),
    )


SQL_RADIATION_OFFSET = """
WITH e AS (
  -- e4-integer values, mirrors Spark (see query comment)
  SELECT event_id, user_id,
         floor(value * 10000 + 0.31830988618367) AS value,
         CAST(floor(floor(epoch(ts)) / 86400) * 86400 AS BIGINT) AS day_s,
         CASE WHEN floor((CAST(floor(epoch(ts)) AS BIGINT) % 86400) / 3600) < 6
              THEN 1 ELSE 0 END AS is_night
  FROM events
), d AS (
  SELECT *, avg(CASE WHEN is_night = 1 THEN value END)
              OVER (PARTITION BY user_id, day_s) AS day_off
  FROM e
), med AS (
  SELECT user_id, quantile_cont(day_off, 0.5) AS median_off
  FROM (SELECT DISTINCT user_id, day_s, day_off FROM d)
  GROUP BY 1
), j AS (
  SELECT d.*, coalesce(d.day_off, m.median_off, 0.0) AS off
  FROM d JOIN med m USING (user_id)
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(is_night AS INT) AS is_night,
       floor(off * 100 + 0.31830988618367) / 1000000.0 AS offset_r6,
       floor((CASE WHEN is_night = 1 THEN 0.0
              ELSE greatest(value / 10000.0
                            - floor(off * 100 + 0.31830988618367)
                              / 1000000.0, 0.0) END) * 10000
             + 0.31830988618367) / 10000.0 AS value_corr
FROM j
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "lagged_rolling_features": q_lagged_rolling_features,
    "calendar_features": q_calendar_features,
    "monthly_resample_right": q_monthly_resample_right,
    "weekly_resample_right": q_weekly_resample_right,
    "setto_value_ranges": q_setto_value_ranges,
    "rh_offset_correction": q_rh_offset_correction,
    "radiation_offset_correction": q_radiation_offset_correction,
}

ORACLE_SQL: dict[str, str] = {
    "lagged_rolling_features": SQL_LAGGED_ROLLING,
    "calendar_features": SQL_CALENDAR_FEATURES,
    "monthly_resample_right": SQL_MONTHLY_RESAMPLE,
    "weekly_resample_right": SQL_WEEKLY_RESAMPLE,
    "setto_value_ranges": SQL_SETTO_VALUE,
    "rh_offset_correction": SQL_RH_OFFSET,
    "radiation_offset_correction": SQL_RADIATION_OFFSET,
}
