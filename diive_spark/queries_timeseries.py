"""Time-series query registry, part 2: as-of join, LTTB downsampling,
and mergeable-sketch distinct tiers — the ts-engine surface beyond the
reference's own pipeline (kdb `aj` / TimescaleDB `time_bucket` world).

The as-of oracle uses DuckDB's NATIVE ``ASOF JOIN`` — a completely
independent implementation of the same semantics, so the compare
validates the union+carry-forward formulation, not shared code.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diive_spark.operators.asofjoin import asof_join_backward
from diive_spark.queries_stats2 import _events


def _epoch_s(col: str) -> F.Column:
    return F.floor(
        F.unix_micros(F.col(col).cast("timestamp")) / 1_000_000
    ).cast("long")


# ---------------------------------------------------------------------------
# asof_join_events — for each click, the latest at-or-before view per user
# ---------------------------------------------------------------------------

_ASOF_TOL_S = 3600  # 1 h


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", _epoch_s("ts").alias("ts_s"),
        "event_type", "value",
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_s", "event_id", F.col("value").alias("click_value")
    )
    # right side must be unique per (user, second): keep the max event_id
    # (second-truncation can collide micro-distinct rows)
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts_s")
        .agg(
            F.max_by("value", "event_id").alias("view_value"),
        )
    )
    out = asof_join_backward(
        clicks,
        views,
        on="ts_s",
        by="user_id",
        value_cols=["view_value"],
        tolerance=_ASOF_TOL_S,
    )
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "ts_s",
        F.round("click_value", 4).alias("click_value"),
        F.round("asof_view_value", 4).alias("asof_view_value"),
        F.col("asof_ts_s").cast("long").alias("asof_ts_s"),
    ).orderBy("event_id")


SQL_ASOF_JOIN = f"""
WITH ev AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         event_type, value
  FROM events
), clicks AS (
  SELECT user_id, ts_s, event_id, value AS click_value FROM ev
  WHERE event_type = 'click'
), views AS (
  SELECT user_id, ts_s, max_by(value, event_id) AS view_value
  FROM ev WHERE event_type = 'view' GROUP BY user_id, ts_s
), j AS (
  SELECT c.event_id, c.user_id, c.ts_s, c.click_value,
         v.view_value, v.ts_s AS v_ts_s
  FROM clicks c ASOF LEFT JOIN views v
    ON c.user_id = v.user_id AND c.ts_s >= v.ts_s
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id, ts_s,
       round(click_value, 4) AS click_value,
       CASE WHEN v_ts_s IS NOT NULL AND ts_s - v_ts_s <= {_ASOF_TOL_S}
            THEN round(view_value, 4) END AS asof_view_value,
       CASE WHEN v_ts_s IS NOT NULL AND ts_s - v_ts_s <= {_ASOF_TOL_S}
            THEN CAST(v_ts_s AS BIGINT) END AS asof_ts_s
FROM j ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# lttb_downsample — shape-preserving visualization downsample (rows-only:
# the pick-dependent selection loop is not SQL-expressible; exactness is
# pinned kernel==distributed in tests/test_lttb_hll.py)
# ---------------------------------------------------------------------------

def q_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.lttb import lttb_downsample

    ev = _events(spark, sf_dir).select(
        F.col("user_id"), _epoch_s("ts").alias("ts_s"), "value"
    )
    out = lttb_downsample(
        ev, key_col="user_id", x_col="ts_s", y_col="value", n_out=20
    )
    return out.select(
        "user_id", "ts_s", F.round("value", 4).alias("value")
    ).orderBy("user_id", "ts_s")


# ---------------------------------------------------------------------------
# tier_distinct_hll — mergeable-sketch distinct counts per tier (rows-only:
# the sketch estimate is engine-specific; the mergeability contract —
# union of minute partials == direct hour sketch, within 2% of exact —
# is asserted in tests/test_lttb_hll.py)
# ---------------------------------------------------------------------------

def q_tier_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        (F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 60_000_000
        )).alias("m"),
        "user_id",
    )
    minute = ev.groupBy("m").agg(F.hll_sketch_agg("user_id").alias("sk"))
    hour = (
        minute.withColumn("h", F.floor(F.col("m") / 60))
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_minutes"),
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("distinct_users_est"),
        )
    )
    return hour.select(
        F.col("h").cast("long").alias("hour_idx"),
        "n_minutes",
        "distinct_users_est",
    ).orderBy("hour_idx")


# ---------------------------------------------------------------------------
# sessionize_events — gap-timeout sessions per user (30-min timeout)
# ---------------------------------------------------------------------------

_SESSION_TIMEOUT_S = 1800


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.sessionize import session_stats

    ev = _events(spark, sf_dir).select(
        "user_id", _epoch_s("ts").alias("ts_s"), "event_type"
    )
    out = session_stats(
        ev,
        key_col="user_id",
        ts_col="ts_s",
        timeout=_SESSION_TIMEOUT_S,
        extra_aggs=[
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            ).cast("long").alias("n_clicks"),
        ],
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "session_idx",
        F.col("session_start").cast("long").alias("start_s"),
        F.col("session_end").cast("long").alias("end_s"),
        F.col("duration").cast("long").alias("duration_s"),
        "n_events",
        "n_clicks",
    ).orderBy("user_id", "session_idx")


SQL_SESSIONIZE = f"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_type
  FROM events
), g AS (
  SELECT *, CASE WHEN LAG(ts_s) OVER w IS NULL
                   OR ts_s - LAG(ts_s) OVER w > {_SESSION_TIMEOUT_S}
                 THEN 1 ELSE 0 END AS is_new
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)
), s AS (
  SELECT *, SUM(is_new) OVER (
      PARTITION BY user_id ORDER BY ts_s
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS session_idx FROM g
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(session_idx AS BIGINT) AS session_idx,
       MIN(ts_s) AS start_s, MAX(ts_s) AS end_s,
       MAX(ts_s) - MIN(ts_s) AS duration_s,
       COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clicks
FROM s GROUP BY user_id, session_idx ORDER BY user_id, session_idx
"""


# ---------------------------------------------------------------------------
# funnel_events — view → click → purchase conversion funnel
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ["view", "click", "purchase"]


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.funnel import funnel_report

    ev = _events(spark, sf_dir).select(
        "user_id", _epoch_s("ts").alias("ts_s"), "event_type"
    )
    return funnel_report(
        ev,
        key_col="user_id",
        ts_col="ts_s",
        type_col="event_type",
        steps=_FUNNEL_STEPS,
    ).orderBy("step_idx")


SQL_FUNNEL = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_type
  FROM events
), w1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts_s END)
              OVER (PARTITION BY user_id) AS step1_ts
  FROM ev
), w2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts_s >= step1_ts
                     THEN ts_s END)
              OVER (PARTITION BY user_id) AS step2_ts
  FROM w1
), w3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts_s >= step2_ts
                     THEN ts_s END)
              OVER (PARTITION BY user_id) AS step3_ts
  FROM w2
), pk AS (
  SELECT user_id, MIN(step1_ts) AS s1, MIN(step2_ts) AS s2,
         MIN(step3_ts) AS s3
  FROM w3 GROUP BY user_id
)
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS step_idx, 'view' AS step,
         COUNT(s1) AS n_keys,
         CAST(floor(AVG(s1 - s1) * 1000 + 0.5) AS BIGINT)
           AS mean_s_from_start_ms
  FROM pk
  UNION ALL
  SELECT CAST(2 AS BIGINT), 'click', COUNT(s2),
         CAST(floor(AVG(s2 - s1) * 1000 + 0.5) AS BIGINT) FROM pk
  UNION ALL
  SELECT CAST(3 AS BIGINT), 'purchase', COUNT(s3),
         CAST(floor(AVG(s3 - s1) * 1000 + 0.5) AS BIGINT) FROM pk
) ORDER BY step_idx
"""


# ---------------------------------------------------------------------------
# tier_quantile_hist — mergeable histogram quantile tiers (minute → hour)
# ---------------------------------------------------------------------------
# gmin/gmax are FIXED sketch parameters (any out-of-range value clips into
# the edge bins), chosen so the bin width 500/128 = 3.90625 is a binary-
# exact double: every emitted edge is bit-identical across IEEE engines,
# no rounding convention needed.

_TQ_GMIN, _TQ_GMAX, _TQ_BINS = 0.0, 500.0, 128


def q_tier_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.tierquantile import (
        hist_tier, merge_tier, tier_quantiles,
    )

    ev = _events(spark, sf_dir).select(
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 60_000_000
        ).cast("long").alias("m"),
        "value",
    )
    fine = hist_tier(
        ev, F.col("m"), "value", _TQ_GMIN, _TQ_GMAX, _TQ_BINS
    )
    hour = merge_tier(fine, lambda b: F.floor(b / 60).cast("long"))
    out = tier_quantiles(
        hour, [0.5, 0.95, 0.99], _TQ_GMIN, _TQ_GMAX, _TQ_BINS
    )
    return out.select(
        F.col("bucket").cast("long").alias("hour_idx"),
        "n_points", "p50", "p95", "p99",
    ).orderBy("hour_idx")


SQL_TIER_QUANTILE_HIST = f"""
WITH ev AS (
  SELECT CAST(floor(epoch(ts) / 60) AS BIGINT) AS m, value FROM events
), b AS (
  SELECT m, LEAST({_TQ_BINS - 1}, GREATEST(0,
           CAST(floor((value - {_TQ_GMIN}) / ({_TQ_GMAX} - {_TQ_GMIN})
                      * {_TQ_BINS}) AS BIGINT))) AS bin
  FROM ev
), fine AS (
  SELECT m, bin, COUNT(*) AS n FROM b GROUP BY m, bin
), coarse AS (
  SELECT CAST(floor(m / 60.0) AS BIGINT) AS bucket, bin,
         SUM(n) AS n
  FROM fine GROUP BY 1, 2
), cum AS (
  SELECT bucket, bin, n,
         SUM(n) OVER (PARTITION BY bucket ORDER BY bin) AS cum,
         SUM(n) OVER (PARTITION BY bucket) AS total
  FROM coarse
)
SELECT CAST(bucket AS BIGINT) AS hour_idx,
       CAST(MAX(total) AS BIGINT) AS n_points,
       {_TQ_GMIN} + (MIN(CASE WHEN cum >= CEIL(0.50 * total)
                              THEN bin END) + 1)
         * (({_TQ_GMAX} - {_TQ_GMIN}) / {_TQ_BINS}) AS p50,
       {_TQ_GMIN} + (MIN(CASE WHEN cum >= CEIL(0.95 * total)
                              THEN bin END) + 1)
         * (({_TQ_GMAX} - {_TQ_GMIN}) / {_TQ_BINS}) AS p95,
       {_TQ_GMIN} + (MIN(CASE WHEN cum >= CEIL(0.99 * total)
                              THEN bin END) + 1)
         * (({_TQ_GMAX} - {_TQ_GMIN}) / {_TQ_BINS}) AS p99
FROM cum GROUP BY bucket ORDER BY hour_idx
"""


# ---------------------------------------------------------------------------
# tier_topk_users — per-hour heavy hitters (top-3 by event count)
# ---------------------------------------------------------------------------
# groupBy(hour, user) count is map-side combinable; the rank filter
# compiles to WindowGroupLimit (partial top-k per partition BEFORE the
# final sort — verified in PLANS.md §28), so no hour's full user list is
# ever materialized.  Deterministic tie-break by user_id.

_TOPK_N = 3


def q_tier_topk_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 3_600_000_000
        ).cast("long").alias("hour_idx"),
        "user_id",
    )
    counts = ev.groupBy("hour_idx", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    w = Window.partitionBy("hour_idx").orderBy(
        F.desc("n_events"), F.col("user_id")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= _TOPK_N)
        .select(
            "hour_idx",
            "rank",
            F.col("user_id").cast("long").alias("user_id"),
            "n_events",
        )
        .orderBy("hour_idx", "rank")
    )


SQL_TIER_TOPK_USERS = f"""
WITH c AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_idx,
         user_id, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
), r AS (
  SELECT *, ROW_NUMBER() OVER (
      PARTITION BY hour_idx ORDER BY n_events DESC, user_id
  ) AS rank
  FROM c
)
SELECT hour_idx, CAST(rank AS BIGINT) AS rank,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(n_events AS BIGINT) AS n_events
FROM r WHERE rank <= {_TOPK_N} ORDER BY hour_idx, rank
"""


# ---------------------------------------------------------------------------
# seasonal_decompose — classical additive trend/seasonal/resid split of the
# hourly rollup (operators/seasonal.py; the tier-anomaly screen's input)
# ---------------------------------------------------------------------------

def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators import seasonal as SEA

    ev = _events(spark, sf_dir)
    hr = (F.floor(_epoch_s("ts") / 3600) * 3600).cast("long")
    # hourly rollup first (map-side combinable; input to the window pass
    # scales with the time span, not event volume); y pre-rounded so both
    # engines decompose identical doubles
    hourly = ev.groupBy(hr.alias("ts_s")).agg(
        F.round(F.avg("value"), 4).alias("y")
    )
    out = SEA.classical_decompose(
        hourly, ts_col="ts_s", value_col="y", period=24
    )
    return out.select(
        "ts_s",
        "y",
        F.col("phase").cast("long").alias("phase"),
        F.round("trend", 2).alias("trend"),
        F.round("seasonal", 2).alias("seasonal"),
        F.round("resid", 2).alias("resid"),
    ).orderBy("ts_s")


SQL_SEASONAL_DECOMPOSE = """
WITH h AS (
  SELECT CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS ts_s,
         round(avg(value), 4) AS y
  FROM events GROUP BY 1
), t AS (
  SELECT ts_s, y,
         CAST(ts_s / 3600 AS BIGINT) % 24 AS phase,
         CASE WHEN count(y) OVER w25 = 25 THEN
           (sum(y) OVER w25
              - 0.5 * lag(y, 12) OVER wo
              - 0.5 * lead(y, 12) OVER wo) / 24.0
         END AS trend
  FROM h
  WINDOW wo AS (ORDER BY ts_s),
         w25 AS (ORDER BY ts_s ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), s AS (
  SELECT *,
         avg(y - trend) OVER (PARTITION BY phase) AS sraw,
         row_number() OVER (PARTITION BY phase ORDER BY ts_s) AS rn
  FROM t
), g AS (
  SELECT *, sum(CASE WHEN rn = 1 THEN sraw END) OVER ()
            / count(CASE WHEN rn = 1 THEN 1 END) OVER () AS grand
  FROM s
)
SELECT ts_s, y, CAST(phase AS BIGINT) AS phase,
       round(trend, 2) AS trend,
       round(sraw - grand, 2) AS seasonal,
       round(y - trend - (sraw - grand), 2) AS resid
FROM g ORDER BY ts_s
"""


# ---------------------------------------------------------------------------
# cusum_shift — two-sided CUSUM mean-shift statistics per event type over
# the hourly rollup (closed-form cumsum − running-min; operators/seasonal.py)
# ---------------------------------------------------------------------------

def q_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators import seasonal as SEA

    ev = _events(spark, sf_dir)
    hr = (F.floor(_epoch_s("ts") / 3600) * 3600).cast("long")
    # exact e4-floored hourly mean — same hardening as ewma_hourly
    hourly = ev.groupBy(
        "event_type", hr.alias("ts_s")
    ).agg(
        (
            F.floor(
                F.sum(
                    F.floor(F.col("value") * 10_000 + F.lit(0.31830988618367))
                    .cast("long")
                ).cast("double")
                / F.count(F.lit(1))
                + F.lit(0.31830988618367)
            )
            / 10_000.0
        ).alias("y")
    )
    out = SEA.cusum_flags(
        hourly, ts_col="ts_s", value_col="y", by=["event_type"],
        drift_k=0.5, threshold_h=5.0,
    )
    return out.select(
        "event_type",
        "ts_s",
        "y",
        F.round("s_up", 2).alias("s_up"),
        F.round("s_dn", 2).alias("s_dn"),
        F.col("alarm").cast("long").alias("alarm"),
    ).orderBy("event_type", "ts_s")


SQL_CUSUM_SHIFT = """
WITH h AS (
  -- exact e4-floored hourly mean, mirrors Spark
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS ts_s,
         floor(CAST(sum(CAST(floor(value * 10000 + 0.31830988618367)
                             AS BIGINT)) AS DOUBLE)
               / count(*) + 0.31830988618367) / 10000.0 AS y
  FROM events GROUP BY 1, 2
), z AS (
  SELECT event_type, ts_s, y,
         (y - avg(y) OVER wk) / stddev_samp(y) OVER wk AS zz
  FROM h
  WINDOW wk AS (PARTITION BY event_type)
), c AS (
  SELECT event_type, ts_s, y,
         sum(zz - 0.5) OVER wc AS c_up,
         sum(-zz - 0.5) OVER wc AS c_dn
  FROM z
  WINDOW wc AS (PARTITION BY event_type ORDER BY ts_s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s AS (
  SELECT event_type, ts_s, y,
         c_up - min(least(c_up, 0.0)) OVER wc AS s_up,
         c_dn - min(least(c_dn, 0.0)) OVER wc AS s_dn
  FROM c
  WINDOW wc AS (PARTITION BY event_type ORDER BY ts_s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, ts_s, y,
       round(s_up, 2) AS s_up, round(s_dn, 2) AS s_dn,
       CAST(((s_up > 5.0 AND lag(s_up, 1, 0.0) OVER wo <= 5.0)
          OR (s_dn > 5.0 AND lag(s_dn, 1, 0.0) OVER wo <= 5.0)) AS BIGINT)
         AS alarm
FROM s
WINDOW wo AS (PARTITION BY event_type ORDER BY ts_s)
ORDER BY event_type, ts_s
"""


# ---------------------------------------------------------------------------
# counter_rate_tiers — PromQL-style reset-aware increase/rate per (user, hour)
# (operators/counters.py; the counter analog of the gauge mean tiers)
# ---------------------------------------------------------------------------
# Duplicate (user, second) samples are collapsed with max_by(value, event_id)
# first so the lag order is deterministic in both engines.

def q_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.counters import counter_increase

    ev = (
        _events(spark, sf_dir)
        .select("user_id", _epoch_s("ts").alias("ts_s"), "event_id", "value")
        .groupBy("user_id", "ts_s")
        .agg(F.max_by("value", "event_id").alias("v"))
    )
    out = counter_increase(
        ev,
        key_cols=["user_id"],
        ts_col="ts_s",
        value_col="v",
        bucket=F.floor(F.col("ts_s") / 3600).cast("long"),
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("bucket").alias("hour_idx"),
        "increase",
        "rate_per_s",
        "n_samples",
        "n_resets",
    ).orderBy("user_id", "hour_idx")


SQL_COUNTER_RATE = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         max_by(value, event_id) AS v
  FROM events GROUP BY 1, 2
), d AS (
  SELECT user_id, ts_s, v,
         CAST(floor(ts_s / 3600) AS BIGINT) AS hour_idx,
         LAG(ts_s) OVER w AS pt,
         CASE WHEN LAG(v) OVER w IS NULL THEN NULL
              WHEN v >= LAG(v) OVER w THEN v - LAG(v) OVER w
              ELSE v END AS delta,
         CASE WHEN LAG(v) OVER w IS NULL THEN 0
              WHEN v < LAG(v) OVER w THEN 1 ELSE 0 END AS reset
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)
)
SELECT CAST(user_id AS BIGINT) AS user_id, hour_idx,
       round(sum(delta), 4) AS increase,
       round(sum(delta)
             / nullif(CAST(sum(CASE WHEN pt IS NOT NULL
                                    THEN ts_s - pt END) AS DOUBLE), 0),
             6) AS rate_per_s,
       COUNT(*) AS n_samples,
       CAST(sum(reset) AS BIGINT) AS n_resets
FROM d GROUP BY 1, 2 ORDER BY user_id, hour_idx
"""


# ---------------------------------------------------------------------------
# time_weighted_hourly — LOCF time-weighted gauge average per (user, hour)
# (operators/counters.py; timescaledb time_weight('LOCF') analog)
# ---------------------------------------------------------------------------

def q_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.counters import time_weighted_avg

    ev = (
        _events(spark, sf_dir)
        .select("user_id", _epoch_s("ts").alias("ts_s"), "value")
        .groupBy("user_id", "ts_s")
        .agg(F.round(F.avg("value"), 4).alias("v"))
    )
    out = time_weighted_avg(
        ev,
        key_cols=["user_id"],
        ts_col="ts_s",
        value_col="v",
        bucket=F.floor(F.col("ts_s") / 3600).cast("long"),
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("bucket").alias("hour_idx"),
        "twa",
        "plain_mean",
        "n_samples",
    ).orderBy("user_id", "hour_idx")


SQL_TIME_WEIGHTED = """
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         round(avg(value), 4) AS v
  FROM events GROUP BY 1, 2
), b AS (
  SELECT user_id, CAST(floor(ts_s / 3600) AS BIGINT) AS hour_idx, ts_s, v
  FROM ev
), w AS (
  SELECT *, CAST(LEAD(ts_s) OVER (PARTITION BY user_id, hour_idx
                                  ORDER BY ts_s) - ts_s AS DOUBLE) AS wgt
  FROM b
)
SELECT CAST(user_id AS BIGINT) AS user_id, hour_idx,
       round(CASE WHEN sum(wgt) > 0 THEN sum(v * wgt) / sum(wgt)
                  ELSE avg(v) END, 4) AS twa,
       round(avg(v), 4) AS plain_mean,
       COUNT(*) AS n_samples
FROM w GROUP BY 1, 2 ORDER BY user_id, hour_idx
"""


# ---------------------------------------------------------------------------
# ewma_hourly — truncated EWMA smoothing of the hourly rollup per event type
# (operators/counters.py::ewma_truncated; binary-exact 3/4 decay weights)
# ---------------------------------------------------------------------------

_EWMA_DECAY = 0.75
_EWMA_K = 16


def q_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.counters import ewma_truncated

    ev = _events(spark, sf_dir)
    # exact e4-floored hourly mean (sf0.1 sweep): round(avg(value), 4)
    # drifts by a summation-order ulp at round boundaries and the EWMA
    # chain amplifies the differing hour into neighbouring rows; the
    # integer-sum mean is bit-identical in both engines
    hourly = ev.groupBy(
        "event_type",
        F.floor(_epoch_s("ts") / 3600).cast("long").alias("hr"),
    ).agg(
        (
            F.floor(
                F.sum(
                    F.floor(F.col("value") * 10_000 + F.lit(0.31830988618367))
                    .cast("long")
                ).cast("double")
                / F.count(F.lit(1))
                + F.lit(0.31830988618367)
            )
            / 10_000.0
        ).alias("y")
    )
    out = ewma_truncated(
        hourly, key_cols=["event_type"], ts_col="hr", value_col="y",
        decay=_EWMA_DECAY, k=_EWMA_K,
    )
    return out.select("event_type", "hr", "y", "ewma").orderBy(
        "event_type", "hr"
    )


def _sql_ewma() -> str:
    num = " + ".join(
        f"coalesce(lag(y, {j}) OVER w * {_EWMA_DECAY**j!r}, 0.0)"
        if j else f"coalesce(y * 1.0, 0.0)"
        for j in range(_EWMA_K)
    )
    den = " + ".join(
        f"(CASE WHEN lag(y, {j}) OVER w IS NOT NULL THEN {_EWMA_DECAY**j!r} ELSE 0.0 END)"
        if j else "(CASE WHEN y IS NOT NULL THEN 1.0 ELSE 0.0 END)"
        for j in range(_EWMA_K)
    )
    return f"""
WITH h AS (
  -- exact e4-floored hourly mean, mirrors Spark (see query comment)
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS hr,
         floor(CAST(sum(CAST(floor(value * 10000 + 0.31830988618367)
                             AS BIGINT)) AS DOUBLE)
               / count(*) + 0.31830988618367) / 10000.0 AS y
  FROM events GROUP BY 1, 2
)
SELECT event_type, hr, y,
       round(({num}) / ({den}), 4) AS ewma
FROM h
WINDOW w AS (PARTITION BY event_type ORDER BY hr)
ORDER BY event_type, hr
"""


SQL_EWMA_HOURLY = _sql_ewma()


# ---------------------------------------------------------------------------
# acf_hourly — staggered-series autocorrelation, lags 1..12, per event type
# (operators/counters.py::acf; one WindowExec builds all lag columns)
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 12


def q_acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.counters import acf

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        F.floor(_epoch_s("ts") / 3600).cast("long").alias("hr"),
    ).agg(F.round(F.avg("value"), 4).alias("y"))
    out = acf(
        hourly,
        key_cols=["event_type"],
        ts_col="hr",
        value_col="y",
        max_lag=_ACF_MAX_LAG,
    )
    return out.select("event_type", "lag", "acf", "n_pairs").orderBy(
        "event_type", "lag"
    )


SQL_ACF_HOURLY = f"""
WITH h AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS hr,
         round(avg(value), 4) AS y
  FROM events GROUP BY 1, 2
), r AS (
  SELECT event_type, hr, y,
         row_number() OVER (PARTITION BY event_type ORDER BY hr) AS rn
  FROM h
), ks AS (
  SELECT UNNEST(range(1, {_ACF_MAX_LAG + 1})) AS lag
)
SELECT a.event_type, CAST(ks.lag AS BIGINT) AS lag,
       round(corr(a.y, b.y), 4) AS acf,
       COUNT(*) AS n_pairs
FROM r a
JOIN ks ON true
JOIN r b ON b.event_type = a.event_type AND b.rn = a.rn - ks.lag
GROUP BY 1, 2 ORDER BY a.event_type, lag
"""


# ---------------------------------------------------------------------------
# hw_forecast — Holt-Winters additive fit + 24-step forecast per event type
# (operators/holtwinters.py; rows-only: the level/trend/season recursion is
# inherently sequential and not SQL-expressible — exactness is pinned
# kernel==numpy in tests/test_holtwinters.py)
# ---------------------------------------------------------------------------

def q_hw_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.holtwinters import holt_winters

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        (F.floor(_epoch_s("ts") / 3600) * 3600).cast("long").alias("ts_s"),
    ).agg(F.round(F.avg("value"), 4).alias("y"))
    out = holt_winters(
        hourly, key_cols=["event_type"], ts_col="ts_s", value_col="y",
        period=24, horizon=24,
    )
    return out.select(
        "event_type", "ts_s", "kind",
        F.round("y", 4).alias("y"),
        F.round("yhat", 4).alias("yhat"),
    ).orderBy("event_type", "ts_s", "kind")


# ---------------------------------------------------------------------------
# interval_join_sessions — point-in-interval containment join: each click
# event attached to the gap-timeout session that contains it
# (operators/intervaljoin.py; bucket-banded equi-join, no theta-join BNL)
# ---------------------------------------------------------------------------

def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.intervaljoin import point_in_interval_join
    from diive_spark.operators.sessionize import session_stats

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", _epoch_s("ts").alias("ts_s"), "event_type"
    )
    sessions = session_stats(
        ev, key_col="user_id", ts_col="ts_s", timeout=_SESSION_TIMEOUT_S
    ).select(
        "user_id",
        F.col("session_idx"),
        F.col("session_start").cast("long").alias("start_s"),
        F.col("session_end").cast("long").alias("end_s"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts_s"
    )
    out = point_in_interval_join(
        clicks, sessions, key_col="user_id", ts_col="ts_s",
        start_col="start_s", end_col="end_s", bucket_s=3600,
    )
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "ts_s",
        F.col("session_idx").cast("long").alias("session_idx"),
        "start_s",
        "end_s",
    ).orderBy("event_id")


SQL_INTERVAL_JOIN = f"""
WITH ev AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
         event_type
  FROM events
), g AS (
  SELECT *, CASE WHEN LAG(ts_s) OVER w IS NULL
                   OR ts_s - LAG(ts_s) OVER w > {_SESSION_TIMEOUT_S}
                 THEN 1 ELSE 0 END AS is_new
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)
), s AS (
  SELECT *, SUM(is_new) OVER (
      PARTITION BY user_id ORDER BY ts_s
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS session_idx FROM g
), sessions AS (
  SELECT user_id, session_idx, MIN(ts_s) AS start_s, MAX(ts_s) AS end_s
  FROM s GROUP BY user_id, session_idx
)
SELECT CAST(c.event_id AS BIGINT) AS event_id,
       CAST(c.user_id AS BIGINT) AS user_id, c.ts_s,
       CAST(v.session_idx AS BIGINT) AS session_idx,
       v.start_s, v.end_s
FROM ev c JOIN sessions v
  ON v.user_id = c.user_id AND c.ts_s BETWEEN v.start_s AND v.end_s
WHERE c.event_type = 'click'
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# crawl_change_rate — recrawl change detection over the north-rule page key
# (url, warc_ts): per url, crawl count, content-change count (hash != previous
# hash), change rate, and median recrawl interval.  The crawl history is
# synthesized DETERMINISTICALLY from documents (5 recrawls per url; text
# mutated on a fixed schedule) so both engines derive the identical table —
# the pattern every perturbed-corpus dedup query uses.
# ---------------------------------------------------------------------------

_CRAWLS_PER_URL = 5
_CRAWL_STEP_S = 86_400  # daily recrawl


def _crawl_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (url, warc_ts_s, text) recrawl table both engines
    derive identically — see q_crawl_change_rate."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    return d.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(0), F.lit(_CRAWLS_PER_URL - 1))
        ).alias("crawl_idx"),
    ).select(
        F.concat(F.lit("https://site"), (F.col("doc_id") % 50).cast("string"),
                 F.lit("/p"), F.col("doc_id").cast("string")).alias("url"),
        (F.col("doc_id") * 7 % 1000 + F.col("crawl_idx") * _CRAWL_STEP_S)
        .cast("long").alias("warc_ts_s"),
        # the page content changes on crawls where (doc_id + crawl_idx) % 3
        # == 0: a deterministic edit both engines replicate exactly
        F.when(
            (F.col("doc_id") + F.col("crawl_idx")) % 3 == 0,
            F.concat(F.col("text"), F.lit(" v"),
                     F.col("crawl_idx").cast("string")),
        ).otherwise(F.col("text")).alias("text"),
    )


def q_crawl_change_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    crawls = _crawl_history(spark, sf_dir)
    w = Window.partitionBy("url").orderBy("warc_ts_s")
    h = F.md5("text")
    changed = (
        F.lag(h).over(w).isNotNull() & (h != F.lag(h).over(w))
    ).cast("long")
    gap = F.col("warc_ts_s") - F.lag("warc_ts_s").over(w)
    per_crawl = crawls.select(
        "url", "warc_ts_s", changed.alias("chg"), gap.alias("gap_s")
    )
    return (
        per_crawl.groupBy("url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_crawls"),
            F.sum("chg").cast("long").alias("n_changes"),
            F.round(F.sum("chg") / (F.count(F.lit(1)) - 1), 4).alias(
                "change_rate"
            ),
            F.expr("percentile(gap_s, 0.5)").cast("long").alias(
                "median_interval_s"
            ),
        )
        .orderBy("url")
    )


SQL_CRAWL_CHANGE_RATE = f"""
WITH crawls AS (
  SELECT 'https://site' || CAST(doc_id % 50 AS VARCHAR)
           || '/p' || CAST(doc_id AS VARCHAR) AS url,
         CAST((doc_id * 7) % 1000 + ci.crawl_idx * {_CRAWL_STEP_S} AS BIGINT)
           AS warc_ts_s,
         CASE WHEN (doc_id + ci.crawl_idx) % 3 = 0
              THEN text || ' v' || CAST(ci.crawl_idx AS VARCHAR)
              ELSE text END AS text
  FROM documents,
       (SELECT UNNEST(range({_CRAWLS_PER_URL})) AS crawl_idx) ci
), per AS (
  SELECT url, warc_ts_s,
         CAST(LAG(md5(text)) OVER w IS NOT NULL
              AND md5(text) <> LAG(md5(text)) OVER w AS BIGINT) AS chg,
         warc_ts_s - LAG(warc_ts_s) OVER w AS gap_s
  FROM crawls WINDOW w AS (PARTITION BY url ORDER BY warc_ts_s)
)
SELECT url, COUNT(*) AS n_crawls,
       CAST(SUM(chg) AS BIGINT) AS n_changes,
       round(SUM(chg) * 1.0 / (COUNT(*) - 1), 4) AS change_rate,
       CAST(quantile_cont(gap_s, 0.5) AS BIGINT) AS median_interval_s
FROM per GROUP BY url ORDER BY url
"""


# ---------------------------------------------------------------------------
# recrawl_priority — adaptive recrawl scheduling from observed change rates
# (Cho & Garcia-Molina 2003): under a uniform-change model the expected
# number of missed updates since the last crawl is change_rate · staleness,
# so the frontier orders by that product.  One window pass + one groupBy
# over the same deterministic crawl history; top-100 via a rank window.
# ---------------------------------------------------------------------------

_HORIZON_S = 1_000_000  # "now" for staleness, fixed for determinism


def q_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    crawls = _crawl_history(spark, sf_dir)
    w = Window.partitionBy("url").orderBy("warc_ts_s")
    h = F.md5("text")
    changed = (
        F.lag(h).over(w).isNotNull() & (h != F.lag(h).over(w))
    ).cast("long")
    per = (
        crawls.select("url", "warc_ts_s", changed.alias("chg"))
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("chg").alias("_chg"),
            F.max("warc_ts_s").alias("last_crawl_s"),
        )
    )
    rate = F.col("_chg") / (F.col("_n") - 1)
    staleness = F.lit(_HORIZON_S) - F.col("last_crawl_s")
    scored = per.select(
        "url",
        "last_crawl_s",
        F.floor(rate * 10_000 + F.lit(0.31830988618367))
        .cast("long")
        .alias("change_rate_e4"),
        F.floor(rate * staleness + F.lit(0.31830988618367))
        .cast("long")
        .alias("priority_e0"),
    )
    rk = Window.orderBy(
        F.col("priority_e0").desc(), F.col("url")
    )
    return (
        scored.withColumn("rank", F.row_number().over(rk))
        .filter(F.col("rank") <= 100)
        .select("rank", "url", "change_rate_e4", "priority_e0", "last_crawl_s")
        .orderBy("rank")
    )


SQL_RECRAWL_PRIORITY = f"""
WITH {{crawls}},
flags AS (
  SELECT url, warc_ts_s,
         CAST(LAG(md5(text)) OVER w IS NOT NULL
              AND md5(text) <> LAG(md5(text)) OVER w AS BIGINT) AS chg
  FROM crawls WINDOW w AS (PARTITION BY url ORDER BY warc_ts_s)
), per AS (
  SELECT url, count(*) AS n, sum(chg) AS chg,
         max(warc_ts_s) AS last_crawl_s
  FROM flags GROUP BY url
), scored AS (
  SELECT url, last_crawl_s,
         CAST(floor(chg * 1.0 / (n - 1) * 10000 + 0.31830988618367) AS BIGINT)
           AS change_rate_e4,
         CAST(floor(chg * 1.0 / (n - 1) * ({_HORIZON_S} - last_crawl_s)
              + 0.31830988618367) AS BIGINT) AS priority_e0
  FROM per
)
SELECT CAST(row_number() OVER (ORDER BY priority_e0 DESC, url) AS INTEGER)
         AS rank,
       url, change_rate_e4, priority_e0, last_crawl_s
FROM scored
QUALIFY rank <= 100
ORDER BY rank
"""


# ---------------------------------------------------------------------------
# scd2_url_versions — SCD Type-2 content-version intervals per url from the
# same deterministic recrawl history: consecutive runs of identical content
# collapse to (url, version_no, valid_from, valid_to, n_obs), half-open.
# ---------------------------------------------------------------------------


def q_scd2_url_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.scd import scd2_versions

    crawls = _crawl_history(spark, sf_dir).select(
        "url", "warc_ts_s", F.md5("text").alias("fp")
    )
    out = scd2_versions(crawls, "url", "warc_ts_s", "fp")
    return out.select(
        "url",
        "version_no",
        F.col("valid_from").alias("valid_from_s"),
        F.col("valid_to").alias("valid_to_s"),
        F.col("_last_seen").alias("last_seen_s"),
        "fp",
        "n_obs",
    ).orderBy("url", "version_no")


_SQL_CRAWLS_CTE = f"""
crawls AS (
  SELECT 'https://site' || CAST(doc_id % 50 AS VARCHAR)
           || '/p' || CAST(doc_id AS VARCHAR) AS url,
         CAST((doc_id * 7) % 1000 + ci.crawl_idx * {_CRAWL_STEP_S} AS BIGINT)
           AS warc_ts_s,
         CASE WHEN (doc_id + ci.crawl_idx) % 3 = 0
              THEN text || ' v' || CAST(ci.crawl_idx AS VARCHAR)
              ELSE text END AS text
  FROM documents,
       (SELECT UNNEST(range({_CRAWLS_PER_URL})) AS crawl_idx) ci
)
"""

SQL_RECRAWL_PRIORITY = SQL_RECRAWL_PRIORITY.format(crawls=_SQL_CRAWLS_CTE)

SQL_SCD2_URL_VERSIONS = f"""
WITH {_SQL_CRAWLS_CTE},
obs AS (
  SELECT url, warc_ts_s, md5(text) AS fp FROM crawls
), flagged AS (
  SELECT url, warc_ts_s, fp,
         CAST(LAG(fp) OVER w IS NULL OR fp <> LAG(fp) OVER w AS BIGINT) AS chg
  FROM obs WINDOW w AS (PARTITION BY url ORDER BY warc_ts_s)
), runs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY url ORDER BY warc_ts_s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver
  FROM flagged
), per AS (
  SELECT url, CAST(ver AS BIGINT) AS version_no,
         min(warc_ts_s) AS valid_from_s,
         max(warc_ts_s) AS last_seen_s, min(fp) AS fp, count(*) AS n_obs
  FROM runs GROUP BY 1, 2
)
SELECT url, version_no, valid_from_s,
       LEAD(valid_from_s) OVER (PARTITION BY url ORDER BY version_no)
         AS valid_to_s,
       last_seen_s, fp, n_obs
FROM per ORDER BY url, version_no
"""


# ---------------------------------------------------------------------------
# corpus_as_of — point-in-time corpus reconstruction from the SCD2 version
# table: the content each url had at time T (half-open interval semantics),
# i.e. the snapshot a training run pinned at T would have read.
# ---------------------------------------------------------------------------

_AS_OF_T = 200_000  # inside the 5-crawl window for most urls


def q_corpus_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.scd import scd2_versions

    crawls = _crawl_history(spark, sf_dir).select(
        "url", "warc_ts_s", F.md5("text").alias("fp")
    )
    vers = scd2_versions(crawls, "url", "warc_ts_s", "fp")
    live = vers.filter(
        (F.col("valid_from") <= _AS_OF_T)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > _AS_OF_T))
    )
    return live.select(
        "url",
        "version_no",
        F.col("valid_from").alias("valid_from_s"),
        "fp",
    ).orderBy("url")


SQL_CORPUS_AS_OF = f"""
WITH {{crawls}},
obs AS (
  SELECT url, warc_ts_s, md5(text) AS fp FROM crawls
), flagged AS (
  SELECT url, warc_ts_s, fp,
         CAST(LAG(fp) OVER w IS NULL OR fp <> LAG(fp) OVER w AS BIGINT) AS chg
  FROM obs WINDOW w AS (PARTITION BY url ORDER BY warc_ts_s)
), runs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY url ORDER BY warc_ts_s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver
  FROM flagged
), per AS (
  SELECT url, CAST(ver AS BIGINT) AS version_no,
         min(warc_ts_s) AS valid_from_s,
         min(fp) AS fp
  FROM runs GROUP BY 1, 2
), v AS (
  SELECT *, LEAD(valid_from_s) OVER (PARTITION BY url ORDER BY version_no)
            AS valid_to_s
  FROM per
)
SELECT url, version_no, valid_from_s, fp FROM v
WHERE valid_from_s <= {_AS_OF_T}
  AND (valid_to_s IS NULL OR valid_to_s > {_AS_OF_T})
ORDER BY url
"""


# ---------------------------------------------------------------------------
# politeness_schedule — per-host serialized fetch slots with a minimum
# inter-request delay: slot_i = max(ready_i, slot_{i-1} + delay).  The
# recurrence collapses DECLARATIVELY: slot_i = i·delay +
# running_max(ready_j − j·delay) over j ≤ i — one running-max window, no
# kernel, no iteration (the same trick that linearizes queueing
# recurrences).  ready = the adaptive recrawl due time (last crawl + step).
# ---------------------------------------------------------------------------

_POLITE_DELAY_S = 30


def q_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    crawls = _crawl_history(spark, sf_dir)
    per_url = crawls.groupBy("url").agg(
        F.max("warc_ts_s").alias("last_s")
    )
    host = F.regexp_extract("url", r"^https://([^/]+)/", 1)
    ready = (F.col("last_s") + _CRAWL_STEP_S).alias("ready_s")
    base = per_url.select("url", host.alias("host"), ready)
    w = Window.partitionBy("host").orderBy("ready_s", "url")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    # materialize the rank first (window-in-window is not allowed), then
    # the running max over the same partitioning — one exchange total
    base = base.withColumn("fetch_order", F.row_number().over(w))
    slot = (
        F.max(
            F.col("ready_s") - F.col("fetch_order") * _POLITE_DELAY_S
        ).over(run)
        + F.col("fetch_order") * _POLITE_DELAY_S
    )
    out = base.withColumn("slot_s", slot)
    return out.select(
        "host", "fetch_order", "url", "ready_s",
        F.col("slot_s").cast("long").alias("slot_s"),
        (F.col("slot_s") - F.col("ready_s")).cast("long").alias("wait_s"),
    ).orderBy("host", "fetch_order")


SQL_POLITENESS = f"""
WITH {{crawls}},
per_url AS (
  SELECT url, max(warc_ts_s) + {_CRAWL_STEP_S} AS ready_s
  FROM crawls GROUP BY url
), based AS (
  SELECT url, regexp_extract(url, '^https://([^/]+)/', 1) AS host, ready_s
  FROM per_url
), ordered AS (
  SELECT *, row_number() OVER w AS i
  FROM based WINDOW w AS (PARTITION BY host ORDER BY ready_s, url)
), slotted AS (
  SELECT *, max(ready_s - i * {_POLITE_DELAY_S}) OVER (
         PARTITION BY host ORDER BY ready_s, url
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         + i * {_POLITE_DELAY_S} AS slot_s
  FROM ordered
)
SELECT host, CAST(i AS INTEGER) AS fetch_order, url, ready_s,
       CAST(slot_s AS BIGINT) AS slot_s,
       CAST(slot_s - ready_s AS BIGINT) AS wait_s
FROM slotted ORDER BY host, fetch_order
"""


SQL_CORPUS_AS_OF = SQL_CORPUS_AS_OF.format(crawls=_SQL_CRAWLS_CTE)
SQL_POLITENESS = SQL_POLITENESS.format(crawls=_SQL_CRAWLS_CTE)


# ---------------------------------------------------------------------------
# overlap_outages — interval × interval OVERLAP join: user sessions against
# deterministic per-user maintenance windows (every 6 h, 20 min, phase from
# user id).  The engine emits each overlapping pair from ONE canonical
# band bucket (no dedup shuffle); the oracle is a plain theta join — an
# independent formulation of the same pair set.
# ---------------------------------------------------------------------------

_OUTAGE_T0 = 1_704_067_200  # 2024-01-01
_OUTAGE_EVERY_S = 21_600
_OUTAGE_LEN_S = 1_200
_OUTAGE_N = 120  # 30 days x 4/day


def q_overlap_outages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.intervaljoin import interval_overlap_join
    from diive_spark.operators.sessionize import session_stats

    ev = _events(spark, sf_dir).select(
        "user_id", _epoch_s("ts").alias("ts_s")
    )
    sess = session_stats(
        ev, key_col="user_id", ts_col="ts_s", timeout=_SESSION_TIMEOUT_S
    ).select(
        F.col("user_id").cast("long").alias("user_id"),
        "session_idx",
        F.col("session_start").cast("long").alias("s_start"),
        F.col("session_end").cast("long").alias("s_end"),
    )
    outages = (
        ev.select("user_id").distinct()
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.explode(
                F.sequence(F.lit(0), F.lit(_OUTAGE_N - 1))
            ).alias("outage_idx"),
        )
        .select(
            "user_id",
            "outage_idx",
            (
                F.lit(_OUTAGE_T0)
                + F.col("outage_idx") * _OUTAGE_EVERY_S
                + F.pmod(F.col("user_id"), F.lit(7)) * 600
            ).cast("long").alias("o_start"),
        )
        .withColumn("o_end", (F.col("o_start") + _OUTAGE_LEN_S).cast("long"))
    )
    out = interval_overlap_join(
        sess, outages, "user_id",
        left_start="s_start", left_end="s_end",
        right_start="o_start", right_end="o_end",
        bucket_s=3600,
    )
    return out.select(
        "user_id", "session_idx", "s_start", "s_end",
        "outage_idx", "o_start", "o_end",
        "overlap_start", "overlap_end", "overlap_s",
    ).orderBy("user_id", "session_idx", "outage_idx")


SQL_OVERLAP_OUTAGES = f"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events
), g AS (
  SELECT *, CASE WHEN LAG(ts_s) OVER w IS NULL
                   OR ts_s - LAG(ts_s) OVER w > {_SESSION_TIMEOUT_S}
                 THEN 1 ELSE 0 END AS is_new
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)
), s AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_s
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM g
), sess AS (
  SELECT CAST(user_id AS BIGINT) AS user_id,
         CAST(session_idx AS BIGINT) AS session_idx,
         MIN(ts_s) AS s_start, MAX(ts_s) AS s_end
  FROM s GROUP BY user_id, session_idx
), outages AS (
  SELECT CAST(u.user_id AS BIGINT) AS user_id,
         CAST(k.outage_idx AS BIGINT) AS outage_idx,
         CAST({_OUTAGE_T0} + k.outage_idx * {_OUTAGE_EVERY_S}
              + (u.user_id % 7) * 600 AS BIGINT) AS o_start,
         CAST({_OUTAGE_T0} + k.outage_idx * {_OUTAGE_EVERY_S}
              + (u.user_id % 7) * 600 + {_OUTAGE_LEN_S} AS BIGINT) AS o_end
  FROM (SELECT DISTINCT user_id FROM ev) u,
       (SELECT UNNEST(range({_OUTAGE_N})) AS outage_idx) k
)
SELECT s.user_id AS user_id, s.session_idx, s.s_start, s.s_end,
       o.outage_idx, o.o_start, o.o_end,
       greatest(s.s_start, o.o_start) AS overlap_start,
       least(s.s_end, o.o_end) AS overlap_end,
       least(s.s_end, o.o_end) - greatest(s.s_start, o.o_start) AS overlap_s
FROM sess s JOIN outages o
  ON s.user_id = o.user_id
 AND s.s_start <= o.o_end AND o.o_start <= s.s_end
ORDER BY user_id, session_idx, outage_idx
"""

# ---------------------------------------------------------------------------
# cohort_retention — product-analytics retention matrix: users grouped by
# first-seen day, activity counted per (cohort, age-in-days).  Two
# combinable aggregations + one broadcast-sized join back on cohort sizes;
# no self-join, no window over the raw table.
# ---------------------------------------------------------------------------


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.floor(_epoch_s("ts") / 86400).cast("long").alias("day"),
    )
    activity = ev.distinct()
    first_seen = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    sizes = first_seen.groupBy("cohort_day").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    aged = activity.join(first_seen, "user_id").select(
        "cohort_day", (F.col("day") - F.col("cohort_day")).alias("age_d"), "user_id"
    )
    ret = aged.groupBy("cohort_day", "age_d").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    out = ret.join(F.broadcast(sizes), "cohort_day")
    return out.select(
        "cohort_day",
        "age_d",
        "n_active",
        "cohort_size",
        F.floor(F.col("n_active") / F.col("cohort_size") * 10_000 + 0.31830988618367)
        .cast("long")
        .alias("retention_e4"),
    ).orderBy("cohort_day", "age_d")


SQL_COHORT_RETENTION = """
WITH act AS (
  SELECT DISTINCT user_id,
         CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400) AS BIGINT) AS day
  FROM events
), fs AS (
  SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1
), sizes AS (
  SELECT cohort_day, count(DISTINCT user_id) AS cohort_size FROM fs GROUP BY 1
), aged AS (
  SELECT f.cohort_day, a.day - f.cohort_day AS age_d, a.user_id
  FROM act a JOIN fs f USING (user_id)
), ret AS (
  SELECT cohort_day, age_d, count(DISTINCT user_id) AS n_active
  FROM aged GROUP BY 1, 2
)
SELECT r.cohort_day AS cohort_day, r.age_d AS age_d,
       CAST(r.n_active AS BIGINT) AS n_active,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(floor(r.n_active * 1.0 / s.cohort_size * 10000
            + 0.31830988618367) AS BIGINT) AS retention_e4
FROM ret r JOIN sizes s USING (cohort_day)
ORDER BY cohort_day, age_d
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "counter_rate_tiers": q_counter_rate,
    "crawl_change_rate": q_crawl_change_rate,
    "scd2_url_versions": q_scd2_url_versions,
    "recrawl_priority": q_recrawl_priority,
    "corpus_as_of": q_corpus_as_of,
    "politeness_schedule": q_politeness_schedule,
    "overlap_outages": q_overlap_outages,
    "cohort_retention": q_cohort_retention,
    "interval_join_sessions": q_interval_join,
    "hw_forecast": q_hw_forecast,
    "time_weighted_hourly": q_time_weighted,
    "acf_hourly": q_acf_hourly,
    "ewma_hourly": q_ewma_hourly,
    "asof_join_events": q_asof_join,
    "seasonal_decompose": q_seasonal_decompose,
    "cusum_shift": q_cusum_shift,
    "tier_topk_users": q_tier_topk_users,
    "sessionize_events": q_sessionize,
    "funnel_events": q_funnel,
    "tier_quantile_hist": q_tier_quantile_hist,
    "lttb_downsample": q_lttb_downsample,
    "tier_distinct_hll": q_tier_distinct_hll,
}

ORACLE_SQL: dict[str, str] = {
    "counter_rate_tiers": SQL_COUNTER_RATE,
    "crawl_change_rate": SQL_CRAWL_CHANGE_RATE,
    "scd2_url_versions": SQL_SCD2_URL_VERSIONS,
    "recrawl_priority": SQL_RECRAWL_PRIORITY,
    "corpus_as_of": SQL_CORPUS_AS_OF,
    "politeness_schedule": SQL_POLITENESS,
    "overlap_outages": SQL_OVERLAP_OUTAGES,
    "cohort_retention": SQL_COHORT_RETENTION,
    "interval_join_sessions": SQL_INTERVAL_JOIN,
    "time_weighted_hourly": SQL_TIME_WEIGHTED,
    "acf_hourly": SQL_ACF_HOURLY,
    "ewma_hourly": SQL_EWMA_HOURLY,
    "asof_join_events": SQL_ASOF_JOIN,
    "seasonal_decompose": SQL_SEASONAL_DECOMPOSE,
    "cusum_shift": SQL_CUSUM_SHIFT,
    "tier_topk_users": SQL_TIER_TOPK_USERS,
    "sessionize_events": SQL_SESSIONIZE,
    "funnel_events": SQL_FUNNEL,
    "tier_quantile_hist": SQL_TIER_QUANTILE_HIST,
}
