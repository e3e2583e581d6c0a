"""Drift & data-quality query registry (operators/drift.py).

The window split for the two drift queries is the midpoint of the
table's time range: reference = first half, current = second half —
a pure function of two integer aggregates, so both engines derive the
identical split with no percentile dependence.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diive_spark.operators.drift import (
    benford_digits,
    ccf,
    ks_statistic,
    max_drawdown,
    psi,
)
from diive_spark.queries_stats2 import _events


def _epoch_s(col: str) -> F.Column:
    return F.floor(
        F.unix_micros(F.col(col).cast("timestamp")) / 1_000_000
    ).cast("long")


def _with_window_sample(ev: DataFrame) -> DataFrame:
    """Tag each event 0 (first half of the time range) / 1 (second half).

    The 1-row min/max aggregate is broadcast — no second scan ordering,
    no collect; at 100 TB this is a metadata-cheap pre-pass.
    """
    base = ev.select("event_type", _epoch_s("ts").alias("ts_s"), "value").filter(
        F.col("value").isNotNull()
    )
    mid = base.agg(
        F.floor((F.min("ts_s") + F.max("ts_s")) / F.lit(2.0))
        .cast("long")
        .alias("_mid")
    )
    return base.crossJoin(F.broadcast(mid)).select(
        "event_type",
        "ts_s",
        "value",
        (F.col("ts_s") > F.col("_mid")).cast("int").alias("s"),
    )


_SQL_WINDOWED = """
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, value,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) > (
           SELECT CAST(floor((min(CAST(floor(epoch(ts)) AS BIGINT))
                 + max(CAST(floor(epoch(ts)) AS BIGINT))) / 2.0) AS BIGINT)
           FROM events WHERE value IS NOT NULL
         ) THEN 1 ELSE 0 END AS s
  FROM events WHERE value IS NOT NULL
"""


# ---------------------------------------------------------------------------
# ks_drift — two-sample KS per event type between the two half-windows
# ---------------------------------------------------------------------------

def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _with_window_sample(_events(spark, sf_dir))
    out = ks_statistic(ev, ["event_type"], "s", "value")
    return out.orderBy("event_type")


SQL_KS_DRIFT = f"""
WITH b AS ({_SQL_WINDOWED}
), g AS (
  SELECT event_type, value AS v,
         CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
  FROM b GROUP BY 1, 2
), w AS (
  SELECT event_type,
         CAST(sum(c0) OVER (PARTITION BY event_type) AS BIGINT) AS n0,
         CAST(sum(c1) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
         CAST(sum(c0) OVER (PARTITION BY event_type ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum0,
         CAST(sum(c1) OVER (PARTITION BY event_type ORDER BY v
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1
  FROM g
), k AS (
  SELECT event_type,
         CAST(max(abs(cum0 * n1 - cum1 * n0)) AS BIGINT) AS dmax,
         CAST(any_value(n0) AS BIGINT) AS n0,
         CAST(any_value(n1) AS BIGINT) AS n1
  FROM w GROUP BY 1
)
SELECT event_type, n0 AS n_ref, n1 AS n_cur,
       CAST(floor(dmax * 10000.0 / (n0 * n1) + 0.5) AS BIGINT) AS ks_e4,
       CAST((dmax / (CAST(n0 AS DOUBLE) * n1))
            > 1.358 * sqrt((n0 + n1) / (CAST(n0 AS DOUBLE) * n1))
            AS INT) AS drifted
FROM k ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# psi_drift — population stability index per event type, 10 fixed bins
# ---------------------------------------------------------------------------

def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _with_window_sample(_events(spark, sf_dir))
    out = psi(ev, ["event_type"], "s", "value", n_bins=10)
    return out.orderBy("event_type")


SQL_PSI_DRIFT = f"""
WITH b AS ({_SQL_WINDOWED}
), binned AS (
  SELECT event_type, s,
         CASE WHEN (max(value) OVER (PARTITION BY event_type)
                    - min(value) OVER (PARTITION BY event_type)) / 10.0 <= 0
              THEN 0
              ELSE CAST(least(floor((value - min(value) OVER (PARTITION BY event_type))
                   / ((max(value) OVER (PARTITION BY event_type)
                       - min(value) OVER (PARTITION BY event_type)) / 10.0)),
                   9) AS INT)
         END AS bin
  FROM b
), counts AS (
  SELECT event_type, bin,
         CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
  FROM binned GROUP BY 1, 2
), dense AS (
  SELECT k.event_type, g.bin,
         COALESCE(c.c0, 0) AS c0, COALESCE(c.c1, 0) AS c1
  FROM (SELECT DISTINCT event_type FROM counts) k
  CROSS JOIN (SELECT UNNEST(range(0, 10)) AS bin) g
  LEFT JOIN counts c ON c.event_type = k.event_type AND c.bin = g.bin
), terms AS (
  SELECT event_type,
         CAST(sum(c0) OVER (PARTITION BY event_type) AS BIGINT) AS n0,
         CAST(sum(c1) OVER (PARTITION BY event_type) AS BIGINT) AS n1,
         c0, c1
  FROM dense
)
SELECT event_type,
       CAST(any_value(n0) AS BIGINT) AS n_ref,
       CAST(any_value(n1) AS BIGINT) AS n_cur,
       round(sum(
         ((c1 + 0.5) / (n1 + 0.5 * 10) - (c0 + 0.5) / (n0 + 0.5 * 10))
         * (ln((c1 + 0.5) / (n1 + 0.5 * 10)) - ln((c0 + 0.5) / (n0 + 0.5 * 10)))
       ), 4) AS psi
FROM terms GROUP BY 1 ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# benford_digits — first-digit law check on lineitem prices per returnflag
# ---------------------------------------------------------------------------

def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_extendedprice").alias("v"),
    )
    out = benford_digits(li, ["grp"], "v")
    return out.orderBy("grp", "digit")


SQL_BENFORD = """
WITH v AS (
  SELECT l_returnflag AS grp,
         CAST(floor(abs(l_extendedprice) * 1e6) AS BIGINT) AS sc
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL
    AND CAST(floor(abs(l_extendedprice) * 1e6) AS BIGINT) >= 1
), d AS (
  SELECT grp, CAST(substr(CAST(sc AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM v GROUP BY 1, 2
), w AS (
  SELECT grp, digit, n_obs,
         CAST(sum(n_obs) OVER (PARTITION BY grp) AS BIGINT) AS n_tot
  FROM d
)
SELECT grp, digit, n_obs,
       CAST(floor(n_obs * 1.0 / n_tot * 10000.0 + 0.5) AS BIGINT) AS obs_e4,
       CAST(floor(log10(1.0 + 1.0 / digit) * 10000.0 + 0.5) AS BIGINT) AS exp_e4,
       round(sum(
         (n_obs - n_tot * log10(1.0 + 1.0 / digit))
         * (n_obs - n_tot * log10(1.0 + 1.0 / digit))
         / (n_tot * log10(1.0 + 1.0 / digit))
       ) OVER (PARTITION BY grp), 4) AS chi2
FROM w ORDER BY grp, digit
"""


# ---------------------------------------------------------------------------
# max_drawdown — per-user running-peak drawdown of the cumulative value
# ---------------------------------------------------------------------------

def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("value").isNotNull()).select(
        "user_id", _epoch_s("ts").alias("ts_s"), "event_id", "value"
    )
    out = max_drawdown(
        ev, ["user_id"], ts_col="ts_s", value_col="value",
        tiebreak_col="event_id",
    )
    return out.select(
        F.col("user_id").cast("long").alias("user_id"),
        "n_events", "mdd_e4", "trough_ts_s",
    ).orderBy("user_id")


SQL_MAX_DRAWDOWN = """
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s, event_id, value
  FROM events WHERE value IS NOT NULL
), eq AS (
  SELECT user_id, ts_s, event_id,
         sum(value) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
             ROWS UNBOUNDED PRECEDING) AS eqv
  FROM e
), dd AS (
  SELECT user_id, ts_s,
         CAST(floor((max(eqv) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
              ROWS UNBOUNDED PRECEDING) - eqv) * 10000.0 + 0.5) AS BIGINT) AS dd_e4,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
  FROM eq
), r AS (
  SELECT user_id, ts_s, dd_e4, n_events,
         row_number() OVER (PARTITION BY user_id
             ORDER BY dd_e4 DESC, ts_s) AS rn
  FROM dd
)
SELECT user_id, n_events, dd_e4 AS mdd_e4, ts_s AS trough_ts_s
FROM r WHERE rn = 1 ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# ccf_lags — click-vs-view hourly cross-correlation at lags -12..12
# ---------------------------------------------------------------------------

_CCF_MAX_LAG = 12


def q_ccf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type",
        F.floor(_epoch_s("ts") / 3600).cast("long").alias("hr"),
    ).agg(F.round(F.avg("value"), 4).alias("y"))
    x = hourly.filter(F.col("event_type") == "click").select("hr", F.col("y").alias("xv"))
    y = hourly.filter(F.col("event_type") == "view").select("hr", F.col("y").alias("yv"))
    out = ccf(x, y, ts_col="hr", x_col="xv", y_col="yv", max_lag=_CCF_MAX_LAG)
    return out.orderBy("lag")


SQL_CCF_LAGS = f"""
WITH h AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS hr,
         round(avg(value), 4) AS y
  FROM events GROUP BY 1, 2
), x AS (SELECT hr, y AS xv FROM h WHERE event_type = 'click'),
   yv AS (SELECT hr, y AS yvv FROM h WHERE event_type = 'view'),
   ks AS (SELECT UNNEST(range(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG + 1})) AS lag)
SELECT CAST(ks.lag AS BIGINT) AS lag,
       round(corr(x.xv, yv.yvv), 4) AS ccf,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM x JOIN ks ON true JOIN yv ON yv.hr = x.hr + ks.lag
GROUP BY 1 ORDER BY lag
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ks_drift": q_ks_drift,
    "psi_drift": q_psi_drift,
    "benford_digits": q_benford,
    "max_drawdown": q_max_drawdown,
    "ccf_lags": q_ccf_lags,
}

ORACLE_SQL: dict[str, str] = {
    "ks_drift": SQL_KS_DRIFT,
    "psi_drift": SQL_PSI_DRIFT,
    "benford_digits": SQL_BENFORD,
    "max_drawdown": SQL_MAX_DRAWDOWN,
    "ccf_lags": SQL_CCF_LAGS,
}
