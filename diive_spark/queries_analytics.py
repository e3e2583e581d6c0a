"""Analytics query registry (SURVEY §2.3/§2.4/§2.7/§2.11): each reference
operator re-expressed Spark-first, with an exact DuckDB oracle.

Portability conventions follow queries.py: epoch-second BIGINT buckets,
round(x, 4) floats in both engines, explicit BIGINT casts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diive_spark.operators import analytics as AN
from diive_spark.operators.analytics import global_ntile, global_ntile_multi
from diive_spark.queries_stats2 import _events


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _es() -> F.Column:
    """Epoch seconds (double, keeps micro fraction) of events.ts."""
    return F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000.0


def _es_floor() -> F.Column:
    return F.floor(_es()).cast("long")


# ---------------------------------------------------------------------------
# percentiles101 — A7 (quantiles.py:8-40): all 101 exact percentiles per key
# ---------------------------------------------------------------------------

_PCTS = ", ".join(str(i / 100.0) for i in range(101))


def q_percentiles101(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    q = ev.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.expr(f"percentile(value, array({_PCTS}))").alias("qs")
    )
    return q.select(
        "user_id", F.posexplode("qs").alias("p", "pval")
    ).select("user_id", F.col("p").cast("long").alias("p"), F.round("pval", 4).alias("pval"))


SQL_PERCENTILES101 = f"""
WITH q AS (
  SELECT user_id, quantile_cont(value, [{_PCTS}]) AS qs
  FROM events GROUP BY 1
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(u.i - 1 AS BIGINT) AS p,
       round(qs[u.i], 4) AS pval
FROM q, UNNEST(generate_series(1, 101)) AS u(i)
"""


# ---------------------------------------------------------------------------
# histogram20 — A8 (histogram.py:14-125)
# ---------------------------------------------------------------------------

def q_histogram20(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "value"
    )
    return AN.histogram_fixed_bins(ev, "user_id", "value", n_bins=20)


SQL_HISTOGRAM20 = """
WITH bounds AS (
  SELECT user_id, min(value) AS lo, max(value) AS hi FROM events GROUP BY 1
), b AS (
  SELECT e.user_id,
         CASE WHEN hi = lo THEN 0
              ELSE least(CAST(floor((value - lo) / ((hi - lo) / 20)) AS BIGINT), 19)
         END AS bin,
         lo, (hi - lo) / 20 AS w
  FROM events e JOIN bounds USING (user_id)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(bin AS BIGINT) AS bin,
       round(lo + bin * w, 4) AS bin_lo,
       CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY user_id, bin, lo, w
"""


# ---------------------------------------------------------------------------
# daily_corr — A12 (correlation.py:8-61): per-day Pearson r of two series
# ---------------------------------------------------------------------------

def q_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    day = (F.floor(_es_floor() / 86400) * 86400).cast("long")
    hour = F.floor(F.pmod(_es_floor(), 86400) / 3600).cast("long")
    hourly = ev.groupBy(day.alias("day_s"), hour.alias("hour")).agg(
        F.avg(F.when(F.col("event_type") == "click", F.col("value"))).alias("v_click"),
        F.avg(F.when(F.col("event_type") == "view", F.col("value"))).alias("v_view"),
    )
    return hourly.groupBy("day_s").agg(
        F.round(F.corr("v_click", "v_view"), 4).alias("r"),
        F.count(F.when(F.col("v_click").isNotNull() & F.col("v_view").isNotNull(), 1))
        .cast("long")
        .alias("n_hours"),
    )


SQL_DAILY_CORR = """
WITH hourly AS (
  SELECT CAST(floor(floor(epoch(ts)) / 86400) * 86400 AS BIGINT) AS day_s,
         CAST(floor((CAST(floor(epoch(ts)) AS BIGINT) % 86400) / 3600) AS BIGINT) AS hour,
         avg(CASE WHEN event_type = 'click' THEN value END) AS v_click,
         avg(CASE WHEN event_type = 'view' THEN value END) AS v_view
  FROM events GROUP BY 1, 2
)
SELECT day_s, round(corr(v_click, v_view), 4) AS r,
       CAST(count(CASE WHEN v_click IS NOT NULL AND v_view IS NOT NULL THEN 1 END)
            AS BIGINT) AS n_hours
FROM hourly GROUP BY 1
"""


# ---------------------------------------------------------------------------
# circular_mean — A13 (funcs.py:52-85): Kanda circular mean of angles
# ---------------------------------------------------------------------------

def q_circular_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    deg = F.pmod(F.col("value") * 3.6, F.lit(360.0))
    out = ev.withColumn("deg", deg).groupBy(
        F.col("user_id").cast("long").alias("user_id")
    ).agg(
        F.round(AN.circular_mean_deg("deg"), 4).alias("mean_deg"),
        F.count("deg").cast("long").alias("n_vals"),
    )
    return out


SQL_CIRCULAR_MEAN = """
WITH d AS (
  SELECT user_id, fmod(fmod(value * 3.6, 360.0) + 360.0, 360.0) AS deg FROM events
), agg AS (
  SELECT user_id,
         degrees(atan2(avg(sin(radians(deg))), avg(cos(radians(deg))))) AS m,
         count(deg) AS n_vals
  FROM d GROUP BY 1
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       round(fmod(fmod(m + 360.0, 360.0) + 360.0, 360.0), 4) AS mean_deg,
       CAST(n_vals AS BIGINT) AS n_vals
FROM agg
"""


# ---------------------------------------------------------------------------
# freq_detect — T6/A15 (times.py:637-801): dominant timestamp delta + share
# ---------------------------------------------------------------------------

def q_freq_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "event_id"
    )
    return AN.freq_detect(ev, "user_id", "ts", order_cols=["ts", "event_id"])


SQL_FREQ_DETECT = """
WITH deltas AS (
  SELECT user_id,
         CAST(floor(epoch(ts) - epoch(lag(ts) OVER
           (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS delta_s
  FROM events
), d AS (SELECT * FROM deltas WHERE delta_s IS NOT NULL),
counts AS (
  SELECT user_id, delta_s, count(*) AS n_mode FROM d GROUP BY 1, 2
), totals AS (
  SELECT user_id, count(*) AS n_total FROM d GROUP BY 1
), ranked AS (
  SELECT c.*, t.n_total,
         row_number() OVER (PARTITION BY c.user_id
                            ORDER BY c.n_mode DESC, c.delta_s ASC) AS rn
  FROM counts c JOIN totals t USING (user_id)
)
SELECT CAST(user_id AS BIGINT) AS user_id, delta_s,
       CAST(n_mode AS BIGINT) AS n_mode, CAST(n_total AS BIGINT) AS n_total,
       round(n_mode * 1.0 / n_total, 4) AS share,
       CAST(CASE WHEN n_mode * 1.0 / n_total >= 0.9 THEN 1 ELSE 0 END AS INT) AS freq_ok
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# agg_as_hires — A3 (frames.py:37-91): daily aggregate broadcast onto rows
# ---------------------------------------------------------------------------

def q_agg_as_hires(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sf0.1-sweep hardening: the daily mean now folds exact e4 integers
    # (order-free window sum) and outputs floor-scale with the 1/pi
    # offset — round(avg(value), 4) drifted at .xxxx5 boundaries.
    off = 0.31830988618367
    ev = _events(spark, sf_dir).withColumn(
        "v4", F.floor(F.col("value") * 10_000 + F.lit(off)).cast("long")
    )
    day = (F.floor(_es_floor() / 86400) * 86400).cast("long")
    w = Window.partitionBy("user_id", "day_s")
    dm = (
        F.floor(
            F.sum("v4").over(w).cast("double")
            / F.count(F.lit(1)).over(w)
            + F.lit(off)
        )
        / 10_000.0
    )
    return (
        ev.withColumn("day_s", day)
        .withColumn("daily_mean", dm)
        .select(
            F.col("event_id").cast("long").alias("event_id"),
            F.col("user_id").cast("long").alias("user_id"),
            "day_s",
            "daily_mean",
            (
                F.floor(
                    (F.col("value") - F.col("daily_mean")) * 10_000
                    + F.lit(off)
                )
                / 10_000.0
            ).alias("anomaly"),
        )
    )


SQL_AGG_AS_HIRES = """
WITH e AS (
  -- exact e4-integer daily mean, mirrors Spark
  SELECT event_id, user_id, value,
         CAST(floor(value * 10000 + 0.31830988618367) AS BIGINT) AS v4,
         CAST(floor(floor(epoch(ts)) / 86400) * 86400 AS BIGINT) AS day_s
  FROM events
), m AS (
  SELECT event_id, user_id, value, day_s,
         floor(CAST(sum(v4) OVER wd AS DOUBLE)
               / count(*) OVER wd + 0.31830988618367) / 10000.0
           AS daily_mean
  FROM e
  WINDOW wd AS (PARTITION BY user_id, day_s)
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       day_s,
       daily_mean,
       floor((value - daily_mean) * 10000 + 0.31830988618367) / 10000.0
         AS anomaly
FROM m
"""


# ---------------------------------------------------------------------------
# daily_offset_bins — A4 (frames.py:94-128): daily bins starting 07:00
# ---------------------------------------------------------------------------

OFFSET_S = 7 * 3600


def q_daily_offset_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    bucket = (
        F.floor((_es_floor() - OFFSET_S) / 86400) * 86400 + OFFSET_S
    ).cast("long")
    return ev.groupBy(
        F.col("user_id").cast("long").alias("user_id"),
        bucket.alias("bucket_start_s"),
    ).agg(
        F.round(F.avg("value"), 4).alias("mean_val"),
        F.count("value").cast("long").alias("n_vals"),
    )


SQL_DAILY_OFFSET_BINS = f"""
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(floor((floor(epoch(ts)) - {OFFSET_S}) / 86400) * 86400 + {OFFSET_S}
            AS BIGINT) AS bucket_start_s,
       round(avg(value), 4) AS mean_val,
       CAST(count(value) AS BIGINT) AS n_vals
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# maxcov_lag_search — T11 (echires/lag.py:167-244)
# ---------------------------------------------------------------------------

MAX_SHIFT = 5


def q_maxcov_lag_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "ts", "event_id", "value"
    )
    return AN.lag_search_max_cov(
        ev, "user_id", "value", order_cols=["ts", "event_id"], max_shift=MAX_SHIFT
    )


def _sql_maxcov() -> str:
    lags = ", ".join(
        f"lag(value, {k}) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l{k}"
        for k in range(1, MAX_SHIFT + 1)
    )
    stacks = "\n  UNION ALL\n".join(
        f"  SELECT user_id, {k} AS shift, value AS v, l{k} AS lv FROM w"
        for k in range(1, MAX_SHIFT + 1)
    )
    return f"""
WITH w AS (
  SELECT user_id, value, {lags} FROM events
), st AS (
{stacks}
), cov AS (
  SELECT user_id, shift, covar_samp(v, lv) AS c FROM st GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY abs(round(c, 6)) DESC, shift ASC) AS rn
  FROM cov
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(shift AS BIGINT) AS shift,
       round(c, 4) AS cov, CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS is_best
FROM ranked
"""


SQL_MAXCOV = _sql_maxcov()


# ---------------------------------------------------------------------------
# sim_window_stats — T12 (uncertainty.py:218-291): bucketed range self-join
# ---------------------------------------------------------------------------

def q_sim_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "ts",
        "value",
    )
    return AN.similarity_window_stats(
        ev, "user_id", "ts", "value", "event_id", ts_tol_s=1800, value_tol=5.0
    )


SQL_SIM_WINDOW = """
SELECT CAST(a.event_id AS BIGINT) AS event_id,
       CAST(a.user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_similar,
       round(stddev_samp(b.value), 4) AS sd_similar,
       round(avg(b.value), 4) AS mean_similar
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND abs(epoch(a.ts) - epoch(b.ts)) <= 1800
 AND abs(a.value - b.value) <= 5.0
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# qxy_binagg — A9 (quantilexyaggz.py:54-140): 2-D decile binning
# ---------------------------------------------------------------------------

MIN_CELL = 5


def q_qxy_binagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-3 verdict #4: an unpartitioned Window.orderBy ntile funnels the
    # whole table through ONE task; global_ntile is the distributed exact
    # equivalent (range-bucketed rank, pinned bit-identical in tests).
    li = _lineitem(spark, sf_dir).select(
        # explicit prune: only the sort keys + the z measure ride the two
        # rank-window sort exchanges
        "l_quantity", "l_extendedprice", "l_orderkey", "l_linenumber",
        "l_discount",
    )
    # VERDICT r4 #6: both deciles in ONE fused plan — one shared
    # approxQuantile sampling action, offsets from the raw bucketed scan
    # (the old chained form re-ran the x window inside the y offsets
    # branch), chained rank windows in a single job.
    binned = global_ntile_multi(
        li,
        [
            (["l_quantity", "l_orderkey", "l_linenumber"], 10, "xbin"),
            (["l_extendedprice", "l_orderkey", "l_linenumber"], 10, "ybin"),
        ],
    )
    return (
        binned.groupBy(
            F.col("xbin").cast("long").alias("xbin"),
            F.col("ybin").cast("long").alias("ybin"),
        )
        .agg(
            F.round(F.avg("l_discount"), 4).alias("mean_z"),
            F.count("*").cast("long").alias("n"),
        )
        .filter(F.col("n") >= MIN_CELL)
    )


SQL_QXY_BINAGG = f"""
WITH b AS (
  SELECT ntile(10) OVER (ORDER BY l_quantity, l_orderkey, l_linenumber) AS xbin,
         ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS ybin,
         l_discount
  FROM lineitem
)
SELECT CAST(xbin AS BIGINT) AS xbin, CAST(ybin AS BIGINT) AS ybin,
       round(avg(l_discount), 4) AS mean_z, CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY 1, 2 HAVING count(*) >= {MIN_CELL}
"""


# ---------------------------------------------------------------------------
# optimum_range — A11 (optimumrange.py:79-160): count-equal bins, median,
# centered rolling mean over bins, argmax
# ---------------------------------------------------------------------------

N_OPT_BINS = 12


def q_optimum_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # round-3 verdict #4: distributed exact ntile instead of the
    # single-partition Window (see q_qxy_binagg).  The remaining
    # unpartitioned windows below run over N_OPT_BINS rows only.
    li = _lineitem(spark, sf_dir)
    binned = global_ntile(
        li, ["l_quantity", "l_orderkey", "l_linenumber"], N_OPT_BINS,
        out_col="bin",
    )
    per_bin = binned.groupBy(F.col("bin").cast("long").alias("bin")).agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("median_y"),
        F.count("*").cast("long").alias("n"),
    )
    wr = Window.orderBy("bin").rowsBetween(-2, 2)
    rolled = per_bin.withColumn("roll_mean", F.avg("median_y").over(wr))
    wbest = Window.orderBy(F.round("roll_mean", 6).desc(), F.col("bin").asc())
    return rolled.withColumn(
        "is_opt", (F.row_number().over(wbest) == 1).cast("int")
    ).select(
        "bin",
        F.round("median_y", 4).alias("median_y"),
        "n",
        F.round("roll_mean", 4).alias("roll_mean"),
        "is_opt",
    )


SQL_OPTIMUM_RANGE = f"""
WITH b AS (
  SELECT ntile({N_OPT_BINS}) OVER
           (ORDER BY l_quantity, l_orderkey, l_linenumber) AS bin,
         l_extendedprice
  FROM lineitem
), per_bin AS (
  SELECT bin, quantile_cont(l_extendedprice, 0.5) AS median_y, count(*) AS n
  FROM b GROUP BY 1
), rolled AS (
  SELECT bin, median_y, n,
         avg(median_y) OVER (ORDER BY bin ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
           AS roll_mean
  FROM per_bin
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY round(roll_mean, 6) DESC, bin ASC) AS rn
  FROM rolled
)
SELECT CAST(bin AS BIGINT) AS bin, round(median_y, 4) AS median_y,
       CAST(n AS BIGINT) AS n, round(roll_mean, 4) AS roll_mean,
       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS is_opt
FROM ranked
"""


# ---------------------------------------------------------------------------
# ustar_scenarios — §2.11 (ustarthreshold.py:14-166)
# ---------------------------------------------------------------------------

THRESHOLDS = [5.0, 10.0, 20.0]


def q_ustar_scenarios(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "value"
    )
    return AN.scenario_threshold_fanout(ev, "user_id", "value", THRESHOLDS)


SQL_USTAR = f"""
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(t.threshold AS DOUBLE) AS threshold,
       CAST(count(CASE WHEN value >= t.threshold THEN 1 END) AS BIGINT) AS n_kept,
       floor(CAST(sum(CASE WHEN value >= t.threshold
                      THEN CAST(floor(value * 10000 + 0.31830988618367)
                                AS BIGINT) END) AS DOUBLE)
             / count(CASE WHEN value >= t.threshold THEN 1 END)
             + 0.31830988618367) / 10000.0 AS mean_kept
FROM events CROSS JOIN (VALUES {", ".join(f"({x})" for x in THRESHOLDS)}) t(threshold)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# combine_first_merge — S3/J2 (filereader.py:271-272): first-non-null merge
# ---------------------------------------------------------------------------

def q_combine_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    slot = ((F.floor(_es_floor() / 1800) + 1) * 1800).cast("long")
    def half(tp: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == tp)
            .groupBy(
                F.col("user_id").cast("long").alias("user_id"),
                slot.alias("slot_s"),
            )
            .agg(F.avg("value").alias("v"))
        )

    out = AN.combine_first(half("click"), half("view"), ["user_id", "slot_s"], "v")
    return out.select(
        "user_id", "slot_s", F.round("v", 4).alias("v"), "src"
    )


SQL_COMBINE_FIRST = """
WITH c AS (
  SELECT user_id, (CAST(floor(floor(epoch(ts)) / 1800) AS BIGINT) + 1) * 1800 AS slot_s,
         avg(value) AS v
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
), v AS (
  SELECT user_id, (CAST(floor(floor(epoch(ts)) / 1800) AS BIGINT) + 1) * 1800 AS slot_s,
         avg(value) AS v
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT CAST(coalesce(c.user_id, v.user_id) AS BIGINT) AS user_id,
       coalesce(c.slot_s, v.slot_s) AS slot_s,
       round(coalesce(c.v, v.v), 4) AS v,
       CASE WHEN c.v IS NOT NULL THEN 'primary'
            WHEN v.v IS NOT NULL THEN 'secondary' ELSE 'none' END AS src
FROM c FULL OUTER JOIN v ON c.user_id = v.user_id AND c.slot_s = v.slot_s
"""


# ---------------------------------------------------------------------------
# percentile_clip — P4 (frames.py:671-676): keep rows between P05 and P95
# ---------------------------------------------------------------------------

def q_percentile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        "value",
    )
    limits = ev.groupBy("user_id").agg(
        F.expr("percentile(value, 0.05)").alias("_p05"),
        F.expr("percentile(value, 0.95)").alias("_p95"),
    )
    return (
        ev.join(F.broadcast(limits), "user_id")
        .filter(F.col("value").between(F.col("_p05"), F.col("_p95")))
        .select("event_id", "user_id", F.round("value", 4).alias("value"))
    )


SQL_PERCENTILE_CLIP = """
WITH lim AS (
  SELECT user_id, quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY 1
)
SELECT CAST(e.event_id AS BIGINT) AS event_id,
       CAST(e.user_id AS BIGINT) AS user_id,
       round(e.value, 4) AS value
FROM events e JOIN lim USING (user_id)
WHERE e.value BETWEEN lim.p05 AND lim.p95
"""


# ---------------------------------------------------------------------------
# diel_cycle — A17 (co2_penalty.py:386-392): time-of-day mean cycle
# ---------------------------------------------------------------------------

def q_diel_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    hour = F.floor(F.pmod(_es_floor(), 86400) / 3600).cast("long")
    # exact e4-integer mean (sf0.1 sweep) — see q_agg_as_hires
    return ev.groupBy(
        F.col("user_id").cast("long").alias("user_id"), hour.alias("hour")
    ).agg(
        (
            F.floor(
                F.sum(
                    F.floor(F.col("value") * 10_000 + F.lit(0.31830988618367))
                    .cast("long")
                ).cast("double")
                / F.count("value")
                + F.lit(0.31830988618367)
            )
            / 10_000.0
        ).alias("mean_val"),
        F.count("value").cast("long").alias("n_vals"),
    )


SQL_DIEL_CYCLE = """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(floor((CAST(floor(epoch(ts)) AS BIGINT) % 86400) / 3600) AS BIGINT) AS hour,
       floor(CAST(sum(CAST(floor(value * 10000 + 0.31830988618367)
                           AS BIGINT)) AS DOUBLE)
             / count(value) + 0.31830988618367) / 10000.0 AS mean_val,
       CAST(count(value) AS BIGINT) AS n_vals
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# bit_extract — §2.7 (binary/extract.py:5-111 + eddyproflags.py:91-98):
# bit-field extraction + digit-flag remap (9 -> NULL, 1 -> 2)
# ---------------------------------------------------------------------------

def q_bit_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    eid = F.col("event_id").cast("long")
    digit2 = F.pmod(F.floor(F.col("value") / 10), F.lit(10)).cast("long")
    return ev.select(
        eid.alias("event_id"),
        eid.bitwiseAND(F.lit(15)).alias("low4"),
        F.shiftright(eid, 4).bitwiseAND(F.lit(15)).alias("mid4"),
        digit2.alias("digit2"),
        F.when(digit2 == 9, F.lit(None).cast("int"))
        .when(digit2 == 1, F.lit(2))
        .otherwise(F.lit(0))
        .alias("digit_flag"),
    )


SQL_BIT_EXTRACT = """
WITH d AS (
  SELECT event_id,
         ((CAST(floor(value / 10) AS BIGINT) % 10) + 10) % 10 AS digit2
  FROM events
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(event_id & 15 AS BIGINT) AS low4,
       CAST((event_id >> 4) & 15 AS BIGINT) AS mid4,
       CAST(digit2 AS BIGINT) AS digit2,
       CAST(CASE WHEN digit2 = 9 THEN NULL
                 WHEN digit2 = 1 THEN 2 ELSE 0 END AS INT) AS digit_flag
FROM d
"""


# ---------------------------------------------------------------------------
# doy_cum — A14 (times.py:1110-1140): per-key daily cumulative + cross-key
# mean/SD band per day
# ---------------------------------------------------------------------------

def q_doy_cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    day = (F.floor(_es_floor() / 86400) * 86400).cast("long")
    daily = ev.groupBy(
        F.col("user_id").cast("long").alias("user_id"), day.alias("day_s")
    ).agg(F.sum("value").alias("day_sum"))
    wc = (
        Window.partitionBy("user_id")
        .orderBy("day_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.withColumn("cum", F.sum("day_sum").over(wc))
    return cum.groupBy("day_s").agg(
        F.round(F.avg("cum"), 4).alias("mean_cum"),
        F.round(F.stddev_samp("cum"), 4).alias("sd_cum"),
        F.count("*").cast("long").alias("n_keys"),
    )


SQL_DOY_CUM = """
WITH daily AS (
  SELECT user_id,
         CAST(floor(floor(epoch(ts)) / 86400) * 86400 AS BIGINT) AS day_s,
         sum(value) AS day_sum
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT user_id, day_s,
         sum(day_sum) OVER (PARTITION BY user_id ORDER BY day_s
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM daily
)
SELECT day_s, round(avg(cum), 4) AS mean_cum,
       round(stddev_samp(cum), 4) AS sd_cum,
       CAST(count(*) AS BIGINT) AS n_keys
FROM cum GROUP BY 1
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "percentiles101": q_percentiles101,
    "histogram20": q_histogram20,
    "daily_corr": q_daily_corr,
    "circular_mean": q_circular_mean,
    "freq_detect": q_freq_detect,
    "agg_as_hires": q_agg_as_hires,
    "daily_offset_bins": q_daily_offset_bins,
    "maxcov_lag_search": q_maxcov_lag_search,
    "sim_window_stats": q_sim_window_stats,
    "qxy_binagg": q_qxy_binagg,
    "optimum_range": q_optimum_range,
    "ustar_scenarios": q_ustar_scenarios,
    "combine_first_merge": q_combine_first_merge,
    "percentile_clip": q_percentile_clip,
    "diel_cycle": q_diel_cycle,
    "bit_extract": q_bit_extract,
    "doy_cum": q_doy_cum,
}

ORACLE_SQL: dict[str, str] = {
    "percentiles101": SQL_PERCENTILES101,
    "histogram20": SQL_HISTOGRAM20,
    "daily_corr": SQL_DAILY_CORR,
    "circular_mean": SQL_CIRCULAR_MEAN,
    "freq_detect": SQL_FREQ_DETECT,
    "agg_as_hires": SQL_AGG_AS_HIRES,
    "daily_offset_bins": SQL_DAILY_OFFSET_BINS,
    "maxcov_lag_search": SQL_MAXCOV,
    "sim_window_stats": SQL_SIM_WINDOW,
    "qxy_binagg": SQL_QXY_BINAGG,
    "optimum_range": SQL_OPTIMUM_RANGE,
    "ustar_scenarios": SQL_USTAR,
    "combine_first_merge": SQL_COMBINE_FIRST,
    "percentile_clip": SQL_PERCENTILE_CLIP,
    "diel_cycle": SQL_DIEL_CYCLE,
    "bit_extract": SQL_BIT_EXTRACT,
    "doy_cum": SQL_DOY_CUM,
}
