"""Round-4c query registry: multi-resolution / irregular-sampling
analytics — Lomb-Scargle periodogram on the raw (un-gridded) event
stream, exact-integer Haar detail energy, Hurst R/S exponent, Croston
intermittent-demand forecasting, and degree-ordered triangle counting
on the crawl-order domain graph.

Oracle conventions as everywhere in this repo: identical column names,
epoch seconds ``*_s`` BIGINT, every DuckDB integer SUM wrapped in
``CAST(... AS BIGINT)`` (HUGEINT trap), derived doubles floor-scaled.
The Haar and Hurst queries go further: values are centi-unit INTEGERS
end-to-end, so no float is ever summed in either engine (see
operators/multires.py for the exactness argument).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diive_spark.operators.croston import croston
from diive_spark.operators.lombscargle import lomb_scargle
from diive_spark.operators.multires import haar_energy, hurst_rs
from diive_spark.text.graph import triangle_count
from diive_spark.queries_stats2 import _events


def _epoch_s(col: str) -> F.Column:
    return F.floor(
        F.unix_micros(F.col(col).cast("timestamp")) / 1_000_000
    ).cast("long")


# ---------------------------------------------------------------------------
# lomb_scargle — spectral power on the IRREGULAR event stream, no grid
# ---------------------------------------------------------------------------

_LS_PERIODS = tuple(h * 3600 for h in (6, 8, 12, 24, 48, 84, 168))


def q_lomb_scargle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        _epoch_s("ts").alias("ts_s"),
        "value",
    )
    return lomb_scargle(
        ev, key_col="user_id", ts_col="ts_s", value_col="value",
        periods_s=_LS_PERIODS,
    )


SQL_LOMB_SCARGLE = f"""
WITH pts AS (
  SELECT user_id, CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS t,
         value AS y
  FROM events
), st AS (
  SELECT user_id, count(y) AS n, avg(y) AS mu, var_pop(y) AS vr
  FROM pts GROUP BY user_id
), ph AS (
  SELECT p.user_id, g.period_s, st.n, st.vr,
         (p.y - st.mu) AS dy,
         cos(2 * pi() * (p.t % g.period_s) / g.period_s) AS c,
         sin(2 * pi() * (p.t % g.period_s) / g.period_s) AS s
  FROM pts p
  JOIN st USING (user_id)
  CROSS JOIN (SELECT unnest({list(_LS_PERIODS)}) AS period_s) g
  WHERE st.vr > 0
), agg AS (
  SELECT user_id, period_s, max(n) AS n, max(vr) AS vr,
         sum(dy * c) AS yc, sum(dy * s) AS ys,
         sum(c * c) AS cc, sum(s * s) AS ss, sum(c * s) AS cs
  FROM ph GROUP BY user_id, period_s
), rot AS (
  SELECT *, cos(atan2(2 * cs, cc - ss) / 2) AS ct,
            sin(atan2(2 * cs, cc - ss) / 2) AS stt
  FROM agg
)
SELECT CAST(user_id AS BIGINT) AS user_id, period_s,
       CAST(n AS BIGINT) AS n,
       CAST(floor(
         ((yc*ct + ys*stt)*(yc*ct + ys*stt)
            / (cc*ct*ct + 2*cs*ct*stt + ss*stt*stt)
          + (ys*ct - yc*stt)*(ys*ct - yc*stt)
            / (ss*ct*ct - 2*cs*ct*stt + cc*stt*stt)) / 2
         / vr * 1e4 + 0.5) AS BIGINT) AS pnorm_e4
FROM rot
"""


# ---------------------------------------------------------------------------
# haar_energy — exact-integer multi-resolution detail energies
# ---------------------------------------------------------------------------

def q_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        "ts", "event_id", "value",
    )
    return haar_energy(
        ev, key_col="user_id", order_cols=["ts", "event_id"],
        value_col="value", levels=4, scale=100,
    )


SQL_HAAR_ENERGY = """
WITH base AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - 1 AS idx,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vi
  FROM events
), lv AS (
  SELECT user_id, g.level,
         CAST(floor(idx / pow(2, g.level)) AS BIGINT) AS pair,
         CAST(floor(idx / pow(2, g.level - 1)) AS BIGINT) % 2 AS half,
         vi
  FROM base CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS level) g
), halves AS (
  SELECT user_id, level, pair,
         sum(CASE WHEN half = 0 THEN vi END) AS s0,
         sum(CASE WHEN half = 1 THEN vi END) AS s1,
         count(*) AS cnt
  FROM lv GROUP BY user_id, level, pair
)
SELECT CAST(user_id AS BIGINT) AS user_id, level,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum((s0 - s1) * (s0 - s1)) AS BIGINT) AS energy_raw
FROM halves
WHERE cnt = CAST(pow(2, level) AS BIGINT)
GROUP BY user_id, level
"""


# ---------------------------------------------------------------------------
# hurst_rs — rescaled-range Hurst exponent, centi-unit-exact chunks
# ---------------------------------------------------------------------------

def q_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        "ts", "event_id", "value",
    )
    return hurst_rs(
        ev, key_col="user_id", order_cols=["ts", "event_id"],
        value_col="value", sizes=(8, 16, 32), scale=100,
    )


SQL_HURST_RS = """
WITH base AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - 1 AS idx,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vi
  FROM events
), sized AS (
  SELECT user_id, g.sz, idx // g.sz AS chunk, idx % g.sz AS pos, vi
  FROM base CROSS JOIN (SELECT unnest([8, 16, 32]) AS sz) g
), run AS (
  SELECT user_id, sz, chunk, pos, vi,
         sum(vi) OVER (PARTITION BY user_id, sz, chunk ORDER BY pos) AS c,
         sum(vi) OVER (PARTITION BY user_id, sz, chunk) AS tot,
         sum(vi * vi) OVER (PARTITION BY user_id, sz, chunk) AS q,
         count(*) OVER (PARTITION BY user_id, sz, chunk) AS cnt
  FROM sized
), chunks AS (
  SELECT user_id, sz, chunk,
         max(cnt) AS cnt, max(CAST(tot AS DOUBLE)) AS tot,
         max(CAST(q AS DOUBLE)) AS q,
         max(c - (pos + 1) * (CAST(tot AS DOUBLE) / sz)) AS zmax,
         min(c - (pos + 1) * (CAST(tot AS DOUBLE) / sz)) AS zmin
  FROM run GROUP BY user_id, sz, chunk
), rs AS (
  SELECT user_id, sz,
         (zmax - zmin) / sqrt(q / sz - (tot / sz) * (tot / sz)) AS rs
  FROM chunks
  WHERE cnt = sz AND q / sz - (tot / sz) * (tot / sz) > 0
), per_size AS (
  SELECT user_id, sz, count(*) AS n_chunks, avg(rs) AS mean_rs
  FROM rs GROUP BY user_id, sz
), piv AS (
  SELECT user_id,
         count(*) AS nsz,
         max(CASE WHEN sz = 8 THEN n_chunks END) AS n8,
         max(CASE WHEN sz = 16 THEN n_chunks END) AS n16,
         max(CASE WHEN sz = 32 THEN n_chunks END) AS n32,
         max(CASE WHEN sz = 8 THEN mean_rs END) AS rs8,
         max(CASE WHEN sz = 16 THEN mean_rs END) AS rs16,
         max(CASE WHEN sz = 32 THEN mean_rs END) AS rs32
  FROM per_size GROUP BY user_id
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(n8 AS BIGINT) AS n8, CAST(n16 AS BIGINT) AS n16,
       CAST(n32 AS BIGINT) AS n32,
       CAST(floor((log2(rs32) - log2(rs8)) / 2 * 1e4 + 0.5) AS BIGINT)
         AS h_e4,
       CAST(floor(rs8 * 1e4 + 0.5) AS BIGINT) AS rs8_e4,
       CAST(floor(rs16 * 1e4 + 0.5) AS BIGINT) AS rs16_e4,
       CAST(floor(rs32 * 1e4 + 0.5) AS BIGINT) AS rs32_e4
FROM piv WHERE nsz = 3
"""


# ---------------------------------------------------------------------------
# croston_forecast — intermittent purchase demand per event step
# ---------------------------------------------------------------------------

def q_croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        "ts", "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "demand"
        ),
    )
    return croston(
        ev, key_col="user_id", order_cols=["ts", "event_id"],
        demand_col="demand", alpha=0.2,
    )


SQL_CROSTON = """
WITH stepped AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS step,
         CASE WHEN event_type = 'purchase' THEN value END AS z
  FROM events
), dem AS (
  SELECT user_id, z,
         row_number() OVER (PARTITION BY user_id ORDER BY step) AS j,
         step - lag(step) OVER (PARTITION BY user_id ORDER BY step) AS p,
         count(*) OVER (PARTITION BY user_id) AS m
  FROM stepped WHERE z IS NOT NULL AND z <> 0
), agg AS (
  SELECT user_id, max(m) AS m,
         sum((CASE WHEN j = 1 THEN pow(0.8, m - 1)
                   ELSE 0.2 * pow(0.8, m - j) END) * z) AS zhat,
         sum((CASE WHEN j = 2 THEN pow(0.8, m - 2)
                   WHEN j >= 3 THEN 0.2 * pow(0.8, m - j) END) * p)
           AS phat
  FROM dem WHERE m >= 2 GROUP BY user_id
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(m AS BIGINT) AS m,
       CAST(floor(zhat * 100 + 0.5) AS BIGINT) AS zhat_e2,
       CAST(floor(phat * 1e4 + 0.5) AS BIGINT) AS phat_e4,
       CAST(floor(zhat / phat * 1e4 + 0.5) AS BIGINT) AS forecast_e4
FROM agg
"""


# ---------------------------------------------------------------------------
# triangle_count — degree-ordered wedge closure on the domain graph
# (same crawl-order edge construction as domain_pagerank)
# ---------------------------------------------------------------------------

def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source"
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    edges = (
        d.withColumn("_nxt", F.lead("source").over(w))
        .filter(F.col("_nxt").isNotNull())
        .select(F.col("source").alias("src"), F.col("_nxt").alias("dst"))
    )
    return triangle_count(edges).orderBy("node")


SQL_TRIANGLE_COUNT = """
WITH e0 AS (
  SELECT source AS sa,
         lead(source) OVER (PARTITION BY lang ORDER BY doc_id) AS sb
  FROM documents QUALIFY sb IS NOT NULL
), und AS (
  SELECT DISTINCT least(sa, sb) AS a, greatest(sa, sb) AS b
  FROM e0 WHERE sa <> sb
), deg AS (
  SELECT n, count(*) AS deg
  FROM (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
  GROUP BY n
), oriented AS (
  SELECT CASE WHEN lo THEN a ELSE b END AS u,
         CASE WHEN lo THEN b ELSE a END AS v,
         CASE WHEN lo THEN db ELSE da END AS dv
  FROM (
    SELECT und.a, und.b, d1.deg AS da, d2.deg AS db,
           (d1.deg < d2.deg OR (d1.deg = d2.deg AND und.a < und.b)) AS lo
    FROM und
    JOIN deg d1 ON d1.n = und.a
    JOIN deg d2 ON d2.n = und.b
  )
), wedges AS (
  SELECT e1.u AS u, e1.v AS v1, e2.v AS v2
  FROM oriented e1 JOIN oriented e2 USING (u)
  WHERE e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v)
), tris AS (
  SELECT w.u, w.v1, w.v2
  FROM wedges w JOIN oriented o ON o.u = w.v1 AND o.v = w.v2
)
SELECT node, CAST(count(*) AS BIGINT) AS n_tri
FROM (SELECT u AS node FROM tris
      UNION ALL SELECT v1 FROM tris
      UNION ALL SELECT v2 FROM tris)
GROUP BY node ORDER BY node
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "lomb_scargle": q_lomb_scargle,
    "haar_energy": q_haar_energy,
    "hurst_rs": q_hurst_rs,
    "croston_forecast": q_croston_forecast,
    "triangle_count": q_triangle_count,
}

ORACLE_SQL: dict[str, str] = {
    "lomb_scargle": SQL_LOMB_SCARGLE,
    "haar_energy": SQL_HAAR_ENERGY,
    "hurst_rs": SQL_HURST_RS,
    "croston_forecast": SQL_CROSTON,
    "triangle_count": SQL_TRIANGLE_COUNT,
}
