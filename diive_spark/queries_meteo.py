"""Queries for the meteo/solar/wind/flux-chain operator families
(SURVEY §2.7 domain functions, §2.8 F4/F6/F12/F13/F14, §2.11 WindRotation,
§2.9 C5).

Synthetic physical columns are derived DETERMINISTICALLY from the events
table (identical arithmetic in Spark and the DuckDB oracle), because the
test tables carry no meteo variables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diive_spark.functions import meteo as MET
from diive_spark.functions import wind as WIND
from diive_spark.operators import flags as FL
from diive_spark.operators import fluxchain as FC
from diive_spark.operators import outliers as OU
from diive_spark.queries_stats2 import _events

LAT, LON, UTC_OFF = 47.286417, 7.733750, 1  # reference example site


# ---------------------------------------------------------------------------
# Domain scalars — potential radiation + day/night flags
# (potentialradiation.py:44-77, daynightflag.py:110-134)
# ---------------------------------------------------------------------------

def q_potential_radiation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    sw = MET.swin_pot("ts", LAT, LON, UTC_OFF)
    return ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.round(sw, 4).alias("swinpot"),
        MET.daytime_flag(sw).cast("int").alias("daytime"),
        MET.nighttime_flag(sw).cast("int").alias("nighttime"),
    )


_SW_SQL = MET.swin_pot_sql("ts", LAT, LON, UTC_OFF)

SQL_POTENTIAL_RADIATION = f"""
SELECT CAST(event_id AS BIGINT) AS event_id,
       round({_SW_SQL}, 4) AS swinpot,
       CAST(CASE WHEN {_SW_SQL} >= 50 THEN 1 ELSE 0 END AS INT) AS daytime,
       CAST(CASE WHEN {_SW_SQL} >= 50 THEN 0 ELSE 1 END AS INT) AS nighttime
FROM events
"""


# VPD from TA + RH (vpd.py:40-48); TA/RH synthesized deterministically
def q_vpd(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    ta = F.col("value") * 0.3
    rh = (F.lit(40) + F.col("event_id") % 60).cast("double")
    return ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.round(ta, 4).alias("ta"),
        F.round(rh, 4).alias("rh"),
        F.round(MET.vpd_from_ta_rh(ta, rh), 4).alias("vpd_kpa"),
    )


SQL_VPD = f"""
SELECT CAST(event_id AS BIGINT) AS event_id,
       round(value * 0.3, 4) AS ta,
       round(CAST(40 + event_id % 60 AS DOUBLE), 4) AS rh,
       round({MET.vpd_sql('value * 0.3', 'CAST(40 + event_id % 60 AS DOUBLE)')}, 4) AS vpd_kpa
FROM events
"""


# ---------------------------------------------------------------------------
# F4 — z-score separately for daytime/nighttime (zscore.py:25-136)
# ---------------------------------------------------------------------------

def q_flag_zscore_daynight(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn(
        "is_daytime", MET.daytime_flag(MET.swin_pot("ts", LAT, LON, UTC_OFF))
    )
    out = OU.zscore_flag_daynight_expr(
        ev, "user_id", "value", "is_daytime", thres_zscore=2.0
    )
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("is_daytime").cast("int").alias("is_daytime"),
        F.col("flag_zscore_dn").cast("int").alias("flag_zscore_dn"),
    )


SQL_FLAG_ZSCORE_DAYNIGHT = f"""
WITH base AS (
  SELECT event_id, user_id, value,
         CASE WHEN {_SW_SQL} >= 50 THEN 1 ELSE 0 END AS is_daytime
  FROM events
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(is_daytime AS INT) AS is_daytime,
       CAST(CASE WHEN value IS NOT NULL
                  AND abs((value - avg(value) OVER w) / stddev_pop(value) OVER w) > 2.0
            THEN 2 ELSE 0 END AS INT) AS flag_zscore_dn
FROM base
WINDOW w AS (PARTITION BY user_id, is_daytime)
"""


# ---------------------------------------------------------------------------
# F6 — absolute limits separately for daytime/nighttime
# (absolutelimits.py:20-134)
# ---------------------------------------------------------------------------

DAY_LIMITS = (5.0, 95.0)
NIGHT_LIMITS = (0.0, 80.0)


def q_flag_abslim_daynight(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn(
        "is_daytime", MET.daytime_flag(MET.swin_pot("ts", LAT, LON, UTC_OFF))
    )
    out = FL.flag_abslim_daynight(
        ev, "value", "is_daytime", DAY_LIMITS, NIGHT_LIMITS
    )
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("is_daytime").cast("int").alias("is_daytime"),
        F.col("flag_abslim_dn").cast("int").alias("flag_abslim_dn"),
    )


SQL_FLAG_ABSLIM_DAYNIGHT = f"""
WITH base AS (
  SELECT event_id, value,
         CASE WHEN {_SW_SQL} >= 50 THEN 1 ELSE 0 END AS is_daytime
  FROM events
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(is_daytime AS INT) AS is_daytime,
       CAST(CASE WHEN value IS NULL THEN 0
                 WHEN is_daytime = 1 AND (value < {DAY_LIMITS[0]} OR value > {DAY_LIMITS[1]}) THEN 2
                 WHEN is_daytime = 0 AND (value < {NIGHT_LIMITS[0]} OR value > {NIGHT_LIMITS[1]}) THEN 2
                 ELSE 0 END AS INT) AS flag_abslim_dn
FROM base
"""


# ---------------------------------------------------------------------------
# WindRotation2D — double rotation from segment-mean wind
# (windrotation.py:78-136); u/v/w synthesized deterministically
# ---------------------------------------------------------------------------

def q_wind_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sf0.1-sweep hardening: the per-user component means inside the
    # rotation are order-dependent double sums — feed the operator
    # e6-INTEGER-valued doubles (integral partials sum exactly in any
    # order) and floor-offset the rotated output back at value scale.
    off = 0.31830988618367
    e6 = lambda c: F.floor(c * 1_000_000 + F.lit(off)).cast("double")  # noqa: E731
    ev = _events(spark, sf_dir).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        e6(F.col("value") + F.lit(1.0)).alias("u"),
        e6(
            F.col("value") * 0.3 + F.sin(F.radians(F.col("event_id") % 360))
        ).alias("v"),
        e6(
            F.col("value") * 0.1
            - 0.05 * F.cos(F.radians(F.col("event_id") % 180))
        ).alias("w"),
    )
    out = WIND.double_rotation(ev, "user_id")

    def back(c):  # e6 scale -> value scale at 4 decimals, floor-offset
        return F.floor(F.col(c) / 100.0 + F.lit(off)) / 10_000.0

    return out.select(
        "event_id",
        "user_id",
        back("u_rot").alias("u_rot"),
        back("v_rot").alias("v_rot"),
        back("w_rot").alias("w_rot"),
    )


SQL_WIND_ROTATION = """
WITH base AS (
  -- e6-integer components, mirrors Spark (see query comment)
  SELECT event_id, user_id,
         floor((value + 1.0) * 1000000 + 0.31830988618367) AS u,
         floor((value * 0.3 + sin(radians(event_id % 360))) * 1000000
               + 0.31830988618367) AS v,
         floor((value * 0.1 - 0.05 * cos(radians(event_id % 180))) * 1000000
               + 0.31830988618367) AS w
  FROM events
), m AS (
  SELECT *,
         avg(u) OVER wk AS u_m, avg(v) OVER wk AS v_m, avg(w) OVER wk AS w_m
  FROM base
  WINDOW wk AS (PARTITION BY user_id)
), ang AS (
  SELECT *, atan(v_m / u_m) AS a1 FROM m
), ang2 AS (
  SELECT *, atan(w_m / (u_m * cos(a1) + v_m * sin(a1))) AS a2 FROM ang
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       floor(((u * cos(a1) + v * sin(a1)) * cos(a2) + w * sin(a2)) / 100.0
             + 0.31830988618367) / 10000.0 AS u_rot,
       floor((-u * sin(a1) + v * cos(a1)) / 100.0
             + 0.31830988618367) / 10000.0 AS v_rot,
       floor((-(u * cos(a1) + v * sin(a1)) * sin(a2) + w * cos(a2)) / 100.0
             + 0.31830988618367) / 10000.0 AS w_rot
FROM ang2
"""


# ---------------------------------------------------------------------------
# C5/T13 — wind-direction offset search (winddiroffset.py:102-141)
# ---------------------------------------------------------------------------

WD_OFFSETS = list(range(-50, 51, 10))


def q_winddir_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.dayofmonth("ts").cast("int").alias("grp"),
        ((F.col("value") * 3.6 + (F.col("event_id") % 360)) % 360).alias("wd"),
    )
    out = WIND.winddir_offset_search(
        ev, "grp", "wd", offsets=WD_OFFSETS, bin_deg=10, round_r=6
    )
    return out.select(
        "grp",
        F.col("best_offset").cast("int").alias("best_offset"),
        F.round("best_corr", 4).alias("best_corr"),
    )


SQL_WINDDIR_OFFSET = """
WITH base AS (
  SELECT CAST(dayofmonth(ts) AS INT) AS grp,
         fmod(value * 3.6 + (event_id % 360), 360.0) AS wd
  FROM events
), ref AS (
  SELECT CAST(floor(fmod(fmod(wd, 360) + 360, 360) / 10) AS INT) AS bin,
         count(*) AS ref_n
  FROM base GROUP BY 1
), offs AS (
  SELECT unnest(generate_series(-50, 50, 10)) AS off
), cand AS (
  SELECT grp, off,
         CAST(floor(fmod(fmod(wd + off, 360) + 360, 360) / 10) AS INT) AS bin,
         count(*) AS n
  FROM base CROSS JOIN offs GROUP BY 1, 2, 3
), bins AS (
  SELECT unnest(generate_series(0, 35)) AS bin
), grid AS (
  SELECT DISTINCT grp, off FROM cand
), dense AS (
  SELECT g.grp, g.off, b.bin,
         coalesce(c.n, 0) AS n, coalesce(r.ref_n, 0) AS ref_n
  FROM grid g CROSS JOIN bins b
  LEFT JOIN cand c ON c.grp = g.grp AND c.off = g.off AND c.bin = b.bin
  LEFT JOIN ref r ON r.bin = b.bin
), scored AS (
  SELECT grp, off,
         round(corr(CAST(n AS DOUBLE), CAST(ref_n AS DOUBLE)), 6) AS r
  FROM dense GROUP BY 1, 2
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY grp ORDER BY r DESC, off ASC) AS rn
  FROM scored
)
SELECT grp, CAST(off AS INT) AS best_offset, round(r, 4) AS best_corr
FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# F12 — EddyPro hard-flag digit extraction (eddyproflags.py:91-98,136-143)
# ---------------------------------------------------------------------------

def _raw_vm97(ev: DataFrame) -> F.Column:
    """Deterministic synthetic EddyPro flag value: 80 / 81 / 89 / null."""
    m = F.col("event_id") % 4
    return (
        F.when(m == 0, F.lit(80))
        .when(m == 1, F.lit(81))
        .when(m == 2, F.lit(89))
        .otherwise(F.lit(None))
    )


def q_eddypro_digit_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    raw = _raw_vm97(ev)
    return ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        raw.cast("int").alias("raw_flag"),
        FC.eddypro_digit_flag(raw).cast("int").alias("flag_vm97"),
    )


SQL_EDDYPRO_DIGIT = """
WITH base AS (
  SELECT event_id,
         CASE CAST(event_id % 4 AS INT)
              WHEN 0 THEN 80 WHEN 1 THEN 81 WHEN 2 THEN 89 ELSE NULL END AS raw_flag
  FROM events
), d AS (
  SELECT *,
         CAST(substring(CAST(coalesce(raw_flag, 89) AS VARCHAR), 2, 1) AS INT) AS digit
  FROM base
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(raw_flag AS INT) AS raw_flag,
       CAST(CASE WHEN digit = 9 THEN NULL
                 WHEN digit = 1 THEN 2 ELSE digit END AS INT) AS flag_vm97
FROM d
"""


# ---------------------------------------------------------------------------
# F13/F14/E2 — Level-2 -> Level-3.1 -> Level-3.2 flux chain
# (fluxprocessingchain.py:20-393)
# ---------------------------------------------------------------------------

FLUX_ABS = (-45.0, 45.0)
FLUX_Z = 3.0


def q_flux_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = _events(spark, sf_dir)
    ev = raw.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        (F.col("value") - 50.0).alias("flux"),
        (F.lit(0.1) * F.sin(F.radians(F.col("event_id") % 180))).alias("storage"),
        _raw_vm97(raw).alias("raw_flag"),
    )
    out = FC.flux_chain(
        ev,
        key_col="user_id",
        flux_col="flux",
        storage_col="storage",
        raw_flag_col="raw_flag",
        abs_min=FLUX_ABS[0],
        abs_max=FLUX_ABS[1],
        zscore_thres=FLUX_Z,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("qcf_l2").cast("int").alias("qcf_l2"),
        F.round("flux_l31", 4).alias("flux_l31"),
        F.col("flag_zscore_l32").cast("int").alias("flag_zscore_l32"),
        F.col("qcf_l32").cast("int").alias("qcf_l32"),
        F.round("flux_l31_qcf", 4).alias("flux_l32"),
    )


SQL_FLUX_CHAIN = f"""
WITH base AS (
  SELECT event_id, user_id,
         value - 50.0 AS flux,
         0.1 * sin(radians(event_id % 180)) AS storage,
         CASE CAST(event_id % 4 AS INT)
              WHEN 0 THEN 80 WHEN 1 THEN 81 WHEN 2 THEN 89 ELSE NULL END AS raw_flag
  FROM events
), l2flags AS (
  SELECT *,
         CAST(substring(CAST(coalesce(raw_flag, 89) AS VARCHAR), 2, 1) AS INT) AS digit
  FROM base
), l2f AS (
  SELECT *,
         CASE WHEN digit = 9 THEN NULL WHEN digit = 1 THEN 2 ELSE digit END AS flag_vm97,
         CASE WHEN flux IS NULL THEN 0
              WHEN flux < {FLUX_ABS[0]} OR flux > {FLUX_ABS[1]} THEN 2 ELSE 0 END AS flag_abslim
  FROM l2flags
), l2sum AS (
  SELECT *,
         (CASE WHEN flag_vm97 = 2 THEN 2 ELSE 0 END
          + CASE WHEN flag_abslim = 2 THEN 2 ELSE 0 END) AS hard,
         (CASE WHEN flag_vm97 = 1 THEN 1 ELSE 0 END
          + CASE WHEN flag_abslim = 1 THEN 1 ELSE 0 END) AS soft
  FROM l2f
), l2q AS (
  SELECT *,
         CASE WHEN soft BETWEEN 1 AND 3 AND hard = 0 THEN 1
              WHEN hard >= 2 OR soft > 3 THEN 2
              WHEN hard + soft = 0 THEN 0 END AS qcf_l2
  FROM l2sum
), l31 AS (
  SELECT *,
         (CASE WHEN qcf_l2 = 2 THEN NULL ELSE flux END) + storage AS flux_l31
  FROM l2q
), l32 AS (
  SELECT *,
         CASE WHEN flux_l31 IS NOT NULL
               AND abs((flux_l31 - avg(flux_l31) OVER wk) / stddev_pop(flux_l31) OVER wk) > {FLUX_Z}
              THEN 2 ELSE 0 END AS flag_zscore_l32
  FROM l31
  WINDOW wk AS (PARTITION BY user_id)
), l32q AS (
  SELECT *,
         CASE WHEN flag_zscore_l32 = 2 THEN 2
              WHEN flag_zscore_l32 = 0 THEN 0 END AS qcf_l32
  FROM l32
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(user_id AS BIGINT) AS user_id,
       CAST(qcf_l2 AS INT) AS qcf_l2,
       round(flux_l31, 4) AS flux_l31,
       CAST(flag_zscore_l32 AS INT) AS flag_zscore_l32,
       CAST(qcf_l32 AS INT) AS qcf_l32,
       round(CASE WHEN qcf_l32 = 2 THEN NULL ELSE flux_l31 END, 4) AS flux_l32
FROM l32q
"""


# ---------------------------------------------------------------------------
# F12 (full) — EddyPro Level-2 flag family (level2_qualityflags.py:16-139,
# eddyproflags.py:13-480): VM97 raw-data screens, AoA, wind steadiness,
# SSITC, SCF, gas completeness, signal strength -> QCF ladder
# ---------------------------------------------------------------------------

L2_SS_THRESHOLD = 40.0
L2_EXPECT_NR = 36000


def q_flux_level2_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators import eddypro as EP

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    m5 = eid % 5
    d1 = (eid % 2).cast("long")
    d3 = F.when(m5 == 0, F.lit(1)).when(m5 == 1, F.lit(9)).otherwise(F.lit(0)).cast("long")
    d6 = F.when(eid % 3 == 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
    d8 = F.when(eid % 7 == 0, F.lit(9)).otherwise(F.lit(0)).cast("long")
    vm97 = F.when(eid % 17 == 0, F.lit(None)).otherwise(
        F.lit(800000000)
        + d1 * 10000000
        + d3 * 100000
        + d6 * 100
        + d8
    )
    nshw = (
        F.when(m5 <= 1, F.lit(80))
        .when(m5 == 2, F.lit(81))
        .when(m5 == 3, F.lit(89))
        .otherwise(F.lit(None))
    )
    base = ev.select(
        eid.cast("long").alias("event_id"),
        (F.col("value") - 50.0).alias("flux"),
        vm97.cast("long").alias("vm97"),
        _raw_vm97(ev).alias("aoa"),
        nshw.alias("nshw"),
        (eid % 3).cast("int").alias("ssitc"),
        (F.lit(1.0) + F.col("value") / 25.0).alias("scf"),
        (F.lit(L2_EXPECT_NR) - eid % 2000).alias("gas_nr"),
        F.col("value").alias("ss"),
    )
    out, flag_cols = EP.level2_flags(
        base,
        "flux",
        vm97_col="vm97",
        vm97_tests=dict(spikes=True, dropout=True, skewkurt_sf=True, discont_sf=True),
        aoa_col="aoa",
        nshw_col="nshw",
        ssitc_col="ssitc",
        scf_col="scf",
        nr_col="gas_nr",
        expect_col=L2_EXPECT_NR,
        signal_strength_col="ss",
        signal_strength_method="discard below",
        signal_strength_threshold=L2_SS_THRESHOLD,
    )
    out = FL.add_qcf(out, flag_cols, value_col="flux", qcf_col="qcf_l2", suffix="_l2")
    return out.select(
        "event_id",
        *[F.col(c).cast("int").alias(c) for c in flag_cols],
        F.col("qcf_l2").cast("int").alias("qcf_l2"),
    )


SQL_FLUX_LEVEL2_FLAGS = f"""
WITH base AS (
  SELECT event_id,
         value - 50.0 AS flux,
         CASE WHEN event_id % 17 = 0 THEN NULL ELSE
              800000000
              + (event_id % 2) * 10000000
              + (CASE CAST(event_id % 5 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 9 ELSE 0 END) * 100000
              + (CASE WHEN event_id % 3 = 0 THEN 1 ELSE 0 END) * 100
              + (CASE WHEN event_id % 7 = 0 THEN 9 ELSE 0 END)
         END AS vm97,
         CASE CAST(event_id % 4 AS INT)
              WHEN 0 THEN 80 WHEN 1 THEN 81 WHEN 2 THEN 89 ELSE NULL END AS aoa,
         CASE WHEN event_id % 5 <= 1 THEN 80
              WHEN event_id % 5 = 2 THEN 81
              WHEN event_id % 5 = 3 THEN 89 ELSE NULL END AS nshw,
         CAST(event_id % 3 AS INT) AS ssitc,
         1.0 + value / 25.0 AS scf,
         {L2_EXPECT_NR} - event_id % 2000 AS gas_nr,
         value AS ss
  FROM events
), digits AS (
  SELECT *,
         CAST(substring(CAST(coalesce(vm97, 899999999) AS VARCHAR), 2, 1) AS INT) AS dg1,
         CAST(substring(CAST(coalesce(vm97, 899999999) AS VARCHAR), 4, 1) AS INT) AS dg3,
         CAST(substring(CAST(coalesce(vm97, 899999999) AS VARCHAR), 7, 1) AS INT) AS dg6,
         CAST(substring(CAST(coalesce(vm97, 899999999) AS VARCHAR), 9, 1) AS INT) AS dg8,
         CAST(substring(CAST(coalesce(aoa, 89) AS VARCHAR), 2, 1) AS INT) AS dga,
         CAST(substring(CAST(coalesce(nshw, 89) AS VARCHAR), 2, 1) AS INT) AS dgn
  FROM base
), flags AS (
  SELECT *,
         CASE WHEN flux IS NULL THEN 2 ELSE 0 END AS flag_missing,
         CASE WHEN dg1 = 9 THEN NULL WHEN dg1 = 1 THEN 2 ELSE dg1 END AS flag_vm97_spike_hf,
         CASE WHEN dg3 = 9 THEN NULL ELSE dg3 END AS flag_vm97_dropout,
         CASE WHEN dg6 = 9 THEN NULL ELSE dg6 END AS flag_vm97_skewkurt_sf,
         CASE WHEN dg8 = 9 THEN NULL ELSE dg8 END AS flag_vm97_discontinuities_sf,
         CASE WHEN dga = 9 THEN NULL WHEN dga = 1 THEN 2 ELSE dga END AS flag_vm97_aoa_hf,
         CASE WHEN dgn = 9 THEN NULL WHEN dgn = 1 THEN 2 ELSE dgn END AS flag_vm97_nshw_hf,
         ssitc AS flag_ssitc,
         CASE WHEN scf < 2 THEN 0 WHEN scf >= 2 AND scf < 4 THEN 1
              WHEN scf >= 4 THEN 2 END AS flag_scf,
         CASE WHEN gas_nr / {L2_EXPECT_NR}.0 >= 0.99 THEN 0
              WHEN gas_nr / {L2_EXPECT_NR}.0 >= 0.97 THEN 1
              ELSE 2 END AS flag_completeness,
         CASE WHEN ss >= {L2_SS_THRESHOLD} THEN 0
              WHEN ss < {L2_SS_THRESHOLD} THEN 2 END AS flag_signal_strength
  FROM digits
), sums AS (
  SELECT *,
         (CASE WHEN flag_missing = 2 THEN 2 ELSE 0 END
          + CASE WHEN flag_vm97_spike_hf = 2 THEN 2 ELSE 0 END
          + CASE WHEN flag_vm97_dropout = 2 THEN 2 ELSE 0 END
          + CASE WHEN flag_vm97_skewkurt_sf = 2 THEN 2 ELSE 0 END
          + CASE WHEN flag_vm97_discontinuities_sf = 2 THEN 2 ELSE 0 END
          + CASE WHEN flag_vm97_aoa_hf = 2 THEN 2 ELSE 0 END
          + CASE WHEN flag_vm97_nshw_hf = 2 THEN 2 ELSE 0 END
          + CASE WHEN flag_ssitc = 2 THEN 2 ELSE 0 END
          + CASE WHEN flag_scf = 2 THEN 2 ELSE 0 END
          + CASE WHEN flag_completeness = 2 THEN 2 ELSE 0 END
          + CASE WHEN flag_signal_strength = 2 THEN 2 ELSE 0 END) AS hard,
         (CASE WHEN flag_missing = 1 THEN 1 ELSE 0 END
          + CASE WHEN flag_vm97_spike_hf = 1 THEN 1 ELSE 0 END
          + CASE WHEN flag_vm97_dropout = 1 THEN 1 ELSE 0 END
          + CASE WHEN flag_vm97_skewkurt_sf = 1 THEN 1 ELSE 0 END
          + CASE WHEN flag_vm97_discontinuities_sf = 1 THEN 1 ELSE 0 END
          + CASE WHEN flag_vm97_aoa_hf = 1 THEN 1 ELSE 0 END
          + CASE WHEN flag_vm97_nshw_hf = 1 THEN 1 ELSE 0 END
          + CASE WHEN flag_ssitc = 1 THEN 1 ELSE 0 END
          + CASE WHEN flag_scf = 1 THEN 1 ELSE 0 END
          + CASE WHEN flag_completeness = 1 THEN 1 ELSE 0 END
          + CASE WHEN flag_signal_strength = 1 THEN 1 ELSE 0 END) AS soft
  FROM flags
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(flag_missing AS INT) AS flag_missing,
       CAST(flag_vm97_spike_hf AS INT) AS flag_vm97_spike_hf,
       CAST(flag_vm97_dropout AS INT) AS flag_vm97_dropout,
       CAST(flag_vm97_skewkurt_sf AS INT) AS flag_vm97_skewkurt_sf,
       CAST(flag_vm97_discontinuities_sf AS INT) AS flag_vm97_discontinuities_sf,
       CAST(flag_vm97_aoa_hf AS INT) AS flag_vm97_aoa_hf,
       CAST(flag_vm97_nshw_hf AS INT) AS flag_vm97_nshw_hf,
       CAST(flag_ssitc AS INT) AS flag_ssitc,
       CAST(flag_scf AS INT) AS flag_scf,
       CAST(flag_completeness AS INT) AS flag_completeness,
       CAST(flag_signal_strength AS INT) AS flag_signal_strength,
       CAST(CASE WHEN soft BETWEEN 1 AND 3 AND hard = 0 THEN 1
                 WHEN hard >= 2 OR soft > 3 THEN 2
                 WHEN hard + soft = 0 THEN 0 END AS INT) AS qcf_l2
FROM sums
"""


# ---------------------------------------------------------------------------
# §2.11 FormatEddyProFluxnetFileForUpload (formats/fluxnet.py:31-322):
# subset -> variable codes -> _1_1_1 suffix -> YYYYMMDDhhmm timestamps ->
# -9999 fill (the yearly CSV write itself is tested in pytest)
# ---------------------------------------------------------------------------

def q_export_fluxnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.sources.fluxnet import format_fluxnet

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    base = ev.select(
        "ts",
        F.when(eid % 13 == 0, F.lit(None))
        .otherwise(F.round(F.col("value") - 50.0, 4)).alias("FC"),
        (eid % 3).cast("double").alias("FC_SSITC_TEST"),
        F.round(F.sin(F.radians(eid % 360)) * 2, 4).alias("SC_SINGLE"),
        F.round(F.col("value") * 4 + 380, 4).alias("CO2"),
        (eid % 360).cast("double").alias("WD"),
        F.when(eid % 11 == 0, F.lit(None))
        .otherwise(F.round(F.col("value") / 3, 4)).alias("TA_1_1_1"),
    )
    return format_fluxnet(base, ts_col="ts", freq_seconds=1800)


SQL_EXPORT_FLUXNET = """
WITH base AS (
  SELECT ts,
         CASE WHEN event_id % 13 = 0 THEN NULL ELSE round(value - 50.0, 4) END AS fc,
         CAST(event_id % 3 AS DOUBLE) AS ssitc,
         round(2 * sin(radians(event_id % 360)), 4) AS sc,
         round(value * 4 + 380, 4) AS co2,
         CAST(event_id % 360 AS DOUBLE) AS wd,
         CASE WHEN event_id % 11 = 0 THEN NULL ELSE round(value / 3, 4) END AS ta
  FROM events
)
SELECT strftime(ts - INTERVAL 1800 SECOND, '%Y%m%d%H%M') AS TIMESTAMP_START,
       strftime(ts, '%Y%m%d%H%M') AS TIMESTAMP_END,
       coalesce(fc, -9999) AS FC_1_1_1,
       coalesce(ssitc, -9999) AS FC_SSITC_TEST_1_1_1,
       coalesce(sc, -9999) AS SC_1_1_1,
       coalesce(co2, -9999) AS CO2_1_1_1,
       coalesce(wd, -9999) AS WD_1_1_1,
       coalesce(ta, -9999) AS TA_1_1_1
FROM base
"""


# ---------------------------------------------------------------------------
# F11 (full) — FlagQCF daytime/nighttime acceptance thresholds
# (qcf.py:241-282): day records with qcf >= daytime_accept_qcf_below are
# rejected, night records against nighttime_accept_qcf_below
# ---------------------------------------------------------------------------

QCF_DN_DAY_BELOW = 1   # strict: reject ANY day flagging (qcf >= 1)
QCF_DN_NIGHT_BELOW = 2


def q_qcf_daynight(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    sw = MET.swin_pot("ts", LAT, LON, UTC_OFF)
    base = ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        "value",
        MET.daytime_flag(sw).cast("int").alias("is_day"),
        MET.nighttime_flag(sw).cast("int").alias("is_night"),
        # one soft flag (event_id%5) + one hard flag (abs limits)
        F.when(F.col("event_id") % 5 == 0, F.lit(1)).otherwise(F.lit(0)).alias("flag_soft"),
    )
    base = FL.flag_missing(base, "value")
    base = FL.flag_abslim(base, "value", minval=5.0, maxval=95.0)
    out = FL.add_qcf_daynight(
        base,
        ["flag_missing", "flag_abslim", "flag_soft"],
        value_col="value",
        daytime_col="is_day",
        nighttime_col="is_night",
        daytime_accept_qcf_below=QCF_DN_DAY_BELOW,
        nighttime_accept_qcf_below=QCF_DN_NIGHT_BELOW,
    )
    return out.select(
        "event_id",
        "is_day",
        F.col("qcf").cast("int").alias("qcf"),
        F.round("value_qcf", 4).alias("value_qcf"),
    )


SQL_QCF_DAYNIGHT = f"""
WITH base AS (
  SELECT event_id, value,
         CASE WHEN {_SW_SQL} >= 50 THEN 1 ELSE 0 END AS is_day,
         CASE WHEN {_SW_SQL} >= 50 THEN 0 ELSE 1 END AS is_night,
         CASE WHEN event_id % 5 = 0 THEN 1 ELSE 0 END AS flag_soft,
         CASE WHEN value IS NULL THEN 2 ELSE 0 END AS flag_missing,
         CASE WHEN value IS NULL THEN 0
              WHEN value < 5.0 OR value > 95.0 THEN 2 ELSE 0 END AS flag_abslim
  FROM events
), sums AS (
  SELECT *,
         (CASE WHEN flag_missing = 2 THEN 2 ELSE 0 END
          + CASE WHEN flag_abslim = 2 THEN 2 ELSE 0 END
          + CASE WHEN flag_soft = 2 THEN 2 ELSE 0 END) AS hard,
         (CASE WHEN flag_missing = 1 THEN 1 ELSE 0 END
          + CASE WHEN flag_abslim = 1 THEN 1 ELSE 0 END
          + CASE WHEN flag_soft = 1 THEN 1 ELSE 0 END) AS soft
  FROM base
), ladder AS (
  SELECT *,
         CASE WHEN soft BETWEEN 1 AND 3 AND hard = 0 THEN 1
              WHEN hard >= 2 OR soft > 3 THEN 2
              WHEN hard + soft = 0 THEN 0 END AS qcf0
  FROM sums
), dn AS (
  SELECT *,
         CASE WHEN qcf0 >= {QCF_DN_DAY_BELOW} AND is_day = 1 THEN 2 ELSE qcf0 END AS qcf1
  FROM ladder
), dn2 AS (
  SELECT *,
         CASE WHEN qcf1 >= {QCF_DN_NIGHT_BELOW} AND is_night = 1 THEN 2 ELSE qcf1 END AS qcf
  FROM dn
)
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(is_day AS INT) AS is_day,
       CAST(qcf AS INT) AS qcf,
       round(CASE WHEN qcf = 2 THEN NULL ELSE value END, 4) AS value_qcf
FROM dn2
"""


# ---------------------------------------------------------------------------
# §2.11 FluxDetectionLimit (echires/fluxdetectionlimit.py:56-209):
# cross-covariance lag fan-out, realistic-window max with fringe rule,
# LAN15 noise RMSE -> detection limit (lag ranges scaled to the fixture)
# ---------------------------------------------------------------------------

FDL_LAG_FROM, FDL_LAG_TO = -30, -25
FDL_REAL_LO, FDL_REAL_HI, FDL_NOMINAL = -10, 0, -4


def q_flux_detection_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.detectionlimit import flux_detection_limit

    ev = _events(spark, sf_dir)
    eid = F.col("event_id")
    base = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        eid.alias("event_id"),
        (F.sin(F.radians(eid % 97)) + F.col("value") * 0.01).alias("w"),
        (F.lit(400.0) + F.col("value") * 0.2 + F.sin(F.radians(eid % 89))).alias("c"),
        (F.lit(293.0) + F.col("value") * 0.05).alias("ta"),
        (F.lit(0.01) + F.col("value") * 0.0001).alias("h2o"),
        F.lit(96000.0).alias("press"),
    )
    out = flux_detection_limit(
        base, "user_id", "event_id", "w", "c", "ta", "h2o", "press",
        lag_from=FDL_LAG_FROM, lag_to=FDL_LAG_TO, shift_step=1,
        realistic_lo=FDL_REAL_LO, realistic_hi=FDL_REAL_HI,
        nominal_shift=FDL_NOMINAL,
    )
    return out.select(
        "user_id",
        F.col("cov_max_shift").cast("int").alias("cov_max_shift"),
        F.round("flux", 4).alias("flux"),
        F.round("flux_noise_rmse", 4).alias("noise_rmse"),
        F.round("flux_detection_limit", 4).alias("detection_limit"),
        F.round("signal_to_noise", 4).alias("snr"),
    )


SQL_FLUX_DETECTION_LIMIT = f"""
WITH base AS (
  SELECT user_id, event_id,
         sin(radians(event_id % 97)) + value * 0.01 AS w,
         400.0 + value * 0.2 + sin(radians(event_id % 89)) AS c,
         293.0 + value * 0.05 AS ta,
         0.01 + value * 0.0001 AS h2o,
         96000.0 AS press
  FROM events
), primes AS (
  SELECT user_id, event_id,
         w - avg(w) OVER wk AS w_prime,
         c - avg(c) OVER wk AS c_prime,
         avg((press - h2o * press) / (8.31446261815324 * ta)) OVER wk AS factor,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM base
  WINDOW wk AS (PARTITION BY user_id)
), shifts AS (
  SELECT CAST(range AS INT) AS shift FROM range({FDL_LAG_FROM}, {abs(FDL_LAG_FROM)})
), cov AS (
  SELECT a.user_id, s.shift,
         covar_samp(a.w_prime, b.c_prime) AS cv,
         first(a.factor) AS factor
  FROM primes a
  CROSS JOIN shifts s
  JOIN primes b ON b.user_id = a.user_id AND b.rn = a.rn - s.shift
  GROUP BY 1, 2
), covf AS (
  SELECT *, cv * factor AS cov_flux, abs(cv) AS cov_abs FROM cov
), best AS (
  SELECT user_id,
         CASE WHEN shift > {FDL_REAL_LO} AND shift < {FDL_REAL_HI} THEN shift
              ELSE {FDL_NOMINAL} END AS cov_max_shift
  FROM covf
  WHERE shift BETWEEN {FDL_REAL_LO} AND {FDL_REAL_HI}
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY cov_abs DESC, shift ASC) = 1
), flux AS (
  SELECT b.user_id, b.cov_max_shift, f.cov_flux AS flux
  FROM best b JOIN covf f
    ON f.user_id = b.user_id AND f.shift = b.cov_max_shift
), noise AS (
  SELECT user_id,
         sqrt(0.5 * (
           stddev_samp(CASE WHEN shift BETWEEN {FDL_LAG_FROM} AND {FDL_LAG_TO}
                            THEN cov_flux END) ** 2
           + avg(CASE WHEN shift BETWEEN {FDL_LAG_FROM} AND {FDL_LAG_TO}
                      THEN cov_flux END) ** 2
           + stddev_samp(CASE WHEN shift BETWEEN {-FDL_LAG_TO} AND {-FDL_LAG_FROM}
                              THEN cov_flux END) ** 2
           + avg(CASE WHEN shift BETWEEN {-FDL_LAG_TO} AND {-FDL_LAG_FROM}
                      THEN cov_flux END) ** 2
         )) AS rmse
  FROM covf GROUP BY 1
)
SELECT CAST(f.user_id AS BIGINT) AS user_id,
       CAST(f.cov_max_shift AS INT) AS cov_max_shift,
       round(f.flux, 4) AS flux,
       round(n.rmse, 4) AS noise_rmse,
       round(n.rmse * 3, 4) AS detection_limit,
       round(abs(f.flux) / n.rmse, 4) AS snr
FROM flux f JOIN noise n ON n.user_id = f.user_id
"""


# ---------------------------------------------------------------------------
# ustar_mpt — USTAR threshold DETECTION (moving-point test).  The
# reference's UstarDetectionMPT ships only the data-assembly scaffold
# (ustar_detection.py:56 stops at "# TODO HIER WEITER"); the algorithm its
# docstring specifies (Papale et al. 2006) is implemented declaratively in
# operators/ustar.py and checked against the identical SQL below.
# ---------------------------------------------------------------------------

def q_ustar_mpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.ustar import ustar_mpt_thresholds

    ev = _events(spark, sf_dir)
    # deterministic synthetic (nee, ta, ustar): NEE saturates above
    # ustar ~0.25 — the plateau the MPT is built to find
    d = ev.select(
        (F.col("event_id") % 2).cast("int").alias("season_key"),
        (
            F.least((F.col("event_id") % 100) / 100.0 * 10, F.lit(2.5))
            + (F.col("event_id") % 7) * 0.05
        ).alias("nee"),
        (F.col("event_id") % 33).cast("double").alias("ta"),
        ((F.col("event_id") % 100) / 100.0).alias("ustar"),
        F.col("event_id").cast("long").alias("event_id"),
    )
    out = ustar_mpt_thresholds(
        d, "nee", "ta", "ustar", "event_id", season_col="season_key",
        n_ta_classes=7, n_ustar_classes=20,
    )
    return out.select(
        F.col("season").cast("int").alias("season"),
        F.col("ta_class").cast("int").alias("ta_class"),
        F.floor(F.col("threshold") * 10000 + 0.5).cast("long").alias("threshold_s4"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.floor(F.col("season_threshold") * 10000 + 0.5)
        .cast("long")
        .alias("season_threshold_s4"),
    )


SQL_USTAR_MPT = """
WITH d AS (
  SELECT CAST(event_id % 2 AS INT) AS season,
         least((event_id % 100) / 100.0 * 10, 2.5) + (event_id % 7) * 0.05 AS nee,
         CAST(event_id % 33 AS DOUBLE) AS ta,
         (event_id % 100) / 100.0 AS ustar,
         event_id AS _id
  FROM events
), c1 AS (
  SELECT *, ntile(7) OVER (PARTITION BY season ORDER BY ta, _id) AS ta_class FROM d
), c2 AS (
  SELECT *, ntile(20) OVER (PARTITION BY season, ta_class ORDER BY ustar, _id)
            AS ustar_class
  FROM c1
), sub AS (
  SELECT season, ta_class, ustar_class,
         avg(nee) AS nee_mean, avg(ustar) AS ustar_mean
  FROM c2 GROUP BY 1, 2, 3
), nr AS (
  SELECT season, ta_class, count(*) AS n_rows FROM c2 GROUP BY 1, 2
), scan AS (
  SELECT *, avg(nee_mean) OVER (PARTITION BY season, ta_class ORDER BY ustar_class
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nee_above
  FROM sub
), pl AS (
  SELECT *, CASE WHEN nee_above IS NULL THEN TRUE
                 ELSE nee_mean >= 0.99 * nee_above END AS plateau
  FROM scan
), pl2 AS (
  SELECT *, plateau AND coalesce(
              lead(plateau) OVER (PARTITION BY season, ta_class ORDER BY ustar_class),
              TRUE) AS plateau2
  FROM pl
), per_class AS (
  SELECT season, ta_class,
         coalesce(min(CASE WHEN plateau2 THEN ustar_mean END), max(ustar_mean))
           AS threshold
  FROM pl2 GROUP BY 1, 2
)
SELECT p.season, CAST(p.ta_class AS INT) AS ta_class,
       CAST(floor(p.threshold * 10000 + 0.5) AS BIGINT) AS threshold_s4,
       CAST(n.n_rows AS BIGINT) AS n_rows,
       CAST(floor(max(p.threshold) OVER (PARTITION BY p.season) * 10000 + 0.5)
            AS BIGINT) AS season_threshold_s4
FROM per_class p JOIN nr n ON n.season = p.season AND n.ta_class = p.ta_class
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "potential_radiation": q_potential_radiation,
    "vpd": q_vpd,
    "flag_zscore_daynight": q_flag_zscore_daynight,
    "flag_abslim_daynight": q_flag_abslim_daynight,
    "wind_rotation": q_wind_rotation,
    "winddir_offset": q_winddir_offset,
    "eddypro_digit_flags": q_eddypro_digit_flags,
    "flux_level2_flags": q_flux_level2_flags,
    "qcf_daynight": q_qcf_daynight,
    "flux_detection_limit": q_flux_detection_limit,
    "ustar_mpt": q_ustar_mpt,
    "export_fluxnet": q_export_fluxnet,
    "flux_chain": q_flux_chain,
}

ORACLE_SQL: dict[str, str] = {
    "potential_radiation": SQL_POTENTIAL_RADIATION,
    "vpd": SQL_VPD,
    "flag_zscore_daynight": SQL_FLAG_ZSCORE_DAYNIGHT,
    "flag_abslim_daynight": SQL_FLAG_ABSLIM_DAYNIGHT,
    "wind_rotation": SQL_WIND_ROTATION,
    "winddir_offset": SQL_WINDDIR_OFFSET,
    "eddypro_digit_flags": SQL_EDDYPRO_DIGIT,
    "flux_level2_flags": SQL_FLUX_LEVEL2_FLAGS,
    "qcf_daynight": SQL_QCF_DAYNIGHT,
    "flux_detection_limit": SQL_FLUX_DETECTION_LIMIT,
    "ustar_mpt": SQL_USTAR_MPT,
    "export_fluxnet": SQL_EXPORT_FLUXNET,
    "flux_chain": SQL_FLUX_CHAIN,
}
