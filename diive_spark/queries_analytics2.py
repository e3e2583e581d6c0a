"""Second analytics batch: nested quantile binning (SURVEY §2.3 A10),
value counts (A16), regression scores (§2.10 M6), seasonal time filters
(§2.2 P2/P3), plus the two remaining dedup families from the
training-data-pipeline checklist: direct n-gram Jaccard and
embedding-cosine near-dup."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diive_spark.queries_text import (
    DUCK_H60,
    DUCK_TOKS,
    PERTURB_OFFSET,
    _DUCK_SHINGLES,
)
from diive_spark.text import dedup as DD
from diive_spark.text import similarity as SIM
from diive_spark.queries_stats2 import _events


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# A10 — SortingBinsMethod (decoupling.py:91-140): quantile-bin var1, within
# each bin quantile-bin var2, median + IQR of var3 per sub-bin.
# The reference uses pd.qcut; engine-portable equivalent is ntile with a
# deterministic total order (ties broken by row keys). Scale path: replace
# the global ntile sort with percentile_approx boundaries + width_bucket.
# ---------------------------------------------------------------------------

NESTED_BINS1 = 8
NESTED_BINS2 = 4


def q_nested_bin_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.analytics import global_ntile

    li = _lineitem(spark, sf_dir)
    # distributed exact ntile — no unpartitioned Window (single-task) here
    b1 = global_ntile(
        li, ["l_quantity", "l_orderkey", "l_linenumber"], NESTED_BINS1,
        out_col="bin1",
    )
    wy = Window.partitionBy("bin1").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    b2 = b1.withColumn("bin2", F.ntile(NESTED_BINS2).over(wy))
    return b2.groupBy(
        F.col("bin1").cast("long").alias("bin1"),
        F.col("bin2").cast("long").alias("bin2"),
    ).agg(
        F.round(F.expr("percentile(l_discount, 0.5)"), 4).alias("median_z"),
        F.round(F.expr("percentile(l_discount, 0.25)"), 4).alias("p25_z"),
        F.round(F.expr("percentile(l_discount, 0.75)"), 4).alias("p75_z"),
        F.count("*").cast("long").alias("n"),
    )


SQL_NESTED_BIN_AGG = f"""
WITH b1 AS (
  SELECT *, ntile({NESTED_BINS1}) OVER (ORDER BY l_quantity, l_orderkey, l_linenumber) AS bin1
  FROM lineitem
), b2 AS (
  SELECT *, ntile({NESTED_BINS2}) OVER (PARTITION BY bin1
             ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bin2
  FROM b1
)
SELECT CAST(bin1 AS BIGINT) AS bin1, CAST(bin2 AS BIGINT) AS bin2,
       round(quantile_cont(l_discount, 0.5), 4) AS median_z,
       round(quantile_cont(l_discount, 0.25), 4) AS p25_z,
       round(quantile_cont(l_discount, 0.75), 4) AS p75_z,
       CAST(count(*) AS BIGINT) AS n
FROM b2 GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# A8 (full) — Histogram peak detection (histogram.py:84-125): per-series
# fixed-bin histogram -> top-5 peak bins by count (ties -> lower bin)
# ---------------------------------------------------------------------------

def q_histogram_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.analytics import histogram_fixed_bins

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "value"
    )
    hist = histogram_fixed_bins(ev, "user_id", "value", n_bins=20)
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("bin").asc())
    return (
        hist.withColumn("peak_rank", F.row_number().over(w))
        .filter(F.col("peak_rank") <= 5)
        .select(
            "user_id",
            F.col("bin").cast("long").alias("bin"),
            "bin_lo",
            "n",
            F.col("peak_rank").cast("long").alias("peak_rank"),
        )
    )


SQL_HISTOGRAM_PEAKS = """
WITH bounds AS (
  SELECT user_id, min(value) AS lo, max(value) AS hi FROM events GROUP BY 1
), b AS (
  SELECT e.user_id,
         CASE WHEN hi = lo THEN 0
              ELSE least(CAST(floor((value - lo) / ((hi - lo) / 20)) AS BIGINT), 19)
         END AS bin,
         lo, (hi - lo) / 20 AS w
  FROM events e JOIN bounds USING (user_id)
), hist AS (
  SELECT CAST(user_id AS BIGINT) AS user_id, CAST(bin AS BIGINT) AS bin,
         round(lo + bin * w, 4) AS bin_lo, CAST(count(*) AS BIGINT) AS n
  FROM b GROUP BY user_id, bin, lo, w
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n DESC, bin ASC) AS peak_rank
  FROM hist
)
SELECT user_id, bin, bin_lo, n, CAST(peak_rank AS BIGINT) AS peak_rank
FROM ranked WHERE peak_rank <= 5
"""


# ---------------------------------------------------------------------------
# A15 — detect_freq_groups (times.py:22-145): per-record delta to prev/next
# neighbour; records with delta_prev == delta_next are frequency-"certain";
# counts per delta = the series' resolution groups
# ---------------------------------------------------------------------------

def q_freq_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # raw event arrivals are irregular (every delta unique) — the reference
    # runs this on recorded sensor slots, so bin to occupied 30-min slots
    # first: runs of consecutive slots are the "certain" resolution group,
    # gap edges fall out (times.py:60-76 semantics)
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        (
            (F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_800_000_000) + 1)
            * 1800
        ).cast("long").alias("ts_s"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("ts_s")
    d = ev.withColumn("d_prev", F.col("ts_s") - F.lag("ts_s").over(w)).withColumn(
        "d_next", F.lead("ts_s").over(w) - F.col("ts_s")
    )
    certain = d.filter(
        F.col("d_prev").isNotNull()
        & F.col("d_next").isNotNull()
        & (F.col("d_prev") == F.col("d_next"))
    )
    return certain.groupBy("user_id", F.col("d_prev").alias("delta_s")).agg(
        F.count("*").cast("long").alias("n_certain")
    )


SQL_FREQ_GROUPS = """
WITH t AS (
  SELECT DISTINCT user_id,
         (CAST(floor(epoch(ts) / 1800) AS BIGINT) + 1) * 1800 AS ts_s
  FROM events
), d AS (
  SELECT user_id, ts_s,
         ts_s - lag(ts_s) OVER w AS d_prev,
         lead(ts_s) OVER w - ts_s AS d_next
  FROM t
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       d_prev AS delta_s,
       CAST(count(*) AS BIGINT) AS n_certain
FROM d
WHERE d_prev IS NOT NULL AND d_next IS NOT NULL AND d_prev = d_next
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# A16 — count_unique_values / df_unique_values (frames.py:241-272):
# value-frequency table per column (here: per event_type, integer-rounded
# value buckets — numeric-only like the reference)
# ---------------------------------------------------------------------------

def q_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        "event_type",
        F.round("value", 0).cast("long").alias("value_int"),
    ).agg(F.count("*").cast("long").alias("n"))


SQL_VALUE_COUNTS = """
SELECT event_type,
       CAST(round(value, 0) AS BIGINT) AS value_int,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# M6 — prediction_scores_regr (core/ml/common.py:126-178): MAE / MedAE /
# MSE / RMSE / MAXE / R2 per series; predictor = per-day mean (A3 style)
# ---------------------------------------------------------------------------

def q_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sf0.1-sweep hardening: every mean (daily prediction, user mean,
    # MAE/MSE) is an order-dependent double sum — fold exact e4-integer
    # errors instead; all emitted metrics are floor-offset derivations of
    # exact integer sums, bit-identical in both engines.
    off = 0.31830988618367
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.to_date("ts").alias("d"),
        "value",
        F.floor(F.col("value") * 10_000 + F.lit(off))
        .cast("long")
        .alias("v4"),
    )
    wd = Window.partitionBy("user_id", "d")
    wu = Window.partitionBy("user_id")
    pred = (
        F.floor(
            F.sum("v4").over(wd).cast("double")
            / F.count(F.lit(1)).over(wd)
            + F.lit(off)
        )
        / 10_000.0
    )
    mean_t = (
        F.floor(
            F.sum("v4").over(wu).cast("double")
            / F.count(F.lit(1)).over(wu)
            + F.lit(off)
        )
        / 10_000.0
    )
    scored = (
        ev.withColumn(
            "e4",
            F.floor(
                (F.col("value") - pred) * 10_000 + F.lit(off)
            ).cast("long"),
        )
        .withColumn(
            "t4",
            F.floor(
                (F.col("value") - mean_t) * 10_000 + F.lit(off)
            ).cast("long"),
        )
    )
    agg = scored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.abs("e4")).alias("sae"),
        F.sum(F.col("e4") * F.col("e4")).alias("see"),
        F.sum(F.col("t4") * F.col("t4")).alias("stt"),
        F.max(F.abs("e4")).alias("mx"),
        F.expr("percentile(abs(e4), 0.5)").alias("med4"),
    )
    nd = F.col("n").cast("double")
    return agg.select(
        "user_id",
        (F.floor(F.col("sae").cast("double") / nd + F.lit(off)) / 10_000.0)
        .alias("mae"),
        (F.floor(F.col("med4") + F.lit(off)) / 10_000.0).alias("medae"),
        (
            F.floor(
                F.col("see").cast("double") / nd / 10_000.0 + F.lit(off)
            )
            / 10_000.0
        ).alias("mse"),
        (
            F.floor(
                F.sqrt(F.col("see").cast("double") / nd) + F.lit(off)
            )
            / 10_000.0
        ).alias("rmse"),
        (F.col("mx") / 10_000.0).alias("maxe"),
        (
            F.floor(
                (
                    F.lit(1.0)
                    - F.col("see").cast("double")
                    / F.col("stt").cast("double")
                )
                * 10_000
                + F.lit(off)
            )
            / 10_000.0
        ).alias("r2"),
    )


SQL_PREDICTION_SCORES = """
WITH base AS (
  -- exact e4-integer error folds, mirrors Spark (see query comment)
  SELECT user_id, CAST(ts AS DATE) AS d, value,
         CAST(floor(value * 10000 + 0.31830988618367) AS BIGINT) AS v4
  FROM events
), p AS (
  SELECT *,
         CAST(floor((value
                - floor(CAST(sum(v4) OVER wd AS DOUBLE)
                        / count(*) OVER wd + 0.31830988618367) / 10000.0)
               * 10000 + 0.31830988618367) AS BIGINT) AS e4,
         CAST(floor((value
                - floor(CAST(sum(v4) OVER wu AS DOUBLE)
                        / count(*) OVER wu + 0.31830988618367) / 10000.0)
               * 10000 + 0.31830988618367) AS BIGINT) AS t4
  FROM base
  WINDOW wd AS (PARTITION BY user_id, d),
         wu AS (PARTITION BY user_id)
), agg AS (
  SELECT user_id, count(*) AS n,
         CAST(sum(abs(e4)) AS BIGINT) AS sae,
         CAST(sum(e4 * e4) AS BIGINT) AS see,
         CAST(sum(t4 * t4) AS BIGINT) AS stt,
         CAST(max(abs(e4)) AS BIGINT) AS mx,
         quantile_cont(abs(e4), 0.5) AS med4
  FROM p GROUP BY 1
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       floor(CAST(sae AS DOUBLE) / n + 0.31830988618367) / 10000.0 AS mae,
       floor(med4 + 0.31830988618367) / 10000.0 AS medae,
       floor(CAST(see AS DOUBLE) / n / 10000.0 + 0.31830988618367)
         / 10000.0 AS mse,
       floor(sqrt(CAST(see AS DOUBLE) / n) + 0.31830988618367)
         / 10000.0 AS rmse,
       mx / 10000.0 AS maxe,
       floor((1.0 - CAST(see AS DOUBLE) / stt) * 10000
             + 0.31830988618367) / 10000.0 AS r2
FROM agg
"""


# ---------------------------------------------------------------------------
# P2/P3 — keep_years (times.py:1089-1107) + remove_after_date
# (times.py:1063-1086): year-range filter + per-year seasonal cutoff
# ---------------------------------------------------------------------------

KEEP_Y = (2024, 2024)
CUTOFF = (1, 20)  # drop rows after Jan 20 in every kept year


def q_seasonal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    after_cutoff = (F.month("ts") > CUTOFF[0]) | (
        (F.month("ts") == CUTOFF[0]) & (F.dayofmonth("ts") > CUTOFF[1])
    )
    return ev.filter(
        F.year("ts").between(*KEEP_Y) & ~after_cutoff
    ).select(
        F.col("event_id").cast("long").alias("event_id"),
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
        .cast("long")
        .alias("ts_s"),
    )


SQL_SEASONAL_FILTER = f"""
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
FROM events
WHERE year(ts) BETWEEN {KEEP_Y[0]} AND {KEEP_Y[1]}
  AND NOT (month(ts) > {CUTOFF[0]}
           OR (month(ts) = {CUTOFF[0]} AND dayofmonth(ts) > {CUTOFF[1]}))
"""


# ---------------------------------------------------------------------------
# dedup: direct word-3-gram Jaccard with language blocking
# ---------------------------------------------------------------------------

JACCARD_THRES = 0.6
SUBSET_MOD = 10  # deterministic corpus subsample bounds the quadratic pair count


def _jaccard_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).filter(
        F.col("doc_id") % SUBSET_MOD == 0
    ).select("doc_id", "lang", "text")
    toks = F.split(F.trim("text"), r"\s+")
    perturbed = d.select(
        (F.col("doc_id") + PERTURB_OFFSET).alias("doc_id"),
        "lang",
        F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1)).alias("text"),
    )
    return d.unionByName(perturbed)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _jaccard_corpus(spark, sf_dir)
    out = DD.ngram_jaccard_dedup(
        corpus, "doc_id", "text", block_col="lang", k=3, threshold=JACCARD_THRES
    )
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        "n_inter",
        F.round("jaccard", 4).alias("jaccard"),
    )


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents WHERE doc_id % {SUBSET_MOD} = 0
  UNION ALL
  SELECT doc_id + {PERTURB_OFFSET} AS doc_id, lang,
         array_to_string(({DUCK_TOKS})[1:len({DUCK_TOKS}) - 1], ' ') AS text
  FROM documents WHERE doc_id % {SUBSET_MOD} = 0
), t AS (
  SELECT doc_id, lang, {DUCK_TOKS} AS toks FROM corpus
), sh AS (
  SELECT doc_id, lang, {_DUCK_SHINGLES} AS shingles FROM t
), hashed AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(shingles, s -> {DUCK_H60.format(s='s')})) AS hs
  FROM sh
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len(list_intersect(a.hs, b.hs)) AS n_inter,
         len(list_intersect(a.hs, b.hs)) * 1.0
           / (len(a.hs) + len(b.hs)
              - len(list_intersect(a.hs, b.hs))) AS jaccard
  FROM hashed a JOIN hashed b ON a.lang = b.lang AND a.doc_id < b.doc_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(n_inter AS BIGINT) AS n_inter, round(jaccard, 4) AS jaccard
FROM pairs WHERE jaccard >= {JACCARD_THRES}
"""


# ---------------------------------------------------------------------------
# dedup: embedding-cosine near-dup with label blocking (IVF-cell analog)
# ---------------------------------------------------------------------------

COS_THRES = 0.25  # synthetic embeddings are near-orthogonal; P99 of same-label cosine


def q_dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sf0.1-sweep hardening: components pre-floored to e6 INTEGER-valued
    # doubles, so the kernel's BLAS matmul partial sums are integral
    # (exact in any order — dim * (1e6)^2 << 2^53) and match DuckDB's
    # sequential list_sum bit-for-bit; output floor-offset at e4.
    emb = _embeddings(spark, sf_dir).withColumn(
        "embedding",
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * 1_000_000 + F.lit(0.31830988618367)
            ).cast("double"),
        ),
    )
    out = SIM.cosine_neardup_pairs_kernel(
        emb, "vec_id", "embedding", block_col="label", threshold=COS_THRES
    )
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        (
            F.floor(F.col("cos_sim") * 10_000 + F.lit(0.31830988618367))
            / 10_000.0
        ).alias("cos_sim"),
    )


_DUCK_E6 = "floor(CAST({v} AS DOUBLE) * 1000000 + 0.31830988618367)"
_DUCK_COS_AB = (
    "round(list_sum(list_transform(generate_series(1, len(a.embedding)), "
    f"i -> {_DUCK_E6.format(v='a.embedding[i]')} * {_DUCK_E6.format(v='b.embedding[i]')})) "
    f"/ (sqrt(list_sum(list_transform(a.embedding, x -> {_DUCK_E6.format(v='x')} * {_DUCK_E6.format(v='x')}))) "
    f"* sqrt(list_sum(list_transform(b.embedding, x -> {_DUCK_E6.format(v='x')} * {_DUCK_E6.format(v='x')})))), 6)"
)

SQL_DEDUP_EMBED_COSINE = f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_DUCK_COS_AB} AS cos_sim
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       floor(cos_sim * 10000 + 0.31830988618367) / 10000.0 AS cos_sim
FROM pairs WHERE cos_sim >= {COS_THRES}
"""


# ---------------------------------------------------------------------------
# §2.11 BinFitterCP / QuadraticFit (fits.py:74-260): quantile-bin x,
# bin medians, closed-form degree-2 least squares (Cramer's rule)
# ---------------------------------------------------------------------------

FIT_BINS = 12


def q_binned_quadratic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.analytics import binned_quadratic_fit

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("value").alias("x"),
        ((F.col("value") - 50.0) * (F.col("value") - 50.0) * 0.1
         + F.sin(F.radians(F.col("event_id") % 90))).alias("y"),
        "event_id",
    )
    out = binned_quadratic_fit(
        ev, "user_id", "x", "y", n_bins=FIT_BINS, order_cols=["event_id"]
    )
    return out.select(
        "user_id",
        F.round("c0", 4).alias("c0"),
        F.round("c1", 4).alias("c1"),
        F.round("c2", 4).alias("c2"),
    )


SQL_BINNED_QUADRATIC_FIT = f"""
WITH base AS (
  SELECT user_id, value AS x,
         (value - 50.0) * (value - 50.0) * 0.1 + sin(radians(event_id % 90)) AS y,
         event_id
  FROM events
), binned AS (
  SELECT *, ntile({FIT_BINS}) OVER (PARTITION BY user_id ORDER BY x, event_id) AS b
  FROM base
), med AS (
  SELECT user_id, b,
         quantile_cont(x, 0.5) AS mx, quantile_cont(y, 0.5) AS my
  FROM binned GROUP BY 1, 2
), sums AS (
  SELECT user_id,
         CAST(count(*) AS DOUBLE) AS s0,
         sum(mx) AS s1, sum(mx*mx) AS s2, sum(mx*mx*mx) AS s3,
         sum(mx*mx*mx*mx) AS s4,
         sum(my) AS t0, sum(my*mx) AS t1, sum(my*mx*mx) AS t2
  FROM med GROUP BY 1
), solved AS (
  SELECT user_id,
         (s0*(s2*s4 - s3*s3) - s1*(s1*s4 - s3*s2) + s2*(s1*s3 - s2*s2)) AS det,
         (t0*(s2*s4 - s3*s3) - s1*(t1*s4 - s3*t2) + s2*(t1*s3 - s2*t2)) AS d0,
         (s0*(t1*s4 - t2*s3) - t0*(s1*s4 - s3*s2) + s2*(s1*t2 - s2*t1)) AS d1,
         (s0*(s2*t2 - s3*t1) - s1*(s1*t2 - s2*t1) + t0*(s1*s3 - s2*s2)) AS d2
  FROM sums
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       round(d0/det, 4) AS c0, round(d1/det, 4) AS c1, round(d2/det, 4) AS c2
FROM solved
"""


# ---------------------------------------------------------------------------
# T6 (full) — DetectFrequency 3-way reconcile (times.py:637-801): per-key
# synthetic series in four regularity classes (regular / mode-dominant /
# regular-ends-only / irregular) exercise every reconcile branch
# ---------------------------------------------------------------------------

def q_freq_detect_reconciled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.analytics import freq_detect_reconciled

    ev = _events(spark, sf_dir).select("user_id", "event_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    rn = F.row_number().over(w)
    cls = F.col("user_id") % 4
    pert = (
        F.when(cls == 0, F.lit(0))
        .when(cls == 1, F.when(rn % 37 == 0, F.lit(7)).otherwise(F.lit(0)))
        .when(
            cls == 2,
            F.when((rn % 5 == 0) & rn.between(11, 40), F.lit(211)).otherwise(F.lit(0)),
        )
        .otherwise((rn * rn * 7) % 450)
    )
    base = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200) + rn * 600 + pert).alias("ts"),
    )
    out = freq_detect_reconciled(base, "user_id", "ts")
    return out.select(
        "user_id",
        F.col("n").cast("bigint").alias("n"),
        F.col("freq_full_s").cast("int").alias("freq_full_s"),
        F.col("freq_mode_s").cast("int").alias("freq_mode_s"),
        F.col("freq_prog_s").cast("int").alias("freq_prog_s"),
        F.col("freq_s").cast("int").alias("freq_s"),
        "confidence",
    )


SQL_FREQ_DETECT_RECONCILED = """
WITH rnm AS (
  SELECT user_id, row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events
), tsx AS (
  SELECT user_id, rn,
         1704067200 + rn * 600 +
         CASE CAST(user_id % 4 AS INT)
           WHEN 0 THEN 0
           WHEN 1 THEN CASE WHEN rn % 37 = 0 THEN 7 ELSE 0 END
           WHEN 2 THEN CASE WHEN rn % 5 = 0 AND rn BETWEEN 11 AND 40 THEN 211 ELSE 0 END
           ELSE (rn * rn * 7) % 450 END AS ts_s
  FROM rnm
), d AS (
  SELECT user_id, ts_s,
         CAST(ts_s - lag(ts_s) OVER w AS DOUBLE) AS delta,
         row_number() OVER w AS rn2,
         row_number() OVER (PARTITION BY user_id ORDER BY ts_s DESC) AS rnd
  FROM tsx WINDOW w AS (PARTITION BY user_id ORDER BY ts_s)
), d2 AS (
  SELECT *,
         max(CASE WHEN rn2 = 2 THEN delta END) OVER (PARTITION BY user_id) AS fd,
         max(CASE WHEN rnd = 1 THEN delta END) OVER (PARTITION BY user_id) AS ld
  FROM d
), pk AS (
  SELECT user_id, count(*) AS n, count(DISTINCT delta) AS n_distinct,
         max(fd) AS first_delta, max(ld) AS last_delta,
         min(CASE WHEN rn2 >= 2 AND delta <> fd THEN rn2 END) AS first_mismatch,
         min(CASE WHEN delta IS NOT NULL AND delta <> ld THEN rnd END) AS last_mismatch
  FROM d2 GROUP BY 1
), mc AS (
  SELECT user_id, delta, count(*) AS cnt
  FROM d WHERE delta IS NOT NULL GROUP BY 1, 2
), md AS (
  SELECT user_id, delta AS mode_delta, cnt AS mode_cnt
  FROM mc
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY cnt DESC, delta ASC) = 1
), f AS (
  SELECT pk.*, md.mode_delta, md.mode_cnt,
         coalesce(first_mismatch, n + 1) - 2 AS lead_len,
         coalesce(last_mismatch, n) - 1 AS trail_len
  FROM pk LEFT JOIN md USING (user_id)
), c AS (
  SELECT *,
         CASE WHEN n >= 10 AND n_distinct = 1 THEN first_delta END AS ff,
         CASE WHEN CAST(mode_cnt AS DOUBLE) / n > 0.90 THEN mode_delta END AS fm,
         CASE WHEN n >= 8 AND first_delta = last_delta
                   AND lead_len >= 3 AND trail_len >= 3 THEN first_delta END AS fp
  FROM f
), r AS (
  SELECT *,
         (ff IS NOT NULL AND fm IS NOT NULL AND fp IS NOT NULL) AS all3,
         (ff = fm AND fm = fp) AS agree
  FROM c
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(n AS BIGINT) AS n,
       CAST(ff AS INT) AS freq_full_s,
       CAST(fm AS INT) AS freq_mode_s,
       CAST(fp AS INT) AS freq_prog_s,
       CAST(CASE WHEN all3 AND agree THEN ff
                 WHEN all3 THEN NULL
                 WHEN ff IS NOT NULL THEN ff
                 WHEN fm IS NOT NULL THEN fm
                 WHEN fp IS NOT NULL THEN fp END AS INT) AS freq_s,
       CASE WHEN all3 AND agree THEN 'max'
            WHEN all3 THEN 'ambiguous'
            WHEN ff IS NOT NULL THEN 'max'
            WHEN fm IS NOT NULL THEN 'high'
            WHEN fp IS NOT NULL THEN 'medium'
            ELSE 'failed' END AS confidence
FROM r
"""


# ---------------------------------------------------------------------------
# A8 (full) — Histogram method='uniques' + fringe-bin trim
# (histogram.py:56-83,110-115): k uniques -> k-1 bins, last bin
# right-inclusive (counts the two largest uniques together), first 1 and
# last 2 bins dropped
# ---------------------------------------------------------------------------

def q_histogram_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.analytics import histogram_uniques

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.floor("value").cast("double").alias("v"),
    )
    out = histogram_uniques(ev, "user_id", "v", ignore_fringe=(1, 2))
    return out.select(
        "user_id",
        F.round("bin_start_incl", 4).alias("bin_start_incl"),
        "counts",
    )


SQL_HISTOGRAM_UNIQUES = """
WITH vals AS (
  SELECT user_id, CAST(floor(value) AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL
), cnt AS (
  SELECT user_id, v, count(*) AS cnt FROM vals GROUP BY 1, 2
), d AS (
  SELECT *, row_number() OVER w AS rn,
         count(*) OVER (PARTITION BY user_id) AS k,
         lead(cnt) OVER w AS next_cnt
  FROM cnt WINDOW w AS (PARTITION BY user_id ORDER BY v)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       round(v, 4) AS bin_start_incl,
       CAST(cnt + CASE WHEN rn = k - 1 THEN next_cnt ELSE 0 END AS BIGINT) AS counts
FROM d WHERE rn > 1 AND rn <= k - 1 - 2
"""


# ---------------------------------------------------------------------------
# §2.11 FluxCriticalHeatDaysP95 (flux/criticalheatdays.py:19-748):
# daily TA-max / VPD-max / flux-sum -> 20 percentile bins -> combined-bin
# flux stats per scenario + P95 critical-heat-day thresholds
# ---------------------------------------------------------------------------

def _chd_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.heatdays import assign_percentile_bins

    ev = _events(spark, sf_dir)
    daily = (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("date"))
        .agg(
            F.max(F.col("value") * 0.3).alias("ta"),
            F.max(F.col("value") * 0.02 + F.sin(F.radians(F.col("event_id") % 180))).alias("vpd"),
            F.sum((F.col("value") - 50.0) * 0.01).alias("flux"),
        )
    )
    return assign_percentile_bins(
        daily, "ta", "vpd", "flux", date_col="date",
        n_quantiles=20, min_n_vals_per_bin=1,
    )




# ---------------------------------------------------------------------------
# critical_days — §2.11 CriticalDays threshold detection (criticaldays.py:
# 29-331): daily aggs -> bootstrapped bin fit -> zero-crossing threshold.
# (rows-only: bootstrap resampling is not SQL-expressible; the crossing
# math is pytest-exact vs the standalone kernel in tests/test_analytics2.py)
# ---------------------------------------------------------------------------

def q_critical_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.criticaldays import critical_days

    ev = _events(spark, sf_dir).filter(F.col("user_id") % 5 == 0)
    # synthetic (x, y): x is VPD-like 0..10, per-row y declines with x so
    # the daily-sum fit crosses zero inside the x range
    d = ev.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts"),
        (F.col("value") / 10.0).alias("x"),
        (F.lit(1.0) - (F.col("value") / 10.0) * 0.25
         + F.sin(F.col("event_id").cast("double")) * 0.05).alias("y"),
    )
    out = critical_days(
        d, "user_id", "ts", "x", "y", thres_min_x=1.0,
        n_bins=8, n_bootstraps=10,
    )
    return out.select(
        "user_id",
        F.round("thres_dcrit", 4).alias("thres_dcrit"),
        F.round("thres_ndcrit_lower", 4).alias("thres_ndcrit_lower"),
        "n_dcrit", "n_ndcrit", "n_runs_accepted", "n_days",
    )


def q_critical_heat_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.heatdays import combo_bin_stats

    out = combo_bin_stats(_chd_long(spark, sf_dir), "ta", "vpd", "flux")
    return out.select(
        "scenario",
        F.col("bins_combined_int").cast("int").alias("bins_combined_int"),
        F.round("flux_mean", 4).alias("flux_mean"),
        F.round("flux_std", 4).alias("flux_std"),
        "n",
        F.round("ta_min", 4).alias("ta_min"),
        F.round("ta_max", 4).alias("ta_max"),
        F.round("vpd_min", 4).alias("vpd_min"),
        F.round("vpd_max", 4).alias("vpd_max"),
    )


def q_chd_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.heatdays import chd_thresholds

    out = chd_thresholds(_chd_long(spark, sf_dir), "ta", "vpd")
    return out.select(
        F.round("thres_chd_ta", 4).alias("thres_chd_ta"),
        F.round("thres_chd_vpd", 4).alias("thres_chd_vpd"),
        F.round("thres_nchd_ta_lo", 4).alias("thres_nchd_ta_lo"),
        F.round("thres_nchd_ta_hi", 4).alias("thres_nchd_ta_hi"),
        F.round("thres_nchd_vpd_lo", 4).alias("thres_nchd_vpd_lo"),
        F.round("thres_nchd_vpd_hi", 4).alias("thres_nchd_vpd_hi"),
        "n_chd",
        "n_nchd",
    )


_CHD_LONG_SQL = """
WITH daily AS (
  SELECT strftime(ts, '%Y-%m-%d') AS dt,
         max(value * 0.3) AS ta,
         max(value * 0.02 + sin(radians(event_id % 180))) AS vpd,
         sum((value - 50.0) * 0.01) AS flux
  FROM events GROUP BY 1
), binned AS (
  SELECT *,
         (ntile(20) OVER (ORDER BY ta, dt) - 1) * 5 AS bin_ta,
         (ntile(20) OVER (ORDER BY vpd, dt) - 1) * 5 AS bin_vpd
  FROM daily
), long AS (
  SELECT *, bin_ta + bin_vpd AS bins_combined_int,
         bin_ta - bin_vpd AS bin_diff
  FROM binned
  QUALIFY count(*) OVER (PARTITION BY bin_ta, bin_vpd) >= 1
)
"""

SQL_CRITICAL_HEAT_DAYS = _CHD_LONG_SQL + """
, scen AS (
  SELECT 'all' AS scenario, * FROM long
  UNION ALL SELECT 'equal', * FROM long WHERE bin_diff = 0
  UNION ALL SELECT 'tahigher', * FROM long WHERE bin_diff > 5
  UNION ALL SELECT 'vpdhigher', * FROM long WHERE bin_diff < 5
)
SELECT scenario,
       CAST(bins_combined_int AS INT) AS bins_combined_int,
       round(avg(flux), 4) AS flux_mean,
       round(stddev_samp(flux), 4) AS flux_std,
       CAST(count(flux) AS BIGINT) AS n,
       round(min(ta), 4) AS ta_min, round(max(ta), 4) AS ta_max,
       round(min(vpd), 4) AS vpd_min, round(max(vpd), 4) AS vpd_max
FROM scen GROUP BY 1, 2
"""

SQL_CHD_THRESHOLDS = _CHD_LONG_SQL + """
SELECT round(min(CASE WHEN bin_ta = 95 AND bin_vpd = 95 THEN ta END), 4) AS thres_chd_ta,
       round(min(CASE WHEN bin_ta = 95 AND bin_vpd = 95 THEN vpd END), 4) AS thres_chd_vpd,
       round(min(CASE WHEN bin_ta = 90 AND bin_vpd = 90 THEN ta END), 4) AS thres_nchd_ta_lo,
       round(max(CASE WHEN bin_ta = 90 AND bin_vpd = 90 THEN ta END), 4) AS thres_nchd_ta_hi,
       round(min(CASE WHEN bin_ta = 90 AND bin_vpd = 90 THEN vpd END), 4) AS thres_nchd_vpd_lo,
       round(max(CASE WHEN bin_ta = 90 AND bin_vpd = 90 THEN vpd END), 4) AS thres_nchd_vpd_hi,
       CAST(sum(CASE WHEN bin_ta = 95 AND bin_vpd = 95 THEN 1 ELSE 0 END) AS BIGINT) AS n_chd,
       CAST(sum(CASE WHEN bin_ta = 90 AND bin_vpd = 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_nchd
FROM long
"""


# ---------------------------------------------------------------------------
# §2.11 CO2penalty (flux/co2_penalty.py:25-876): critical-heat-day rows
# replaced with counterfactual diel-template estimates; penalty = filled
# NEP - measured NEP, summed per year with strict-> CHD day counts
# ---------------------------------------------------------------------------

CHD_TA, CHD_VPD = 76.0, 16.0
NCHD_TA, NCHD_VPD = (70.0, 76.0), (10.0, 16.0)


def _penalty_hires(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.functions.meteo import vpd_from_ta_rh
    from diive_spark.operators.co2penalty import co2_penalty_hires

    ev = _events(spark, sf_dir)
    sec = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000).cast(
        "long"
    ) % 86400
    ta = F.col("value") * 0.2 + 10 * F.sin(F.radians(sec / 240.0))
    rh = (F.lit(40) + F.col("event_id") % 60).cast("double")
    base = ev.select(
        F.col("event_id").cast("long").alias("event_id"),
        "ts",
        ((F.lit(55.0) - F.col("value")) * 0.5).alias("nee"),
        ta.alias("ta"),
        rh.alias("rh"),
        F.greatest(F.lit(0.0), 600 * F.sin(F.radians(sec / 240.0 - 90))).alias("swin"),
        vpd_from_ta_rh(ta, rh).alias("vpd"),
    )
    return co2_penalty_hires(
        base, "ts", "nee", "ta", "rh", "swin", "vpd",
        thres_chd_ta=CHD_TA, thres_chd_vpd=CHD_VPD,
        thres_nchd_ta=NCHD_TA, thres_nchd_vpd=NCHD_VPD,
        penalty_start_month=1, penalty_end_month=12,
    )


def q_co2_penalty(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _penalty_hires(spark, sf_dir)
    # + 0.0 normalizes IEEE negative zero (sf0.1 sweep: DuckDB's
    # round() emitted -0.0 where Spark emitted 0.0 for a tiny negative)
    return h.select(
        "event_id",
        "flag_chd",
        "flag_nchd",
        (F.round("nep", 4) + F.lit(0.0)).alias("nep"),
        (F.round("nep_limited_gf", 4) + F.lit(0.0)).alias("nep_limited_gf"),
        (F.round("penalty", 4) + F.lit(0.0)).alias("penalty"),
        (F.round("ta_limited", 4) + F.lit(0.0)).alias("ta_limited"),
        (F.round("vpd_limited_gf", 4) + F.lit(0.0)).alias("vpd_limited_gf"),
    )


def q_co2_penalty_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.co2penalty import co2_penalty_per_year

    h = _penalty_hires(spark, sf_dir)
    out = co2_penalty_per_year(h, "ts", "ta", "vpd", CHD_TA, CHD_VPD)
    return out.select(
        F.col("year").cast("int").alias("year"),
        F.round("penalty", 2).alias("penalty"),
        F.round("nep_limited_gf", 2).alias("nep_limited_gf"),
        F.round("nep", 2).alias("nep"),
        "num_chds",
    )


_PENALTY_SQL_BASE = f"""
WITH raw AS (
  SELECT event_id, ts, value,
         (CAST(floor(epoch(ts)) AS BIGINT) % 86400) AS sec
  FROM events
), syn AS (
  SELECT event_id, ts,
         CAST(floor(sec / 1800) * 1800 AS BIGINT) AS tod,
         CAST(ts AS DATE) AS d,
         value * 0.2 + 10 * sin(radians(sec / 240.0)) AS ta,
         CAST(40 + event_id % 60 AS DOUBLE) AS rh,
         (55.0 - value) * 0.5 AS nee
  FROM raw
), v AS (
  SELECT *,
         0.1 * 6.1078 * (1 - rh / 100.0)
             * exp(17.08085 * ta / (234.175 + ta)) AS vpd,
         nee * 0.0792171 * -1 AS nep
  FROM syn
), dm AS (
  SELECT *, max(ta) OVER (PARTITION BY d) AS ta_dmax,
            max(vpd) OVER (PARTITION BY d) AS vpd_dmax
  FROM v
), fl AS (
  SELECT *,
         CASE WHEN ta_dmax >= {CHD_TA} AND vpd_dmax >= {CHD_VPD}
              THEN 1 ELSE 0 END AS flag_chd,
         CASE WHEN ta_dmax BETWEEN {NCHD_TA[0]} AND {NCHD_TA[1]}
                   AND vpd_dmax BETWEEN {NCHD_VPD[0]} AND {NCHD_VPD[1]}
              THEN 1 ELSE 0 END AS flag_nchd
  FROM dm
), ta_tpl AS (
  SELECT tod, quantile_cont(ta, 0.5) AS tpl_ta
  FROM fl WHERE flag_nchd = 1 AND ta IS NOT NULL GROUP BY 1
), lim1 AS (
  SELECT f.*, coalesce(CASE WHEN flag_chd = 1 THEN NULL ELSE ta END, t.tpl_ta)
         AS ta_limited
  FROM fl f LEFT JOIN ta_tpl t USING (tod)
), lim2 AS (
  SELECT *,
         0.1 * 6.1078 * (1 - rh / 100.0)
             * exp(17.08085 * ta_limited / (234.175 + ta_limited)) AS vpd_limited
  FROM lim1
), vpd_tpl AS (
  SELECT tod, quantile_cont(vpd_limited, 0.5) AS tpl_vpd
  FROM lim2 WHERE vpd_limited IS NOT NULL GROUP BY 1
), lim3 AS (
  SELECT l.*, coalesce(l.vpd_limited, t.tpl_vpd) AS vpd_limited_gf
  FROM lim2 l LEFT JOIN vpd_tpl t USING (tod)
), nep_tpl AS (
  SELECT tod, quantile_cont(CASE WHEN flag_chd = 1 THEN NULL ELSE nep END, 0.5) AS tpl_nep
  FROM lim3 WHERE flag_chd = 0 AND nep IS NOT NULL GROUP BY 1
), gf AS (
  SELECT l.*,
         coalesce(CASE WHEN flag_chd = 1 THEN NULL ELSE nep END, t.tpl_nep) AS nep_gf
  FROM lim3 l LEFT JOIN nep_tpl t USING (tod)
)
"""

SQL_CO2_PENALTY = _PENALTY_SQL_BASE + """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(flag_chd AS INT) AS flag_chd,
       CAST(flag_nchd AS INT) AS flag_nchd,
       round(nep, 4) + 0.0 AS nep,
       round(nep_gf, 4) + 0.0 AS nep_limited_gf,
       round(nep_gf - nep, 4) + 0.0 AS penalty,
       round(ta_limited, 4) + 0.0 AS ta_limited,
       round(vpd_limited_gf, 4) + 0.0 AS vpd_limited_gf
FROM gf
"""

SQL_CO2_PENALTY_YEAR = _PENALTY_SQL_BASE + """
, sums AS (
  SELECT CAST(year(ts) AS INT) AS year,
         round(sum(nep_gf - nep), 2) AS penalty,
         round(sum(nep_gf), 2) AS nep_limited_gf,
         round(sum(nep), 2) AS nep
  FROM gf GROUP BY 1
), chddays AS (
  SELECT CAST(year(ts) AS INT) AS year, CAST(count(*) AS BIGINT) AS num_chds
  FROM (
    SELECT year(ts) AS yts, ts, CAST(ts AS DATE) AS dd,
           max(ta) OVER (PARTITION BY CAST(ts AS DATE)) AS tam,
           max(vpd) OVER (PARTITION BY CAST(ts AS DATE)) AS vpdm
    FROM v QUALIFY row_number() OVER (PARTITION BY dd ORDER BY ts) = 1
  )
  WHERE tam > {chd_ta} AND vpdm > {chd_vpd}
  GROUP BY 1
)
SELECT s.year, s.penalty, s.nep_limited_gf, s.nep,
       coalesce(c.num_chds, 0) AS num_chds
FROM sums s LEFT JOIN chddays c USING (year)
""".replace("{chd_ta}", str(CHD_TA)).replace("{chd_vpd}", str(CHD_VPD))


# ---------------------------------------------------------------------------
# §2.11 BinFitterBTS — bootstrap prediction bands (rows-only: the
# bootstrap resampling + Student-t bands are not SQL-expressible;
# exactness of the t-quantile + band math is asserted in pytest)
# ---------------------------------------------------------------------------

def q_binfitter_bts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.binfitter import binfitter_bts

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("value").alias("x"),
        ((F.col("value") - 50.0) * (F.col("value") - 50.0) * 0.05
         + F.sin(F.radians(F.col("event_id") % 90)) * 3).alias("y"),
    )
    out = binfitter_bts(ev, "user_id", "x", "y", n_bins=10, n_bootstraps=10)
    return out.select(
        "user_id",
        F.round("fit_x", 4).alias("fit_x"),
        F.round("nom", 4).alias("nom"),
        F.round("lower_predband", 4).alias("lower_predband"),
        F.round("upper_predband", 4).alias("upper_predband"),
        F.round("bts_lower_q025", 4).alias("bts_lower_q025"),
        F.round("bts_upper_q975", 4).alias("bts_upper_q975"),
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "binned_quadratic_fit": q_binned_quadratic_fit,
    "freq_detect_reconciled": q_freq_detect_reconciled,
    "histogram_uniques": q_histogram_uniques,
    "critical_heat_days": q_critical_heat_days,
    "critical_days": q_critical_days,
    "chd_thresholds": q_chd_thresholds,
    "co2_penalty": q_co2_penalty,
    "co2_penalty_year": q_co2_penalty_year,
    "binfitter_bts": q_binfitter_bts,
    "histogram_peaks": q_histogram_peaks,
    "freq_groups": q_freq_groups,
    "nested_bin_agg": q_nested_bin_agg,
    "value_counts": q_value_counts,
    "prediction_scores": q_prediction_scores,
    "seasonal_filter": q_seasonal_filter,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_embed_cosine": q_dedup_embed_cosine,
}

ORACLE_SQL: dict[str, str] = {
    "binned_quadratic_fit": SQL_BINNED_QUADRATIC_FIT,
    "freq_detect_reconciled": SQL_FREQ_DETECT_RECONCILED,
    "histogram_uniques": SQL_HISTOGRAM_UNIQUES,
    "critical_heat_days": SQL_CRITICAL_HEAT_DAYS,
    "chd_thresholds": SQL_CHD_THRESHOLDS,
    "co2_penalty": SQL_CO2_PENALTY,
    "co2_penalty_year": SQL_CO2_PENALTY_YEAR,
    "histogram_peaks": SQL_HISTOGRAM_PEAKS,
    "freq_groups": SQL_FREQ_GROUPS,
    "nested_bin_agg": SQL_NESTED_BIN_AGG,
    "value_counts": SQL_VALUE_COUNTS,
    "prediction_scores": SQL_PREDICTION_SCORES,
    "seasonal_filter": SQL_SEASONAL_FILTER,
    "dedup_ngram_jaccard": SQL_DEDUP_NGRAM_JACCARD,
    "dedup_embed_cosine": SQL_DEDUP_EMBED_COSINE,
}
