"""Round-4b query registry: spectral / robust-trend / burst analytics
over the events stream, corpus statistics (keywords, PMI collocations,
Zipf fit, readability), Bloom decontamination and the MinMaxLTTB
parallel downsample path.

Every oracle twin follows the repo conventions: identical column names,
epoch seconds as ``*_s`` BIGINT, integer sums CAST AS BIGINT (DuckDB
HUGEINT trap), and boundary-safe floor-scaled integers for derived
doubles (``floor(x * 1eN + 0.5)``) instead of cross-engine ``round``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diive_spark.operators.burst import burst_windows
from diive_spark.operators.esd import shesd_anomalies
from diive_spark.operators.lttb import minmax_lttb, minmax_preselect
from diive_spark.operators.matrixprofile import matrix_profile
from diive_spark.operators.period import detect_period
from diive_spark.queries_stats2 import _events


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _epoch_s(col: str) -> F.Column:
    return F.floor(
        F.unix_micros(F.col(col).cast("timestamp")) / 1_000_000
    ).cast("long")


_T0 = 1_704_067_200  # 2024-01-01, centers the OLS x for stable numerics


# ---------------------------------------------------------------------------
# trend_ols — per-user least-squares value trend via JVM regr_* aggregates
# (diive's gapfilling/uncertainty tiers fit linear trends with pandas
# polyfit, e.g. core/times/times.py DetectFrequency's regression; here the
# whole fit is one codegen'd aggregate, no kernel at all)
# ---------------------------------------------------------------------------

def q_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        ((_epoch_s("ts") - F.lit(_T0)) / F.lit(3600.0)).alias("x"),
        F.col("value").alias("y"),
    )
    out = ev.groupBy("user_id").agg(
        F.count("y").cast("long").alias("n"),
        F.floor(F.expr("regr_slope(y, x)") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("slope_e6"),
        F.floor(F.expr("regr_intercept(y, x)") * 1e4 + F.lit(0.5))
        .cast("long")
        .alias("icept_e4"),
        F.floor(F.expr("regr_r2(y, x)") * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("r2_e6"),
    )
    return out


SQL_TREND_OLS = f"""
WITH pts AS (
  SELECT user_id,
         (CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) - {_T0}) / 3600.0 AS x,
         value AS y
  FROM events
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(y) AS BIGINT) AS n,
       CAST(floor(regr_slope(y, x) * 1e6 + 0.5) AS BIGINT) AS slope_e6,
       CAST(floor(regr_intercept(y, x) * 1e4 + 0.5) AS BIGINT) AS icept_e4,
       CAST(floor(regr_r2(y, x) * 1e6 + 0.5) AS BIGINT) AS r2_e6
FROM pts GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# doc_keywords — top-3 keyword terms per document, integer-ranked
# (tf desc, rarity = df asc, term asc) so the rank is engine-exact; the
# classic tf-idf ordering with the float idf replaced by its integer
# monotone equivalent at fixed tf
# ---------------------------------------------------------------------------

_KW_TOKS = "filter(split(lower(regexp_replace(text, '[^a-zA-Z]+', ' ')), ' '), t -> length(t) >= 3)"
_KW_TOKS_DUCK = (
    "list_filter(regexp_split_to_array(lower(regexp_replace(text, "
    "'[^a-zA-Z]+', ' ', 'g')), ' '), t -> length(t) >= 3)"
)


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select(
        "doc_id", F.explode(F.expr(_KW_TOKS)).alias("term")
    )
    tf = d.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    df_ = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "rk", "term",
                "tf", "df")
    )


SQL_DOC_KEYWORDS = f"""
WITH toks AS (
  SELECT doc_id, unnest({_KW_TOKS_DUCK}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
), df AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), rk AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.term ASC)
           AS rk
  FROM tf JOIN df USING (term)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(rk AS BIGINT) AS rk,
       term, tf, df
FROM rk WHERE rk <= 3
"""


# ---------------------------------------------------------------------------
# term_pmi — pointwise mutual information of adjacent word pairs
# (Church & Hanks 1990 collocation measure); counts are integers in both
# engines so ln() sees identical operands
# ---------------------------------------------------------------------------

_PMI_MIN = 5


def q_term_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _documents(spark, sf_dir).select(
        F.expr(_KW_TOKS).alias("toks")
    )
    bi = toks.where(F.size("toks") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1), "
                "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    uni = toks.select(F.explode("toks").alias("w"))
    n_bi = bi.count()
    n_uni = uni.count()
    cx = uni.groupBy(F.col("w").alias("w1")).agg(
        F.count("*").cast("long").alias("n_x")
    )
    cy = uni.groupBy(F.col("w").alias("w2")).agg(
        F.count("*").cast("long").alias("n_y")
    )
    cxy = bi.groupBy("w1", "w2").agg(
        F.count("*").cast("long").alias("n_xy")
    ).where(F.col("n_xy") >= _PMI_MIN)
    out = (
        cxy.join(F.broadcast(cx), "w1")
        .join(F.broadcast(cy), "w2")
        .withColumn(
            "pmi_e4",
            F.floor(
                F.log(
                    F.col("n_xy")
                    * F.lit(float(n_uni))
                    * F.lit(float(n_uni))
                    / (F.col("n_x") * F.col("n_y") * F.lit(float(n_bi)))
                )
                * 1e4
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    return out.select("w1", "w2", "n_xy", "n_x", "n_y", "pmi_e4")


SQL_TERM_PMI = f"""
WITH toks AS (
  SELECT {_KW_TOKS_DUCK} AS toks FROM documents
), bi AS (
  SELECT unnest(list_transform(generate_series(2, len(toks)),
                               i -> {{'w1': toks[i - 1], 'w2': toks[i]}}))
           AS bg
  FROM toks WHERE len(toks) >= 2
), bi2 AS (
  SELECT bg.w1 AS w1, bg.w2 AS w2 FROM bi
), uni AS (
  SELECT unnest(toks) AS w FROM toks
), tot AS (
  SELECT (SELECT CAST(count(*) AS DOUBLE) FROM bi2) AS n_bi,
         (SELECT CAST(count(*) AS DOUBLE) FROM uni) AS n_uni
), cx AS (
  SELECT w AS w1, CAST(count(*) AS BIGINT) AS n_x FROM uni GROUP BY 1
), cy AS (
  SELECT w AS w2, CAST(count(*) AS BIGINT) AS n_y FROM uni GROUP BY 1
), cxy AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
  FROM bi2 GROUP BY 1, 2 HAVING count(*) >= {_PMI_MIN}
)
SELECT w1, w2, n_xy, n_x, n_y,
       CAST(floor(ln(n_xy * n_uni * n_uni / (n_x * n_y * n_bi)) * 1e4
                  + 0.5) AS BIGINT) AS pmi_e4
FROM cxy JOIN cx USING (w1) JOIN cy USING (w2), tot
"""


# ---------------------------------------------------------------------------
# zipf_slope — per-language Zipf exponent: regr_slope(ln freq, ln rank)
# over the term frequency table (Zipf 1949; slope ~ -1 for natural text)
# ---------------------------------------------------------------------------

def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _documents(spark, sf_dir).select(
        "lang", F.explode(F.expr(_KW_TOKS)).alias("w")
    )
    freq = toks.groupBy("lang", "w").agg(
        F.count("*").cast("long").alias("freq")
    ).where(F.col("freq") >= 2)
    w = Window.partitionBy("lang").orderBy(
        F.col("freq").desc(), F.col("w").asc()
    )
    ranked = freq.withColumn("rk", F.row_number().over(w).cast("long"))
    return ranked.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_terms"),
        F.floor(
            F.expr("regr_slope(ln(freq), ln(rk))") * 1e6 + F.lit(0.5)
        ).cast("long").alias("zipf_e6"),
        F.floor(
            F.expr("regr_r2(ln(freq), ln(rk))") * 1e6 + F.lit(0.5)
        ).cast("long").alias("r2_e6"),
    )


SQL_ZIPF = f"""
WITH toks AS (
  SELECT lang, unnest({_KW_TOKS_DUCK}) AS w FROM documents
), freq AS (
  SELECT lang, w, CAST(count(*) AS BIGINT) AS freq
  FROM toks GROUP BY 1, 2 HAVING count(*) >= 2
), ranked AS (
  SELECT lang, freq,
         row_number() OVER (PARTITION BY lang ORDER BY freq DESC, w ASC)
           AS rk
  FROM freq
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(floor(regr_slope(ln(freq), ln(rk)) * 1e6 + 0.5) AS BIGINT)
         AS zipf_e6,
       CAST(floor(regr_r2(ln(freq), ln(rk)) * 1e6 + 0.5) AS BIGINT)
         AS r2_e6
FROM ranked GROUP BY lang
"""


# ---------------------------------------------------------------------------
# readability — Flesch reading-ease proxy per source (Flesch 1948; the
# syllable counter is the standard vowel-group approximation, identical
# regexes in both engines)
# ---------------------------------------------------------------------------

def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select(
        "source",
        F.regexp_count(F.col("text"), F.lit("[A-Za-z]+")).cast("double")
        .alias("words"),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit("[.!?]+")), F.lit(1)
        ).cast("double").alias("sents"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
        .cast("double").alias("sylls"),
    ).where(F.col("words") > 0)
    d = d.withColumn(
        "flesch",
        F.lit(206.835)
        - F.lit(1.015) * (F.col("words") / F.col("sents"))
        - F.lit(84.6) * (F.col("sylls") / F.col("words")),
    )
    return d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.floor(F.avg("flesch") * 1e2 + F.lit(0.5)).cast("long")
        .alias("flesch_e2"),
        F.floor(F.avg(F.col("words") / F.col("sents")) * 1e2 + F.lit(0.5))
        .cast("long").alias("wps_e2"),
        F.floor(F.avg(F.col("sylls") / F.col("words")) * 1e4 + F.lit(0.5))
        .cast("long").alias("spw_e4"),
    )


SQL_READABILITY = """
WITH d AS (
  SELECT source,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS DOUBLE)
           AS words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS DOUBLE) AS sents,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
           AS sylls
  FROM documents
), f AS (
  SELECT source, words, sents, sylls,
         206.835 - 1.015 * (words / sents) - 84.6 * (sylls / words)
           AS flesch
  FROM d WHERE words > 0
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(floor(avg(flesch) * 1e2 + 0.5) AS BIGINT) AS flesch_e2,
       CAST(floor(avg(words / sents) * 1e2 + 0.5) AS BIGINT) AS wps_e2,
       CAST(floor(avg(sylls / words) * 1e4 + 0.5) AS BIGINT) AS spw_e4
FROM f GROUP BY source
"""


# ---------------------------------------------------------------------------
# bloom_decontaminate — Bloom-filter benchmark membership (text/bloom.py).
# The K-M double hashing is pure integer math over the portable h60, so
# the DuckDB twin rebuilds the SAME bitmap and reproduces even the false
# positives bit-exactly — a fully oracle-backed Bloom filter.
# ---------------------------------------------------------------------------

_BLOOM_MOD = 29          # same corpus/benchmark split as decontaminate_ngram
_BLOOM_M = 1 << 16
_BLOOM_K = 4


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.text.bloom import bloom_decontaminate

    d = _documents(spark, sf_dir).select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % _BLOOM_MOD != 0)
    bench = d.filter(F.col("doc_id") % _BLOOM_MOD == 0)
    out = bloom_decontaminate(
        corpus, bench, k=3, m_bits=_BLOOM_M, k_hashes=_BLOOM_K, min_hits=1
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_shingles",
        "n_maybe",
        F.col("contaminated").cast("long").alias("contaminated"),
    )


def _sql_bloom() -> str:
    from diive_spark.queries_text import DUCK_H60, DUCK_TOKS, _duck_ngrams

    h = DUCK_H60.format(s="s")
    m, k = _BLOOM_M, _BLOOM_K
    return f"""
WITH corp AS (
  SELECT doc_id, {DUCK_TOKS} AS toks FROM documents
  WHERE doc_id % {_BLOOM_MOD} != 0
), bencht AS (
  SELECT {DUCK_TOKS} AS toks FROM documents WHERE doc_id % {_BLOOM_MOD} = 0
), bh AS (
  SELECT DISTINCT unnest(
    list_transform(list_distinct({_duck_ngrams(3)}), s -> {h})) AS h
  FROM bencht
), seeds AS (
  SELECT unnest(generate_series(0, {k - 1})) AS i
), bpos AS (
  SELECT DISTINCT ((h % {m}) + i * ((h >> 30) | 1)) % {m} AS pos
  FROM bh, seeds
), words AS (
  SELECT pos >> 5 AS word_idx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos & 31 AS INT)) AS word
  FROM bpos GROUP BY 1
), ch AS (
  SELECT doc_id,
         list_distinct(list_transform({_duck_ngrams(3)}, s -> {h})) AS hs
  FROM corp
), chh AS (
  SELECT doc_id, len(hs) AS n_shingles, unnest(hs) AS h FROM ch
), cpos AS (
  SELECT doc_id, h, (((h % {m}) + i * ((h >> 30) | 1)) % {m}) AS pos
  FROM chh CROSS JOIN seeds
), probe AS (
  SELECT doc_id, h,
         min(COALESCE((word >> CAST(pos & 31 AS INT)) & 1, 0)) AS all_set
  FROM cpos LEFT JOIN words ON words.word_idx = pos >> 5
  GROUP BY doc_id, h
), hits AS (
  SELECT doc_id, CAST(count(*) FILTER (all_set = 1) AS BIGINT) AS n_maybe
  FROM probe GROUP BY doc_id
)
SELECT CAST(ch.doc_id AS BIGINT) AS doc_id,
       CAST(ch.n_shingles AS BIGINT) AS n_shingles,
       COALESCE(h2.n_maybe, 0) AS n_maybe,
       CAST(CASE WHEN COALESCE(h2.n_maybe, 0) >= 1 THEN 1 ELSE 0 END
            AS BIGINT) AS contaminated
FROM (SELECT doc_id, len(hs) AS n_shingles FROM ch) ch
LEFT JOIN hits h2 ON h2.doc_id = ch.doc_id
"""


# ---------------------------------------------------------------------------
# minmax_preselect — MinMaxLTTB phase 1 (per-bin extremes) as an
# oracle-backed distributed operator; phase 2 (minmax_lttb) is the
# sequential-kernel tail and rides a rows-only check
# ---------------------------------------------------------------------------

_MM_NOUT = 12
_MM_RATIO = 4
_MM_NBINS = max(1, (_MM_NOUT - 2) * _MM_RATIO // 2)


def q_minmax_preselect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("key"),
        _epoch_s("ts").alias("ts_s"),
        "value",
    )
    return minmax_preselect(
        ev, key_col="key", x_col="ts_s", y_col="value",
        n_out=_MM_NOUT, ratio=_MM_RATIO,
    ).select(F.col("key").cast("long").alias("key"), "ts_s", "value")


SQL_MINMAX_PRESELECT = f"""
WITH pts AS (
  SELECT user_id AS key,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS ts_s, value
  FROM events WHERE value IS NOT NULL
), ext AS (
  SELECT key, min(ts_s) AS xmin, max(ts_s) AS xmax FROM pts GROUP BY 1
), b AS (
  SELECT p.key, ts_s, value,
         least(CAST(floor((ts_s - xmin) * {_MM_NBINS}
                          / (xmax - xmin + 1)) AS BIGINT),
               {_MM_NBINS - 1}) AS bin
  FROM pts p JOIN ext USING (key)
), r AS (
  SELECT key, ts_s, value,
         row_number() OVER (PARTITION BY key, bin
                            ORDER BY value ASC, ts_s ASC) AS rymn,
         row_number() OVER (PARTITION BY key, bin
                            ORDER BY value DESC, ts_s DESC) AS rymx,
         row_number() OVER (PARTITION BY key, bin
                            ORDER BY ts_s ASC, value ASC) AS rxmn,
         row_number() OVER (PARTITION BY key, bin
                            ORDER BY ts_s DESC, value DESC) AS rxmx
  FROM b
)
SELECT DISTINCT CAST(key AS BIGINT) AS key, ts_s, value
FROM r WHERE rymn = 1 OR rymx = 1 OR rxmn = 1 OR rxmx = 1
"""


# ---------------------------------------------------------------------------
# weighted_sample — Efraimidis-Spirakis A-ES weighted sampling without
# replacement (Inf. Proc. Letters 2006), made DETERMINISTIC by deriving
# the uniform from the portable h60 of the row id: u = (h60(id)+1)/2^60,
# rank key = ln(u)/w (monotone in u^(1/w)).  Fully oracle-backed — the
# "random" sample is reproducible on any engine, the property a
# re-runnable 100 TB curation pipeline actually wants.
# ---------------------------------------------------------------------------

_WS_K = 5
_TWO60 = float(1 << 60)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.text.hashing import spark_h60

    d = _documents(spark, sf_dir).select("doc_id", "lang", "n_chars")
    h = F.expr(spark_h60("cast(doc_id as string)"))
    score = F.log((h + F.lit(1)) / F.lit(_TWO60)) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy(
        F.col("_score").desc(), F.col("doc_id").asc()
    )
    return (
        d.where(F.col("n_chars") > 0)
        .withColumn("_score", score)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _WS_K)
        .select(
            "lang", "rk",
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_chars").cast("long").alias("n_chars"),
            F.floor(F.col("_score") * 1e9 + F.lit(0.5)).cast("long")
            .alias("score_e9"),
        )
    )


SQL_WEIGHTED_SAMPLE = f"""
WITH scored AS (
  SELECT lang, doc_id, n_chars,
         ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) + 1) / {_TWO60}) / n_chars AS score
  FROM documents WHERE n_chars > 0
), ranked AS (
  SELECT lang, doc_id, n_chars, score,
         row_number() OVER (PARTITION BY lang
                            ORDER BY score DESC, doc_id ASC) AS rk
  FROM scored
)
SELECT lang, CAST(rk AS BIGINT) AS rk, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(floor(score * 1e9 + 0.5) AS BIGINT) AS score_e9
FROM ranked WHERE rk <= {_WS_K}
"""


# ---------------------------------------------------------------------------
# zorder_stats — Morton-curve layout key (functions/zorder.py): the
# Delta/Iceberg ZORDER BY compaction key over (user, minute), summarized
# per curve segment.  Pure bit arithmetic — bit-exact across engines.
# ---------------------------------------------------------------------------

def q_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.functions.zorder import z_value_sql

    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("uid"),
        F.floor(_epoch_s("ts") / 60).cast("long").alias("minute"),
    )
    z = z_value_sql("uid", "minute")
    return (
        ev.withColumn("z", F.expr(z))
        .groupBy(F.shiftright("z", 22).cast("long").alias("segment"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("z").cast("long").alias("z_min"),
            F.max("z").cast("long").alias("z_max"),
            F.countDistinct("uid").cast("long").alias("n_users"),
            (F.max("minute") - F.min("minute")).cast("long")
            .alias("minute_span"),
        )
    )


def _sql_zorder() -> str:
    from diive_spark.functions.zorder import z_value_sql

    z = z_value_sql("uid", "minute")
    return f"""
WITH ev AS (
  SELECT user_id AS uid,
         CAST(floor(CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) / 60)
              AS BIGINT) AS minute
  FROM events
), zz AS (
  SELECT uid, minute, {z} AS z FROM ev
)
SELECT CAST(z >> 22 AS BIGINT) AS segment,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(z) AS BIGINT) AS z_min,
       CAST(max(z) AS BIGINT) AS z_max,
       CAST(count(DISTINCT uid) AS BIGINT) AS n_users,
       CAST(max(minute) - min(minute) AS BIGINT) AS minute_span
FROM zz GROUP BY 1
"""


# ---------------------------------------------------------------------------
# rows-only kernels (non-SQL-expressible: STOMP, GESD iteration, Viterbi,
# FFT, DP recurrences, LTTB tail) — all deterministic, so the driver's
# rows+schema check is stable; exactness is pinned in tests/ against
# brute-force oracles
# ---------------------------------------------------------------------------

def _hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        "event_type",
        (F.floor(_epoch_s("ts") / 3600) * 3600).cast("long").alias("ts_s"),
    ).agg(
        F.count("*").cast("double").alias("cnt"),
        F.avg("value").alias("mean_val"),
    )


def q_matrix_profile_discords(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_counts(spark, sf_dir)
    out = matrix_profile(
        hourly, "event_type", "ts_s", "mean_val", m=24,
        key_type="string", grid_step_s=3600,
    )
    return out.select(
        "event_type", "discord_s",
        F.round("discord_d", 4).alias("discord_d"),
        "motif_s", F.round("motif_d", 4).alias("motif_d"), "n",
    )


def q_shesd_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_counts(spark, sf_dir)
    return shesd_anomalies(
        hourly, "event_type", "ts_s", "cnt", period=24,
        max_anoms=0.05, alpha=0.05, key_type="string",
        grid_step_s=3600, fill=0.0,
    )


def q_burst_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "event_type", _epoch_s("ts").alias("ts_s")
    )
    # gamma=0.5: the synthetic stream is near-homogeneous Poisson, so
    # Kleinberg's default transition cost (gamma=1) correctly finds zero
    # bursts; halving it surfaces the moderate rate fluctuations instead
    # (parameter sensitivity measured in-session: gamma 1.0 -> 0 bursts,
    # 0.5 -> ~30, 0.3 -> ~136 at sf0.01)
    return burst_windows(ev, "event_type", "ts_s", n_states=2, s=2.0,
                         gamma=0.5)


def q_detect_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_counts(spark, sf_dir)
    out = detect_period(
        hourly, "event_type", "ts_s", "cnt", step_s=3600,
        key_type="string", fill=0.0,
    )
    return out.select(
        "event_type",
        F.round("period_s", 2).alias("period_s"),
        F.round("acf_period_s", 2).alias("acf_period_s"),
        F.round("power_frac", 4).alias("power_frac"),
        "n",
    )


def q_dtw_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.dtw import pairwise_dtw

    ev = _events(spark, sf_dir)
    diel = ev.groupBy(
        "event_type", F.hour("ts").alias("hh")
    ).agg(F.avg("value").alias("v"))
    profiles = diel.groupBy("event_type").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(hh, v))), s -> s.v)"
        ).alias("vec")
    )
    out = pairwise_dtw(profiles, "event_type", "vec", znorm=True)
    return out.select(
        "key_a", "key_b", F.round("dtw", 4).alias("dtw")
    )


def q_pelt_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_counts(spark, sf_dir)
    from diive_spark.operators.pelt import pelt_changepoints

    out = pelt_changepoints(
        hourly, "event_type", "ts_s", "mean_val", min_size=2,
        key_type="string",
    )
    return out.select(
        "event_type", "cp_no", "ts_s",
        F.round("mean_before", 4).alias("mean_before"),
        F.round("mean_after", 4).alias("mean_after"),
    )


def q_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.tdigest import tdigest_quantiles

    ev = _events(spark, sf_dir)
    out = tdigest_quantiles(ev, "event_type", "value", [0.5, 0.95, 0.99])
    return out.select(
        "event_type", "n_points", "n_centroids",
        F.round("p50", 4).alias("p50"),
        F.round("p95", 4).alias("p95"),
        F.round("p99", 4).alias("p99"),
    )


def q_minmax_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").alias("key"),
        _epoch_s("ts").alias("ts_s"),
        "value",
    )
    return minmax_lttb(
        ev, key_col="key", x_col="ts_s", y_col="value",
        n_out=_MM_NOUT, ratio=_MM_RATIO,
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "trend_ols": q_trend_ols,
    "doc_keywords": q_doc_keywords,
    "term_pmi": q_term_pmi,
    "zipf_slope": q_zipf_slope,
    "readability": q_readability,
    "bloom_decontaminate": q_bloom_decontaminate,
    "minmax_preselect": q_minmax_preselect,
    "matrix_profile_discords": q_matrix_profile_discords,
    "shesd_anomalies": q_shesd_anomalies,
    "burst_windows": q_burst_windows,
    "detect_period": q_detect_period,
    "pelt_changepoints": q_pelt_changepoints,
    "tdigest_quantiles": q_tdigest_quantiles,
    "dtw_profiles": q_dtw_profiles,
    "weighted_sample": q_weighted_sample,
    "zorder_stats": q_zorder_stats,
    "minmax_lttb": q_minmax_lttb,
}

ORACLE_SQL: dict[str, str] = {
    "trend_ols": SQL_TREND_OLS,
    "doc_keywords": SQL_DOC_KEYWORDS,
    "term_pmi": SQL_TERM_PMI,
    "zipf_slope": SQL_ZIPF,
    "readability": SQL_READABILITY,
    "bloom_decontaminate": _sql_bloom(),
    "minmax_preselect": SQL_MINMAX_PRESELECT,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "zorder_stats": _sql_zorder(),
}
