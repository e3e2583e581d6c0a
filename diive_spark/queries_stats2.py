"""Round-4e query registry: trend/persistence diagnostics and corpus
lexical statistics — seasonal Mann-Kendall (Hirsch & Slack 1984), AR(1)
persistence + mean-reversion half-life, Lo-MacKinlay variance-ratio,
running record highs, per-doc lexical diversity (TTR/hapax), and
cross-corpus n-gram novelty.

Oracle conventions as everywhere in this repo: identical column names,
every DuckDB integer SUM wrapped in ``CAST(... AS BIGINT)`` (HUGEINT
trap), derived doubles floor-scaled with the house 1/pi offset.  All
series math runs on exact-integer centivalues (``floor(avg*100+1/pi)``)
so sums/products are exact in doubles and the final scalar expression is
bit-identical across engines (same IEEE op tree on both sides).

Reference parity notes: diive's trend analysis exposes plain MK + Sen
(core/dfun/stats and the ustar/trend notebooks); the seasonal variant is
the standard extension for diel-cycled sensor data (Hirsch & Slack, WRR
1984) — seasons here are the four 6-hour diel blocks, matching the
reference's day/night stratification idiom (e.g. FlagZscoreDaynight).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diive_spark.operators.trend import mann_kendall_trend

_OFF = 0.31830988618367  # 1/pi — the house irrational floor offset

# hourly per-user series with exact-integer centivalues (same CTE as
# queries_trend.py so the two batteries stay comparable)
_HOURLY_SQL = f"""
hourly AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS t,
         CAST(floor(avg(value) * 100 + {_OFF}) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
)
"""


def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            "user_id",
            (
                F.floor(
                    F.unix_micros(F.col("ts").cast("timestamp")) / 3_600_000_000
                )
                * 3600
            ).cast("long").alias("t"),
        )
        .agg(
            F.floor(F.avg("value") * 100 + F.lit(_OFF))
            .cast("double")
            .alias("v")
        )
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# seasonal_mann_kendall — Hirsch-Slack seasonal MK over 6-hour diel blocks
# ---------------------------------------------------------------------------
# S = sum of per-season S_g, Var = sum of per-season tie-corrected Var_g
# (independent-seasons form, Hirsch & Slack 1984 eq. 2-4); z uses the
# usual continuity correction on the summed statistic.  Implementation:
# the existing per-key MK kernel runs once per (user, season) composite
# key — per-key bounded state, embarrassingly parallel — and a combinable
# groupBy folds the four seasons back to one row per user.  var_s*18 is
# an exact integer per season, so the summed var18 is exact too.


def q_seasonal_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    hour_of_day = (F.col("t") / 3600).cast("long") % 24
    h = _hourly(spark, sf_dir).withColumn(
        "k",
        (F.col("user_id") * 4 + (hour_of_day / 6).cast("long")).cast("long"),
    )
    mk = mann_kendall_trend(h, "k", "t", "v")
    agg = (
        mk.groupBy((F.col("k") / 4).cast("long").alias("user_id"))
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("s").cast("long").alias("s"),
            F.sum(F.round(F.col("var_s") * 18)).cast("long").alias("var_s18"),
        )
    )
    z = (
        F.when((F.col("var_s18") <= 0) | (F.col("s") == 0), F.lit(0.0))
        .when(
            F.col("s") > 0,
            (F.col("s") - 1) / F.sqrt(F.col("var_s18") / 18.0),
        )
        .otherwise((F.col("s") + 1) / F.sqrt(F.col("var_s18") / 18.0))
    )
    return agg.select(
        "user_id",
        "n",
        "s",
        "var_s18",
        F.floor(z * 10_000 + F.lit(_OFF)).cast("long").alias("z_e4"),
    ).orderBy("user_id")


SQL_SEASONAL_MK = f"""
WITH {_HOURLY_SQL},
hs AS (
  SELECT user_id, (t // 3600 % 24) // 6 AS g, t, v FROM hourly
), pairs AS (
  SELECT a.user_id, a.g, CAST(sign(b.v - a.v) AS BIGINT) AS sg
  FROM hs a JOIN hs b
    ON a.user_id = b.user_id AND a.g = b.g AND b.t > a.t
), s_g AS (
  SELECT user_id, g, sum(sg) AS s FROM pairs GROUP BY 1, 2
), nn AS (
  SELECT user_id, g, count(*) AS n FROM hs GROUP BY 1, 2
), ties AS (
  SELECT user_id, g, sum(c * (c - 1) * (2 * c + 5)) AS tie
  FROM (SELECT user_id, g, v, count(*) AS c FROM hs GROUP BY 1, 2, 3)
  GROUP BY 1, 2
), per_season AS (
  SELECT nn.user_id, nn.n, coalesce(s_g.s, 0) AS s,
         (nn.n * (nn.n - 1) * (2 * nn.n + 5) - coalesce(ties.tie, 0)) AS v18
  FROM nn
  LEFT JOIN s_g ON s_g.user_id = nn.user_id AND s_g.g = nn.g
  LEFT JOIN ties ON ties.user_id = nn.user_id AND ties.g = nn.g
), agg AS (
  SELECT user_id, CAST(sum(n) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS s,
         CAST(sum(v18) AS BIGINT) AS var_s18
  FROM per_season GROUP BY 1
)
SELECT user_id, n, s, var_s18,
       CAST(floor(
         CASE WHEN var_s18 <= 0 OR s = 0 THEN 0.0
              WHEN s > 0 THEN (s - 1) / sqrt(var_s18 / 18.0)
              ELSE (s + 1) / sqrt(var_s18 / 18.0)
         END * 10000 + {_OFF}) AS BIGINT) AS z_e4
FROM agg
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# ar1_halflife — lag-1 autocorrelation + mean-reversion half-life
# ---------------------------------------------------------------------------
# Pairs are consecutive ROWS of the hourly series (gap-tolerant, same
# convention as acf_hourly).  Pearson r over exact-integer (x, y) pairs:
# every sum/product is an exact integer, so r and the downstream ln are
# the same IEEE expression on both engines.  Half-life (hours) =
# -ln 2 / ln r, defined only for 0 < r < 1 (stationary persistence).
# One per-key ordered window + one combinable groupBy — no kernel.


def q_ar1_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("t")
    p = (
        _hourly(spark, sf_dir)
        .select("user_id", "t", F.col("v").alias("x"))
        .withColumn("y", F.lead("x").over(w))
        .filter(F.col("y").isNotNull())
    )
    agg = p.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    den = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    r = F.when(
        den > 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(den),
    )
    hl = F.when(
        (r > 0) & (r < 1), -F.log(F.lit(2.0)) / F.log(r)
    )
    return agg.select(
        "user_id",
        F.col("n").cast("long").alias("n_pairs"),
        F.floor(r * 1_000_000 + F.lit(_OFF)).cast("long").alias("r1_e6"),
        F.floor(hl * 10_000 + F.lit(_OFF)).cast("long").alias("halflife_h_e4"),
    ).orderBy("user_id")


SQL_AR1 = f"""
WITH {_HOURLY_SQL},
p AS (
  SELECT user_id, v AS x,
         lead(v) OVER (PARTITION BY user_id ORDER BY t) AS y
  FROM hourly QUALIFY y IS NOT NULL
), agg AS (
  SELECT user_id, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM p GROUP BY 1
), rr AS (
  SELECT user_id, n,
         CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
              THEN (n * sxy - sx * sy)
                   / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
         END AS r
  FROM agg
)
SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
       CAST(floor(r * 1000000 + {_OFF}) AS BIGINT) AS r1_e6,
       CAST(floor(CASE WHEN r > 0 AND r < 1 THEN -ln(2.0) / ln(r) END
                  * 10000 + {_OFF}) AS BIGINT) AS halflife_h_e4
FROM rr
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# variance_ratio — Lo-MacKinlay VR(q), q = 24 h, overlapping differences
# ---------------------------------------------------------------------------
# VR(q) = Var(v_{i+q} - v_i) / (q * Var(v_{i+1} - v_i)) over row-lagged
# differences of the hourly series; VR ~ 1 for a random walk, < 1 for
# mean reversion, > 1 for trending.  Population variances via the
# sum-of-squares identity on exact-integer diffs — the whole scalar is
# one deterministic IEEE expression.  Two lead windows share ONE sort
# exchange per key (same partition + ordering).


_VR_Q = 24


def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("t")
    h = (
        _hourly(spark, sf_dir)
        .withColumn("d1", F.lead("v", 1).over(w) - F.col("v"))
        .withColumn("dq", F.lead("v", _VR_Q).over(w) - F.col("v"))
    )
    agg = h.groupBy("user_id").agg(
        F.count("d1").alias("n1"),
        F.sum("d1").alias("s1"),
        F.sum(F.col("d1") * F.col("d1")).alias("s11"),
        F.count("dq").alias("nq"),
        F.sum("dq").alias("sq"),
        F.sum(F.col("dq") * F.col("dq")).alias("sqq"),
    )
    n1g = F.greatest(F.col("n1"), F.lit(1))
    nqg = F.greatest(F.col("nq"), F.lit(1))
    var1 = (F.col("s11") - F.col("s1") * F.col("s1") / n1g) / n1g
    varq = (F.col("sqq") - F.col("sq") * F.col("sq") / nqg) / nqg
    vr = F.when((F.col("nq") >= 2) & (var1 > 0), varq / F.lit(float(_VR_Q)) / var1)
    return agg.select(
        "user_id",
        F.col("n1").cast("long").alias("n1"),
        F.col("nq").cast("long").alias("nq"),
        F.floor(vr * 1_000_000 + F.lit(_OFF)).cast("long").alias("vr_e6"),
    ).orderBy("user_id")


SQL_VARIANCE_RATIO = f"""
WITH {_HOURLY_SQL},
d AS (
  SELECT user_id,
         lead(v, 1) OVER (PARTITION BY user_id ORDER BY t) - v AS d1,
         lead(v, {_VR_Q}) OVER (PARTITION BY user_id ORDER BY t) - v AS dq
  FROM hourly
), agg AS (
  SELECT user_id,
         count(d1) AS n1, sum(d1) AS s1, sum(d1 * d1) AS s11,
         count(dq) AS nq, sum(dq) AS sq, sum(dq * dq) AS sqq
  FROM d GROUP BY 1
)
SELECT user_id, CAST(n1 AS BIGINT) AS n1, CAST(nq AS BIGINT) AS nq,
       CAST(floor(
         CASE WHEN nq >= 2
                   AND (s11 - s1 * s1 / greatest(n1, 1)) / greatest(n1, 1) > 0
              THEN ((sqq - sq * sq / greatest(nq, 1)) / greatest(nq, 1))
                   / {float(_VR_Q)}
                   / ((s11 - s1 * s1 / greatest(n1, 1)) / greatest(n1, 1))
         END * 1000000 + {_OFF}) AS BIGINT) AS vr_e6
FROM agg
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# running_records — record highs of each user's hourly series
# ---------------------------------------------------------------------------
# A row is a record when v strictly exceeds every earlier v (the first
# row is a record).  Exact integer compares; one per-key ordered window
# + one combinable groupBy.


def q_running_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    h = _hourly(spark, sf_dir).withColumn(
        "is_rec",
        F.when(
            F.max("v").over(w).isNull() | (F.col("v") > F.max("v").over(w)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (
        h.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum("is_rec").cast("long").alias("n_records"),
            F.max(F.when(F.col("is_rec") == 1, F.col("t")))
            .cast("long")
            .alias("last_record_t"),
            F.max("v").cast("long").alias("max_v_e2"),
        )
        .orderBy("user_id")
    )


SQL_RUNNING_RECORDS = f"""
WITH {_HOURLY_SQL},
r AS (
  SELECT user_id, t, v,
         CASE WHEN max(v) OVER (PARTITION BY user_id ORDER BY t
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                   OR v > max(v) OVER (PARTITION BY user_id ORDER BY t
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS is_rec
  FROM hourly
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(sum(is_rec) AS BIGINT) AS n_records,
       CAST(max(CASE WHEN is_rec = 1 THEN t END) AS BIGINT)
         AS last_record_t,
       CAST(max(v) AS BIGINT) AS max_v_e2
FROM r GROUP BY 1
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# lexical_diversity — per-doc type/token and hapax ratios
# ---------------------------------------------------------------------------
# Stats are fully doc-local, so a single Arrow kernel pass computes them
# with ZERO shuffles (same argument as curation._repetition_stats_udf:
# the explode -> (doc, token) -> doc expression path would shuffle
# ~n_tokens rows per doc twice).  Tokenization is the house word rule
# ([a-z0-9]+ on lowercased text) — replicated verbatim in the oracle.

_LEXSTATS_UDF = []


def _lexstats_udf():
    if not _LEXSTATS_UDF:
        import re
        from collections import Counter

        word = re.compile(r"[a-z0-9]+")

        @F.pandas_udf("struct<n_tokens:bigint,n_types:bigint,n_hapax:bigint>")
        def _lex(texts: pd.Series) -> pd.DataFrame:
            rows = []
            for t in texts:
                ct = Counter(word.findall((t or "").lower()))
                n_tok = sum(ct.values())
                n_hapax = sum(1 for c in ct.values() if c == 1)
                rows.append((n_tok, len(ct), n_hapax))
            return pd.DataFrame(
                rows, columns=["n_tokens", "n_types", "n_hapax"]
            )

        _LEXSTATS_UDF.append(_lex.asNondeterministic())
    return _LEXSTATS_UDF[0]


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select(
        "doc_id", _lexstats_udf()(F.col("text")).alias("_s")
    )
    n_tok = F.col("_s.n_tokens")
    n_typ = F.col("_s.n_types")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_tok.alias("n_tokens"),
        n_typ.alias("n_types"),
        F.col("_s.n_hapax").alias("n_hapax"),
        F.floor(n_typ / F.greatest(n_tok, F.lit(1)) * 1_000_000 + F.lit(_OFF))
        .cast("long")
        .alias("ttr_e6"),
        F.floor(
            F.col("_s.n_hapax") / F.greatest(n_typ, F.lit(1)) * 1_000_000
            + F.lit(_OFF)
        )
        .cast("long")
        .alias("hapax_e6"),
    ).orderBy("doc_id")


SQL_LEXICAL_DIVERSITY = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents
), ct AS (
  SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2
), agg AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
  FROM ct GROUP BY 1
)
SELECT d.doc_id,
       coalesce(a.n_tokens, 0) AS n_tokens,
       coalesce(a.n_types, 0) AS n_types,
       coalesce(a.n_hapax, 0) AS n_hapax,
       CAST(floor(coalesce(a.n_types, 0)
                  / greatest(coalesce(a.n_tokens, 0), 1) * 1000000
                  + {_OFF}) AS BIGINT) AS ttr_e6,
       CAST(floor(coalesce(a.n_hapax, 0)
                  / greatest(coalesce(a.n_types, 0), 1) * 1000000
                  + {_OFF}) AS BIGINT) AS hapax_e6
FROM documents d LEFT JOIN agg a USING (doc_id)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# ngram_novelty — fraction of a doc's 3-gram shingles it owns corpus-wide
# ---------------------------------------------------------------------------
# Owner of a shingle = the smallest doc_id containing it (deterministic
# first-occurrence under the corpus's stable id order).  Per doc:
# distinct 3-grams, how many it owns, novelty ratio.  Plan: one Arrow
# kernel emits each doc's DISTINCT shingles (doc-local dedup — no
# (doc, ng, pos) blow-up leaves the scan), then ONE hash shuffle on the
# shingle computes the corpus-wide owner via a window min, and ONE
# combinable groupBy folds back to docs.  This is the bounded two-shuffle
# shape that survives 100 TB; an all-pairs join never appears.

_NGRAMSET_UDF = []


def _ngramset_udf():
    if not _NGRAMSET_UDF:
        import re

        word = re.compile(r"[a-z0-9]+")

        @F.pandas_udf("array<string>")
        def _ngs(texts: pd.Series) -> pd.Series:
            out = []
            for t in texts:
                toks = word.findall((t or "").lower())
                out.append(
                    list(
                        {
                            " ".join(toks[i : i + 3])
                            for i in range(max(len(toks) - 2, 0))
                        }
                    )
                )
            return pd.Series(out)

        _NGRAMSET_UDF.append(_ngs.asNondeterministic())
    return _NGRAMSET_UDF[0]


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(_ngramset_udf()(F.col("text"))).alias("ng"),
    )
    w = Window.partitionBy("ng")
    owned = d.select(
        "doc_id", "ng", F.min("doc_id").over(w).alias("owner")
    )
    agg = owned.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum((F.col("owner") == F.col("doc_id")).cast("long"))
        .cast("long")
        .alias("n_novel"),
    )
    return agg.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.floor(
            F.col("n_novel") / F.col("n_grams") * 1_000_000 + F.lit(_OFF)
        )
        .cast("long")
        .alias("novelty_e6"),
    ).orderBy("doc_id")


SQL_NGRAM_NOVELTY = f"""
WITH tok AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), ng AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                               i -> array_to_string(toks[i:i+2], ' '))) AS g
  FROM tok WHERE len(toks) >= 3
), own AS (
  SELECT doc_id, g, min(doc_id) OVER (PARTITION BY g) AS owner FROM ng
), agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN owner = doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS n_novel
  FROM own GROUP BY 1
)
SELECT doc_id, n_grams, n_novel,
       CAST(floor(n_novel / n_grams * 1000000 + {_OFF}) AS BIGINT)
         AS novelty_e6
FROM agg
ORDER BY doc_id
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "seasonal_mann_kendall": q_seasonal_mann_kendall,
    "ar1_halflife": q_ar1_halflife,
    "variance_ratio": q_variance_ratio,
    "running_records": q_running_records,
    "lexical_diversity": q_lexical_diversity,
    "ngram_novelty": q_ngram_novelty,
}

ORACLE_SQL: dict[str, str] = {
    "seasonal_mann_kendall": SQL_SEASONAL_MK,
    "ar1_halflife": SQL_AR1,
    "variance_ratio": SQL_VARIANCE_RATIO,
    "running_records": SQL_RUNNING_RECORDS,
    "lexical_diversity": SQL_LEXICAL_DIVERSITY,
    "ngram_novelty": SQL_NGRAM_NOVELTY,
}


# ---------------------------------------------------------------------------
# survival_km — Kaplan-Meier feature-abandonment curve
# ---------------------------------------------------------------------------
# Subject = (user, event_type); lifetime = days between the user's first
# and last event OF THAT TYPE.  The type is CHURNED (event observed)
# when its last use is >= 7 days before the user's own last activity
# (internal censoring — the user abandoned the feature while still
# active); otherwise censored at the user's horizon (Kaplan & Meier,
# JASA 1958).  S(t) = prod_{t_i <= t} (1 - d_i / n_i) computed as
# exp(cumsum(ln ...)) over the per-lifetime aggregate — the cumulative
# window runs on a table whose width is DISTINCT LIFETIMES (days-span
# bounded, never subject count), so the partition-less ordered window is
# safe at any corpus size (same bounded-aggregate argument as
# gini_sources' rank window).


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id",
        "event_type",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000)
        .cast("long")
        .alias("day"),
    )
    ut = ev.groupBy("user_id", "event_type").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    horizon = ut.groupBy("user_id").agg(F.max("d1").alias("ud1"))
    # equi-join on user_id (NOT broadcast: horizon is one row per user —
    # unbounded at corpus scale; AQE may still broadcast it when small)
    u = ut.join(horizon, "user_id").select(
        (F.col("d1") - F.col("d0")).alias("life"),
        (F.col("d1") <= F.col("ud1") - 7).cast("long").alias("observed"),
    )
    per_t = u.groupBy("life").agg(
        F.count(F.lit(1)).alias("n_at"),
        F.sum("observed").alias("d"),
    )
    w_risk = (
        Window.orderBy("life").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_cum = Window.orderBy("life").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = (
        per_t.withColumn("n_risk", F.sum("n_at").over(w_risk))
        .withColumn(
            "lnterm",
            F.log(
                F.lit(1.0)
                - F.col("d").cast("double") / F.col("n_risk").cast("double")
            ),
        )
        .withColumn("s", F.exp(F.sum("lnterm").over(w_cum)))
    )
    return (
        km.filter(F.col("d") > 0)
        .select(
            F.col("life").cast("long").alias("life_days"),
            F.col("n_risk").cast("long").alias("n_risk"),
            F.col("d").cast("long").alias("n_events"),
            F.floor(F.col("s") * 1_000_000 + F.lit(_OFF))
            .cast("long")
            .alias("s_e6"),
        )
        .orderBy("life_days")
    )


SQL_SURVIVAL_KM = f"""
WITH ev AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day
  FROM events
), ut AS (
  SELECT user_id, event_type, min(day) AS d0, max(day) AS d1
  FROM ev GROUP BY 1, 2
), horizon AS (
  SELECT user_id, max(d1) AS ud1 FROM ut GROUP BY 1
), u AS (
  SELECT ut.d1 - ut.d0 AS life,
         CASE WHEN ut.d1 <= horizon.ud1 - 7 THEN 1 ELSE 0 END AS observed
  FROM ut JOIN horizon USING (user_id)
), per_t AS (
  SELECT life, count(*) AS n_at, CAST(sum(observed) AS BIGINT) AS d
  FROM u GROUP BY 1
), risk AS (
  SELECT life, d,
         sum(n_at) OVER (ORDER BY life
                         ROWS BETWEEN CURRENT ROW
                         AND UNBOUNDED FOLLOWING) AS n_risk
  FROM per_t
), km AS (
  SELECT life, d, n_risk,
         exp(sum(ln(1.0 - CAST(d AS DOUBLE) / n_risk))
             OVER (ORDER BY life
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
  FROM risk
)
SELECT CAST(life AS BIGINT) AS life_days,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_events,
       CAST(floor(s * 1000000 + {_OFF}) AS BIGINT) AS s_e6
FROM km WHERE d > 0
ORDER BY life_days
"""


# ---------------------------------------------------------------------------
# powerlaw_alpha — discrete power-law tail MLE on doc lengths per language
# ---------------------------------------------------------------------------
# Clauset-Shalizi-Newman 2009 eq. 3.7 (continuous approximation for the
# discrete MLE): alpha = 1 + n / sum ln(x_i / (xmin - 0.5)) over the
# tail x_i >= xmin, xmin fixed at 10 word tokens.  Token counts are the
# pure-codegen regexp length (no kernel) so both engines count the same
# tail; the ln sum is order-nondeterministic across engines but its
# error is ~n ulp against an e4 floor grid — the same margin argument
# as zipf_slope's regression on ln frequencies.

_PL_XMIN = 10


def q_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select(
        "lang",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("x"),
    )
    tail = d.filter(F.col("x") >= _PL_XMIN)
    agg = tail.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tail"),
        F.sum(F.log(F.col("x") / F.lit(_PL_XMIN - 0.5))).alias("lnsum"),
    )
    alpha = F.lit(1.0) + F.col("n_tail") / F.col("lnsum")
    return agg.select(
        "lang",
        F.col("n_tail").cast("long").alias("n_tail"),
        F.lit(_PL_XMIN).cast("long").alias("xmin"),
        F.floor(alpha * 10_000 + F.lit(_OFF)).cast("long").alias("alpha_e4"),
    ).orderBy("lang")


SQL_POWERLAW = f"""
WITH d AS (
  SELECT lang, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS x
  FROM documents
), agg AS (
  SELECT lang, count(*) AS n_tail,
         sum(ln(x / {_PL_XMIN - 0.5})) AS lnsum
  FROM d WHERE x >= {_PL_XMIN} GROUP BY 1
)
SELECT lang, CAST(n_tail AS BIGINT) AS n_tail,
       CAST({_PL_XMIN} AS BIGINT) AS xmin,
       CAST(floor((1.0 + n_tail / lnsum) * 10000 + {_OFF}) AS BIGINT)
         AS alpha_e4
FROM agg
ORDER BY lang
"""


QUERIES["survival_km"] = q_survival_km
QUERIES["powerlaw_alpha"] = q_powerlaw_alpha
ORACLE_SQL["survival_km"] = SQL_SURVIVAL_KM
ORACLE_SQL["powerlaw_alpha"] = SQL_POWERLAW


# ---------------------------------------------------------------------------
# source_overlap — inter-source 3-gram shingle Jaccard matrix
# ---------------------------------------------------------------------------
# The cross-SOURCE duplication diagnostic a curation pipeline reads
# before mixing corpora: Jaccard of the DISTINCT-shingle vocabularies of
# every source pair.  Reuses the novelty kernel's per-doc distinct
# shingles; (source, ng) distinct is a combinable aggregate, the
# intersection is an equi-self-join on the shingle (never all-pairs of
# DOCS — the join key is the shingle, its width is |sources| per side),
# and the |sources|^2 output is driver-bounded.


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select(
        "source", F.explode(_ngramset_udf()(F.col("text"))).alias("ng")
    ).distinct()
    sizes = d.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = d.select(F.col("source").alias("src_a"), "ng")
    b = d.select(F.col("source").alias("src_b"), "ng")
    both = (
        a.join(b, "ng")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("n_b"))
    j = both.join(F.broadcast(sa), "src_a").join(F.broadcast(sb), "src_b")
    union = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return j.select(
        "src_a",
        "src_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_both").cast("long").alias("n_both"),
        F.floor(
            F.col("n_both").cast("double") / union.cast("double") * 1_000_000
            + F.lit(0.5)
        ).cast("long").alias("jaccard_e6"),
    ).orderBy("src_a", "src_b")


SQL_SOURCE_OVERLAP = """
WITH tok AS (
  SELECT source, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
), sng AS (
  SELECT DISTINCT source,
         unnest(list_transform(generate_series(1, len(toks) - 2),
                               i -> array_to_string(toks[i:i+2], ' '))) AS g
  FROM tok WHERE len(toks) >= 3
), sizes AS (
  SELECT source, count(*) AS sz FROM sng GROUP BY 1
), both_ AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_both
  FROM sng a JOIN sng b USING (g)
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b,
       CAST(sa.sz AS BIGINT) AS n_a, CAST(sb.sz AS BIGINT) AS n_b,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(floor(CAST(n_both AS DOUBLE)
                  / CAST(sa.sz + sb.sz - n_both AS DOUBLE)
                  * 1000000 + 0.5) AS BIGINT) AS jaccard_e6
FROM both_
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY src_a, src_b
"""


# ---------------------------------------------------------------------------
# markov_entropy_rate — plug-in entropy rate of the event-type chain
# ---------------------------------------------------------------------------
# H_rate = sum_i p(i) * H(row_i) with p(i) the EMPIRICAL from-state
# distribution of observed transitions (the plug-in estimator; Cover &
# Thomas ch. 4).  Everything up to the ln terms is exact integer counts;
# the <= |types|^2 ln terms ride the house 1/pi floor offset.  Output is
# ONE row — the corpus-level sequence-predictability scalar.


def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "event_id", "event_type"
    )
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    cnt = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    rowtot = cnt.groupBy("from_type").agg(F.sum("n").alias("rn"))
    tot = cnt.agg(F.sum("n").alias("tn"))
    term = (
        cnt.join(rowtot, "from_type")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                -(F.col("n") / F.col("tn"))
                * F.log(F.col("n") / F.col("rn"))
            ).alias("h")
        )
    )
    return term.agg(
        F.floor(F.sum("h") * 10_000 + F.lit(_OFF))
        .cast("long")
        .alias("h_rate_e4")
    )


SQL_MARKOV_ENTROPY = f"""
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events QUALIFY to_type IS NOT NULL
), cnt AS (
  SELECT from_type, to_type, count(*) AS n
  FROM seq GROUP BY 1, 2
), rowtot AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS rn FROM cnt GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS tn FROM cnt
)
SELECT CAST(floor(sum(-(CAST(n AS DOUBLE) / tn)
                      * ln(CAST(n AS DOUBLE) / rn)) * 10000 + {_OFF})
            AS BIGINT) AS h_rate_e4
FROM cnt JOIN rowtot USING (from_type) CROSS JOIN tot
"""


QUERIES["source_overlap"] = q_source_overlap
QUERIES["markov_entropy_rate"] = q_markov_entropy_rate
ORACLE_SQL["source_overlap"] = SQL_SOURCE_OVERLAP
ORACLE_SQL["markov_entropy_rate"] = SQL_MARKOV_ENTROPY


# ---------------------------------------------------------------------------
# shewhart_imr — individuals / moving-range control chart (SPC)
# ---------------------------------------------------------------------------
# Classic I-MR chart (Shewhart; Montgomery SPC ch. 6): center = series
# mean, sigma-hat = mean moving range / d2(n=2) = MRbar / 1.128, control
# limits mu +/- 3 sigma-hat = mu +/- 2.66 MRbar.  On centivalues every
# input to mu and MRbar is an exact integer (|diff| of exact ints), so
# both limits and every violation compare are the SAME IEEE expression
# on both engines — flags cannot flip on ulp noise.  One sort exchange
# (the lag) + one combinable groupBy; violations counted in the same agg.

_IMR_K = 2.66  # 3 / d2(n=2) = 3 / 1.128


def q_shewhart_imr(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("t")
    h = (
        _hourly(spark, sf_dir)
        .withColumn("mr", F.abs(F.col("v") - F.lag("v").over(w)))
    )
    agg = h.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum("mr").alias("smr"),
        F.count("mr").alias("nmr"),
    )
    mu = F.col("sv") / F.col("n")
    mrbar = F.col("smr") / F.col("nmr")
    ucl = mu + F.lit(_IMR_K) * mrbar
    lcl = mu - F.lit(_IMR_K) * mrbar
    lim = agg.filter(F.col("nmr") >= 1).select(
        "user_id",
        F.col("n").cast("long").alias("n"),
        F.floor(mu * 10_000 + F.lit(_OFF)).cast("long").alias("mu_e4"),
        F.floor(ucl * 10_000 + F.lit(_OFF)).cast("long").alias("ucl_e4"),
        F.floor(lcl * 10_000 + F.lit(_OFF)).cast("long").alias("lcl_e4"),
        ucl.alias("_ucl"),
        lcl.alias("_lcl"),
    )
    viol = (
        h.join(lim.select("user_id", "_ucl", "_lcl"), "user_id")
        .filter((F.col("v") > F.col("_ucl")) | (F.col("v") < F.col("_lcl")))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_viol"),
            F.min("t").cast("long").alias("first_viol_t"),
        )
    )
    return (
        lim.drop("_ucl", "_lcl")
        .join(viol, "user_id", "left")
        .select(
            "user_id", "n", "mu_e4", "ucl_e4", "lcl_e4",
            F.coalesce(F.col("n_viol"), F.lit(0)).cast("long").alias("n_viol"),
            "first_viol_t",
        )
        .orderBy("user_id")
    )


SQL_SHEWHART_IMR = f"""
WITH {_HOURLY_SQL},
mr AS (
  SELECT user_id, t, v,
         abs(v - lag(v) OVER (PARTITION BY user_id ORDER BY t)) AS m
  FROM hourly
), agg AS (
  SELECT user_id, count(*) AS n, sum(v) AS sv,
         sum(m) AS smr, count(m) AS nmr
  FROM mr GROUP BY 1
), lim AS (
  SELECT user_id, n,
         sv / n AS mu,
         sv / n + {_IMR_K} * (smr / nmr) AS ucl,
         sv / n - {_IMR_K} * (smr / nmr) AS lcl
  FROM agg WHERE nmr >= 1
), viol AS (
  SELECT mr.user_id,
         count(*) AS n_viol,
         min(t) AS first_viol_t
  FROM mr JOIN lim ON lim.user_id = mr.user_id
  WHERE mr.v > lim.ucl OR mr.v < lim.lcl
  GROUP BY 1
)
SELECT lim.user_id,
       CAST(n AS BIGINT) AS n,
       CAST(floor(mu * 10000 + {_OFF}) AS BIGINT) AS mu_e4,
       CAST(floor(ucl * 10000 + {_OFF}) AS BIGINT) AS ucl_e4,
       CAST(floor(lcl * 10000 + {_OFF}) AS BIGINT) AS lcl_e4,
       CAST(coalesce(viol.n_viol, 0) AS BIGINT) AS n_viol,
       CAST(viol.first_viol_t AS BIGINT) AS first_viol_t
FROM lim LEFT JOIN viol ON viol.user_id = lim.user_id
ORDER BY lim.user_id
"""


QUERIES["shewhart_imr"] = q_shewhart_imr
ORACLE_SQL["shewhart_imr"] = SQL_SHEWHART_IMR


# ---------------------------------------------------------------------------
# ljung_box — portmanteau white-noise test Q(h) per user (Ljung & Box 1978)
# ---------------------------------------------------------------------------
# Q = n(n+2) sum_{k=1..h} r_k^2/(n-k).  Each r_k is expanded to exact
# integer aggregates (sum v_i v_{i+k}, the two one-sided sums, counts):
# r_k = (c_k - vbar*(a_k + b_k) + m_k*vbar^2) / (svv - sv^2/n) with
# vbar = sv/n — ONE deterministic IEEE expression per k, so Q is
# bit-identical across engines.  All h lag columns ride a single sort
# exchange per key; the groupBy is map-side combinable.

_LB_H = 6


def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("t")
    h = _hourly(spark, sf_dir)
    for k in range(1, _LB_H + 1):
        h = h.withColumn(f"l{k}", F.lead("v", k).over(w))
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    ]
    for k in range(1, _LB_H + 1):
        lk = F.col(f"l{k}")
        aggs += [
            F.sum(F.col("v") * lk).alias(f"c{k}"),
            F.sum(F.when(lk.isNotNull(), F.col("v"))).alias(f"a{k}"),
            F.sum(lk).alias(f"b{k}"),
            F.count(lk).alias(f"m{k}"),
        ]
    agg = h.groupBy("user_id").agg(*aggs).filter(F.col("n") > _LB_H + 1)
    vbar = F.col("sv") / F.col("n")
    den = F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")
    qsum = None
    for k in range(1, _LB_H + 1):
        num = (
            F.col(f"c{k}")
            - vbar * (F.col(f"a{k}") + F.col(f"b{k}"))
            + F.col(f"m{k}") * vbar * vbar
        )
        rk = num / den
        term = rk * rk / (F.col("n") - k)
        qsum = term if qsum is None else qsum + term
    q_stat = F.col("n") * (F.col("n") + 2) * qsum
    return agg.filter(den > 0).select(
        "user_id",
        F.col("n").cast("long").alias("n"),
        F.lit(_LB_H).cast("long").alias("h"),
        F.floor(q_stat * 10_000 + F.lit(_OFF)).cast("long").alias("q_e4"),
    ).orderBy("user_id")


def _sql_ljung_box() -> str:
    lag_cols = ",\n         ".join(
        f"lead(v, {k}) OVER (PARTITION BY user_id ORDER BY t) AS l{k}"
        for k in range(1, _LB_H + 1)
    )
    agg_cols = ",\n         ".join(
        f"sum(v * l{k}) AS c{k}, "
        f"sum(CASE WHEN l{k} IS NOT NULL THEN v END) AS a{k}, "
        f"sum(l{k}) AS b{k}, count(l{k}) AS m{k}"
        for k in range(1, _LB_H + 1)
    )
    terms = " + ".join(
        f"pow((c{k} - (sv/n)*(a{k} + b{k}) + m{k}*(sv/n)*(sv/n))"
        f" / (svv - sv*sv/n), 2) / (n - {k})"
        for k in range(1, _LB_H + 1)
    )
    return f"""
WITH {_HOURLY_SQL},
lagged AS (
  SELECT user_id, v,
         {lag_cols}
  FROM hourly
), agg AS (
  SELECT user_id, count(*) AS n, sum(v) AS sv, sum(v * v) AS svv,
         {agg_cols}
  FROM lagged GROUP BY 1
)
SELECT user_id, CAST(n AS BIGINT) AS n,
       CAST({_LB_H} AS BIGINT) AS h,
       CAST(floor(n * (n + 2) * ({terms}) * 10000 + {_OFF}) AS BIGINT)
         AS q_e4
FROM agg
WHERE n > {_LB_H + 1} AND svv - sv * sv / n > 0
ORDER BY user_id
"""


QUERIES["ljung_box"] = q_ljung_box
ORACLE_SQL["ljung_box"] = _sql_ljung_box()


# ---------------------------------------------------------------------------
# anova_event_types — one-way ANOVA F of value by event type, per user
# ---------------------------------------------------------------------------
# F = (SSB/(k-1)) / (SSW/(n-k)) via the exact-integer expansion
# SSW = sum(v^2) - sum_g S_g^2/n_g,  SSB = sum_g S_g^2/n_g - S^2/n on
# centivalues.  The only cross-engine drift is the order of the <=|types|
# per-group double terms — n*ulp against an e4 grid (zipf_slope margin
# argument).  Two combinable groupBys, pure codegen.


def q_anova_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(_OFF)).alias("v"),
    )
    g = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("v").alias("sg"),
        F.sum(F.col("v") * F.col("v")).alias("qg"),
    )
    agg = g.groupBy("user_id").agg(
        F.sum("ng").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum("sg").alias("s"),
        F.sum("qg").alias("q"),
        F.sum(
            F.col("sg").cast("double") * F.col("sg") / F.col("ng")
        ).alias("w"),
    )
    ssb = F.col("w") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ssw = F.col("q") - F.col("w")
    fstat = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))
    return agg.filter((F.col("k") >= 2) & (F.col("n") > F.col("k"))).select(
        "user_id",
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
        F.floor(fstat * 10_000 + F.lit(_OFF)).cast("long").alias("f_e4"),
    ).orderBy("user_id")


SQL_ANOVA = f"""
WITH ev AS (
  SELECT user_id, event_type,
         CAST(floor(value * 100 + {_OFF}) AS BIGINT) AS v
  FROM events
), g AS (
  SELECT user_id, event_type, count(*) AS ng,
         CAST(sum(v) AS BIGINT) AS sg, CAST(sum(v * v) AS BIGINT) AS qg
  FROM ev GROUP BY 1, 2
), agg AS (
  SELECT user_id, CAST(sum(ng) AS BIGINT) AS n, count(*) AS k,
         CAST(sum(sg) AS BIGINT) AS s, CAST(sum(qg) AS BIGINT) AS q,
         sum(CAST(sg AS DOUBLE) * sg / ng) AS w
  FROM g GROUP BY 1
)
SELECT user_id, n, CAST(k AS BIGINT) AS k,
       CAST(floor(
         ((w - CAST(s AS DOUBLE) * s / n) / (k - 1))
         / ((q - w) / (n - k)) * 10000 + {_OFF}) AS BIGINT) AS f_e4
FROM agg WHERE k >= 2 AND n > k
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# chisq_type_hour — chi-square independence of event type x 6h diel block
# ---------------------------------------------------------------------------
# chi2 = sum_cells (o - e)^2 / e with e = row*col/n — every margin is an
# exact integer, each of the <= |types| x 4 cell terms is one double
# expression, summed over a bounded cell set.  Cell/margin counts ride
# ONE combinable groupBy; margins come back via two window sums over the
# (user) partition whose width is the bounded cell count, not events.


def q_chisq_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        (F.hour(F.col("ts").cast("timestamp")) / 6).cast("long").alias("blk"),
    )
    cells = ev.groupBy("user_id", "event_type", "blk").agg(
        F.count(F.lit(1)).alias("o")
    )
    w_r = Window.partitionBy("user_id", "event_type")
    w_c = Window.partitionBy("user_id", "blk")
    w_n = Window.partitionBy("user_id")
    t = (
        cells.withColumn("r", F.sum("o").over(w_r))
        .withColumn("c", F.sum("o").over(w_c))
        .withColumn("nn", F.sum("o").over(w_n))
    )
    e = F.col("r").cast("double") * F.col("c") / F.col("nn")
    term = (F.col("o") - e) * (F.col("o") - e) / e
    agg = t.groupBy("user_id").agg(
        F.max("nn").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(term).alias("chi2"),
    )
    return agg.select(
        "user_id",
        "n",
        "n_cells",
        F.floor(F.col("chi2") * 10_000 + F.lit(_OFF))
        .cast("long")
        .alias("chi2_e4"),
    ).orderBy("user_id")


SQL_CHISQ = f"""
WITH ev AS (
  SELECT user_id, event_type,
         CAST(hour(ts) // 6 AS BIGINT) AS blk
  FROM events
), cells AS (
  SELECT user_id, event_type, blk, count(*) AS o
  FROM ev GROUP BY 1, 2, 3
), t AS (
  SELECT user_id, o,
         sum(o) OVER (PARTITION BY user_id, event_type) AS r,
         sum(o) OVER (PARTITION BY user_id, blk) AS c,
         sum(o) OVER (PARTITION BY user_id) AS nn
  FROM cells
)
SELECT user_id,
       CAST(max(nn) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(floor(sum((o - CAST(r AS DOUBLE) * c / nn)
                      * (o - CAST(r AS DOUBLE) * c / nn)
                      / (CAST(r AS DOUBLE) * c / nn)) * 10000 + {_OFF})
            AS BIGINT) AS chi2_e4
FROM t GROUP BY 1
ORDER BY user_id
"""


QUERIES["anova_event_types"] = q_anova_event_types
QUERIES["chisq_type_hour"] = q_chisq_type_hour
ORACLE_SQL["anova_event_types"] = SQL_ANOVA
ORACLE_SQL["chisq_type_hour"] = SQL_CHISQ


# ---------------------------------------------------------------------------
# spearman_daily — Spearman rank correlation of daily count vs daily mean
# ---------------------------------------------------------------------------
# Per user: does activity volume track intensity?  Tie-corrected
# Spearman = Pearson on AVERAGE ranks, built without any kernel:
# avg rank = min_rank + (tie_size - 1)/2 — exact half-integers, so all
# Pearson sums are exact in halves and the final r is one deterministic
# IEEE expression (the ar1_halflife argument).  Two rank windows + one
# combinable groupBy.


def q_spearman_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000
        ).cast("long").alias("day"),
        "value",
    )
    d = ev.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.floor(F.avg("value") * 100 + F.lit(_OFF)).alias("m"),
    )

    def avg_rank(col: str) -> F.Column:
        # rank() is already the tie-group MIN rank, so the tie-corrected
        # average rank is rank + (tie_size - 1)/2 — no nested windows
        w_rank = Window.partitionBy("user_id").orderBy(col)
        w_tie = Window.partitionBy("user_id", col)
        return (
            F.rank().over(w_rank)
            + (F.count(F.lit(1)).over(w_tie) - 1) / 2.0
        )

    r = d.select(
        "user_id",
        avg_rank("cnt").alias("rx"),
        avg_rank("m").alias("ry"),
    )
    agg = r.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    den = (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    rho = F.when(
        den > 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(den),
    )
    return agg.filter(F.col("n") >= 3).select(
        "user_id",
        F.col("n").cast("long").alias("n_days"),
        F.floor(rho * 1_000_000 + F.lit(_OFF)).cast("long").alias("rho_e6"),
    ).orderBy("user_id")


SQL_SPEARMAN = f"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, value
  FROM events
), d AS (
  SELECT user_id, day, CAST(count(*) AS DOUBLE) AS cnt,
         floor(avg(value) * 100 + {_OFF}) AS m
  FROM ev GROUP BY 1, 2
), r AS (
  SELECT user_id,
         rank() OVER (PARTITION BY user_id ORDER BY cnt)
           + (count(*) OVER (PARTITION BY user_id, cnt) - 1) / 2.0 AS rx,
         rank() OVER (PARTITION BY user_id ORDER BY m)
           + (count(*) OVER (PARTITION BY user_id, m) - 1) / 2.0 AS ry
  FROM d
), agg AS (
  SELECT user_id, count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
         sum(rx * rx) AS sxx, sum(ry * ry) AS syy, sum(rx * ry) AS sxy
  FROM r GROUP BY 1
)
SELECT user_id, CAST(n AS BIGINT) AS n_days,
       CAST(floor(
         CASE WHEN (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
              THEN (n * sxy - sx * sy)
                   / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
         END * 1000000 + {_OFF}) AS BIGINT) AS rho_e6
FROM agg WHERE n >= 3
ORDER BY user_id
"""


QUERIES["spearman_daily"] = q_spearman_daily
ORACLE_SQL["spearman_daily"] = SQL_SPEARMAN


# ---------------------------------------------------------------------------
# heaps_law — vocabulary-growth exponent per language (Heaps 1978)
# ---------------------------------------------------------------------------
# V = K n^beta fitted in log-log across docs: each doc contributes one
# (ln n_tokens, ln n_types) point from the zero-shuffle lexical kernel;
# beta/lnK via the JVM regr_* aggregates (one combinable groupBy — the
# zipf_slope pattern, same n*ulp-vs-grid margin argument for the ln
# sums).  The static per-doc form estimates the growth law without any
# sequential vocabulary accumulation — nothing sorts the corpus.


def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _documents(spark, sf_dir).select(
        "lang", _lexstats_udf()(F.col("text")).alias("_s")
    ).select(
        "lang",
        F.col("_s.n_tokens").alias("n_tok"),
        F.col("_s.n_types").alias("n_typ"),
    ).filter((F.col("n_tok") >= 10) & (F.col("n_typ") >= 2))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.floor(
            F.expr("regr_slope(ln(n_typ), ln(n_tok))") * 10_000 + F.lit(_OFF)
        ).cast("long").alias("beta_e4"),
        F.floor(
            F.exp(F.expr("regr_intercept(ln(n_typ), ln(n_tok))")) * 100
            + F.lit(_OFF)
        ).cast("long").alias("k_e2"),
    ).orderBy("lang")


SQL_HEAPS = f"""
WITH tok AS (
  SELECT lang,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok,
         len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')))
           AS n_typ
  FROM documents
), d AS (
  SELECT * FROM tok WHERE n_tok >= 10 AND n_typ >= 2
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(floor(regr_slope(ln(n_typ), ln(n_tok)) * 10000 + {_OFF})
            AS BIGINT) AS beta_e4,
       CAST(floor(exp(regr_intercept(ln(n_typ), ln(n_tok))) * 100 + {_OFF})
            AS BIGINT) AS k_e2
FROM d GROUP BY 1
ORDER BY lang
"""


QUERIES["heaps_law"] = q_heaps_law
ORACLE_SQL["heaps_law"] = SQL_HEAPS


# ---------------------------------------------------------------------------
# ewma_control — EWMA control chart alarms (Roberts 1959 / Lucas-Saccucci)
# ---------------------------------------------------------------------------
# The small-shift SPC complement to shewhart_imr: the k-truncated EWMA
# statistic (binary-exact 3/4 decay weights, single WindowExec pass —
# operators/counters.py::ewma_truncated's construction) with its EXACT
# weight-based variance, sigma_z = sigma * sqrt(sum w_j^2) / sum w_j
# over the lags actually present, alarms where |z - mu| > L*sigma_z.
# Every input is an exact integer (centivalues; weights are powers of
# 3/4 = exact binary fractions), so limits and alarm compares are
# identical IEEE expressions across engines.

_EC_DECAY = 0.75
_EC_K = 16
_EC_L = 3.0


def q_ewma_control(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly(spark, sf_dir)
    stats = h.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    )
    mu = F.col("sv") / F.col("n")
    sigma = F.sqrt(
        (F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")) / F.col("n")
    )
    stats = stats.select(
        "user_id", "n", mu.alias("mu"), sigma.alias("sigma")
    )
    w = Window.partitionBy("user_id").orderBy("t")
    num = F.lit(0.0)
    den = F.lit(0.0)
    den2 = F.lit(0.0)
    for j in range(_EC_K):
        wt = _EC_DECAY**j
        lagged = F.col("v") if j == 0 else F.lag("v", j).over(w)
        num = num + F.coalesce(lagged * F.lit(wt), F.lit(0.0))
        den = den + F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        den2 = den2 + F.when(lagged.isNotNull(), F.lit(wt * wt)).otherwise(
            F.lit(0.0)
        )
    z = h.select("user_id", "t", (num / den).alias("z"),
                 (F.sqrt(den2) / den).alias("fac"))
    rows = z.join(stats, "user_id").withColumn(
        "alarm",
        (
            F.abs(F.col("z") - F.col("mu"))
            > F.lit(_EC_L) * F.col("sigma") * F.col("fac")
        ).cast("long"),
    )
    return rows.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n"),
        F.floor(F.max("mu") * 10_000 + F.lit(_OFF)).cast("long").alias("mu_e4"),
        F.floor(F.max("sigma") * 10_000 + F.lit(_OFF))
        .cast("long")
        .alias("sigma_e4"),
        F.sum("alarm").cast("long").alias("n_alarms"),
        F.min(F.when(F.col("alarm") == 1, F.col("t")))
        .cast("long")
        .alias("first_alarm_t"),
    ).orderBy("user_id")


def _sql_ewma_control() -> str:
    num = " + ".join(
        f"coalesce(lag(v, {j}) OVER w * {_EC_DECAY**j!r}, 0.0)"
        if j else "coalesce(v * 1.0, 0.0)"
        for j in range(_EC_K)
    )
    den = " + ".join(
        f"(CASE WHEN lag(v, {j}) OVER w IS NOT NULL"
        f" THEN {_EC_DECAY**j!r} ELSE 0.0 END)"
        if j else "(CASE WHEN v IS NOT NULL THEN 1.0 ELSE 0.0 END)"
        for j in range(_EC_K)
    )
    den2 = " + ".join(
        f"(CASE WHEN lag(v, {j}) OVER w IS NOT NULL"
        f" THEN {(_EC_DECAY**j)**2!r} ELSE 0.0 END)"
        if j else "(CASE WHEN v IS NOT NULL THEN 1.0 ELSE 0.0 END)"
        for j in range(_EC_K)
    )
    return f"""
WITH {_HOURLY_SQL},
stats AS (
  SELECT user_id, count(*) AS n, sum(v) / count(*) AS mu,
         sqrt((sum(v * v) - sum(v) * sum(v) / count(*)) / count(*)) AS sigma
  FROM hourly GROUP BY 1
), z AS (
  SELECT user_id, t,
         ({num}) / ({den}) AS z,
         sqrt({den2}) / ({den}) AS fac
  FROM hourly
  WINDOW w AS (PARTITION BY user_id ORDER BY t)
), rows_ AS (
  SELECT z.user_id, z.t, stats.n, stats.mu, stats.sigma,
         CASE WHEN abs(z.z - stats.mu)
                   > {_EC_L} * stats.sigma * z.fac
              THEN 1 ELSE 0 END AS alarm
  FROM z JOIN stats USING (user_id)
)
SELECT user_id,
       CAST(max(n) AS BIGINT) AS n,
       CAST(floor(max(mu) * 10000 + {_OFF}) AS BIGINT) AS mu_e4,
       CAST(floor(max(sigma) * 10000 + {_OFF}) AS BIGINT) AS sigma_e4,
       CAST(sum(alarm) AS BIGINT) AS n_alarms,
       CAST(min(CASE WHEN alarm = 1 THEN t END) AS BIGINT) AS first_alarm_t
FROM rows_ GROUP BY 1
ORDER BY user_id
"""


QUERIES["ewma_control"] = q_ewma_control
ORACLE_SQL["ewma_control"] = _sql_ewma_control()


# ---------------------------------------------------------------------------
# tukey_fences — IQR outlier fences from exact order statistics (Tukey 1977)
# ---------------------------------------------------------------------------
# Q1/Q3 as exact ELEMENT PICKS (type-1 quantile: the ceil(p*n)-th order
# statistic) so the fences are integer-exact and every outlier compare is
# deterministic — the robust complement to the z-score family (diive's
# zScore/Hampel/LocalSD flags; reference core/qcflags).  One rank window
# + one combinable agg + one co-keyed join.


def q_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("v", "t")
    ranked = h.withColumn("rn", F.row_number().over(w)).withColumn(
        "nn", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    )
    q1 = ranked.filter(
        F.col("rn") == F.ceil(F.col("nn") * 0.25)
    ).select("user_id", F.col("v").alias("q1"))
    q3 = ranked.filter(
        F.col("rn") == F.ceil(F.col("nn") * 0.75)
    ).select("user_id", F.col("v").alias("q3"))
    fences = q1.join(q3, "user_id").select(
        "user_id",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    out = (
        h.join(fences, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("q1").cast("long").alias("q1_e2"),
            F.max("q3").cast("long").alias("q3_e2"),
            F.floor(F.max("lo") * 100 + F.lit(0.5)).cast("long").alias("lo_e4"),
            F.floor(F.max("hi") * 100 + F.lit(0.5)).cast("long").alias("hi_e4"),
            F.sum(
                ((F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi")))
                .cast("long")
            ).cast("long").alias("n_outliers"),
        )
        .orderBy("user_id")
    )
    return out


SQL_TUKEY = f"""
WITH {_HOURLY_SQL},
ranked AS (
  SELECT user_id, t, v,
         row_number() OVER (PARTITION BY user_id ORDER BY v, t) AS rn,
         count(*) OVER (PARTITION BY user_id) AS nn
  FROM hourly
), q1 AS (
  SELECT user_id, v AS q1 FROM ranked WHERE rn = CAST(ceil(nn * 0.25) AS BIGINT)
), q3 AS (
  SELECT user_id, v AS q3 FROM ranked WHERE rn = CAST(ceil(nn * 0.75) AS BIGINT)
), fences AS (
  SELECT user_id, q1, q3,
         q1 - 1.5 * (q3 - q1) AS lo, q3 + 1.5 * (q3 - q1) AS hi
  FROM q1 JOIN q3 USING (user_id)
)
SELECT h.user_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(q1) AS BIGINT) AS q1_e2,
       CAST(max(q3) AS BIGINT) AS q3_e2,
       CAST(floor(max(lo) * 100 + 0.5) AS BIGINT) AS lo_e4,
       CAST(floor(max(hi) * 100 + 0.5) AS BIGINT) AS hi_e4,
       CAST(sum(CASE WHEN h.v < lo OR h.v > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM hourly h JOIN fences USING (user_id)
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# trimmed_stats — 10% two-sided trimmed and winsorized means
# ---------------------------------------------------------------------------
# Rank-based robust locations: drop (trim) or clamp (winsorize) the
# lowest/highest floor(0.1*n) order statistics.  Everything is exact
# integer sums of exact element picks — a single rank window feeds both
# estimators, one combinable agg folds the trimmed sum, and the clamp
# bounds come from the same ranked rows.


def q_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _hourly(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("v", "t")
    ranked = h.withColumn("rn", F.row_number().over(w)).withColumn(
        "nn", F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    )
    g = F.floor(F.col("nn") * 0.1)
    mid = ranked.withColumn("g", g).withColumn(
        "in_core",
        (F.col("rn") > F.col("g")) & (F.col("rn") <= F.col("nn") - F.col("g")),
    )
    # winsorize clamp bounds = the (g+1)-th and (n-g)-th order statistics
    lo = mid.filter(F.col("rn") == F.col("g") + 1).select(
        "user_id", F.col("v").alias("lo")
    )
    hi = mid.filter(F.col("rn") == F.col("nn") - F.col("g")).select(
        "user_id", F.col("v").alias("hi")
    )
    j = mid.join(lo, "user_id").join(hi, "user_id")
    agg = j.groupBy("user_id").agg(
        F.max("nn").cast("long").alias("n"),
        F.max("g").cast("long").alias("n_trim"),
        (
            F.sum(F.when(F.col("in_core"), F.col("v")))
            / F.sum(F.col("in_core").cast("long"))
        ).alias("tm"),
        (
            F.sum(
                F.when(F.col("v") < F.col("lo"), F.col("lo"))
                .when(F.col("v") > F.col("hi"), F.col("hi"))
                .otherwise(F.col("v"))
            )
            / F.max("nn")
        ).alias("wm"),
    )
    return agg.select(
        "user_id",
        "n",
        "n_trim",
        F.floor(F.col("tm") * 10_000 + F.lit(_OFF)).cast("long").alias(
            "trimmed_e4"
        ),
        F.floor(F.col("wm") * 10_000 + F.lit(_OFF)).cast("long").alias(
            "winsor_e4"
        ),
    ).orderBy("user_id")


SQL_TRIMMED = f"""
WITH {_HOURLY_SQL},
ranked AS (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id ORDER BY v, t) AS rn,
         count(*) OVER (PARTITION BY user_id) AS nn
  FROM hourly
), mid AS (
  SELECT *, CAST(floor(nn * 0.1) AS BIGINT) AS g,
         (rn > floor(nn * 0.1) AND rn <= nn - floor(nn * 0.1)) AS in_core
  FROM ranked
), lo AS (
  SELECT user_id, v AS lo FROM mid WHERE rn = g + 1
), hi AS (
  SELECT user_id, v AS hi FROM mid WHERE rn = nn - g
)
SELECT mid.user_id,
       CAST(max(nn) AS BIGINT) AS n,
       CAST(max(g) AS BIGINT) AS n_trim,
       CAST(floor(sum(CASE WHEN in_core THEN v END)
                  / sum(CASE WHEN in_core THEN 1 ELSE 0 END)
                  * 10000 + {_OFF}) AS BIGINT) AS trimmed_e4,
       CAST(floor(sum(CASE WHEN v < lo.lo THEN lo.lo
                           WHEN v > hi.hi THEN hi.hi
                           ELSE v END) / max(nn)
                  * 10000 + {_OFF}) AS BIGINT) AS winsor_e4
FROM mid JOIN lo ON lo.user_id = mid.user_id
JOIN hi ON hi.user_id = mid.user_id
GROUP BY 1
ORDER BY 1
"""


QUERIES["tukey_fences"] = q_tukey_fences
QUERIES["trimmed_stats"] = q_trimmed_stats
ORACLE_SQL["tukey_fences"] = SQL_TUKEY
ORACLE_SQL["trimmed_stats"] = SQL_TRIMMED


# ---------------------------------------------------------------------------
# kendall_tau — tau-b concordance of daily volume vs daily intensity
# ---------------------------------------------------------------------------
# tau_b = (C - D) / sqrt((n0 - n1)(n0 - n2)) with n0 = n(n-1)/2 and
# n1/n2 the tie-pair counts (Kendall 1945).  C - D is one pairwise
# self-join on the user whose width is DAYS per key (span-bounded, the
# same pairwise-over-days shape as trend_mann_kendall's hourly pairs —
# never raw events); every count is an exact integer so tau is one
# deterministic double expression.


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / 86_400_000_000
        ).cast("long").alias("day"),
        "value",
    )
    d = ev.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("x"),
        F.floor(F.avg("value") * 100 + F.lit(_OFF)).alias("y"),
    )
    a = d.select("user_id", F.col("day").alias("da"),
                 F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = d.select("user_id", F.col("day").alias("db"),
                 F.col("x").alias("xb"), F.col("y").alias("yb"))
    pairs = a.join(b, "user_id").filter(F.col("db") > F.col("da"))
    cd = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(
            F.signum(F.col("xb") - F.col("xa"))
            * F.signum(F.col("yb") - F.col("ya"))
        ).cast("long").alias("cmd"),
        F.sum((F.col("xa") == F.col("xb")).cast("long")).alias("tx"),
        F.sum((F.col("ya") == F.col("yb")).cast("long")).alias("ty"),
    )
    tau = F.col("cmd") / F.sqrt(
        (F.col("n0") - F.col("tx")).cast("double")
        * (F.col("n0") - F.col("ty")).cast("double")
    )
    return cd.filter(
        (F.col("n0") > F.col("tx")) & (F.col("n0") > F.col("ty"))
    ).select(
        "user_id",
        F.col("n0").cast("long").alias("n_pairs"),
        F.floor(tau * 1_000_000 + F.lit(_OFF)).cast("long").alias("tau_e6"),
    ).orderBy("user_id")


SQL_KENDALL = f"""
WITH ev AS (
  SELECT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, value
  FROM events
), d AS (
  SELECT user_id, day, count(*) AS x,
         floor(avg(value) * 100 + {_OFF}) AS y
  FROM ev GROUP BY 1, 2
), cd AS (
  SELECT a.user_id,
         count(*) AS n0,
         CAST(sum(sign(b.x - a.x) * sign(b.y - a.y)) AS BIGINT) AS cmd,
         CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT) AS tx,
         CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT) AS ty
  FROM d a JOIN d b ON a.user_id = b.user_id AND b.day > a.day
  GROUP BY 1
)
SELECT user_id, CAST(n0 AS BIGINT) AS n_pairs,
       CAST(floor(cmd / sqrt(CAST(n0 - tx AS DOUBLE)
                             * CAST(n0 - ty AS DOUBLE))
                  * 1000000 + {_OFF}) AS BIGINT) AS tau_e6
FROM cd WHERE n0 > tx AND n0 > ty
ORDER BY user_id
"""


QUERIES["kendall_tau"] = q_kendall_tau
ORACLE_SQL["kendall_tau"] = SQL_KENDALL


# ---------------------------------------------------------------------------
# quantile_norm — cross-language quantile normalization of doc lengths
# ---------------------------------------------------------------------------
# Maps every doc's per-language percentile onto the POOLED length
# distribution (the curation trick that makes per-lang quality scores
# comparable before mixing).  Scale path: TWO distributed total orders
# via operators/rank.py::global_row_number (range exchange + offset
# fold — never a partition-less window): (lang, score, id) gives the
# within-lang rank after subtracting the per-lang offset (a |langs|-row
# broadcast), (score, id) gives the pooled order; the percentile->
# position map is then ONE equi-join on the pooled rank.


def q_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators.rank import global_row_number

    d = _documents(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        F.col("n_chars").cast("long").alias("score"),
    )
    # within-lang rank from ONE global order on (lang, score, doc_id)
    by_lang = global_row_number(
        d, [F.col("lang"), F.col("score"), F.col("doc_id")], "gr_lang"
    )
    lang_sizes = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    # offset of each lang in the (lang, ...) total order = cumulative
    # count of lexicographically earlier langs — a |langs|-row window
    w_off = Window.orderBy("lang").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offs = lang_sizes.withColumn(
        "off", F.coalesce(F.sum("n_lang").over(w_off), F.lit(0))
    )
    ranked = by_lang.join(F.broadcast(offs), "lang").select(
        "doc_id", "lang", "score", "n_lang",
        (F.col("gr_lang") - F.col("off")).alias("r_lang"),
    )
    # pooled order + total
    pooled = global_row_number(
        d.select(F.col("doc_id").alias("p_id"), F.col("score").alias("p_score")),
        [F.col("p_score"), F.col("p_id")],
        "gr_pool",
        attach_total="n_total",
    )
    # percentile -> pooled position (type-7 style: 1 + floor(p*(N-1)));
    # the pooled total arrives as a broadcast 1-row join
    tot = pooled.agg(F.max("n_total").alias("nt"))
    target = ranked.crossJoin(F.broadcast(tot)).withColumn(
        "tgt",
        (
            F.lit(1)
            + F.floor(
                (F.col("r_lang") - 1).cast("double")
                / F.greatest(F.col("n_lang") - 1, F.lit(1))
                * (F.col("nt") - 1)
            )
        ).cast("long"),
    )
    out = target.join(
        pooled.select("gr_pool", F.col("p_score").alias("norm_score")),
        target["tgt"] == pooled["gr_pool"],
    )
    return out.select(
        "doc_id", "lang", "score",
        F.col("norm_score").cast("long").alias("norm_score"),
    ).orderBy("doc_id")


SQL_QUANTILE_NORM = """
WITH d AS (
  SELECT doc_id, lang, n_chars AS score FROM documents
), ranked AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY lang ORDER BY score, doc_id)
           AS r_lang,
         count(*) OVER (PARTITION BY lang) AS n_lang
  FROM d
), pooled AS (
  SELECT score AS norm_score,
         row_number() OVER (ORDER BY score, doc_id) AS gr_pool
  FROM d
), tot AS (
  SELECT count(*) AS nt FROM d
)
SELECT ranked.doc_id, ranked.lang, CAST(ranked.score AS BIGINT) AS score,
       CAST(pooled.norm_score AS BIGINT) AS norm_score
FROM ranked CROSS JOIN tot
JOIN pooled
  ON pooled.gr_pool = 1 + CAST(floor(
       CAST(r_lang - 1 AS DOUBLE) / greatest(n_lang - 1, 1) * (nt - 1))
       AS BIGINT)
ORDER BY ranked.doc_id
"""


QUERIES["quantile_norm"] = q_quantile_norm
ORACLE_SQL["quantile_norm"] = SQL_QUANTILE_NORM


# ---------------------------------------------------------------------------
# lang_jsd — Jensen-Shannon divergence between language unigram mixes
# ---------------------------------------------------------------------------
# JSD(P,Q) = H(M) - (H(P)+H(Q))/2, M = (P+Q)/2 — the symmetric bounded
# corpus-mix divergence a sampling pipeline reads before temperature
# mixing.  Decomposed so only INNER joins appear (no full-outer over the
# union support): with T(P) = sum -(p/2)ln(p/2),
#   JSD = sum_shared [ -m ln m + (p/2)ln(p/2) + (q/2)ln(q/2) ]
#         + T(P) + T(Q) - (H(P)+H(Q))/2.
# Per-lang H/T are one combinable agg; the shared-term join keys on the
# WORD (bounded fan-out |langs| per side); per-lang stats broadcast.


def q_lang_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _documents(spark, sf_dir).select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("w"),
    )
    c = toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("cnt"))
    tot = c.groupBy("lang").agg(F.sum("cnt").alias("n"))
    p = c.join(F.broadcast(tot), "lang").select(
        "lang", "w", (F.col("cnt").cast("double") / F.col("n")).alias("p")
    )
    half = F.col("p") / 2
    stats = p.groupBy("lang").agg(
        F.sum(-F.col("p") * F.log("p")).alias("hh"),
        F.sum(-half * F.log(half)).alias("tt"),
    )
    a = p.select(F.col("lang").alias("la"), "w", F.col("p").alias("pa"))
    b = p.select(F.col("lang").alias("lb"), "w", F.col("p").alias("pb"))
    m = (F.col("pa") + F.col("pb")) / 2
    ha, hb = F.col("pa") / 2, F.col("pb") / 2
    shared = (
        a.join(b, "w")
        .filter(F.col("la") < F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.sum(
                -m * F.log(m) + ha * F.log(ha) + hb * F.log(hb)
            ).alias("s_shared"),
        )
    )
    sa = stats.select(
        F.col("lang").alias("la"), F.col("hh").alias("h_a"),
        F.col("tt").alias("t_a"),
    )
    sb = stats.select(
        F.col("lang").alias("lb"), F.col("hh").alias("h_b"),
        F.col("tt").alias("t_b"),
    )
    j = shared.join(F.broadcast(sa), "la").join(F.broadcast(sb), "lb")
    jsd = (
        F.col("s_shared") + F.col("t_a") + F.col("t_b")
        - (F.col("h_a") + F.col("h_b")) / 2
    )
    return j.select(
        "la",
        "lb",
        "n_shared",
        F.floor(jsd * 1_000_000 + F.lit(_OFF)).cast("long").alias("jsd_e6"),
    ).orderBy("la", "lb")


SQL_LANG_JSD = f"""
WITH toks AS (
  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents
), c AS (
  SELECT lang, w, count(*) AS cnt FROM toks GROUP BY 1, 2
), tot AS (
  SELECT lang, CAST(sum(cnt) AS BIGINT) AS n FROM c GROUP BY 1
), p AS (
  SELECT c.lang, w, CAST(cnt AS DOUBLE) / n AS p
  FROM c JOIN tot ON tot.lang = c.lang
), stats AS (
  SELECT lang, sum(-p * ln(p)) AS hh,
         sum(-(p / 2) * ln(p / 2)) AS tt
  FROM p GROUP BY 1
), shared AS (
  SELECT a.lang AS la, b.lang AS lb, count(*) AS n_shared,
         sum(-((a.p + b.p) / 2) * ln((a.p + b.p) / 2)
             + (a.p / 2) * ln(a.p / 2)
             + (b.p / 2) * ln(b.p / 2)) AS s_shared
  FROM p a JOIN p b USING (w)
  WHERE a.lang < b.lang
  GROUP BY 1, 2
)
SELECT la, lb, CAST(n_shared AS BIGINT) AS n_shared,
       CAST(floor((s_shared + sa.tt + sb.tt - (sa.hh + sb.hh) / 2)
                  * 1000000 + {_OFF}) AS BIGINT) AS jsd_e6
FROM shared
JOIN stats sa ON sa.lang = la
JOIN stats sb ON sb.lang = lb
ORDER BY la, lb
"""


QUERIES["lang_jsd"] = q_lang_jsd
ORACLE_SQL["lang_jsd"] = SQL_LANG_JSD


# ---------------------------------------------------------------------------
# label_propagation — communities on the crawl-order domain graph
# ---------------------------------------------------------------------------
# Synchronous LPA (Raghavan et al. 2007), fixed 4 rounds, deterministic
# max-weight/lex-min tie-break — same fixed-iteration SQL-expressible
# design as domain_pagerank/hits_scores; DuckDB twin unrolls the chain
# with AS MATERIALIZED (the multi-reference CTE inlining trap).

_LPA_ITER = 4


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.text.graph import label_propagation

    d = _documents(spark, sf_dir).select("doc_id", "lang", "source")
    w = Window.partitionBy("lang").orderBy("doc_id")
    edges = (
        d.withColumn("_nxt", F.lead("source").over(w))
        .filter(F.col("_nxt").isNotNull())
        .select(F.col("source").alias("src"), F.col("_nxt").alias("dst"))
    )
    out = label_propagation(edges, "src", "dst", n_iter=_LPA_ITER)
    return out.select("node", "label").orderBy("node")


def _sql_lpa() -> str:
    iters = []
    prev = "l0"
    for i in range(1, _LPA_ITER + 1):
        iters.append(f"""
sc{i} AS MATERIALIZED (
  SELECT e.d AS node, l.label, sum(e.w) AS wt
  FROM sym e JOIN {prev} l ON l.node = e.s
  GROUP BY 1, 2
), l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY wt DESC, label) AS rn
    FROM sc{i}
  ) WHERE rn = 1
)""")
        prev = f"l{i}"
    chain = ",".join(iters)
    return f"""
WITH e0 AS (
  SELECT source AS src,
         lead(source) OVER (PARTITION BY lang ORDER BY doc_id) AS dst
  FROM documents QUALIFY dst IS NOT NULL
), sym AS MATERIALIZED (
  SELECT s, d, count(*) AS w FROM (
    SELECT src AS s, dst AS d FROM e0
    UNION ALL
    SELECT dst AS s, src AS d FROM e0
  ) GROUP BY 1, 2
), l0 AS (
  SELECT DISTINCT s AS node, s AS label FROM sym
),{chain}
SELECT node, label FROM {prev}
ORDER BY node
"""


QUERIES["label_propagation"] = q_label_propagation
ORACLE_SQL["label_propagation"] = _sql_lpa()


# ---------------------------------------------------------------------------
# mutual_info — mutual information of event type x 6h diel block
# ---------------------------------------------------------------------------
# I(X;Y) = sum_cells p log(p / (px py)) over the same bounded
# contingency as chisq_type_hour — the information-theoretic association
# twin of the chi-square test (bits via log2).  Margins by window sums
# over the cell set; <= |types| x 4 log terms per user ride the house
# floor offset.


def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        (F.hour(F.col("ts").cast("timestamp")) / 6).cast("long").alias("blk"),
    )
    cells = ev.groupBy("user_id", "event_type", "blk").agg(
        F.count(F.lit(1)).alias("o")
    )
    w_r = Window.partitionBy("user_id", "event_type")
    w_c = Window.partitionBy("user_id", "blk")
    w_n = Window.partitionBy("user_id")
    t = (
        cells.withColumn("r", F.sum("o").over(w_r))
        .withColumn("c", F.sum("o").over(w_c))
        .withColumn("nn", F.sum("o").over(w_n))
    )
    # p log2(p/(px py)) = (o/n) * log2(o*n/(r*c))
    term = (
        F.col("o").cast("double") / F.col("nn")
        * F.log2(
            F.col("o").cast("double") * F.col("nn")
            / (F.col("r").cast("double") * F.col("c"))
        )
    )
    return t.groupBy("user_id").agg(
        F.max("nn").cast("long").alias("n"),
        F.floor(F.sum(term) * 1_000_000 + F.lit(_OFF))
        .cast("long")
        .alias("mi_e6"),
    ).orderBy("user_id")


SQL_MUTUAL_INFO = f"""
WITH ev AS (
  SELECT user_id, event_type, CAST(hour(ts) // 6 AS BIGINT) AS blk
  FROM events
), cells AS (
  SELECT user_id, event_type, blk, count(*) AS o
  FROM ev GROUP BY 1, 2, 3
), t AS (
  SELECT user_id, o,
         sum(o) OVER (PARTITION BY user_id, event_type) AS r,
         sum(o) OVER (PARTITION BY user_id, blk) AS c,
         sum(o) OVER (PARTITION BY user_id) AS nn
  FROM cells
)
SELECT user_id,
       CAST(max(nn) AS BIGINT) AS n,
       CAST(floor(sum(CAST(o AS DOUBLE) / nn
                      * log2(CAST(o AS DOUBLE) * nn
                             / (CAST(r AS DOUBLE) * c)))
                  * 1000000 + {_OFF}) AS BIGINT) AS mi_e6
FROM t GROUP BY 1
ORDER BY user_id
"""


QUERIES["mutual_info"] = q_mutual_info
ORACLE_SQL["mutual_info"] = SQL_MUTUAL_INFO


# ---------------------------------------------------------------------------
# prewhitened_mk — Mann-Kendall after AR(1) prewhitening (Yue & Wang 2002)
# ---------------------------------------------------------------------------
# Serial correlation inflates plain MK's false-positive rate; the PW
# variant tests v'_t = v_t - r1 * v_{t-1} when |r1| is significant
# (|r1| > 1.96/sqrt(n)), else the raw series.  The whole computation is
# per-key, so r1, the gate, the prewhitening, and the MK statistic all
# run in ONE kernel pass over the per-user sort exchange — no lag
# window, no stats join, no double lineage (round-4 profile: the
# agg+join formulation recomputed the hourly rollup twice and ran 3x
# slower than plain MK).  r1's sums are exact integers, so the in-kernel
# numpy closed form is bit-identical to the SQL twin's aggregate form.


def q_prewhitened_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from diive_spark.operators.trend import mann_kendall_kernel
    from diive_spark.session import kernel_partition

    def apply(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("t", kind="mergesort")
        t = pdf["t"].to_numpy(dtype=np.float64)
        v = pdf["v"].to_numpy(dtype=np.float64)
        x, y = v[:-1], v[1:]
        n = len(x)
        r1 = 0.0
        if n >= 2:
            den = (n * (x * x).sum() - x.sum() ** 2) * (
                n * (y * y).sum() - y.sum() ** 2
            )
            if den > 0:
                r1 = (n * (x * y).sum() - x.sum() * y.sum()) / np.sqrt(den)
                if abs(r1) <= 1.96 / np.sqrt(n):
                    r1 = 0.0
        vp = y - r1 * x
        s, var_s, z, _, _ = mann_kendall_kernel(t[1:], vp)
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n": [len(vp)],
                "s": [s],
                "var_s18": [round(var_s * 18)],
                "z_e4": [int(np.floor(z * 10_000 + _OFF))],
            }
        )

    h = _hourly(spark, sf_dir)
    out = kernel_partition(h, "user_id").groupBy("user_id").applyInPandas(
        apply,
        "user_id long, n long, s long, var_s18 long, z_e4 long",
    )
    return out.orderBy("user_id")


SQL_PREWHITENED_MK = f"""
WITH {_HOURLY_SQL},
lagged AS (
  SELECT user_id, t, v,
         lag(v) OVER (PARTITION BY user_id ORDER BY t) AS vl
  FROM hourly
), agg AS (
  SELECT user_id, count(*) AS np,
         sum(vl) AS sx, sum(v) AS sy,
         sum(vl * vl) AS sxx, sum(v * v) AS syy, sum(vl * v) AS sxy
  FROM lagged WHERE vl IS NOT NULL GROUP BY 1
), rr AS (
  SELECT user_id,
         CASE WHEN (np * sxx - sx * sx) * (np * syy - sy * sy) > 0
                   AND abs((np * sxy - sx * sy)
                           / sqrt((np * sxx - sx * sx)
                                  * (np * syy - sy * sy)))
                       > 1.96 / sqrt(CAST(np AS DOUBLE))
              THEN (np * sxy - sx * sy)
                   / sqrt((np * sxx - sx * sx) * (np * syy - sy * sy))
              ELSE 0.0 END AS r1
  FROM agg
), pw AS (
  SELECT l.user_id, l.t, l.v - rr.r1 * l.vl AS vp
  FROM lagged l JOIN rr ON rr.user_id = l.user_id
  WHERE l.vl IS NOT NULL
), pairs AS (
  SELECT a.user_id, CAST(sign(b.vp - a.vp) AS BIGINT) AS sg
  FROM pw a JOIN pw b ON a.user_id = b.user_id AND b.t > a.t
), stats AS (
  SELECT user_id, CAST(sum(sg) AS BIGINT) AS s FROM pairs GROUP BY 1
), nn AS (
  SELECT user_id, count(*) AS n FROM pw GROUP BY 1
), ties AS (
  SELECT user_id, CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tie
  FROM (SELECT user_id, vp, count(*) AS c FROM pw GROUP BY 1, 2)
  GROUP BY 1
), agg2 AS (
  SELECT nn.user_id, nn.n, coalesce(stats.s, 0) AS s,
         (nn.n * (nn.n - 1) * (2 * nn.n + 5) - coalesce(ties.tie, 0)) AS v18
  FROM nn LEFT JOIN stats USING (user_id) LEFT JOIN ties USING (user_id)
)
SELECT user_id, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
       CAST(v18 AS BIGINT) AS var_s18,
       CAST(floor(
         CASE WHEN v18 <= 0 OR s = 0 THEN 0.0
              WHEN s > 0 THEN (s - 1) / sqrt(v18 / 18.0)
              ELSE (s + 1) / sqrt(v18 / 18.0)
         END * 10000 + {_OFF}) AS BIGINT) AS z_e4
FROM agg2
ORDER BY user_id
"""


QUERIES["prewhitened_mk"] = q_prewhitened_mk
ORACLE_SQL["prewhitened_mk"] = SQL_PREWHITENED_MK


# ---------------------------------------------------------------------------
# welch_t — Welch's t between each user's first and second half
# ---------------------------------------------------------------------------
# Change-of-level screen: split the hourly series at the row midpoint,
# t = (m1 - m2)/sqrt(s1²/n1 + s2²/n2) with Welch-Satterthwaite df.  All
# moments are exact-integer aggregates per half (rank from the per-key
# sort exchange), so t and df are single deterministic expressions.


def q_welch_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("t")
    wn = Window.partitionBy("user_id")
    h = (
        _hourly(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("nn", F.count(F.lit(1)).over(wn))
        .withColumn("half", F.when(F.col("rn") * 2 <= F.col("nn"), 1).otherwise(2))
    )
    g = h.groupBy("user_id", "half").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("q"),
    )
    a = g.filter(F.col("half") == 1).select(
        "user_id", F.col("n").alias("n1"), F.col("s").alias("s1"),
        F.col("q").alias("q1"),
    )
    b = g.filter(F.col("half") == 2).select(
        "user_id", F.col("n").alias("n2"), F.col("s").alias("s2"),
        F.col("q").alias("q2"),
    )
    j = a.join(b, "user_id").filter((F.col("n1") >= 2) & (F.col("n2") >= 2))
    m1 = F.col("s1") / F.col("n1")
    m2 = F.col("s2") / F.col("n2")
    # unbiased sample variances over exact ints
    v1 = (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    v2 = (F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2")) / (
        F.col("n2") - 1
    )
    se2 = v1 / F.col("n1") + v2 / F.col("n2")
    tstat = (m1 - m2) / F.sqrt(se2)
    df = se2 * se2 / (
        (v1 / F.col("n1")) * (v1 / F.col("n1")) / (F.col("n1") - 1)
        + (v2 / F.col("n2")) * (v2 / F.col("n2")) / (F.col("n2") - 1)
    )
    return j.filter(se2 > 0).select(
        "user_id",
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.floor(tstat * 10_000 + F.lit(_OFF)).cast("long").alias("t_e4"),
        F.floor(df * 100 + F.lit(_OFF)).cast("long").alias("df_e2"),
    ).orderBy("user_id")


SQL_WELCH_T = f"""
WITH {_HOURLY_SQL},
r AS (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id ORDER BY t) AS rn,
         count(*) OVER (PARTITION BY user_id) AS nn
  FROM hourly
), g AS (
  SELECT user_id, CASE WHEN rn * 2 <= nn THEN 1 ELSE 2 END AS half,
         count(*) AS n, sum(v) AS s, sum(v * v) AS q
  FROM r GROUP BY 1, 2
), j AS (
  SELECT a.user_id,
         a.n AS n1, a.s AS s1, a.q AS q1,
         b.n AS n2, b.s AS s2, b.q AS q2
  FROM g a JOIN g b ON a.user_id = b.user_id
  WHERE a.half = 1 AND b.half = 2 AND a.n >= 2 AND b.n >= 2
), calc AS (
  SELECT user_id, n1, n2,
         s1 / n1 - s2 / n2 AS dm,
         (q1 - s1 * s1 / n1) / (n1 - 1) / n1 AS a1,
         (q2 - s2 * s2 / n2) / (n2 - 1) / n2 AS a2
  FROM j
)
SELECT user_id, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(floor(dm / sqrt(a1 + a2) * 10000 + {_OFF}) AS BIGINT) AS t_e4,
       CAST(floor((a1 + a2) * (a1 + a2)
                  / (a1 * a1 / (n1 - 1) + a2 * a2 / (n2 - 1))
                  * 100 + {_OFF}) AS BIGINT) AS df_e2
FROM calc WHERE a1 + a2 > 0
ORDER BY user_id
"""


QUERIES["welch_t"] = q_welch_t
ORACLE_SQL["welch_t"] = SQL_WELCH_T


# ---------------------------------------------------------------------------
# embedding_drift — per-label centroid vs global centroid cosine
# ---------------------------------------------------------------------------
# The cluster-health metric a semantic-dedup/IVF deployment watches: how
# far each label's mean embedding sits from the corpus centroid.  The
# array math stays JVM-side: posexplode -> combinable groupBy(label,
# pos) sums (no pandas kernel, no interpreted higher-order fold over the
# hot path), centroids join on the dimension index, cosine is three
# combinable sums per label.


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "label", F.posexplode("embedding").alias("pos", "val")
    ).select("label", "pos", F.col("val").cast("double").alias("val"))
    per_label = e.groupBy("label", "pos").agg(
        F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")
    ).select(
        "label", "pos", (F.col("s") / F.col("n")).alias("a"), "n"
    )
    global_c = e.groupBy("pos").agg(
        (F.sum("val") / F.count(F.lit(1))).alias("b")
    )
    j = per_label.join(global_c, "pos")
    agg = j.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.sum(F.col("a") * F.col("b")).alias("ab"),
        F.sum(F.col("a") * F.col("a")).alias("aa"),
        F.sum(F.col("b") * F.col("b")).alias("bb"),
    )
    cos = F.col("ab") / F.sqrt(F.col("aa") * F.col("bb"))
    return agg.select(
        F.col("label").cast("long").alias("label"),
        "n_vecs",
        F.floor(cos * 1_000_000 + F.lit(_OFF)).cast("long").alias("cos_e6"),
    ).orderBy("label")


SQL_EMBEDDING_DRIFT = f"""
WITH flat AS (
  SELECT label,
         unnest(generate_series(1, len(embedding))) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
), per_label AS (
  SELECT label, pos, sum(val) / count(*) AS a, count(*) AS n
  FROM flat GROUP BY 1, 2
), g AS (
  SELECT pos, sum(val) / count(*) AS b FROM flat GROUP BY 1
), j AS (
  SELECT label, n, a, b FROM per_label JOIN g USING (pos)
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(max(n) AS BIGINT) AS n_vecs,
       CAST(floor(sum(a * b) / sqrt(sum(a * a) * sum(b * b))
                  * 1000000 + {_OFF}) AS BIGINT) AS cos_e6
FROM j GROUP BY 1
ORDER BY 1
"""


QUERIES["embedding_drift"] = q_embedding_drift
ORACLE_SQL["embedding_drift"] = SQL_EMBEDDING_DRIFT


# ---------------------------------------------------------------------------
# ts_strength — Hyndman trend/seasonal strength features per event type
# ---------------------------------------------------------------------------
# F_trend = max(0, 1 - Var(resid)/Var(trend + resid)), F_seasonal =
# max(0, 1 - Var(resid)/Var(seasonal + resid)) (Wang, Smith & Hyndman
# 2006; the tsfeatures battery) on the classical additive decomposition
# of each type's hourly series — the screen that routes series to the
# right gap-fill/forecast family.  Reuses operators/seasonal.py's
# decompose (per-key windows, span-bounded input); the variance ratios
# are var_pop aggregates whose cross-engine drift is ~n ulp against the
# e4 floor grid.

def q_ts_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    from diive_spark.operators import seasonal as SEA

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    hr = (
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 3_600_000_000)
        * 3600
    ).cast("long")
    hourly = ev.groupBy("event_type", hr.alias("ts_s")).agg(
        F.round(F.avg("value"), 4).alias("y")
    )
    dec = SEA.classical_decompose(
        hourly, ts_col="ts_s", value_col="y", period=24,
        by=["event_type"], bucket_seconds=3600,
    ).filter(F.col("trend").isNotNull())
    agg = dec.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.var_pop("resid").alias("vr"),
        F.var_pop(F.col("trend") + F.col("resid")).alias("vtr"),
        F.var_pop(F.col("seasonal") + F.col("resid")).alias("vsr"),
    )
    f_t = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("vr") / F.col("vtr"))
    f_s = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("vr") / F.col("vsr"))
    return agg.filter((F.col("vtr") > 0) & (F.col("vsr") > 0)).select(
        "event_type",
        "n",
        F.floor(f_t * 10_000 + F.lit(_OFF)).cast("long").alias("f_trend_e4"),
        F.floor(f_s * 10_000 + F.lit(_OFF)).cast("long").alias("f_seas_e4"),
    ).orderBy("event_type")


SQL_TS_STRENGTH = f"""
WITH h AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS ts_s,
         round(avg(value), 4) AS y
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, ts_s, y,
         CAST(ts_s / 3600 AS BIGINT) % 24 AS phase,
         CASE WHEN count(y) OVER w25 = 25 THEN
           (sum(y) OVER w25
              - 0.5 * lag(y, 12) OVER wo
              - 0.5 * lead(y, 12) OVER wo) / 24.0
         END AS trend
  FROM h
  WINDOW wo AS (PARTITION BY event_type ORDER BY ts_s),
         w25 AS (PARTITION BY event_type ORDER BY ts_s
                 ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
), s AS (
  SELECT *,
         avg(y - trend) OVER (PARTITION BY event_type, phase) AS sraw,
         row_number() OVER (PARTITION BY event_type, phase
                            ORDER BY ts_s) AS rn
  FROM t
), g AS (
  SELECT *,
         sum(CASE WHEN rn = 1 THEN sraw END)
             OVER (PARTITION BY event_type)
           / count(CASE WHEN rn = 1 THEN 1 END)
             OVER (PARTITION BY event_type) AS grand
  FROM s
), vals AS (
  SELECT event_type, trend, sraw - grand AS seasonal,
         y - trend - (sraw - grand) AS resid
  FROM g WHERE trend IS NOT NULL
), agg AS (
  SELECT event_type, count(*) AS n,
         var_pop(resid) AS vr,
         var_pop(trend + resid) AS vtr,
         var_pop(seasonal + resid) AS vsr
  FROM vals GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(floor(greatest(0.0, 1.0 - vr / vtr) * 10000 + {_OFF})
            AS BIGINT) AS f_trend_e4,
       CAST(floor(greatest(0.0, 1.0 - vr / vsr) * 10000 + {_OFF})
            AS BIGINT) AS f_seas_e4
FROM agg WHERE vtr > 0 AND vsr > 0
ORDER BY event_type
"""


QUERIES["ts_strength"] = q_ts_strength
ORACLE_SQL["ts_strength"] = SQL_TS_STRENGTH


# ---------------------------------------------------------------------------
# ts_stability — tiled-window stability and lumpiness per event type
# ---------------------------------------------------------------------------
# tsfeatures' complements to ts_strength (Hyndman et al.): split each
# type's hourly series into non-overlapping 24h tiles; stability =
# Var(tile means), lumpiness = Var(tile variances).  Two combinable
# groupBys (hour rollup -> tile stats -> type), no windows at all; the
# variance-of-variances drift is the usual n·ulp-vs-e4 margin.


def q_ts_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sf0.1-sweep hardening: avg/var_pop over raw doubles are summation-
    # order-dependent at every level (Spark's partial-merge vs DuckDB's
    # streaming variance differ by ulps on IDENTICAL inputs).  Every
    # level now folds exact integers: hourly mean y4 (e4), tile mean m4
    # (e4) and tile variance tv2 (e2 of raw variance), then the outer
    # variances from exact Σ/Σ² of those ints — all double ops are
    # fixed-association over exact integers, so both engines compute
    # bit-identical values.
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "v4", F.floor(F.col("value") * 10_000 + F.lit(_OFF)).cast("long")
    )
    hr = (
        F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 3_600_000_000)
        * 3600
    ).cast("long")
    hourly = ev.groupBy("event_type", hr.alias("ts_s")).agg(
        F.floor(
            F.sum("v4").cast("double") / F.count(F.lit(1)) + F.lit(_OFF)
        ).cast("long").alias("y4")
    )
    cnt = F.count(F.lit(1))
    sy = F.sum("y4").cast("double")
    syy = F.sum(F.col("y4") * F.col("y4")).cast("double")
    rawvar = (syy - sy * sy / cnt) / cnt / 1e8
    tiles = hourly.groupBy(
        "event_type", (F.col("ts_s") / 86_400).cast("long").alias("tile")
    ).agg(
        cnt.alias("cnt"),
        F.floor(sy / cnt + F.lit(_OFF)).cast("long").alias("m4"),
        F.floor(rawvar * 100 + F.lit(_OFF)).cast("long").alias("tv2"),
    ).filter(F.col("cnt") >= 12)  # tiles at least half full
    agg = tiles.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.sum("m4").alias("sm"),
        F.sum(F.col("m4") * F.col("m4")).alias("smm"),
        F.sum("tv2").alias("sv"),
        F.sum(F.col("tv2") * F.col("tv2")).alias("svv"),
    )
    td = F.col("n_tiles").cast("double")
    sm = F.col("sm").cast("double")
    smm = F.col("smm").cast("double")
    sv = F.col("sv").cast("double")
    svv = F.col("svv").cast("double")
    return agg.filter(F.col("n_tiles") >= 2).select(
        "event_type",
        "n_tiles",
        F.floor((smm - sm * sm / td) / td / 1e4 + F.lit(_OFF))
        .cast("long")
        .alias("stability_e4"),
        F.floor((svv - sv * sv / td) / td + F.lit(_OFF))
        .cast("long")
        .alias("lumpiness_e4"),
    ).orderBy("event_type")


SQL_TS_STABILITY = f"""
WITH b AS (
  SELECT event_type, ts,
         CAST(floor(value * 10000 + {_OFF}) AS BIGINT) AS v4
  FROM events
), h AS (
  SELECT event_type,
         CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS ts_s,
         CAST(floor(CAST(sum(v4) AS DOUBLE) / count(*) + {_OFF})
              AS BIGINT) AS y4
  FROM b GROUP BY 1, 2
), tiles AS (
  SELECT event_type, ts_s // 86400 AS tile,
         count(*) AS cnt,
         CAST(floor(CAST(sum(y4) AS DOUBLE) / count(*) + {_OFF})
              AS BIGINT) AS m4,
         CAST(floor((CAST(sum(y4 * y4) AS DOUBLE)
                     - CAST(sum(y4) AS DOUBLE) * sum(y4) / count(*))
                    / count(*) / 1e8 * 100 + {_OFF}) AS BIGINT) AS tv2
  FROM h GROUP BY 1, 2 HAVING count(*) >= 12
), agg AS (
  SELECT event_type, count(*) AS n_tiles,
         CAST(sum(m4) AS BIGINT) AS sm,
         CAST(sum(m4 * m4) AS BIGINT) AS smm,
         CAST(sum(tv2) AS BIGINT) AS sv,
         CAST(sum(tv2 * tv2) AS BIGINT) AS svv
  FROM tiles GROUP BY 1
)
SELECT event_type, CAST(n_tiles AS BIGINT) AS n_tiles,
       CAST(floor((CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm / n_tiles)
                  / n_tiles / 1e4 + {_OFF}) AS BIGINT) AS stability_e4,
       CAST(floor((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n_tiles)
                  / n_tiles + {_OFF}) AS BIGINT) AS lumpiness_e4
FROM agg WHERE n_tiles >= 2
ORDER BY event_type
"""


QUERIES["ts_stability"] = q_ts_stability
ORACLE_SQL["ts_stability"] = SQL_TS_STABILITY


# ---------------------------------------------------------------------------
# ts_crossings — median crossings and longest flat spot per user
# ---------------------------------------------------------------------------
# Two more tsfeatures screens, both exact: crossing_points = transitions
# of the above-lower-median indicator (lower median = exact element
# pick, so the indicator is integer-exact), flat_spots = longest run of
# the same decile bucket (bucket from exact order-stat thresholds via
# ntile-quota rank arithmetic).  One rank window + one lag window on the
# same per-key sort exchange + a run-length groupBy.


def q_ts_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("t")
    wv = Window.partitionBy("user_id").orderBy("v", "t")
    wn = Window.partitionBy("user_id")
    h = (
        _hourly(spark, sf_dir)
        .withColumn("rnv", F.row_number().over(wv))
        .withColumn("nn", F.count(F.lit(1)).over(wn))
    )
    # lower median as exact element pick: value at rank (n-1)//2 + 1
    med = h.filter(
        F.col("rnv") == F.floor((F.col("nn") - 1) / 2) + 1
    ).select("user_id", F.col("v").alias("med"))
    # decile bucket by rank quota (SQL NTILE arithmetic: first n%10
    # buckets one row larger)
    q10 = F.col("nn") - F.floor(F.col("nn") / 10) * 10
    big = (F.floor(F.col("nn") / 10) + 1) * q10
    bucket = F.when(
        F.col("rnv") <= big,
        F.ceil(F.col("rnv") / (F.floor(F.col("nn") / 10) + 1)),
    ).otherwise(
        q10
        + F.ceil((F.col("rnv") - big) / F.greatest(F.floor(F.col("nn") / 10), F.lit(1)))
    )
    t = (
        h.join(med, "user_id")
        .withColumn("abv", (F.col("v") > F.col("med")).cast("long"))
        .withColumn("dec", bucket.cast("long"))
        .withColumn("abv_prev", F.lag("abv").over(w))
        .withColumn("dec_prev", F.lag("dec").over(w))
        .withColumn(
            "new_run",
            (F.col("dec_prev").isNull() | (F.col("dec") != F.col("dec_prev")))
            .cast("long"),
        )
        .withColumn("run_id", F.sum("new_run").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    crossings = t.groupBy("user_id").agg(
        F.max("nn").cast("long").alias("n"),
        F.sum(
            (
                F.col("abv_prev").isNotNull()
                & (F.col("abv") != F.col("abv_prev"))
            ).cast("long")
        ).cast("long").alias("crossing_points"),
    )
    flats = (
        t.groupBy("user_id", "run_id")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("user_id")
        .agg(F.max("run_len").cast("long").alias("flat_spots"))
    )
    return (
        crossings.join(flats, "user_id")
        .select("user_id", "n", "crossing_points", "flat_spots")
        .orderBy("user_id")
    )


SQL_TS_CROSSINGS = f"""
WITH {_HOURLY_SQL},
r AS (
  SELECT user_id, t, v,
         row_number() OVER (PARTITION BY user_id ORDER BY v, t) AS rnv,
         count(*) OVER (PARTITION BY user_id) AS nn
  FROM hourly
), med AS (
  SELECT user_id, v AS med FROM r WHERE rnv = (nn - 1) // 2 + 1
), b AS (
  SELECT r.user_id, r.t, r.v, r.nn,
         CASE WHEN r.v > med.med THEN 1 ELSE 0 END AS abv,
         CASE WHEN rnv <= (nn // 10 + 1) * (nn % 10)
              THEN CAST(ceil(rnv / (nn // 10 + 1.0)) AS BIGINT)
              ELSE nn % 10 + CAST(ceil((rnv - (nn // 10 + 1) * (nn % 10))
                                       / greatest(nn // 10, 1) * 1.0)
                                  AS BIGINT)
         END AS dec
  FROM r JOIN med ON med.user_id = r.user_id
), lagged AS (
  SELECT *,
         lag(abv) OVER w AS abv_prev,
         CASE WHEN lag(dec) OVER w IS NULL OR dec <> lag(dec) OVER w
              THEN 1 ELSE 0 END AS new_run
  FROM b
  WINDOW w AS (PARTITION BY user_id ORDER BY t)
), runs AS (
  SELECT *, sum(new_run) OVER (PARTITION BY user_id ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS run_id
  FROM lagged
), flats AS (
  SELECT user_id, CAST(max(run_len) AS BIGINT) AS flat_spots FROM (
    SELECT user_id, run_id, count(*) AS run_len
    FROM runs GROUP BY 1, 2
  ) GROUP BY 1
), cr AS (
  SELECT user_id, CAST(max(nn) AS BIGINT) AS n,
         CAST(sum(CASE WHEN abv_prev IS NOT NULL AND abv <> abv_prev
                       THEN 1 ELSE 0 END) AS BIGINT) AS crossing_points
  FROM runs GROUP BY 1
)
SELECT cr.user_id, cr.n, cr.crossing_points, flats.flat_spots
FROM cr JOIN flats ON flats.user_id = cr.user_id
ORDER BY cr.user_id
"""


QUERIES["ts_crossings"] = q_ts_crossings
ORACLE_SQL["ts_crossings"] = SQL_TS_CROSSINGS


# ---------------------------------------------------------------------------
# ar2_yule_walker — AR(2) coefficients + lag-2 PACF per user
# ---------------------------------------------------------------------------
# Yule-Walker: phi1 = r1(1-r2)/(1-r1²), phi2 = (r2-r1²)/(1-r1²); phi2 is
# exactly the lag-2 partial autocorrelation (Durbin-Levinson step 2).
# r1/r2 use the Ljung-Box exact-integer expansion (global-mean ACF), so
# both coefficients are single deterministic expressions.  Two leads on
# one sort exchange, one combinable groupBy.


def q_ar2_yule_walker(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("t")
    h = (
        _hourly(spark, sf_dir)
        .withColumn("l1", F.lead("v", 1).over(w))
        .withColumn("l2", F.lead("v", 2).over(w))
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sv"),
        F.sum(F.col("v") * F.col("v")).alias("svv"),
    ]
    for k in (1, 2):
        lk = F.col(f"l{k}")
        aggs += [
            F.sum(F.col("v") * lk).alias(f"c{k}"),
            F.sum(F.when(lk.isNotNull(), F.col("v"))).alias(f"a{k}"),
            F.sum(lk).alias(f"b{k}"),
            F.count(lk).alias(f"m{k}"),
        ]
    agg = h.groupBy("user_id").agg(*aggs).filter(F.col("n") > 4)
    vbar = F.col("sv") / F.col("n")
    den = F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")

    def rk(k: int) -> F.Column:
        return (
            F.col(f"c{k}")
            - vbar * (F.col(f"a{k}") + F.col(f"b{k}"))
            + F.col(f"m{k}") * vbar * vbar
        ) / den

    r1, r2 = rk(1), rk(2)
    disc = 1 - r1 * r1
    phi1 = r1 * (1 - r2) / disc
    phi2 = (r2 - r1 * r1) / disc
    out = agg.filter(den > 0).select(
        "user_id",
        F.col("n").cast("long").alias("n"),
        F.floor(r1 * 1_000_000 + F.lit(_OFF)).cast("long").alias("r1_e6"),
        F.floor(r2 * 1_000_000 + F.lit(_OFF)).cast("long").alias("r2_e6"),
        F.when(
            disc > 0,
            F.floor(phi1 * 1_000_000 + F.lit(_OFF)).cast("long"),
        ).alias("phi1_e6"),
        F.when(
            disc > 0,
            F.floor(phi2 * 1_000_000 + F.lit(_OFF)).cast("long"),
        ).alias("phi2_e6"),
    )
    return out.orderBy("user_id")


def _sql_ar2() -> str:
    lag_cols = ",\n         ".join(
        f"lead(v, {k}) OVER (PARTITION BY user_id ORDER BY t) AS l{k}"
        for k in (1, 2)
    )
    agg_cols = ",\n         ".join(
        f"sum(v * l{k}) AS c{k}, "
        f"sum(CASE WHEN l{k} IS NOT NULL THEN v END) AS a{k}, "
        f"sum(l{k}) AS b{k}, count(l{k}) AS m{k}"
        for k in (1, 2)
    )
    r = {
        k: f"((c{k} - (sv/n)*(a{k} + b{k}) + m{k}*(sv/n)*(sv/n))"
           f" / (svv - sv*sv/n))"
        for k in (1, 2)
    }
    disc = f"(1 - {r[1]} * {r[1]})"
    return f"""
WITH {_HOURLY_SQL},
lagged AS (
  SELECT user_id, v,
         {lag_cols}
  FROM hourly
), agg AS (
  SELECT user_id, count(*) AS n, sum(v) AS sv, sum(v * v) AS svv,
         {agg_cols}
  FROM lagged GROUP BY 1
)
SELECT user_id, CAST(n AS BIGINT) AS n,
       CAST(floor({r[1]} * 1000000 + {_OFF}) AS BIGINT) AS r1_e6,
       CAST(floor({r[2]} * 1000000 + {_OFF}) AS BIGINT) AS r2_e6,
       CAST(CASE WHEN {disc} > 0 THEN
         floor({r[1]} * (1 - {r[2]}) / {disc} * 1000000 + {_OFF})
       END AS BIGINT) AS phi1_e6,
       CAST(CASE WHEN {disc} > 0 THEN
         floor(({r[2]} - {r[1]} * {r[1]}) / {disc} * 1000000 + {_OFF})
       END AS BIGINT) AS phi2_e6
FROM agg
WHERE n > 4 AND svv - sv * sv / n > 0
ORDER BY user_id
"""


QUERIES["ar2_yule_walker"] = q_ar2_yule_walker
ORACLE_SQL["ar2_yule_walker"] = _sql_ar2()


# ---------------------------------------------------------------------------
# term_burstiness — within-document term repetition (Church & Gale 1995)
# ---------------------------------------------------------------------------
# For each term with df >= 20: adaptation P(repeat) = P(tf_d >= 2 |
# tf_d >= 1) and mean extra repeats (tf - df)/df — the burstiness
# profile that separates content words (bursty) from function words
# (Poisson-ish).  Exact integer counts end-to-end; two combinable
# groupBys ((doc, term) then term).


def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _documents(spark, sf_dir).select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("w"),
    )
    dt = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    agg = dt.groupBy("w").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("tf_total"),
        F.sum((F.col("tf") >= 2).cast("long")).alias("df2"),
    )
    out = agg.filter(F.col("df") >= 20).select(
        "w",
        F.col("df").cast("long").alias("df"),
        F.col("tf_total").cast("long").alias("tf_total"),
        F.floor(
            F.col("df2").cast("double") / F.col("df") * 1_000_000 + F.lit(0.5)
        ).cast("long").alias("p_repeat_e6"),
        F.floor(
            (F.col("tf_total") - F.col("df")).cast("double") / F.col("df")
            * 1_000_000
            + F.lit(0.5)
        ).cast("long").alias("extra_e6"),
    )
    return out.orderBy("w")


SQL_TERM_BURSTINESS = """
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents
), dt AS (
  SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2
), agg AS (
  SELECT w, count(*) AS df, CAST(sum(tf) AS BIGINT) AS tf_total,
         CAST(sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM dt GROUP BY 1
)
SELECT w, CAST(df AS BIGINT) AS df, tf_total,
       CAST(floor(CAST(df2 AS DOUBLE) / df * 1000000 + 0.5) AS BIGINT)
         AS p_repeat_e6,
       CAST(floor(CAST(tf_total - df AS DOUBLE) / df * 1000000 + 0.5)
            AS BIGINT) AS extra_e6
FROM agg WHERE df >= 20
ORDER BY w
"""


QUERIES["term_burstiness"] = q_term_burstiness
ORACLE_SQL["term_burstiness"] = SQL_TERM_BURSTINESS


# ---------------------------------------------------------------------------
# log_odds_terms — Monroe "fightin' words" log-odds keywords per language
# ---------------------------------------------------------------------------
# Informative-Dirichlet-prior log-odds (Monroe, Colaresi & Quinn 2008):
# for each lang L vs the rest, delta_w = ln((y+a)/(nL+A-y-a)) -
# ln((y'+a)/(nR+A-y'-a)), var = 1/(y+a) + 1/(y'+a), z = delta/sqrt(var),
# prior a_w = global counts scaled to A = 500.  Exact integer counts,
# ln margin as usual; top-5 per lang via a per-lang rank window whose
# input is the lang's vocabulary (WindowGroupLimit pushes the top-k
# before the final sort).


def q_log_odds_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _documents(spark, sf_dir).select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("w"),
    )
    c = toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("y"))
    gw = c.groupBy("w").agg(F.sum("y").alias("g"))
    tot = c.agg(F.sum("y").alias("gt"))
    nl = c.groupBy("lang").agg(F.sum("y").alias("nl"))
    j = (
        c.join(F.broadcast(gw), "w")
        .join(F.broadcast(nl), "lang")
        .crossJoin(F.broadcast(tot))
    )
    a = F.col("g").cast("double") / F.col("gt") * 500.0
    yl = F.col("y").cast("double")
    yr = (F.col("g") - F.col("y")).cast("double")
    nr = (F.col("gt") - F.col("nl")).cast("double")
    delta = F.log((yl + a) / (F.col("nl") + 500.0 - yl - a)) - F.log(
        (yr + a) / (nr + 500.0 - yr - a)
    )
    z = delta / F.sqrt(1.0 / (yl + a) + 1.0 / (yr + a))
    scored = j.select("lang", "w", F.col("y").cast("long").alias("y"),
                      z.alias("z"))
    wr = Window.partitionBy("lang").orderBy(F.col("z").desc(), F.col("w"))
    top = scored.withColumn("rank", F.row_number().over(wr)).filter(
        F.col("rank") <= 5
    )
    return top.select(
        "lang",
        F.col("rank").cast("long").alias("rank"),
        "w",
        "y",
        F.floor(F.col("z") * 10_000 + F.lit(_OFF)).cast("long").alias("z_e4"),
    ).orderBy("lang", "rank")


SQL_LOG_ODDS = f"""
WITH toks AS (
  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents
), c AS (
  SELECT lang, w, count(*) AS y FROM toks GROUP BY 1, 2
), gw AS (
  SELECT w, CAST(sum(y) AS BIGINT) AS g FROM c GROUP BY 1
), tot AS (
  SELECT CAST(sum(y) AS BIGINT) AS gt FROM c
), nl AS (
  SELECT lang, CAST(sum(y) AS BIGINT) AS nl FROM c GROUP BY 1
), scored AS (
  SELECT c.lang, c.w, c.y,
         (ln((c.y + CAST(g AS DOUBLE) / gt * 500.0)
             / (nl + 500.0 - c.y - CAST(g AS DOUBLE) / gt * 500.0))
          - ln(((g - c.y) + CAST(g AS DOUBLE) / gt * 500.0)
               / ((gt - nl) + 500.0 - (g - c.y)
                  - CAST(g AS DOUBLE) / gt * 500.0)))
         / sqrt(1.0 / (c.y + CAST(g AS DOUBLE) / gt * 500.0)
                + 1.0 / ((g - c.y) + CAST(g AS DOUBLE) / gt * 500.0)) AS z
  FROM c
  JOIN gw ON gw.w = c.w
  JOIN nl ON nl.lang = c.lang
  CROSS JOIN tot
), ranked AS (
  SELECT lang, w, y, z,
         row_number() OVER (PARTITION BY lang ORDER BY z DESC, w) AS rank
  FROM scored
)
SELECT lang, CAST(rank AS BIGINT) AS rank, w, CAST(y AS BIGINT) AS y,
       CAST(floor(z * 10000 + {_OFF}) AS BIGINT) AS z_e4
FROM ranked WHERE rank <= 5
ORDER BY lang, rank
"""


QUERIES["log_odds_terms"] = q_log_odds_terms
ORACLE_SQL["log_odds_terms"] = SQL_LOG_ODDS


# ---------------------------------------------------------------------------
# vocab_richness — Chao1 richness + Good-Turing unseen mass per language
# ---------------------------------------------------------------------------
# Chao1 = S_obs + N1^2 / (2 N2) (Chao 1984) estimates the true
# vocabulary size; Good-Turing P0 = N1/N is the probability mass of
# unseen words (Gale & Sampson 1995) — the two corpus-coverage numbers
# a sampling plan reads.  Exact integer frequency-of-frequencies from
# two combinable groupBys.


def q_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _documents(spark, sf_dir).select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), F.lit(0))
        ).alias("w"),
    )
    c = toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("f"))
    agg = c.groupBy("lang").agg(
        F.count(F.lit(1)).alias("s_obs"),
        F.sum("f").alias("n_tokens"),
        F.sum((F.col("f") == 1).cast("long")).alias("n1"),
        F.sum((F.col("f") == 2).cast("long")).alias("n2"),
    )
    chao1 = F.col("s_obs") + F.col("n1") * F.col("n1") / (
        2.0 * F.greatest(F.col("n2"), F.lit(1))
    )
    p0 = F.col("n1").cast("double") / F.col("n_tokens")
    return agg.select(
        "lang",
        F.col("s_obs").cast("long").alias("s_obs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.floor(chao1 * 100 + F.lit(0.5)).cast("long").alias("chao1_e2"),
        F.floor(p0 * 1_000_000 + F.lit(0.5)).cast("long").alias("p0_e6"),
    ).orderBy("lang")


SQL_VOCAB_RICHNESS = """
WITH toks AS (
  SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents
), c AS (
  SELECT lang, w, count(*) AS f FROM toks GROUP BY 1, 2
), agg AS (
  SELECT lang, count(*) AS s_obs, CAST(sum(f) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM c GROUP BY 1
)
SELECT lang, CAST(s_obs AS BIGINT) AS s_obs, n_tokens, n1, n2,
       CAST(floor((s_obs + n1 * n1 / (2.0 * greatest(n2, 1))) * 100 + 0.5)
            AS BIGINT) AS chao1_e2,
       CAST(floor(CAST(n1 AS DOUBLE) / n_tokens * 1000000 + 0.5) AS BIGINT)
         AS p0_e6
FROM agg
ORDER BY lang
"""


QUERIES["vocab_richness"] = q_vocab_richness
ORACLE_SQL["vocab_richness"] = SQL_VOCAB_RICHNESS
