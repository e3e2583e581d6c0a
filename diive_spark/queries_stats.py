"""Round-4d query registry: signal-stability and concentration
diagnostics — Allan variance across averaging times, Goh-Barabasi
burstiness/memory of inter-event gaps, HITS hub/authority scores on the
crawl-order domain graph, and per-language Gini concentration of the
source mix.

Oracle conventions as everywhere in this repo: identical column names,
epoch-second BIGINTs, every DuckDB integer SUM wrapped in
``CAST(... AS BIGINT)`` (HUGEINT trap), derived doubles floor-scaled.
Burstiness and Gini are EXACT across engines: every moment they need is
an integer aggregate, so the final double expression is bit-identical
(the operators/multires.py trick).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from diive_spark.operators.allan import allan_variance
from diive_spark.operators.burstiness import burstiness_memory
from diive_spark.text import graph as GR
from diive_spark.queries_stats2 import _events


def _epoch_s(col: str) -> F.Column:
    return F.floor(
        F.unix_micros(F.col(col).cast("timestamp")) / 1_000_000
    ).cast("long")


# ---------------------------------------------------------------------------
# allan_variance — two-sample (Allan) variance at 12h/1d/2d averaging times
# ---------------------------------------------------------------------------

_TAUS = (43_200, 86_400, 172_800)


def q_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        _epoch_s("ts").alias("ts_s"),
        "value",
    )
    out = allan_variance(
        ev, key_col="user_id", ts_s_col="ts_s", value_col="value",
        taus_s=_TAUS, scale=100,
    )
    return out.select(
        F.col("key").alias("user_id"),
        F.col("tau_s").cast("int").alias("tau_s"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.floor(F.col("avar") * 100 + F.lit(0.5)).cast("long").alias(
            "avar_e2"
        ),
    )


SQL_ALLAN = f"""
WITH pts AS (
  SELECT user_id, CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS t,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vi
  FROM events
), lv AS (
  SELECT user_id, g.tau_s, t // g.tau_s AS b, vi
  FROM pts
  CROSS JOIN (SELECT unnest({list(_TAUS)}) AS tau_s) g
), bk AS (
  SELECT user_id, tau_s, b,
         CAST(sum(vi) AS BIGINT) AS tot, count(*) AS cnt
  FROM lv GROUP BY user_id, tau_s, b
), pr AS (
  SELECT user_id, tau_s, b,
         CAST(tot AS DOUBLE) / cnt / 100 AS m,
         lead(b) OVER w AS nb,
         lead(CAST(tot AS DOUBLE) / cnt / 100) OVER w AS nm
  FROM bk WINDOW w AS (PARTITION BY user_id, tau_s ORDER BY b)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(tau_s AS INTEGER) AS tau_s,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(floor(sum((nm - m) * (nm - m)) / (2.0 * count(*)) * 100 + 0.5)
            AS BIGINT) AS avar_e2
FROM pr WHERE nb = b + 1
GROUP BY user_id, tau_s
"""


# ---------------------------------------------------------------------------
# burstiness — Goh-Barabasi B and memory M over integer-second gaps
# ---------------------------------------------------------------------------

def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"),
        _epoch_s("ts").alias("ts_s"),
        "event_id",
    )
    out = burstiness_memory(
        ev, key_col="user_id", ts_s_col="ts_s",
        order_cols=["ts_s", "event_id"], min_gaps=3,
    )
    return out.select(
        F.col("key").alias("user_id"),
        F.col("n_gaps").cast("long").alias("n_gaps"),
        F.floor(F.col("b") * 10_000 + F.lit(0.5)).cast("long").alias("b_e4"),
        F.floor(F.col("m") * 10_000 + F.lit(0.5)).cast("long").alias("m_e4"),
    )


SQL_BURSTINESS = """
WITH pts AS (
  SELECT user_id, event_id,
         CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS t
  FROM events
), seq AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY t, event_id)
           AS i,
         t - lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS g
  FROM pts
), gaps AS (
  SELECT user_id, i, g,
         lead(g) OVER (PARTITION BY user_id ORDER BY i) AS gn
  FROM seq WHERE g IS NOT NULL
), a AS (
  SELECT user_id, count(*) AS n,
         CAST(sum(g) AS BIGINT) AS s, CAST(sum(g * g) AS BIGINT) AS q,
         count(gn) AS m,
         CAST(sum(CASE WHEN gn IS NOT NULL THEN g END) AS BIGINT) AS sx,
         CAST(sum(gn) AS BIGINT) AS sy,
         CAST(sum(CASE WHEN gn IS NOT NULL THEN g * g END) AS BIGINT) AS qx,
         CAST(sum(gn * gn) AS BIGINT) AS qy,
         CAST(sum(g * gn) AS BIGINT) AS pxy
  FROM gaps GROUP BY user_id HAVING count(*) >= 3
), expr AS (
  SELECT user_id, n,
         sqrt(greatest(CAST(q AS DOUBLE) / n
                       - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                       0.0)) AS sd,
         CAST(s AS DOUBLE) / n AS mu,
         m,
         CAST(pxy AS DOUBLE) / m
           - (CAST(sx AS DOUBLE) / m) * (CAST(sy AS DOUBLE) / m) AS cov,
         CAST(qx AS DOUBLE) / m
           - (CAST(sx AS DOUBLE) / m) * (CAST(sx AS DOUBLE) / m) AS vx,
         CAST(qy AS DOUBLE) / m
           - (CAST(sy AS DOUBLE) / m) * (CAST(sy AS DOUBLE) / m) AS vy
  FROM a
)
SELECT CAST(user_id AS BIGINT) AS user_id, CAST(n AS BIGINT) AS n_gaps,
       CASE WHEN sd + mu > 0 THEN
         CAST(floor((sd - mu) / (sd + mu) * 10000 + 0.5) AS BIGINT)
       END AS b_e4,
       CASE WHEN m >= 2 AND vx > 0 AND vy > 0 THEN
         CAST(floor(cov / sqrt(vx * vy) * 10000 + 0.5) AS BIGINT)
       END AS m_e4
FROM expr
"""


# ---------------------------------------------------------------------------
# hits_scores — Kleinberg hubs/authorities on the crawl-order domain graph
# (same edge construction as domain_pagerank / triangle_count)
# ---------------------------------------------------------------------------

_HITS_ITER = 5
# irrational floor offset: the same boundary-tie dodge domain_pagerank
# uses — float sums differ across engines in the last ulp, and an exact
# .5 boundary would flip the floor.
_OFF = 0.31830988618367


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source"
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    edges = (
        d.withColumn("_nxt", F.lead("source").over(w))
        .filter(F.col("_nxt").isNotNull())
        .select(F.col("source").alias("src"), F.col("_nxt").alias("dst"))
    )
    scores = GR.hits(edges, "src", "dst", n_iter=_HITS_ITER)
    return scores.select(
        "node",
        F.floor(F.col("hub") * 1_000_000 + F.lit(_OFF)).cast("long").alias(
            "hub_e6"
        ),
        F.floor(F.col("auth") * 1_000_000 + F.lit(_OFF)).cast("long").alias(
            "auth_e6"
        ),
    ).orderBy("node")


def _sql_hits() -> str:
    # AS MATERIALIZED is load-bearing (see _sql_pagerank): each step
    # references its predecessor more than once and DuckDB inlines CTEs
    # by default, which would explode the 5-level chain exponentially.
    its = []
    prev_h = "h0"
    for i in range(1, _HITS_ITER + 1):
        its.append(f"""ar{i} AS MATERIALIZED (
  SELECT e.dst AS node, sum(h.hub) AS a
  FROM {prev_h} h JOIN edges e ON e.src = h.node GROUP BY e.dst
), a{i} AS MATERIALIZED (
  SELECT n.node, COALESCE(r.a, 0) / (SELECT sum(a) FROM ar{i}) AS auth
  FROM nodes n LEFT JOIN ar{i} r ON r.node = n.node
), hr{i} AS MATERIALIZED (
  SELECT e.src AS node, sum(a.auth) AS h
  FROM a{i} a JOIN edges e ON e.dst = a.node GROUP BY e.src
), h{i} AS MATERIALIZED (
  SELECT n.node, COALESCE(r.h, 0) / (SELECT sum(h) FROM hr{i}) AS hub
  FROM nodes n LEFT JOIN hr{i} r ON r.node = n.node
)""")
        prev_h = f"h{i}"
    chain = ",\n".join(its)
    return f"""
WITH e0 AS (
  SELECT source AS src,
         lead(source) OVER (PARTITION BY lang ORDER BY doc_id) AS dst
  FROM documents QUALIFY dst IS NOT NULL
), edges AS (
  SELECT DISTINCT src, dst FROM e0 WHERE src <> dst
), nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
), nn AS (
  SELECT count(*) AS n FROM nodes
), h0 AS MATERIALIZED (
  SELECT node, 1.0 / nn.n AS hub FROM nodes CROSS JOIN nn
),
{chain}
SELECT h.node,
       CAST(floor(h.hub * 1000000 + {_OFF}) AS BIGINT) AS hub_e6,
       CAST(floor(a.auth * 1000000 + {_OFF}) AS BIGINT) AS auth_e6
FROM {prev_h} h JOIN a{_HITS_ITER} a ON a.node = h.node
ORDER BY h.node
"""


# ---------------------------------------------------------------------------
# gini_sources — per-language Gini concentration of docs-per-source
# ---------------------------------------------------------------------------
# G = (2 * sum(i * x_i) - (n + 1) * sum(x)) / (n * sum(x)) with x sorted
# ascending (rank i = 1..n, ties broken by source name).  Every term is
# an exact integer; the single double division is bit-identical across
# engines, so gini_e6 is exact.  The rank window partitions by lang —
# bounded by source cardinality per language, never corpus-sized.

def q_gini_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cnt = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("x"))
    w = Window.partitionBy("lang").orderBy("x", "source")
    ranked = cnt.withColumn("i", F.row_number().over(w))
    agg = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("x").alias("_sx"),
        F.sum(F.col("i") * F.col("x")).alias("_sixi"),
    )
    gnum = (
        2 * F.col("_sixi") - (F.col("n_sources") + 1) * F.col("_sx")
    ).cast("double")
    gden = (F.col("n_sources") * F.col("_sx")).cast("double")
    return agg.select(
        "lang",
        F.col("n_sources").cast("long").alias("n_sources"),
        F.col("_sx").cast("long").alias("total_docs"),
        F.floor(gnum / gden * 1_000_000 + F.lit(0.5)).cast("long").alias(
            "gini_e6"
        ),
    )


SQL_GINI = """
WITH cnt AS (
  SELECT lang, source, count(*) AS x
  FROM documents GROUP BY lang, source
), ranked AS (
  SELECT lang, x,
         row_number() OVER (PARTITION BY lang ORDER BY x, source) AS i
  FROM cnt
), agg AS (
  SELECT lang, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(i * x) AS BIGINT) AS sixi
  FROM ranked GROUP BY lang
)
SELECT lang, CAST(n AS BIGINT) AS n_sources, sx AS total_docs,
       CAST(floor(CAST(2 * sixi - (n + 1) * sx AS DOUBLE)
                  / CAST(n * sx AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
         AS gini_e6
FROM agg
"""


# ---------------------------------------------------------------------------
# markov_transitions — corpus event-type transition matrix (exact)
# ---------------------------------------------------------------------------
# First-order Markov estimate over per-user event streams: transition
# counts are exact integers, row-normalized probabilities are one double
# division each => p_e6 is bit-identical across engines.  One per-key
# ordered window (lag) + one combinable groupBy; the matrix is
# |types|^2 rows regardless of corpus size.

def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _events(spark, sf_dir).select(
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
    wr = Window.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        F.col("n").cast("long").alias("n"),
        F.floor(
            F.col("n").cast("double")
            / F.sum("n").over(wr).cast("double")
            * 1_000_000
            + F.lit(0.5)
        ).cast("long").alias("p_e6"),
    )


SQL_MARKOV = """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events QUALIFY to_type IS NOT NULL
), cnt AS (
  SELECT from_type, to_type, count(*) AS n
  FROM seq GROUP BY from_type, to_type
)
SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
       CAST(floor(CAST(n AS DOUBLE)
                  / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE)
                  * 1000000 + 0.5) AS BIGINT) AS p_e6
FROM cnt
"""


# ---------------------------------------------------------------------------
# event_entropy — Shannon entropy of each user's event-type mix
# ---------------------------------------------------------------------------
# H = -sum p_i ln p_i over the per-user type distribution; p_i are exact
# integer ratios, the <=|types| ln terms are summed as doubles, so the
# floor gets the same irrational offset as hits_scores/domain_pagerank.

def q_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.col("user_id").cast("long").alias("user_id"), "event_type"
    )
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cnt.groupBy("user_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_types")
    )
    p = (
        cnt.join(tot, "user_id")
        .withColumn("_p", F.col("c").cast("double") / F.col("n"))
    )
    return p.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_events"),
        F.max("n_types").cast("long").alias("n_types"),
        F.floor(
            -F.sum(F.col("_p") * F.log("_p")) * 10_000 + F.lit(_OFF)
        ).cast("long").alias("h_e4"),
    )


SQL_ENTROPY = f"""
WITH cnt AS (
  SELECT user_id, event_type, count(*) AS c
  FROM events GROUP BY user_id, event_type
), tot AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_types
  FROM cnt GROUP BY user_id
), p AS (
  SELECT cnt.user_id, tot.n, tot.n_types,
         CAST(c AS DOUBLE) / n AS p
  FROM cnt JOIN tot USING (user_id)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(max(n) AS BIGINT) AS n_events,
       CAST(max(n_types) AS BIGINT) AS n_types,
       CAST(floor(-sum(p * ln(p)) * 10000 + {_OFF}) AS BIGINT) AS h_e4
FROM p GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# audience_jaccard — user-set overlap between event types (exact)
# ---------------------------------------------------------------------------
# Jaccard of the DISTINCT-user audiences of every event-type pair:
# |A ∩ B| from an equi-self-join on user, |A ∪ B| = |A|+|B|-|A∩B| — all
# exact integers, one double division => jaccard_e6 exact.  The join is
# on user_id (combinable distinct first), output is |types|^2 rows.

def q_audience_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = (
        _events(spark, sf_dir)
        .select("event_type", "user_id")
        .distinct()
    )
    sizes = au.groupBy("event_type").agg(F.count(F.lit(1)).alias("sz"))
    a = au.select(F.col("event_type").alias("type_a"), "user_id")
    b = au.select(F.col("event_type").alias("type_b"), "user_id")
    both = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("sz").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("sz").alias("n_b")
    )
    j = both.join(F.broadcast(sa), "type_a").join(F.broadcast(sb), "type_b")
    union = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return j.select(
        "type_a",
        "type_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_both").cast("long").alias("n_both"),
        F.floor(
            F.col("n_both").cast("double") / union.cast("double")
            * 1_000_000
            + F.lit(0.5)
        ).cast("long").alias("jaccard_e6"),
    )


SQL_JACCARD = """
WITH au AS (
  SELECT DISTINCT event_type, user_id FROM events
), sizes AS (
  SELECT event_type, count(*) AS sz FROM au GROUP BY event_type
), both_ AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS n_both
  FROM au a JOIN au b USING (user_id)
  WHERE a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT type_a, type_b,
       CAST(sa.sz AS BIGINT) AS n_a, CAST(sb.sz AS BIGINT) AS n_b,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(floor(CAST(n_both AS DOUBLE)
                  / CAST(sa.sz + sb.sz - n_both AS DOUBLE)
                  * 1000000 + 0.5) AS BIGINT) AS jaccard_e6
FROM both_
JOIN sizes sa ON sa.event_type = type_a
JOIN sizes sb ON sb.event_type = type_b
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "allan_variance": q_allan_variance,
    "burstiness": q_burstiness,
    "hits_scores": q_hits_scores,
    "gini_sources": q_gini_sources,
    "markov_transitions": q_markov_transitions,
    "event_entropy": q_event_entropy,
    "audience_jaccard": q_audience_jaccard,
}

ORACLE_SQL: dict[str, str] = {
    "allan_variance": SQL_ALLAN,
    "burstiness": SQL_BURSTINESS,
    "hits_scores": _sql_hits(),
    "gini_sources": SQL_GINI,
    "markov_transitions": SQL_MARKOV,
    "event_entropy": SQL_ENTROPY,
    "audience_jaccard": SQL_JACCARD,
}
