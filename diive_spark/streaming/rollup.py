"""Structured Streaming rollup (SURVEY §2.12): the batch tier aggregation
as an incremental stream with watermarked late-data handling.

The reference is batch-only; its late/duplicate-data story is re-running
the sanitizer (times.py:148-244). The streaming re-expression:

  * source: file stream (parquet dirs; Iceberg/Kafka in production),
  * event-time watermark bounds state for late rows,
  * tumbling ``window(ts, tier)`` per key computes the rollup cell's
    partials (``partial_aggs`` in operators/resample.py), the same ones
    the batch tier engine stores — means are recomposed downstream by the
    same cell, so streaming output MERGEs into the same tier tables
    (plans/tiers.py) associatively.  The window stays ``F.window``
    because the watermark needs a window on the event-time column,
  * dedup-keep-first within the watermark via ``dropDuplicates`` mirrors
    the batch dedup (times.py:804-821; keep-first vs keep-last is the one
    semantic difference — documented, as true keep-last needs state the
    stream cannot bound).

The min-count gate (resampling.py:76-92) needs the per-key max bin count,
a global statistic — it is applied at READ time over the merged tier
table, not in-stream (same place the batch engine applies it)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from diive_spark.operators.resample import PARTIALS, partial_aggs


def stream_tier_rollup(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    bucket_seconds: int = 1800,
    watermark: str = "2 hours",
    dedup: bool = True,
) -> DataFrame:
    """Returns a STREAMING DataFrame of partial tier aggregates
    (psum, pcount, pslots per key/window). Attach any sink; tests use a
    memory sink with ``trigger(availableNow=True)``."""
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )
    # watermarks require TIMESTAMP (tz-aware); ntz sources are cast (the
    # session tz is pinned UTC, so the instant is unchanged)
    src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    wm = src.withWatermark(ts_col, watermark)
    if dedup:
        wm = wm.dropDuplicates([key_col, ts_col])
    win = F.window(F.col(ts_col), f"{bucket_seconds} seconds")
    return (
        wm.groupBy(F.col(key_col), win.alias("win"))
        .agg(*partial_aggs(value_col))
        .select(key_col, F.col("win.end").alias("window_end"), *PARTIALS)
    )


def run_to_memory(
    stream_df: DataFrame, query_name: str, timeout_s: int = 120
) -> None:
    """Drain all available input into an in-memory table (append mode —
    watermark-closed windows only), blocking until done."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)


def stream_exact_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact content dedup for a document/page stream (web-text
    ingest front door): 60-bit md5 content hash per row, then
    ``dropDuplicatesWithinWatermark`` on the hash — state is bounded by
    the event-time watermark, so at 10^12-docs scale the dedup store
    holds one hash per distinct document seen within the lateness
    horizon, not forever (exactly the guarantee a crawl-ingest pipeline
    needs: re-crawled duplicates arrive close together in time).

    Batch twin: ``text/dedup.py::exact_dedup`` (same hash, keep-lowest-id
    per group); the streaming variant keeps the FIRST arrival — the same
    keep-first-vs-keep-last note as the rollup dedup above.
    """
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )
    src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    hashed = src.withColumn(
        "content_hash",
        F.conv(F.substring(F.md5(F.col(text_col)), 1, 15), 16, 10).cast("bigint"),
    )
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def stream_neardup_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    store_dir: str,
    report_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
    timeout_s: int = 120,
) -> None:
    """Streaming NEAR-dup ingest: every micro-batch is checked against the
    persisted signature store (``text/dedup.py::signature_store`` rows in
    ``store_dir``) via :func:`incremental_lsh_dedup`; batch-internal
    near-dups are collapsed with the batch self-join; only FRESH
    signatures append to the store, and detected (new_id, hist_id,
    jaccard) pairs append to ``report_dir``.

    This is the full crawl-ingest front door at 10^12-doc scale: the store
    grows by exactly the deduplicated batch (one small row per doc —
    hashed shingle set + MinHash), historical text is never re-read, and a
    restart resumes from the stream checkpoint with the store already
    reflecting every committed batch (foreachBatch re-delivers an
    uncommitted batch; the append of an already-appended batch is the one
    at-least-once caveat — production puts the store in an Iceberg table
    and MERGEs on doc_id, which makes the append idempotent).

    Drains all currently-available input (``availableNow``), then returns.
    """
    from diive_spark.text.dedup import (
        incremental_lsh_dedup,
        jaccard_verify,
        lsh_candidate_pairs,
        signature_store,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sigs = signature_store(batch_df, id_col, text_col).persist()
        # collapse batch-internal near-dups first (keep lowest id)
        inner = lsh_candidate_pairs(sigs, id_col=id_col)
        inner = jaccard_verify(
            inner, sigs, id_col=id_col, shingle_col="sh_hashes",
            threshold=threshold,
        )
        sigs_kept = sigs.join(
            inner.select(F.col("id_b").alias(id_col)).distinct(),
            id_col,
            "left_anti",
        )
        store_path = Path(store_dir)
        if store_path.exists() and any(store_path.glob("*.parquet")):
            store = spark.read.parquet(store_dir)
            dups = incremental_lsh_dedup(
                sigs_kept, store, id_col=id_col, threshold=threshold
            ).persist()
            fresh = sigs_kept.join(
                dups.select(F.col("new_id").alias(id_col)).distinct(),
                id_col,
                "left_anti",
            )
        else:
            dups = None
            fresh = sigs_kept
        if dups is not None:
            dups.write.mode("append").parquet(report_dir)
        fresh.write.mode("append").parquet(store_dir)
        sigs.unpersist()

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    q = (
        src.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)


def stream_sessionize(
    spark: SparkSession,
    source_dir: str,
    schema: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    timeout_seconds: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming gap-timeout sessionization via the NATIVE
    ``session_window`` (merging-window state, closed by the watermark) —
    the incremental twin of the batch ``operators/sessionize.py``: a
    session's (start, end, n_events) here equals the batch operator's
    (session_start, session_end, n_events) for the same timeout once the
    watermark passes, which tests/test_stream_to_tier.py asserts.

    State is bounded: one open window per active (key, session), closed
    and emitted ``watermark`` after the last event — the
    applyInPandasWithState escape hatch is unnecessary because gap
    semantics are exactly what session_window implements.
    """
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )
    src = src.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    wm = src.withWatermark(ts_col, watermark)
    sess = F.session_window(F.col(ts_col), f"{timeout_seconds} seconds")
    return (
        wm.groupBy(F.col(key_col), sess.alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            # session_window.end is EXCLUSIVE: last event + gap; the
            # batch operator's session_end is the last event itself
            (
                F.unix_micros(F.col("sw.end")) / 1_000_000
                - timeout_seconds
            ).cast("long").alias("last_event_s"),
            "n_events",
        )
    )
