"""M1 exact-match tests: sanitize + min-count-gated resample vs pandas oracle
(reference math per /root/reference/diive/core/times/resampling.py:13-132)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from diive_spark.operators.resample import cascade_tiers, resample_gated
from diive_spark.operators.sanitize import dedup_keep_last, regularize_grid, sanitize
from diive_spark.oracle import pandas_oracle as oracle
from diive_spark.config import DEFAULT_TIERS
from diive_spark.sources.pages import pages_to_series_pdf, synth_pages_pdf


@pytest.fixture(scope="module")
def pages_pdf():
    return synth_pages_pdf(n_urls=12, n_records=240, freq_seconds=600, seed=42)


@pytest.fixture(scope="module")
def series_pdf(pages_pdf):
    return pages_to_series_pdf(pages_pdf)


@pytest.fixture(scope="module")
def series_sdf(spark, pages_pdf):
    sdf = spark.createDataFrame(pages_pdf)
    return (
        dedup_keep_last(sdf, "url", "warc_ts", order_col="ingest_seq")
        .select("url", sdf.warc_ts.alias("ts"), "value")
    )


def oracle_resample_all(series_pdf, bucket_seconds, mincounts_perc, source_freq):
    frames = []
    for url, g in series_pdf.groupby("url"):
        s = g.set_index("ts")["value"]
        out = oracle.resample_series_gated(
            s,
            bucket_seconds=bucket_seconds,
            mincounts_perc=mincounts_perc,
            source_freq_seconds=source_freq,
        )
        out = out.reset_index()
        out.insert(0, "url", url)
        frames.append(out)
    return (
        pd.concat(frames)
        .sort_values(["url", "window_end"])
        .reset_index(drop=True)
    )


def collect_sorted(df):
    pdf = df.toPandas().sort_values(["url", "window_end"]).reset_index(drop=True)
    return pdf


@pytest.fixture(scope="module")
def pages_series(series_sdf, series_pdf):
    return series_sdf, series_pdf, 600


def _hour(url, hour, values):
    t0 = pd.Timestamp("2024-01-01") + pd.Timedelta(hours=hour)
    return [(url, t0 + pd.Timedelta(minutes=5 * i), v) for i, v in enumerate(values)]


# Hand-built edge cases of the min-count gate at 3600 s buckets, perc 0.5:
# * "fallback": maxcount 4, floor(4 * 0.5) = 2 < 3, so mincount falls back
#   to 1 and a bucket with one value (two null slots) is kept;
# * "three": maxcount 6, floor(6 * 0.5) == 3; a 3-value bucket is kept, a
#   2-value bucket (plus one null slot) is dropped;
# * "allnull": a bucket of 8 null values (n_vals 0, agg_mean null) still
#   counts its 8 slots, so maxcount 8 gives mincount 4 and a 3-value bucket
#   is dropped.
GATE_EDGES = (
    _hour("fallback", 0, [1.0, 2.0, 3.0, 4.0])
    + _hour("fallback", 1, [5.0, None, None])
    + _hour("three", 0, [1.0, 2.0, 3.0, 4.0, 5.0, 6.0])
    + _hour("three", 1, [7.0, 8.0, 9.0])
    + _hour("three", 2, [1.5, 2.5, None])
    + _hour("allnull", 0, [None] * 8)
    + _hour("allnull", 1, [1.0, 2.0, 3.0, 4.0])
    + _hour("allnull", 2, [5.0, 6.0, 7.0])
)


@pytest.fixture(scope="module")
def gate_edges_series(spark):
    sdf = spark.createDataFrame(
        [(u, t.to_pydatetime(), v) for u, t, v in GATE_EDGES],
        "url string, ts timestamp, value double",
    )
    pdf = pd.DataFrame(GATE_EDGES, columns=["url", "ts", "value"]).astype(
        {"value": float}
    )
    return sdf, pdf, None


@pytest.mark.parametrize(
    "series,bucket_seconds,perc,salt_buckets",
    [
        pytest.param("pages_series", 1800, 0.9, 0, id="1800-0.9"),
        pytest.param("pages_series", 3600, 0.25, 0, id="3600-0.25"),
        pytest.param("pages_series", 86400, 0.9, 0, id="86400-0.9"),
        pytest.param("gate_edges_series", 3600, 0.5, 0, id="gate_edges-unsalted"),
        pytest.param("gate_edges_series", 3600, 0.5, 4, id="gate_edges-salted"),
    ],
)
def test_resample_gated_matches_oracle(
    request, series, bucket_seconds, perc, salt_buckets
):
    sdf, pdf, source_freq = request.getfixturevalue(series)
    got = collect_sorted(
        resample_gated(
            sdf,
            key_col="url",
            ts_col="ts",
            value_col="value",
            bucket_seconds=bucket_seconds,
            mincounts_perc=perc,
            source_freq_seconds=source_freq,
            salt_buckets=salt_buckets,
        )
    )
    want = oracle_resample_all(pdf, bucket_seconds, perc, source_freq)
    assert len(got) == len(want), (len(got), len(want))
    assert (got["url"] == want["url"]).all()
    assert (got["window_end"].values == want["window_end"].values).all()
    assert (got["n_vals"].values == want["n_vals"].values).all()
    # mean: same per-bin value set; pandas sums in index order, Spark in
    # partition order — tolerance at float64 roundoff scale only
    np.testing.assert_allclose(
        got["agg_mean"].values, want["agg_mean"].values, rtol=1e-12, atol=1e-12
    )
    np.testing.assert_allclose(
        got["agg_sum"].fillna(0).values, want["agg_sum"].fillna(0).values, rtol=1e-12
    )


def test_resample_salted_equals_unsalted(spark, series_sdf):
    plain = collect_sorted(
        resample_gated(series_sdf, bucket_seconds=3600, mincounts_perc=0.9,
                       source_freq_seconds=600)
    )
    salted = collect_sorted(
        resample_gated(series_sdf, bucket_seconds=3600, mincounts_perc=0.9,
                       source_freq_seconds=600, salt_buckets=8)
    )
    assert len(plain) == len(salted)
    assert (plain["n_vals"].values == salted["n_vals"].values).all()
    np.testing.assert_allclose(plain["agg_mean"].values, salted["agg_mean"].values, rtol=1e-12)


def test_dedup_keep_last(spark, pages_pdf):
    sdf = spark.createDataFrame(pages_pdf)
    got = (
        dedup_keep_last(sdf, "url", "warc_ts", order_col="ingest_seq")
        .toPandas()
        .sort_values(["url", "warc_ts"])
        .reset_index(drop=True)
    )
    want = (
        pages_pdf.sort_values("ingest_seq")
        .drop_duplicates(subset=["url", "warc_ts"], keep="last")
        .sort_values(["url", "warc_ts"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert (got["ingest_seq"].values == want["ingest_seq"].values).all()


def test_text_byte_identical_through_dedup(spark, pages_pdf):
    """BASELINE.json per-row invariant: extracted text per url byte-identical."""
    sdf = spark.createDataFrame(pages_pdf)
    got = (
        dedup_keep_last(sdf, "url", "warc_ts", order_col="ingest_seq")
        .select("url", "warc_ts", "text", "html")
        .toPandas()
        .sort_values(["url", "warc_ts"])
        .reset_index(drop=True)
    )
    want = (
        pages_pdf.sort_values("ingest_seq")
        .drop_duplicates(subset=["url", "warc_ts"], keep="last")
        .sort_values(["url", "warc_ts"])
        .reset_index(drop=True)
    )
    assert list(got["text"]) == list(want["text"])
    assert [bytes(b) for b in got["html"]] == [bytes(b) for b in want["html"]]
    # extraction invariant: text == html stripped of the wrapper
    assert all(
        f"<html><body>{t}</body></html>".encode() == bytes(h)
        for t, h in zip(got["text"], got["html"])
    )


def test_regularize_grid(spark, series_sdf, series_pdf):
    grid = regularize_grid(series_sdf, "url", "ts", freq_seconds=600,
                           align_to_grid=False)
    got = grid.groupBy("url").count().toPandas().set_index("url")["count"]
    for url, g in series_pdf.groupby("url"):
        span = (g["ts"].max() - g["ts"].min()).total_seconds()
        assert got[url] == int(span // 600) + 1


def test_cascade_tiers_shapes(spark, series_sdf):
    tiers = cascade_tiers(series_sdf, DEFAULT_TIERS, source_freq_seconds=600)
    counts = {name: df.count() for name, df in tiers.items()}
    # finer tiers have at least as many rows as coarser ones
    assert counts["1h"] >= counts["1d"]
    assert all(v > 0 for v in counts.values())
