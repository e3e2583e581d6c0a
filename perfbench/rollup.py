"""``rollup_batch``: one-shot backfill of a url-skewed series through the
per-sensor QC pipeline into 1m/1h/1d tiers, with the 1m tier Gorilla-encoded
into cold blocks.

A round is one backfill; its ops are its two stages: the cleaned series,
and the rollup proper (the tier cascade's three parquet writes, then the
blocks).  Each round rebuilds every DataFrame from the input parquet, so no
shuffle is reused across rounds.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from common import fresh_dir, tree_size
from layers import Layers

# Traffic shape.  Skew: the defaults of ``synth_pages_df`` (1 % of urls hot,
# each with 50x the records); 100 urls are the fewest for which 1 % is one
# url.  Re-sends: the "injected duplicates (~0.5%)" of FIXTURES.md (F1).
# The number of records is sized to the run budget (see README.md).
N_URLS = 100
N_RECORDS = 160  # 2 h 40 min at 1-min resolution per ordinary url
DUP_SHARE = 0.005
WARM_RECORDS = 10  # the warm-up round's input: same urls and pipeline, few records
CHECK_URLS = 3
ABS_LIMITS = (90.0, 150.0)


class Workload(Layers):
    def __init__(self, spark, work, seed, tracer):
        super().__init__(spark, work, seed, tracer)
        self.input = work / "input" / "series.parquet"
        self.warm_input = work / "input" / "warm.parquet"

    # -- set-up ---------------------------------------------------------------
    def generate(self) -> None:
        from pyspark.sql import functions as F

        self._write_series(self.warm_input, WARM_RECORDS)
        self._write_series(self.input, N_RECORDS)
        self.n_points = sum(pq.ParquetFile(f).metadata.num_rows for f in self.input.glob("*.parquet"))
        hot = self.spark.read.parquet(str(self.input)).filter(F.col("url") == _url(0)).count()
        self.hot_share = hot / self.n_points

    def _write_series(self, path, n_records: int) -> None:
        from pyspark.sql import functions as F

        from diive_spark.sources.pages import synth_pages_df

        start = f"2024-01-{1 + self.seed % 28:02d} {self.seed % 24:02d}:{self.seed % 60:02d}:00"
        base = synth_pages_df(
            self.spark, n_urls=N_URLS, n_records=n_records, freq_seconds=60, start=start,
        ).select("url", "ts", "value")
        seed = F.lit(self.seed)
        jitter = (F.pmod(F.xxhash64("url", "ts", seed), 2001) - 1000) / 1000.0
        series = base.withColumn("value", F.col("value") + jitter)
        # re-sent records: a seeded share arrives again later with a new
        # value; dedup keep-last must keep the re-sent one
        dups = series.filter(
            F.pmod(F.xxhash64("url", "ts", seed, F.lit(7)), 10_000) < int(DUP_SHARE * 10_000)
        ).withColumn("value", F.col("value") + 0.5)
        rows = (
            series.withColumn("ingest_seq", F.lit(0).cast("long"))
            .unionByName(dups.withColumn("ingest_seq", F.lit(1).cast("long")))
            .withColumn("ts_s", F.unix_seconds("ts"))
        )
        rows.write.parquet(str(path))

    def sizes(self) -> dict:
        return {"urls": N_URLS, "records_per_url": N_RECORDS, "hot_urls": 1,
                "hot_share": round(self.hot_share, 3), "dup_share": DUP_SHARE,
                "points": self.n_points}

    def warmup(self) -> float:
        """One untimed round over a small input of the same shape: the first
        round after start-up is slower in every op (code generation, JIT,
        Python workers), whatever its input size."""
        t0 = time.perf_counter()
        self.round(-1, self.warm_input)
        return time.perf_counter() - t0

    # -- the pipeline -----------------------------------------------------------
    def cleaned(self, src):
        """dedup -> abs-limit, z-score, iterated z-score, Hampel flags -> QCF
        -> limited linear gap-fill, as one lazy DataFrame."""
        from pyspark.sql import functions as F

        from diive_spark.operators import flags as FL
        from diive_spark.operators import gapfill as GF
        from diive_spark.operators import outliers as OU
        from diive_spark.operators.sanitize import dedup_keep_last

        df = self.spark.read.parquet(str(src))
        df = dedup_keep_last(df, "url", "ts_s", order_col="ingest_seq").select("url", "ts_s", "value")
        df = FL.flag_abslim(df, "value", *ABS_LIMITS)
        df = OU.zscore_flag_expr(df, "url", "value", 4.0, "flag_zscore")
        df = OU.zscore_flag_iterated(df, "url", "ts_s", "value", 4.0, "flag_zscore_iter")
        df = OU.hampel_flag_expr(df, "url", "ts_s", "value", 15, 7.0)
        df = FL.add_qcf(df, ["flag_abslim", "flag_zscore", "flag_zscore_iter", "flag_hampel"])
        df = GF.linear_interp_limited(df, "url", "ts_s", "value_qcf", 3, out_col="value_filled")
        return df.select("url", F.timestamp_seconds("ts_s").alias("ts"), "value_filled", "qcf",
                         "flag_gapfilled")

    def round(self, i: int, src=None) -> dict:
        from diive_spark.compression.blocks import compress_blocks
        from diive_spark.config import DEFAULT_TIERS
        from diive_spark.operators.resample import cascade_tiers

        out = fresh_dir(self.work / "out")
        ops = []

        @contextmanager
        def op(name):
            t0 = time.perf_counter()
            yield
            ops.append({"name": name, "seconds": time.perf_counter() - t0, "ok": True})

        def write(df, path):
            with self.tracer.span("sink.write", op=f"{i}:{path}"):
                df.write.parquet(str(out / path))

        with op("cleaned"):
            write(self.cleaned(src or self.input), "cleaned")
        with op("tiers"):
            cleaned = self.spark.read.parquet(str(out / "cleaned"))
            for name, tier in cascade_tiers(cleaned, DEFAULT_TIERS, "url", "ts", "value_filled").items():
                write(tier, f"tier_{name}")
            t1m = self.spark.read.parquet(str(out / "tier_1m"))
            write(compress_blocks(t1m, "url", "window_end", "agg_mean"), "blocks")
        files, size = tree_size(out)
        self.tracer.count("sink.files", files)
        self.tracer.count("sink.bytes", size)
        return {"ops": ops, "points": self.n_points}

    def bytes_per_point(self) -> float:
        return tree_size(self.work / "out")[1] / self.n_points

    # -- output checks (outside the timed region) ------------------------------
    def check(self) -> list[str]:
        """Tiers of a seeded url subset (always including the hot url) equal
        the pandas oracle; the Gorilla blocks decode bit-exactly to the 1m
        tier."""
        from pyspark.sql import functions as F

        from diive_spark.compression.blocks import decompress_blocks

        out = self.work / "out"
        rng = np.random.default_rng(self.seed)
        urls = [_url(0)] + [_url(u) for u in rng.choice(np.arange(1, N_URLS), CHECK_URLS - 1, replace=False)]
        raw = (self.spark.read.parquet(str(self.input)).filter(F.col("url").isin(urls))
               .select("url", "ts_s", "value", "ingest_seq").toPandas())
        problems = []
        for name, secs in (("1m", 60), ("1h", 3600), ("1d", 86400)):
            got = (self.spark.read.parquet(str(out / f"tier_{name}")).filter(F.col("url").isin(urls))
                   .select("url", F.unix_seconds("window_end").alias("w"), "agg_mean", "n_vals")
                   .toPandas().sort_values(["url", "w"]).reset_index(drop=True))
            want = _oracle_tiers(raw, urls, secs).sort_values(["url", "w"]).reset_index(drop=True)
            if len(got) != len(want) or not len(got):
                problems.append(f"tier {name}: {len(got)} rows, oracle {len(want)}")
            elif not (np.array_equal(got["w"], want["w"]) and np.array_equal(got["n_vals"], want["n_vals"])
                      and np.allclose(got["agg_mean"], want["agg_mean"], rtol=1e-9, atol=0)):
                problems.append(f"tier {name}: values differ from the pandas oracle")
        tier = (self.spark.read.parquet(str(out / "tier_1m"))
                .select("url", F.unix_micros("window_end").alias("us"), "agg_mean")
                .toPandas().sort_values(["url", "us"]).reset_index(drop=True))
        dec = (decompress_blocks(self.spark.read.parquet(str(out / "blocks")), "url")
               .toPandas().sort_values(["url", "ts_us"]).reset_index(drop=True))
        if not (len(tier) == len(dec)
                and np.array_equal(tier["us"], dec["ts_us"])
                and np.array_equal(tier["agg_mean"].to_numpy().view("int64"),
                                   dec["value"].to_numpy().view("int64"))):
            problems.append("Gorilla blocks do not decode bit-exactly to the 1m tier")
        return problems

    # -- traced run ---------------------------------------------------------------
    def probes(self) -> list[str]:
        self.probe_series(str(self.input), "url", "ts", "value", "ingest_seq")
        self.probe_registry()
        return self.probe_tiers()


def _url(uid: int) -> str:
    """The url ``synth_pages_df`` gives series ``uid``; series 0 is the hot one."""
    return f"https://site{uid % (N_URLS // 4 + 1):04d}.example/p{uid:05d}"


def _oracle_tiers(raw: pd.DataFrame, urls: list[str], secs: int) -> pd.DataFrame:
    """The pipeline re-run per url with the pandas oracle."""
    from diive_spark.oracle import pandas_oracle as O

    frames = []
    for url in urls:
        g = (raw[raw["url"] == url].sort_values(["ts_s", "ingest_seq"])
             .drop_duplicates("ts_s", keep="last"))
        v = pd.Series(g["value"].to_numpy(), index=pd.to_datetime(g["ts_s"].to_numpy(), unit="s"))
        flags = pd.DataFrame({
            "abslim": np.where(v.notna() & ((v < ABS_LIMITS[0]) | (v > ABS_LIMITS[1])), 2, 0),
            "zscore": O.zscore_flag(v, 4.0, repeat=False).to_numpy(),
            "zscore_iter": O.zscore_flag(v, 4.0, repeat=True).to_numpy(),
            "hampel": _hampel_single_pass(v, 15, 7.0).to_numpy(),
        }, index=v.index)
        hard, soft = O.flag_sums(flags)
        value_qcf, _ = O.apply_qcf(v, O.qcf_ladder(hard, soft))
        filled = O.linear_interp_limited(value_qcf, gap_limit=3)
        t = O.resample_series_gated(filled, secs, mincounts_perc=0.9)
        frames.append(pd.DataFrame({
            "url": url,
            "w": (t.index.astype("int64") // 10**9).to_numpy(),
            "agg_mean": t["agg_mean"].to_numpy(),
            "n_vals": t["n_vals"].to_numpy(),
        }))
    return pd.concat(frames, ignore_index=True)


def _hampel_single_pass(s: pd.Series, winsize: int, n_sd: float) -> pd.Series:
    """One pass of the oracle's LocalSD test over the non-null positions —
    the contract of ``hampel_flag_expr``."""
    nn = s.dropna()
    med = nn.rolling(winsize, center=True, min_periods=3).median()
    sd = nn.rolling(winsize, center=True, min_periods=3).std()
    rej = (nn > med + n_sd * sd) | (nn < med - n_sd * sd)
    flag = pd.Series(0, index=s.index, dtype="int64")
    flag.loc[rej[rej].index] = 2
    return flag
