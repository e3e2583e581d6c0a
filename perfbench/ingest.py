"""Tier ingest: time-ordered file drops, each carrying a late share of the
previous day, streamed through ``foreachBatch`` into ``TierEngine`` for the
1m/1h/1d tiers, with a gated dashboard read of the 1h tier after every
batch, then compaction and expiry.

Traced runs of every workload run one such round, with its output checks,
as the ledger's probe of the tier and streaming layers (see README.md for
why it is not a timed workload of its own).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from common import fresh_dir, noop, tree_size

# Traffic shape.  Skew: the defaults of ``synth_pages_df`` (1 % of urls hot,
# each with 50x the records), with the hot url's records packed into the
# same days at 50x the rate.  Late rows: the "out-of-order rows (~2%)" of
# FIXTURES.md (F1), delivered with the next day's drop.  10-min resolution
# is one of the native resolutions FIXTURES.md names.
K_DROPS = 3  # one per day
N_URLS = 100
RECORDS_PER_DAY = 144  # 10-min resolution
HOT_MULT = 50  # synth_pages_df's default hot_multiplier
LATE_SHARE = 0.02  # of a day's rows arrive with the next day's drop


class TierIngest:
    def __init__(self, spark, work, seed, tracer):
        from diive_spark.config import DEFAULT_TIERS

        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.src_dir = work / "drops"
        self.tiers = DEFAULT_TIERS

    # -- set-up -------------------------------------------------------------------
    def generate(self) -> None:
        from pyspark.sql import functions as F

        from diive_spark.sources.pages import synth_pages_df

        jitter = (F.pmod(F.xxhash64("url", "ts", F.lit(self.seed)), 2001) - 1000) / 1000.0
        pdf = synth_pages_df(
            self.spark, n_urls=N_URLS, n_records=K_DROPS * RECORDS_PER_DAY, freq_seconds=600,
            hot_multiplier=HOT_MULT, start="2024-03-01 00:10:00",
        ).select("url", F.unix_micros("ts").alias("us"), (F.col("value") + jitter).alias("value")).toPandas()
        # the hot url's 50x longer series, packed into the same days
        counts = pdf["url"].value_counts()
        hot = (pdf["url"] == counts.index[0]).to_numpy()
        t0 = pdf["us"].min() - 600_000_000
        pdf.loc[hot, "us"] = t0 + (pdf.loc[hot, "us"] - t0) // HOT_MULT
        rng = np.random.default_rng(self.seed)
        # one drop per day
        day = ((pdf["us"] - 1) // 86_400_000_000 - (pdf["us"].min() - 1) // 86_400_000_000).to_numpy()
        late = (rng.random(len(pdf)) < LATE_SHARE) & (day < K_DROPS - 1)
        drop = np.where(late, day + 1, day)
        fresh_dir(self.src_dir)
        now = time.time() - 100
        for d in range(K_DROPS):
            part = pdf[drop == d].sample(frac=1.0, random_state=self.seed + d)
            part = pd.DataFrame({
                "url": part["url"].to_numpy(),
                "ts": pd.to_datetime(part["us"].to_numpy(), unit="us", utc=True),
                "value": part["value"].to_numpy(),
            })
            path = self.src_dir / f"drop-{d:03d}.parquet"
            part.to_parquet(path, index=False, coerce_timestamps="us")
            os.utime(path, (now + d, now + d))  # the file source orders by mtime
        self.schema = self.spark.read.parquet(str(self.src_dir)).schema
        self.days = sorted({str(d) for d in pd.to_datetime(pdf["us"] - 1, unit="us").dt.date})
        self.n_points = len(pdf)
        self.hot_share = hot.mean()

    def sizes(self) -> dict:
        return {"drops": K_DROPS, "urls": N_URLS, "records_per_url_day": RECORDS_PER_DAY,
                "hot_urls": 1, "hot_share": round(float(self.hot_share), 3),
                "late_share": LATE_SHARE, "points": self.n_points}

    # -- the ingest -------------------------------------------------------------------
    def run(self) -> None:
        """Stream every drop into a fresh tier root, then compact and expire."""
        from diive_spark.plans.tiers import TierEngine

        t = self.tracer
        self.root = fresh_dir(self.work / "tiers")
        self.engine = eng = TierEngine(self.spark, str(self.root), self.tiers, "url", "ts", "value")

        def sink(batch_df, batch_id):
            with t.span("streaming.sink", op=f"drop-{batch_id}"):
                with t.span("tiers.apply_batch", op=f"drop-{batch_id}"):
                    eng.apply_batch(batch_df, batch_id=f"drop-{batch_id}")
                # bytes the batch wrote: the day partitions it merged
                for store in eng.stores.values():
                    days = store.read_manifest()["snapshots"][-1]["merged_partitions"]
                    t.count("tiers.batch_bytes", sum(tree_size(store.data_dir / f"window_day={d}")[1]
                                                     for d in days))
                with t.span("tiers.read", op=f"drop-{batch_id}"):
                    noop(eng.read_tier("1h"))

        q = (self.spark.readStream.schema(self.schema).option("maxFilesPerTrigger", 1)
             .parquet(str(self.src_dir)).writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(fresh_dir(self.work / "checkpoint")))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        for p in q.recentProgress:
            d = p.durationMs
            t.count("streaming.trigger_s", d.get("triggerExecution", 0) / 1000.0)
            t.count("streaming.add_batch_s", d.get("addBatch", 0) / 1000.0)
        with t.span("tiers.compact"):
            for spec in self.tiers:
                eng.compact(spec.name, max_files_per_day=0)  # rewrite every day
        with t.span("tiers.expire"):
            eng.expire("1m", keep_days=1, now_day=self.days[-1])
        t.count("tiers.files", tree_size(self.root)[0])
        t.count("tiers.manifest_bytes", sum(s.manifest_path.stat().st_size for s in eng.stores.values()))
        t.count("tiers.delta_bytes", self._delta_bytes())

    def _delta_bytes(self) -> int:
        """Bytes of every batch's delta partials alone, written in the
        layout ``apply_batch`` stages merged days in.  Each drop is one
        micro-batch; the partials come from the engine's own (private)
        ``_partials``, so they match what each batch merged."""
        from pyspark.sql import functions as F

        total = 0
        for i, drop in enumerate(sorted(self.src_dir.glob("drop-*.parquet"))):
            batch = self.spark.read.parquet(str(drop))
            for spec in self.tiers:
                out = self.work / "delta" / f"{i}-{spec.name}"
                (self.engine._partials(batch, spec)
                 .repartition(F.col("window_day"), F.col("url"))
                 .write.mode("overwrite").partitionBy("window_day").parquet(str(out)))
                total += tree_size(out)[1]
        return total

    # -- output checks ------------------------------------------------------------------
    def check(self) -> list[str]:
        """Merged tiers equal a one-shot ``resample_gated`` over every
        ingested row (1m: the days that survive expiry); each manifest holds
        one snapshot per drop and no pending intent."""
        import datetime as dt

        from pyspark.sql import functions as F

        from diive_spark.operators.resample import resample_gated

        problems = []
        rows = self.spark.read.parquet(str(self.src_dir))
        cutoff = (dt.date.fromisoformat(self.days[-1]) - dt.timedelta(days=1)).isoformat()
        for spec in self.tiers:
            m = self.engine.stores[spec.name].read_manifest()
            if len(m["snapshots"]) != K_DROPS or m.get("pending") or m.get("pending_compactions"):
                problems.append(f"tier {spec.name}: {len(m['snapshots'])} snapshots for "
                                f"{K_DROPS} drops, pending={m.get('pending')}")
            got = (self.engine.read_tier(spec.name).select("url", "window_end_s", "agg_mean", "n_vals")
                   .toPandas())
            want = resample_gated(rows, "url", "ts", "value", spec.seconds, spec.mincounts_perc).select(
                "url", F.unix_seconds("window_end").alias("window_end_s"), "agg_mean", "n_vals")
            if spec.name == "1m":
                want = want.filter(F.date_format(F.timestamp_seconds(F.col("window_end_s") - 1),
                                                 "yyyy-MM-dd") >= cutoff)
            want = want.toPandas()
            got = got.sort_values(["url", "window_end_s"]).reset_index(drop=True)
            want = want.sort_values(["url", "window_end_s"]).reset_index(drop=True)
            if len(got) != len(want) or not len(got):
                problems.append(f"tier {spec.name}: {len(got)} rows, one-shot {len(want)}")
            elif not (np.array_equal(got["window_end_s"], want["window_end_s"])
                      and np.array_equal(got["n_vals"], want["n_vals"])
                      and np.allclose(got["agg_mean"], want["agg_mean"], rtol=1e-9, atol=0)):
                problems.append(f"tier {spec.name}: merged values differ from the one-shot rollup")
        return problems
