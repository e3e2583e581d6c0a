"""The traced run's layer ledger.

Every workload derives from :class:`Layers`.  In a traced run the workload
runs one round with spans on; then :meth:`Layers.probe_series` times each
engine operator alone over the workload's own input, the tier ingest of
``ingest.py`` runs, and a workload whose rounds leave the registry idle
runs two registry queries, so every ledger entry is measured in every
workload.  :meth:`Layers.layers` turns spans, counters and the Spark event
log into the per-layer metrics.
"""

from __future__ import annotations

import json
from pathlib import Path

from common import jobs_within, median, noop, task_sums, tree_size


class Layers:
    def __init__(self, spark, work, seed, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer

    # -- probes -----------------------------------------------------------------
    def probe_series(self, path: str, key: str, ts: str, value: str, order_col: str | None) -> None:
        """Time each operator alone over the input series (noop sink), the
        grouped Arrow kernel, and Gorilla encode/decode."""
        from pyspark.sql import functions as F

        from diive_spark.compression.blocks import compress_blocks, decompress_blocks
        from diive_spark.operators import flags as FL
        from diive_spark.operators import gapfill as GF
        from diive_spark.operators import outliers as OU
        from diive_spark.operators.resample import resample_gated
        from diive_spark.operators.sanitize import dedup_keep_last

        t = self.tracer
        spark = self.spark

        def src():
            return spark.read.parquet(path).withColumn(
                "ts_s", F.unix_seconds(F.col(ts).cast("timestamp")))

        with t.span("sources.scan"):
            noop(spark.read.parquet(path))
        t.count("sources.input_rows", spark.read.parquet(path).count())
        p = Path(path)
        t.count("sources.input_bytes", p.stat().st_size if p.is_file() else tree_size(p)[1])
        with t.span("operators.dedup"):
            noop(dedup_keep_last(src(), key, ts, order_col=order_col))
        with t.span("operators.flags"):
            noop(OU.zscore_flag_expr(FL.flag_abslim(src(), value, 0.0, 200.0), key, value))
        with t.span("operators.hampel"):
            noop(OU.hampel_flag_expr(src(), key, "ts_s", value, 15, 7.0))
        with t.span("operators.gapfill"):
            noop(GF.linear_interp_limited(src(), key, "ts_s", value, 3))
        for name, secs in (("1m", 60), ("1h", 3600), ("1d", 86400)):
            with t.span(f"operators.resample_{name}"):
                noop(resample_gated(src(), key, ts, value, secs))
        kin = src().select(key, "ts_s", value)
        with t.span("kernel.zscore_iter"):
            noop(OU.zscore_flag_iterated(kin, key, "ts_s", value))
        t.count("kernel.groups", kin.select(key).distinct().count())
        blocks_dir = str(self.work / "probe_blocks")
        with t.span("compression.encode"):
            compress_blocks(src(), key, ts, value).write.mode("overwrite").parquet(blocks_dir)
        blocks = spark.read.parquet(blocks_dir)
        with t.span("compression.decode"):
            noop(decompress_blocks(blocks, key))
        sums = blocks.agg(F.sum("enc_bytes"), F.sum("raw_bytes")).first()
        t.count("compression.enc_bytes", sums[0])
        t.count("compression.raw_bytes", sums[1])

    def probe_tiers(self) -> list[str]:
        """One streamed TierEngine ingest round (``ingest.py``) with its
        output checks: the tier and streaming layers of the ledger."""
        import ingest

        probe = ingest.TierIngest(self.spark, self.work / "probe_ingest", self.seed, self.tracer)
        probe.generate()
        print(f"# tier ingest: {json.dumps(probe.sizes())}", flush=True)
        probe.run()
        return probe.check()

    def probe_registry(self) -> None:
        """Two registry queries over a small generated table set, for
        workloads whose own rounds leave the registry layer idle."""
        import registry

        mini = registry.Workload(self.spark, self.work / "probe_registry", self.seed, self.tracer,
                                 sample=registry.PROBE_SAMPLE)
        mini.generate()
        mini.round(0)

    # -- ledger -------------------------------------------------------------------
    def layers(self, jobs: list[dict]) -> dict[str, tuple[float, str]]:
        t = self.tracer
        c = t.counts

        def jobs_in(*names):
            return jobs_within(jobs, [w for n in names for w in t.windows(n)])

        rounds = t.windows("round")  # the traced round
        kernel = task_sums(jobs_in("kernel.zscore_iter"))
        main = task_sums(jobs_within(jobs, rounds))
        applies = t.windows("tiers.apply_batch")
        trigger = c.get("streaming.trigger_s", 0.0)
        sink_s = sum(b - a for a, b in t.windows("sink.write") if any(r0 <= a <= r1 for r0, r1 in rounds))
        return {
            "sources.scan_s": (t.total("sources.scan"), "s"),
            "sources.input_rows": (c.get("sources.input_rows", 0), "count"),
            "sources.input_bytes": (c.get("sources.input_bytes", 0), "B"),
            "operators.dedup_s": (t.total("operators.dedup"), "s"),
            "operators.flags_s": (t.total("operators.flags"), "s"),
            "operators.hampel_s": (t.total("operators.hampel"), "s"),
            "operators.gapfill_s": (t.total("operators.gapfill"), "s"),
            "operators.resample_1m_s": (t.total("operators.resample_1m"), "s"),
            "operators.resample_1h_s": (t.total("operators.resample_1h"), "s"),
            "operators.resample_1d_s": (t.total("operators.resample_1d"), "s"),
            "kernel.zscore_iter_s": (t.total("kernel.zscore_iter"), "s"),
            "kernel.groups": (c.get("kernel.groups", 0), "count"),
            "kernel.python_s": (kernel["python_s"], "s"),
            "kernel.arrow_bytes_out": (kernel["arrow_out"], "B"),
            "kernel.arrow_bytes_in": (kernel["arrow_in"], "B"),
            "compression.encode_s": (t.total("compression.encode"), "s"),
            "compression.decode_s": (t.total("compression.decode"), "s"),
            "compression.ratio": (c.get("compression.enc_bytes", 0) / max(1, c.get("compression.raw_bytes", 0)),
                                  "ratio"),
            "sink.write_s": (sink_s, "s"),
            "sink.files": (c.get("sink.files", 0), "count"),
            "sink.bytes": (c.get("sink.bytes", 0), "B"),
            "tiers.apply_s": (median(t.durations("tiers.apply_batch")), "s"),
            "tiers.apply_jobs": (len(jobs_in("tiers.apply_batch")) / max(1, len(applies)), "count"),
            "tiers.read_s": (median(t.durations("tiers.read")), "s"),
            "tiers.compact_s": (t.total("tiers.compact"), "s"),
            "tiers.expire_s": (t.total("tiers.expire"), "s"),
            "tiers.files": (c.get("tiers.files", 0), "count"),
            "tiers.manifest_bytes": (c.get("tiers.manifest_bytes", 0), "B"),
            "tiers.write_amp": (c.get("tiers.batch_bytes", 0) / max(1, c.get("tiers.delta_bytes", 0)),
                                "ratio"),
            "streaming.trigger_s": (trigger, "s"),
            "streaming.add_batch_s": (c.get("streaming.add_batch_s", 0.0), "s"),
            "streaming.overhead_s": (trigger - t.total("streaming.sink"), "s"),
            "registry.build_s": (t.total("registry.build"), "s"),
            "registry.exec_s": (t.total("registry.exec"), "s"),
            "registry.eager_jobs": (len(jobs_in("registry.build")), "count"),
            "registry.jobs": (len(jobs_in("registry.build", "registry.exec")), "count"),
            "spark.shuffle_write_bytes": (main["shuffle_write"], "B"),
            "spark.shuffle_read_bytes": (main["shuffle_read"], "B"),
            "spark.spill_bytes": (main["spill"], "B"),
            "spark.tasks": (main["tasks"], "count"),
            "spark.executor_cpu_s": (main["cpu_s"], "s"),
            "spark.gc_s": (main["gc_s"], "s"),
            "spark.python_s": (main["python_s"], "s"),
        }
