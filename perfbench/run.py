"""Benchmark of the diive_spark rollup engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload rollup_batch --seed 1 --seconds 5 --trace 0

Workloads (see ``perfbench/README.md`` for sizes and the layer map):

* ``rollup_batch`` — one-shot backfill of a url-skewed series through the
  per-sensor QC pipeline into 1m/1h/1d tiers plus Gorilla cold blocks;
* ``registry_mix`` — a stratified sample of registry queries, built and
  executed (noop sink) one at a time under a per-op deadline.

Traced runs add the tier ingest of ``ingest.py`` (file drops streamed
through ``foreachBatch`` into ``TierEngine``) as the ledger's tier and
streaming probe.

Each run is one closed loop with one client on ``local[nproc]``: rounds of
the workload run back to back until ``--seconds`` have passed.  Outputs are
checked outside the timed region.  The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer ledger with
``--trace 1``.  Exit code 2 means the checkout lacks the engine.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from common import (  # noqa: E402
    Tracer,
    fresh_dir,
    median,
    peak_rss_mb,
    prepare_env,
    read_event_log,
    start_session,
    stop_session,
    tail,
)

WORKLOADS = {
    "rollup_batch": "rollup",
    "registry_mix": "registry",
}

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "points_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "bytes_per_point": "B",
}


def timed_rounds(bench, seconds: float, tracer: Tracer) -> list[dict]:
    """Closed loop: start rounds until ``seconds`` have elapsed; at least
    one round always runs."""
    rounds = []
    t_end = time.perf_counter() + seconds
    while not rounds or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        with tracer.span("round", op=f"round-{len(rounds)}"):
            rec = bench.round(len(rounds))
        rec["wall"] = time.perf_counter() - t0
        rounds.append(rec)
    return rounds


def e2e_metrics(rounds: list[dict], setup_s: float, bench) -> dict:
    ops = [op for r in rounds for op in r["ops"]]
    lat = [op["seconds"] for op in ops]
    tail_s, tail_p, n = tail(lat)
    print("# ops: " + " ".join(f"{op['name']}={op['seconds']:.2f}" for op in ops), flush=True)
    print(f"# op_tail_s is p{tail_p:.1f} of {n} ops; wall_s is the median of {len(rounds)} rounds",
          flush=True)
    return {
        "setup_s": setup_s,
        "wall_s": median([r["wall"] for r in rounds]),
        "points_per_s": sum(r["points"] for r in rounds) / sum(r["wall"] for r in rounds),
        "op_p50_s": median(lat),
        "op_tail_s": tail_s,
        "bytes_per_point": bench.bytes_per_point(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--registry-sf", type=float, default=None,
                    help="scale of registry_mix's generated tables (default 0.001); "
                         "for manual runs only, the recorded figures use the default")
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "diive_spark" / "__init__.py").is_file():
        print(f"perfbench: no diive_spark package under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    work = fresh_dir(root / ".perfbench_work" / f"{args.workload}-{os.getpid()}")
    try:
        result = run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, root: Path, work: Path) -> dict:
    prepare_env(root, work)
    sys.path.insert(0, str(root))
    module = importlib.import_module(WORKLOADS[args.workload])

    tracer = Tracer(False)
    spark, start_s = start_session(work, event_log=bool(args.trace))
    try:
        opts = {"sf": args.registry_sf} if args.workload == "registry_mix" and args.registry_sf else {}
        bench = module.Workload(spark, work, args.seed, tracer, **opts)
        t0 = time.perf_counter()
        bench.generate()
        gen_s = time.perf_counter() - t0
        warm_s = bench.warmup()
        setup_s = start_s + gen_s + warm_s
        print(f"# setup: session {start_s:.2f}s, inputs {gen_s:.2f}s, warm-up {warm_s:.2f}s; "
              f"{json.dumps(bench.sizes())}", flush=True)

        # a traced run reports only the ledger, so its timed rounds are the
        # traced ones
        tracer.enabled = bool(args.trace)
        rounds = timed_rounds(bench, args.seconds, tracer)
        problems = bench.check()
        # not a metric: it moved by more than a tenth between seeds
        print(f"# peak_rss_mb: {peak_rss_mb(spark):.1f}", flush=True)
        if args.trace:
            problems += bench.probes()
    finally:
        stop_session(spark)

    ops = [op for r in rounds for op in r["ops"]]
    failed = [op["name"] for op in ops if not op["ok"]]
    for name in failed:
        print(f"# FAILED op: {name}", flush=True)
    for p in problems:
        print(f"# CHECK FAILED: {p}", flush=True)

    if args.trace:
        traces = root / ".perfbench_work" / "traces"
        traces.mkdir(exist_ok=True)
        tracer.dump(traces / f"{args.workload}-seed{args.seed}.jsonl")
        metrics = bench.layers(read_event_log(work / "eventlog"))
        metrics["session.start_s"] = (start_s, "s")
        metrics["session.warmup_s"] = (warm_s, "s")
        metrics["trace.overhead_s"] = (tracer.overhead_s, "s")
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        vals = e2e_metrics(rounds, setup_s, bench)
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}
    return {"correct": not problems, "attempted": len(ops), "failed": len(failed), "metrics": out}


if __name__ == "__main__":
    sys.exit(main())
