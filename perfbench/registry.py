"""``registry_mix``: a stratified sample of registry queries over generated
star-schema tables.  Each op builds the query's DataFrame fresh (build
time, eager jobs included) and materializes it through the noop sink (exec
time) under a per-op deadline.  A round runs every sampled query once.

The warm-up collects every query's rows once; they are compared with the
query's DuckDB twin from ``ORACLE_SQL``.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

from common import OpDeadline, fresh_dir, noop, tree_size
from layers import Layers

# fixed strata, run in this order, so every seed measures the same mix;
# the seed changes the table contents
SAMPLE = {
    # the Python node disappears from the optimized plan under count()
    "pruned_under_count": ["damerau_levenshtein_dedup"],
    # another Python-kernel query (a grouped pandas kernel that stays in
    # the plan under count()); its function needs the package on the
    # workers' path
    "python_kernel": ["dedup_embed_cosine"],
    # deep unrolled plan: heavy driver-side build and hundreds of Exchanges
    "deep_lineage": ["median_polish"],
    # pure expression plan
    "expression_only": ["resample_30min_gated"],
}
SF = 0.001
DEADLINE_S = 30.0
PROBE_SAMPLE = {"python_kernel": ["dedup_embed_cosine"], "expression_only": ["resample_30min_gated"]}


class Workload(Layers):
    def __init__(self, spark, work, seed, tracer, sample=SAMPLE, sf=SF):
        super().__init__(spark, work, seed, tracer)
        self.sample = sample
        self.sf = sf
        self.data = work / "tables"
        self.order = [q for qs in sample.values() for q in qs]

    # -- set-up -------------------------------------------------------------------
    def generate(self) -> None:
        import __spark_entry__ as entry
        import gendata

        self.rows = gendata.registry_tables(fresh_dir(self.data), self.seed, self.sf)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()

    def sizes(self) -> dict:
        return {"sf": self.sf, "table_rows": self.rows, "strata": self.sample,
                "deadline_s": DEADLINE_S}

    def warmup(self) -> float:
        """Run every query once, collecting its rows for the output check."""
        self.collected = {}
        spent = 0.0
        for name in self.order:
            with OpDeadline(self.spark, f"warm-{name}", DEADLINE_S) as dl:
                t0 = time.perf_counter()
                try:
                    df = self.queries[name](self.spark, str(self.data))
                    self.collected[name] = (df.columns, dict(df.dtypes), [tuple(r) for r in df.collect()])
                except Exception as e:  # noqa: BLE001 - a failed query is a result
                    self.collected[name] = e
            dt = time.perf_counter() - t0
            spent += dt
            print(f"# warm-up {name}: {dt:.2f}s", flush=True)
            if dl.expired:
                self.collected[name] = TimeoutError(f"over the {DEADLINE_S:.0f} s deadline")
            self.spark.catalog.clearCache()
        return spent

    # -- one round ------------------------------------------------------------------
    def round(self, i: int) -> dict:
        t = self.tracer
        ops = []
        for name in self.order:
            group = f"op-{i}-{name}"
            ok = True
            with OpDeadline(self.spark, group, DEADLINE_S) as dl:
                t0 = time.perf_counter()
                try:
                    with t.span("registry.build", op=group):
                        df = self.queries[name](self.spark, str(self.data))
                    with t.span("sink.write", op=group), t.span("registry.exec", op=group):
                        noop(df)
                except Exception as e:  # noqa: BLE001 - a failed op is a result
                    print(f"# {name}: {type(e).__name__}: {str(e).splitlines()[0][:200]}",
                          file=sys.stderr)
                    ok = False
            ops.append({"name": name, "seconds": time.perf_counter() - t0,
                        "ok": ok and not dl.expired})
            self.spark.catalog.clearCache()
        return {"ops": ops, "points": sum(self.rows.values())}

    def bytes_per_point(self) -> float:
        return tree_size(self.data)[1] / sum(self.rows.values())

    # -- output checks ------------------------------------------------------------------
    def check(self) -> list[str]:
        """Each query's rows equal its DuckDB twin, compared with the
        normalization of ``tools/check_queries.py``."""
        import duckdb

        sys.path.insert(0, str(Path.cwd() / "tools"))
        from check_queries import TABLES, arrow_type_ok, canon

        con = duckdb.connect()
        for tname in TABLES:
            con.execute(f"CREATE VIEW {tname} AS SELECT * FROM read_parquet('{self.data / tname}.parquet')")
        problems = []
        for name in self.order:
            res = self.collected[name]
            if isinstance(res, Exception):
                problems.append(f"{name}: {type(res).__name__}: {str(res).splitlines()[0][:200]}")
                continue
            cols, dtypes, rows = res
            if name not in self.oracles:
                problems.append(f"{name}: no DuckDB twin in ORACLE_SQL, so its output is unchecked")
                continue
            tbl = con.execute(self.oracles[name]).arrow()
            otypes = {n: str(ty) for n, ty in zip(tbl.schema.names, tbl.schema.types)}
            if sorted(cols) != sorted(tbl.column_names):
                problems.append(f"{name}: columns {sorted(cols)} vs oracle {sorted(tbl.column_names)}")
            elif not all(arrow_type_ok(dtypes[c], otypes[c]) for c in cols):
                problems.append(f"{name}: column types differ from the oracle")
            elif canon(rows, cols) != canon([tuple(r.values()) for r in tbl.to_pylist()], tbl.column_names):
                problems.append(f"{name}: rows differ from the DuckDB oracle")
        con.close()
        return problems

    # -- traced run ---------------------------------------------------------------
    def probes(self) -> list[str]:
        self.probe_series(str(self.data / "events.parquet"), "user_id", "ts", "value", "event_id")
        return self.probe_tiers()
