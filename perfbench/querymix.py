"""The analytics side of the mix: a fixed slice of ``bench.HEADLINE``.

Each query is timed as registry call (build: the query function,
including any eager actions it runs) plus a ``noop``-sink save (exec),
as ``bench.py`` times it. The warm-up pass collects every output once
and hashes it against the query's DuckDB oracle.
"""

from __future__ import annotations

import duckdb

# HEADLINE split by what does the work. "write_path" queries upsert,
# merge into or index a scratch table (v_table_diff and
# scd2_incremental_apply only transform DataFrames, so they are
# relational); the lifecycle drives those layers through their public
# functions instead.
CORPUS_PREFIXES = ("dedup_", "sim_", "text_", "rtr_", "pack_", "pipeline_", "mm_",
                   "cluster_", "corpus_", "er_", "web_")
WRITE_PATH = ("s7_partial_update", "merge_multi_action", "index_bloom_lookup",
              "index_secondary_lookup")

# The slice a run times: one query of every family the layer metrics
# name, the cheapest that still does the family's work (sim_ivf_topk
# trains its IVF index eagerly: the build-heavy fit), so that
# a pass fits a run beside the lifecycle.
SLICE = {
    "relational": ["q5_region_revenue", "stream_tumbling_counts"],
    "corpus_ops": ["dedup_simhash", "sim_ivf_topk", "text_token_counts", "rtr_bm25_topk",
                   "pack_token_sequences", "mm_feature_extraction"],
}
# per-family query sums reported as ops.<family>_s
OPS_FAMILIES = {"dedup": "dedup_", "similarity": "sim_", "text": "text_",
                "retrieval": "rtr_", "pack": "pack_", "multimodal": "mm_"}


def family(name: str) -> str:
    if name in WRITE_PATH:
        return "write_path"
    return "corpus_ops" if name.startswith(CORPUS_PREFIXES) else "relational"


def slice_names() -> list[str]:
    return SLICE["relational"] + SLICE["corpus_ops"]


class QueryMix:
    def __init__(self, spark, tracer, corpus_dir: str, order: list[str]):
        import __spark_entry__ as entry

        self.spark, self.tracer, self.dir = spark, tracer, corpus_dir
        self.registry = entry.queries()
        self.oracles = entry.oracle_sql()
        self.order = order
        self.per_query: dict[str, list[tuple[float, float]]] = {n: [] for n in order}
        self.passes = 0
        self._next = 0

    def _collect(self, name: str):
        try:
            df = self.registry[name](self.spark, self.dir)
            return df.collect(), df.columns
        except Exception as exc:  # recorded as a failed operation
            return exc, None

    def warm_and_check(self, threads: int) -> list[str]:
        """Run every query once, collecting its rows, and compare them
        with the DuckDB oracle (row count, column names, value hash).
        Untimed, so it runs four queries at a time like bench.py's
        warm-up; queries registered as sequential run alone."""
        from concurrent.futures import ThreadPoolExecutor

        from hudi_utility_spark.queries import SEQUENTIAL
        from tools.check_oracles import value_hash

        from datagen import CORPUS_TABLES

        par = [n for n in self.order if n not in SEQUENTIAL]
        with ThreadPoolExecutor(max_workers=threads) as pool:
            out = dict(zip(par, pool.map(self._collect, par)))
        for n in self.order:
            if n in SEQUENTIAL:
                out[n] = self._collect(n)
        self.spark.catalog.clearCache()

        con = duckdb.connect()
        for t in CORPUS_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')")
        failures = []
        for name in self.order:
            rows, cols = out[name]
            if cols is None:
                failures.append(f"{name}: {type(rows).__name__}: {str(rows).splitlines()[0][:200]}")
            elif name not in self.oracles:
                if not rows:
                    failures.append(f"{name}: no rows (rows-only check)")
            else:
                res = con.execute(self.oracles[name])
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                if len(rows) != len(drows) or sorted(cols) != sorted(dcols):
                    failures.append(f"{name}: {len(rows)} rows {sorted(cols)} vs oracle "
                                    f"{len(drows)} rows {sorted(dcols)}")
                elif value_hash([tuple(r) for r in rows], cols) != value_hash(drows, dcols):
                    failures.append(f"{name}: value hash differs from the DuckDB oracle")
        return failures

    def steps(self):
        """Generator: time the next query of the permuted order per
        ``next()``, pass after pass; yields a failure reason or None."""
        while True:
            name = self.order[self._next]
            err = None
            try:
                with self.tracer.span("query", query=name):
                    with self.tracer.span("queries.build") as b:
                        df = self.registry[name](self.spark, self.dir)
                    with self.tracer.span("queries.exec") as e:
                        df.write.format("noop").mode("overwrite").save()
                self.per_query[name].append((b.end - b.start, e.end - e.start))
            except Exception as exc:  # recorded as a failed operation
                err = f"query {name}: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
            self.spark.catalog.clearCache()
            self._next += 1
            if self._next == len(self.order):
                self._next = 0
                self.passes += 1
            yield err

    def pass_open(self) -> bool:
        return self._next != 0 or self.passes == 0

    def medians(self) -> dict[str, tuple[float, float, float]]:
        """name → median (total, build, exec) seconds over its samples."""
        import statistics as st

        out = {}
        for n, xs in self.per_query.items():
            if xs:
                out[n] = (st.median(b + e for b, e in xs), st.median(b for b, _ in xs),
                          st.median(e for _, e in xs))
        return out
