#!/usr/bin/env python3
"""Write ``BENCHMARK.json`` and ``perfbench/metrics.json`` from the
runner's own tables, so the two never drift from what ``run.py`` prints:

    python3 perfbench/describe.py

``BENCHMARK.json`` holds only the keys its fixed format has.
``metrics.json`` holds the rest: what each metric measures, the
workloads it applies to, which end-to-end metric each per-layer metric
should move, the query slice a run times and the family of every
``bench.HEADLINE`` query.
"""

from __future__ import annotations

import json
import os
import sys
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

RUN_SECONDS = 10
BOUND = 0.25  # the share of the parent's median a metric may worsen by

WHY = {
    "hot_small": "COW and MOR commits of ~0.1% of rows on the newest partitions, each MOR "
                 "commit compacted, beside a fixed slice of headline queries",
    "uniform_large": "COW and MOR commits of ~2% of rows spread over every partition, each MOR "
                     "commit compacted, beside the same query slice",
}

E2E_WHAT = {
    "setup_s": "input generation + session start + warm-up (both commit-stream tables "
               "bootstrapped, then every query once, its output checked)",
    "query_total_s": "sum over the query slice of each query's median wall (registry call + noop save)",
    "query_geomean_s": "geometric mean of the same per-query medians",
    "bootstrap_p50_s": "ledgered engine.bootstrap of the events source into a fresh COW table, "
                       "incl. validate + reconcile (one a run)",
    "resume_p50_s": "engine.bootstrap(resume=True) of that table after one full-week partition "
                    "was dropped and another truncated (one a run)",
    "cow_commit_p50_s": "TableServices commit on the COW lineitem table: one upsert, delete, "
                        "upsert_partial and merge each, in that order",
    "mor_commit_p50_s": "TableServices commit on the MOR events table: three upserts, then a delete",
    "snapshot_read_p50_s": "MOR read() materialised through the noop sink, after each MOR commit",
    "cdc_read_p50_s": "cdc(since) over the MOR commit just made, collected, after every second "
                      "MOR commit",
    "lookup_p50_s": "index.point_lookup of a seeded 64-key batch, collected; six batches, one a "
                    "turn, after refresh_indexes, which follows the fourth COW commit",
    "compact_p50_s": "compact_if_needed after each MOR commit, with a policy that folds any log, so "
                     "each call compacts that commit (four a run)",
    "space_amp": "bytes on disk of both commit-stream tables (base + log) / bytes of their final "
                 "snapshots written once by pyarrow",
}

# layer → (end-to-end metrics it should move, where)
LAYER_MOVES = {
    "session": (["setup_s"], "both workloads"),
    "io": (["bootstrap_p50_s"], "both workloads"),
    "validate": (["bootstrap_p50_s"], "both workloads"),
    "ledger": (["mor_commit_p50_s"], "both; the fixed per-commit cost is the largest share on hot_small"),
    "concurrency": (["mor_commit_p50_s"], "both; as ledger"),
    "write": (["cow_commit_p50_s", "space_amp"], "hot_small vs uniform_large (hot-tail vs uniform batches)"),
    "table": (["snapshot_read_p50_s", "compact_p50_s", "mor_commit_p50_s"], "both workloads"),
    "timeline": (["cdc_read_p50_s"], "both workloads"),
    "repair": (["resume_p50_s"], "both workloads"),
    "index": (["lookup_p50_s"], "both workloads"),
    "queries": (["query_total_s", "query_geomean_s"], "both workloads (the query slice)"),
    "ops": (["query_total_s"], "both workloads (corpus_ops queries of the slice); "
                               "relational queries predict no change"),
    "streaming": (["query_total_s"], "both workloads (stream_ queries of the slice)"),
    "spark": (["query_geomean_s", "query_total_s", "cow_commit_p50_s"], "both workloads"),
    "trace": ([], "the traced run itself"),
    "run": ([], "both workloads"),
}
METRIC_MOVES = {
    "table.snapshot_resolve_s": ["snapshot_read_p50_s"],
    "table.log_over_base_bytes": ["snapshot_read_p50_s", "mor_commit_p50_s"],
    "table.compact_bytes_rewritten": ["compact_p50_s"],
}
PL_WHAT = {
    "session.start_s": "get_spark() wall",
    "ledger.events": "ledger begin/finish events per commit",
    "validate.reconcile_jobs": "Spark jobs per reconcile",
    "write.partitions_rewritten": "partition dirs with new data files per COW commit",
    "write.files_written": "new data files per COW commit",
    "write.bytes_written_per_user_byte": "bytes of new data files / bytes of the commit's input batch",
    "table.log_over_base_bytes": "MOR log bytes / base bytes after each MOR commit",
    "table.compact_bytes_rewritten": "bytes of the base files a compaction wrote or replaced "
                                     "(partition-scoped compaction rewrites only the partitions "
                                     "the log touched)",
    "repair.damaged_over_rewritten": "damaged partitions among those resume rewrote / partitions it "
                                     "rewrote (useful / attempted)",
    "index.files_read_per_lookup": "files the timed lookup's scans read (event log \"number of "
                                   "files read\"), the key batch's own file included",
    "index.bytes_read_per_lookup": "input bytes of the timed lookup's tasks (event log)",
    "index.bloom_false_positive_ratio": "bloom candidate files holding none of a batch's keys / "
                                        "candidates (bloom index built after the window)",
    "queries.build_s": "sum of per-query medians of the build phase (the registry call)",
    "queries.exec_s": "sum of per-query medians of the exec phase (the noop save)",
    "queries.build_jobs": "Spark jobs the query functions launch while building (sum of per-query medians)",
    "queries.exec_jobs": "Spark jobs of the noop saves (sum of per-query medians)",
    "streaming.query_s": "sum of per-query medians of the slice's stream_ queries",
    "trace.self_time_coverage": "share of the window's wall inside a stream step's span (the rest is "
                                "the scheduler); self time by span name is in the detail line",
    "trace.bookkeeping_s": "time spent inside the tracer itself",
    "trace.query_total_s": "query_total_s of the traced run; tracing overhead = this - the untraced value",
    "trace.cow_commit_p50_s": "cow_commit_p50_s of the traced run; overhead as above",
    "run.failed_ratio": "failed or output-mismatched operations / attempted",
    "run.peak_rss_mb": "peak RSS of the benchmark's Python process plus the JVM (VmHWM), at the end of the run",
}


def per_layer_what(name: str) -> str:
    layer = name.split(".")[0]
    if name in PL_WHAT:
        return PL_WHAT[name]
    if layer == "spark":
        return "event-log counter per stream step of the window"
    if layer == "ops":
        return "sum of per-query medians of the slice's queries of this family"
    return "median span duration of the layer call"


def documents() -> tuple[dict, dict]:
    sys.path[:0] = [HERE, ROOT]
    import lifecycle
    import querymix
    import run
    from bench import HEADLINE

    workloads = list(run.WORKLOADS)
    bench = {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": WHY[n]} for n in workloads],
        "end_to_end": [{"name": n, "unit": u, "better": "lower", "bound": BOUND}
                       for n, u in run.END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, (u, b) in run.PER_LAYER.items()],
    }
    per_layer = {}
    for n, (u, b) in run.PER_LAYER.items():
        moves, on = LAYER_MOVES[n.split(".")[0]]
        per_layer[n] = {"unit": u, "better": b, "workloads": workloads,
                        "moves": METRIC_MOVES.get(n, moves), "on": on, "what": per_layer_what(n)}
    metrics = {
        "about": "What each metric of BENCHMARK.json measures, the workloads it applies to, "
                 "which end-to-end metric each per-layer metric should move, and the query "
                 "slice; written by perfbench/describe.py.",
        "end_to_end": {n: {"unit": u, "better": "lower", "bound": BOUND, "workloads": workloads,
                           "what": E2E_WHAT[n]} for n, u in run.END_TO_END.items()},
        "commit_tails": "cow_commit_tail_s / mor_commit_tail_s (the highest of p99/p95/p90/p75/p50 "
                        "with >= 10 samples beyond it) are printed in each run's detail line with "
                        "their percentile and sample count; a run makes too few commits for a tail "
                        "above p50, so they are not end-to-end metrics.",
        "per_layer": per_layer,
        "workloads": {n: {"why": WHY[n], "profile": asdict(prof),
                          "queries": querymix.slice_names()}
                      for n, prof in run.WORKLOADS.items()},
        "stream_order": list(run.STREAM_ORDER),
        "quotas": lifecycle.QUOTA,
        "query_sf": run.QUERY_SF,
        "query_slice": querymix.SLICE,
        "families": {f: [n for n in HEADLINE if querymix.family(n) == f]
                     for f in ("relational", "corpus_ops", "write_path")},
    }
    return bench, metrics


def main() -> None:
    bench, metrics = documents()
    for path, doc in ((os.path.join(ROOT, "BENCHMARK.json"), bench),
                      (os.path.join(HERE, "metrics.json"), metrics)):
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
