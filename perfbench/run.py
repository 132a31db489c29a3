#!/usr/bin/env python3
"""Benchmark of the keyed-table lifecycle and the analytics query layer.

    python3 perfbench/run.py --workload hot_small --seed 1 --seconds 20 --trace 0

Run from the repository root. Every workload is one closed-loop client
(one operation in flight) on ``local[$(nproc)]`` that interleaves four
streams of operations: the three lifecycle streams of ``lifecycle.py``
(bootstrap + resume, COW commits + lookups, MOR commits + reads +
compaction) and a fixed slice of the headline queries. Each lifecycle
stream runs until its operations have their quota of samples; the query
stream runs passes for ``--seconds`` and finishes the pass it is in.
The streams take turns, one operation each, in a fixed order, so every
run makes the same operations in the same order. Workloads differ in
the lifecycle's input properties (batch size, key skew, MOR log depth);
the seed picks the keys, values and query order inside them.

All files live under ``.perfbench/<workload>/`` in the current
directory. The last stdout line is the result object; the line before
it holds the environment stamp, per-metric details and the reason for
every failed operation. ``--trace 1`` is a separate run that wraps the
program's layer calls in spans, turns Spark's event log on, and reports
the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import resource
import shutil
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import lifecycle  # noqa: E402
import querymix  # noqa: E402
import stats  # noqa: E402
from datagen import LifecycleProfile, write_corpus, write_lifecycle  # noqa: E402
from spans import (SPARK_COUNTERS, Tracer, counters_by_span, inclusive,  # noqa: E402
                   spark_counters_by_group)


WORKLOADS = {
    "hot_small": LifecycleProfile(batch_frac=0.001, hot_tail=True),
    "uniform_large": LifecycleProfile(batch_frac=0.02, hot_tail=False),
}
STREAM_ORDER = ("boot", "cow", "mor", "queries")  # the order streams take turns in
WINDOW_LIMIT_S = 140  # no lifecycle operation starts later in a run, so it ends in time
QUERY_SF = 0.01  # scale of the corpus tables the query slice reads

END_TO_END = {  # name → unit
    "setup_s": "s", "query_total_s": "s", "query_geomean_s": "s",
    "bootstrap_p50_s": "s", "cow_commit_p50_s": "s", "mor_commit_p50_s": "s",
    "snapshot_read_p50_s": "s", "cdc_read_p50_s": "s", "lookup_p50_s": "s",
    "compact_p50_s": "s", "resume_p50_s": "s", "space_amp": "ratio",
}

# per-layer metrics of a traced run: name → (unit, better)
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "io.read_source_s": ("s", "lower"),
    "validate.reconcile_s": ("s", "lower"),
    "validate.reconcile_jobs": ("count", "lower"),
    "ledger.event_s": ("s", "lower"),
    "ledger.events": ("count", "lower"),
    "concurrency.lock_acquire_s": ("s", "lower"),
    "write.upsert_s": ("s", "lower"),
    "write.delete_keys_s": ("s", "lower"),
    "write.merge_into_s": ("s", "lower"),
    "write.partitions_rewritten": ("count", "lower"),
    "write.files_written": ("count", "lower"),
    "write.bytes_written_per_user_byte": ("ratio", "lower"),
    "table.snapshot_resolve_s": ("s", "lower"),
    "table.log_over_base_bytes": ("ratio", "lower"),
    "table.compact_bytes_rewritten": ("bytes", "lower"),
    "timeline.cdc_s": ("s", "lower"),
    "repair.diff_s": ("s", "lower"),
    "repair.damaged_over_rewritten": ("ratio", "higher"),
    "index.refresh_s": ("s", "lower"),
    "index.lookup_s": ("s", "lower"),
    "index.files_read_per_lookup": ("count", "lower"),
    "index.bytes_read_per_lookup": ("bytes", "lower"),
    "index.bloom_false_positive_ratio": ("ratio", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.exec_s": ("s", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "queries.exec_jobs": ("count", "lower"),
    "ops.dedup_s": ("s", "lower"),
    "ops.similarity_s": ("s", "lower"),
    "ops.text_s": ("s", "lower"),
    "ops.retrieval_s": ("s", "lower"),
    "ops.pack_s": ("s", "lower"),
    "ops.multimodal_s": ("s", "lower"),
    "streaming.query_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_ms": ("ms", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "spark.shuffle_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.input_bytes": ("bytes", "lower"),
    "spark.files_read": ("count", "lower"),
    "trace.self_time_coverage": ("ratio", "higher"),
    "trace.bookkeeping_s": ("s", "lower"),
    "trace.query_total_s": ("s", "lower"),
    "trace.cow_commit_p50_s": ("s", "lower"),
    "run.failed_ratio": ("ratio", "lower"),
    "run.peak_rss_mb": ("MB", "lower"),
}


class Stream:
    """A closed loop of timed operations (one in flight) and the window
    time it has used so far."""

    def __init__(self, name: str, steps):
        self.name, self.steps = name, steps
        self.used, self.done = 0.0, False

    def step(self) -> tuple[bool, str | None]:
        """Run the next operation: (whether one ran, failure reason)."""
        t = time.perf_counter()
        try:
            ran, err = True, next(self.steps)
        except StopIteration:
            self.done, ran, err = True, False, None
        except Exception as exc:  # the stream's state is unknown: stop it
            self.done = True
            ran, err = True, f"{self.name}: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}"
        self.used += time.perf_counter() - t
        return ran, err


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7]


def steal_share(start: tuple[int, int]) -> float:
    """Share of the host's CPU time since *start* stolen by the hypervisor."""
    total, steal = cpu_ticks()
    return (steal - start[1]) / max(total - start[0], 1)


def spin_marker() -> float:
    """Seconds for a fixed arithmetic loop: a CPU load marker."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0


def environment(spark, work: str) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    st = os.statvfs(work)
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    medium = "?"
    with open("/proc/mounts") as f:
        best = ""
        for line in f:
            dev, mnt, fstype = line.split()[:3]
            if os.path.realpath(work).startswith(mnt) and len(mnt) >= len(best):
                best, medium = mnt, f"{fstype} ({dev} on {mnt})"
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark.master": conf.get("spark.master"),
        "spark.driver.memory": conf.get("spark.driver.memory"),
        "host_ram_gb": round(mem_kb / 2**20, 1),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "scratch": os.environ.get("SPARK_GRAFT_SCRATCH"),
        "scratch_medium": medium,
        "scratch_free_gb": round(st.f_bavail * st.f_frsize / 2**30, 1),
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "pyarrow": pyarrow.__version__, "python": platform.python_version(),
    }


def prepare_env(work: str, root: str) -> None:
    """Keep every file the program and Spark write inside *work*."""
    for d in ("scratch", "local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers unpickle the package's UDFs: they need the root on their path
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")


def jvm_peak_rss_kb(spark) -> int:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    from hudi_utility_spark.session import get_spark  # fails fast outside a checkout

    prof = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, root)
    spin_start = spin_marker()
    ticks_start = cpu_ticks()

    t_setup = time.perf_counter()
    corpus_dir = os.path.join(work, "corpus")
    write_corpus(args.seed, corpus_dir, QUERY_SF)
    plan = write_lifecycle(args.seed, os.path.join(work, "inputs"), prof)
    gen_s = time.perf_counter() - t_setup

    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"}
    if args.trace:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": os.path.join(work, "eventlog")})
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", **conf)
    session_s = time.perf_counter() - t0

    tracer = Tracer(f"{args.workload}-{args.seed}-{args.trace}", bool(args.trace))
    tracer.bind(spark)
    tracer.patch()
    failures: list[str] = []
    samples: dict[str, list[float]] = {}
    rng = random.Random(args.seed)
    order = querymix.slice_names()
    rng.shuffle(order)

    # warm-up, untimed: every query once (its output checked against the
    # oracle) while two more threads bootstrap the commit-stream tables
    t0 = time.perf_counter()
    qmix = querymix.QueryMix(spark, tracer, corpus_dir, order)
    life = lifecycle.Lifecycle(spark, tracer, work, plan, samples)

    def timed(fn):
        fn()
        return fn.__name__, time.perf_counter() - t0

    with tracer.paused(), ThreadPoolExecutor(max_workers=2) as pool:
        warm_life = [pool.submit(timed, life.warm_cow), pool.submit(timed, life.warm_mor)]
        failures += qmix.warm_and_check(threads=4)
        warm_q_s = time.perf_counter() - t0
        try:
            warm_life_s = dict(f.result() for f in warm_life)
            life_ok = True
        except Exception as exc:
            failures.append(f"lifecycle warm-up: {type(exc).__name__}: {str(exc).splitlines()[0][:200]}")
            life_ok, warm_life_s = False, {}
    warm_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_setup
    attempted = len(order) + 1

    steps = {"queries": qmix.steps(), **(life.streams if life_ok else {})}
    streams = [Stream(name, steps[name]) for name in STREAM_ORDER if name in steps]

    # start the window from a collected heap, so a collection the warm-up
    # made necessary does not land in the first timed operations
    spark.sparkContext._jvm.System.gc()
    deadline = time.perf_counter() + args.seconds
    # A lifecycle stream runs until its operations have their quota of
    # samples, whatever the clock says: a fixed amount of lifecycle work
    # per run. The query stream runs passes until the deadline and
    # finishes the pass it is in, so every query has a sample. The
    # window ends when no stream has work left.
    def live(st: Stream) -> bool:
        if st.done:
            return False
        if st.name == "queries":
            return time.perf_counter() < deadline or qmix.pass_open()
        return life.missing(st.name) and time.perf_counter() < t_start + WINDOW_LIMIT_S

    with tracer.span("window") as window:
        while any(live(st) for st in streams):
            for st in streams:
                if live(st):
                    with tracer.span(f"stream.{st.name}"):
                        ran, err = st.step()
                    attempted += ran
                    if err:
                        failures.append(err)
    window_s = window.end - window.start
    tracer.unpatch()
    t_window_end = time.perf_counter()

    # checks and derived numbers, outside the window
    metrics: dict[str, float] = {}
    if life_ok:
        failures += life.check()
        if args.trace:
            life.bloom_false_positives()
        attempted += 3  # the final snapshots and the bootstrap table
        metrics["space_amp"] = life.space_amp()
    t_check = time.perf_counter() - t_window_end
    peak_rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                   + jvm_peak_rss_kb(spark)) / 1024
    env = environment(spark, work)
    t0 = time.perf_counter()
    stop_spark(spark)
    stop_s = time.perf_counter() - t0

    med = qmix.medians()
    totals = [v[0] for v in med.values()]
    metrics.update({"setup_s": setup_s, "query_total_s": sum(totals),
                    "query_geomean_s": stats.geomean(totals)})
    detail: dict = {"samples_s": samples,
                    "query_passes": qmix.passes, "commits": life.applied,
                    "stream_s": {st.name: st.used for st in streams},
                    "window_s": window_s, "setup": {"generate_s": gen_s,
                    "session_s": session_s, "warm_s": warm_s,
                    "warm_queries_s": warm_q_s, "warm_lifecycle_s": warm_life_s},
                    "check_s": t_check, "stop_s": stop_s,
                    "load_marker_s": {"start": spin_start, "end": spin_marker()},
                    "cpu_steal_share": steal_share(ticks_start),
                    "peak_rss_mb": peak_rss_mb, "wall_s": time.perf_counter() - t_start}
    for name, key in (("bootstrap", "bootstrap_p50_s"), ("snapshot_read", "snapshot_read_p50_s"),
                      ("cdc_read", "cdc_read_p50_s"), ("lookup", "lookup_p50_s"),
                      ("compact", "compact_p50_s"), ("resume", "resume_p50_s"),
                      ("cow_commit", "cow_commit_p50_s"), ("mor_commit", "mor_commit_p50_s")):
        if samples.get(name):
            metrics[key] = stats.median(samples[name])
    for name in ("cow_commit", "mor_commit"):
        if samples.get(name):
            p, v = stats.tail(samples[name])
            detail[f"{name}_tail_s"] = {"value": v, "percentile": p, "samples": len(samples[name])}

    if args.trace:
        metrics = per_layer(tracer, work, qmix, life.layer, samples, session_s, window_s)
        metrics["run.failed_ratio"] = len(failures) / attempted
        metrics["run.peak_rss_mb"] = peak_rss_mb
        detail["self_s_by_span"] = tracer.self_time_by_name(window.id)
        detail["layer_samples"] = life.layer
        tracer.dump(os.path.join(work, "spans.jsonl"))
    units = {**END_TO_END, **{k: u for k, (u, _) in PER_LAYER.items()}}
    expected = PER_LAYER if args.trace else END_TO_END
    for k in sorted(set(expected) - set(metrics)):
        failures.append(f"metric {k}: no samples in this run")
    out_metrics = {k: {"value": float(v), "unit": units[k]}
                   for k, v in sorted(metrics.items()) if k in expected}
    print(json.dumps({"env": env, "detail": detail, "failures": failures,
                      "failed_ratio": len(failures) / attempted}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": out_metrics}))
    return 0


def per_layer(tracer, work, qmix, layer_notes, samples, session_s, window_s) -> dict:
    own = counters_by_span(spark_counters_by_group(os.path.join(work, "eventlog")))
    inc = inclusive(tracer, own)

    def med(name, default=0.0):
        xs = tracer.durations(name)
        return stats.median(xs) if xs else default

    def counter_per(name, counter):
        xs = [inc[s.id][counter] for s in tracer.spans if s.name == name]
        return stats.median(xs) if xs else 0.0

    m = {
        "session.start_s": session_s,
        "io.read_source_s": med("io.read_source"),
        "validate.reconcile_s": med("validate.reconcile"),
        "validate.reconcile_jobs": counter_per("validate.reconcile", "jobs"),
        "ledger.event_s": stats.median(tracer.durations("ledger.begin")
                                       + tracer.durations("ledger.finish") or [0.0]),
        "concurrency.lock_acquire_s": med("concurrency.lock_acquire"),
        "write.upsert_s": med("write.upsert"),
        "write.delete_keys_s": med("write.delete_keys"),
        "write.merge_into_s": med("write.merge_into"),
        "table.snapshot_resolve_s": med("table.read"),
        "timeline.cdc_s": med("timeline.incremental_cdc"),
        "repair.diff_s": med("repair.partitions_to_repair"),
        "index.refresh_s": med("index.refresh_indexes"),
        "index.lookup_s": med("index.point_lookup"),
        # what the timed lookup (point_lookup + collecting its rows) read
        "index.files_read_per_lookup": counter_per("lookup", "files_read"),
        "index.bytes_read_per_lookup": counter_per("lookup", "input_bytes"),
    }
    commits = [s.id for s in tracer.spans if s.name in ("cow_commit", "mor_commit")]
    root_of = {}
    for s in tracer.spans:  # parents precede children
        root_of[s.id] = s.id if s.parent is None or s.id in commits else root_of[s.parent]
    events = [s for s in tracer.spans if s.name in ("ledger.begin", "ledger.finish")
              and root_of[s.id] in commits]
    m["ledger.events"] = len(events) / max(len(commits), 1)
    for k, xs in layer_notes.items():
        m[k] = stats.median(xs)
    for k in ("table.compact_bytes_rewritten", "table.log_over_base_bytes",
              "write.partitions_rewritten", "write.files_written",
              "write.bytes_written_per_user_byte",
              "index.bloom_false_positive_ratio", "repair.damaged_over_rewritten"):
        m.setdefault(k, 0.0)

    q = qmix.medians()
    m["queries.build_s"] = sum(v[1] for v in q.values())
    m["queries.exec_s"] = sum(v[2] for v in q.values())
    for phase in ("build", "exec"):
        per_q: dict[str, list[float]] = {}
        for s in tracer.spans:
            if s.name == f"queries.{phase}":
                parent = tracer.spans[s.parent]
                per_q.setdefault(parent.attrs["query"], []).append(inc[s.id]["jobs"])
        m[f"queries.{phase}_jobs"] = sum(stats.median(v) for v in per_q.values())
    for fam, prefix in querymix.OPS_FAMILIES.items():
        m[f"ops.{fam}_s"] = sum(v[0] for n, v in q.items() if n.startswith(prefix))
    m["streaming.query_s"] = sum(v[0] for n, v in q.items() if n.startswith("stream_"))

    # Spark counters: mean per stream step of the window
    win = next(s for s in tracer.spans if s.name == "window")
    top = [s for s in tracer.spans if s.parent == win.id]
    for k in SPARK_COUNTERS:
        m[f"spark.{k}"] = inc[win.id][k] / max(len(top), 1)
    m["trace.self_time_coverage"] = 1.0 - tracer.self_times()[win.id] / window_s
    m["trace.bookkeeping_s"] = tracer.bookkeeping_s
    m["trace.query_total_s"] = sum(v[0] for v in q.values())
    if samples.get("cow_commit"):
        m["trace.cow_commit_p50_s"] = stats.median(samples["cow_commit"])
    return m


if __name__ == "__main__":
    sys.exit(main())
