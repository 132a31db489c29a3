"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], then one
cold pass over every other registered query (disable with
--headline-only). Prints the full JSON record {"metric": ...,
"value": headline_total_sec, "unit": "sec", "queries": {name: sec},
"tail_queries": {name: sec}, "sf": ...} (also written to
BENCH_LOCAL.json), then a compact always-parseable summary as the LAST
line.

Materialization goes through the noop datasource sink — full JVM-side
execution of every operator (a bare count() would let Catalyst prune the
expensive projections away).

Every query (warmup and timed) is individually fenced: one broken query
records {"error": ...} for itself and the harness still emits the JSON
line — a benchmark that dies on query 6 of 23 produces zero evidence for
the other 17.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import __spark_entry__ as entrymod
from hudi_utility_spark.session import get_spark

# Representative slice of SURVEY §2 + north-star operators: scans+aggs,
# broadcast joins, windows, partition audit, dedup (exact/jaccard/minhash/
# simhash), similarity, text stats, streaming windows.
HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_region_revenue",
    "q7_volume_shipping",
    "q18_large_volume_customers",
    "asof_purchase_click",
    "range_join_close_events",
    "v4_partition_audit",
    "s7_latest_by_key",
    "w_rank_dense",
    "a_rollup",
    "stream_tumbling_counts",
    "stream_sessionization",
    "dedup_exact_survivors",
    "dedup_jaccard_pairs",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_bruteforce_topk",
    "sim_ivf_topk",
    "text_token_counts",
    "text_quality_stats",
    "text_chunking",
    "text_pii_redaction",
    "text_decontaminate",
    "text_repetition_profile",
    "asof_tolerance_join",
    "mm_feature_extraction",
    "pipeline_corpus_clean",
    "pack_token_sequences",
    "rtr_bm25_topk",
    "rtr_tfidf_keywords",
    "dq_constraint_report",
    "text_winnowing_fingerprints",
    "text_hot_ngram_spans",
    "text_vocab_topk",
    "sim_pq_adc_topk",
    "pipeline_uniform_sample",
    "s7_partial_update",
    "index_bloom_lookup",
    "index_secondary_lookup",
    "sim_ivfpq_topk",
    "dedup_incremental_batch",
    "stream_trending_topk",
    "ev_funnel_conversion",
    "ev_retention_cohorts",
    "ev_top_transitions",
    "ts_ohlc_resample",
    "stat_anomaly_flags",
    "co_purchase_pairs",
    "corpus_health_report",
    "text_unigram_logprob",
    "text_feature_hash_score",
    "skew_cms_heavy_hitters",
    "approx_distinct_portable",
    "pack_budget_selection",
    "stream_static_enrich",
    "dq_value_histogram",
    "sim_centroid_outliers",
    "sim_eval_decontaminate",
    "sql_api_revenue_rank",
    "ml_group_linfit",
    "scd2_incremental_apply",
    "pack_weighted_sample",
    "pack_temperature_sample",
    "graph_pagerank_parts",
    "text_span_dedup_rebuild",
    "ts_rolling_features",
    "dq_quarantine_rows",
    "j_bloom_reduced_join",
    "v_table_diff",
    "merge_multi_action",
    "stat_trimmed_mean",
    "sim_bruteforce_topk_arrow",
    "asof_forward_next_click",
    "dq_equidepth_histogram",
    "text_source_overlap",
    "ev_user_similarity",
    "rtr_inverted_index",
    "ml_tree_ensemble_score",
    "dq_pseudonymized_join",
    "variant_extract_profile",
    "variant_path_miss_audit",
    "stream_interval_join",
    "stream_sliding_counts",
    "mm_wav_decode",
    "text_dsir_select",
    "dq_k_suppression",
    "stream_true_tumbling",
    "dedup_containment_pairs",
    "er_match_pairs",
    "web_domain_stats",
    "sim_mmr_rerank",
    "sim_jl_projection_topk",
    "stream_dedup_watermark",
    "mm_image_neardup_pairs",
    "text_boilerplate_strip",
    "rtr_phrase_search",
    "text_bpe_encode",
    "dq_dp_noisy_counts",
    "plan_join_cardinality",
    "text_bigram_backoff",
    "sim_sq8_topk",
    "dedup_pq_code_groups",
    "cluster_kmeans_parallel_init",
    "ts_seasonal_decompose",
    "dq_l_diversity",
]


def _spin_marker() -> float:
    """Fixed-work CPU calibration: seconds to run a constant arithmetic
    loop. On a quiet box this is a stable constant; under the shared
    host's throttling band (SCALE.md: 190-268s same-code spread) it
    inflates proportionally — recording it beside the timings lets a
    round-over-round trend distinguish code regressions from box load."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return round(time.perf_counter() - t0, 4)


def _run_once(qs, name: str, spark, sf_dir: str) -> str | None:
    """Build + materialize one query; return an error string or None."""
    try:
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return None
    except Exception:
        return traceback.format_exc(limit=3).strip().splitlines()[-1][:300]


_CLEARS = {"n": 0}


def _clear_cache(spark) -> None:
    """Drop persisted blocks between queries, OUTSIDE the timed region:
    a few operators persist() intermediates their returned plan depends
    on (jaccard shingles, IVF centroids) and can't unpersist them before
    returning; without the clear, every run re-persists a fresh copy and
    the accumulated blocks GC-thrash later queries (measured 5.6x
    inflation over the suite). Clearing after the clock stops keeps the
    teardown cost out of per-query steady-state numbers.

    The explicit System.gc() (which lets the ContextCleaner reclaim
    broadcast/shuffle state — without it the tail inherits hundreds of
    queries of pinned blocks, measured 10x+ inflation) runs every 8th
    clear, not every clear: a full collection on this heap costs
    ~0.5-1.5s and ~400 of them pushed the whole suite past a 10-minute
    harness window once the registry hit ~300 queries. Every-8 bounds
    pinned-block accumulation to a handful of queries' worth while
    paying the GC tax ~50 times, not 400."""
    spark.catalog.clearCache()
    _CLEARS["n"] += 1
    if _CLEARS["n"] % 8 == 0:
        spark.sparkContext._jvm.System.gc()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # default: headline (warmed, the round-over-round metric) PLUS a
    # single cold pass over every other registered query, so a
    # regression in the long tail is visible in the recorded per-query
    # times. --headline-only restores the old behavior; --all is
    # accepted as an explicit alias of the default.
    run_tail = "--headline-only" not in sys.argv
    tail_only = "--tail-only" in sys.argv  # debug: skip warmup+headline
    # headline repetitions (median taken per query): the shared host's
    # 190-268s same-code spread (SCALE.md) makes a single timed pass an
    # unreliable trend row. Default 3; a wall-budget guard stops extra
    # passes if the box is so loaded that one pass already blew the
    # budget, so the suite can't run away under throttling.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    rep_wall_budget = float(
        os.environ.get("SPARK_GRAFT_BENCH_REP_BUDGET_SEC", "420")
    )
    per_rep: dict[str, list[float]] = {}
    load_marker: dict[str, float] = {"spin_start": _spin_marker()}
    timings: dict[str, float] = {}
    tail_timings: dict[str, float] = {}
    tail_cold: dict[str, float] = {}
    errors: dict[str, str] = {}
    pass_totals: list[float] = []
    try:
        spark = get_spark("bench")
        qs = entrymod.queries()

        # Warmup: one untimed pass over the full suite so the timed pass
        # measures steady-state execution, not one-time JVM costs (codegen
        # compilation, Arrow/Python worker spin-up, parquet footer reads,
        # broadcast thread-pool init). Same methodology as a TPC power run
        # or JMH: hot measurements only.
        spark.read.parquet(f"{sf_dir}/nation.parquet").groupBy().count().write.format(
            "noop"
        ).mode("overwrite").save()
        # Warmup runs 4-wide: it is untimed, so scheduler contention is
        # harmless, and the sequential warmup pass alone cost ~170s at
        # sf0.1 once the headline hit 106 queries. Scratch/stream
        # queries warm sequentially (session-global state).
        from concurrent.futures import ThreadPoolExecutor as _TPE

        # session-state-mutating queries are declared AT REGISTRATION
        # (@query(..., sequential=True)) — no name-prefix inference, so
        # a future stateful query cannot silently race the 4-wide phases
        from hudi_utility_spark.queries import SEQUENTIAL as _seq

        if not tail_only:
            warm_par = [n for n in HEADLINE if n not in _seq]
            warm_seq = [n for n in HEADLINE if n in _seq]
            with _TPE(max_workers=4) as _pool:
                for i in range(0, len(warm_par), 12):
                    list(
                        _pool.map(
                            lambda n: _run_once(qs, n, spark, sf_dir),
                            warm_par[i : i + 12],
                        )
                    )
                    _clear_cache(spark)
            for name in warm_seq:
                _run_once(qs, name, spark, sf_dir)
                _clear_cache(spark)

        if not tail_only:
            for rep in range(reps):
                t_pass = time.perf_counter()
                for name in HEADLINE:
                    start = time.perf_counter()
                    err = _run_once(qs, name, spark, sf_dir)
                    elapsed = time.perf_counter() - start
                    _clear_cache(spark)
                    if err is None:
                        per_rep.setdefault(name, []).append(elapsed)
                    else:
                        errors[name] = err
                pass_totals.append(
                    round(time.perf_counter() - t_pass, 3)
                )
                # predictive stop: don't START a pass that would push the
                # headline phase past the wall budget (next ≈ last pass)
                if (
                    rep + 1 < reps
                    and sum(pass_totals) + pass_totals[-1] > rep_wall_budget
                ):
                    print(
                        f"# headline rep budget: stopping after rep {rep + 1}"
                        f" ({sum(pass_totals):.0f}s spent, next pass ≈"
                        f" {pass_totals[-1]:.0f}s > {rep_wall_budget:.0f}s"
                        " budget) — medians use the passes recorded so far",
                        file=sys.stderr,
                    )
                    break
            import statistics as _stats

            timings = {
                n: round(_stats.median(v), 3) for n, v in per_rep.items()
            }
            load_marker["spin_mid"] = _spin_marker()

        if run_tail:
            # cold single-pass over the non-headline registry: times are
            # NOT comparable to the warmed headline numbers (JVM codegen
            # + Arrow worker spin-up included) but catch a tail query
            # regressing from 1s to 60s, which was invisible before.
            #
            # The tail runs 4-wide through a thread pool in batches of
            # 12 (Spark's scheduler multiplexes concurrent jobs over
            # local[32]; most tail queries use a fraction of the cores)
            # — at ~190 registered tail queries the sequential pass
            # alone pushed the suite past a 10-minute harness window.
            # Contention adds noise to individual tail numbers, which
            # is fine for their stated purpose (1s -> 60s regression
            # detection, not steady-state measurement). Queries that
            # materialize scratch tables or run real readStream loops
            # keep the sequential path: they mutate session-global
            # state (scratch dirs, memory sinks, catalog tables).
            tail_names = sorted(set(qs) - set(HEADLINE))
            seq_names = [n for n in tail_names if n in _seq]
            par_names = [n for n in tail_names if n not in _seq]
            # The tail's job is REGRESSION DETECTION (1s -> 60s), not
            # steady-state measurement — its numbers are cold and
            # contended and were never comparable to the headline. It
            # therefore runs at sf0.01 by default (override with
            # SPARK_GRAFT_TAIL_SF_DIR): at ~190 registered tail queries
            # the sf0.1 cold tail alone costs ~280s and pushed the whole
            # suite past a 10-minute harness window; a 10x-smaller SF
            # catches the same regressions at a fraction of the wall.
            tail_sf_dir = os.environ.get(
                "SPARK_GRAFT_TAIL_SF_DIR", "/root/testdata/sf0.01"
            )
            if not os.path.isdir(tail_sf_dir):
                tail_sf_dir = sf_dir

            def _timed(name: str) -> None:
                start = time.perf_counter()
                err = _run_once(qs, name, spark, tail_sf_dir)
                elapsed = time.perf_counter() - start
                if err is None:
                    tail_timings[name] = round(elapsed, 3)
                else:
                    errors[name] = err

            t_par = time.perf_counter()
            with _TPE(max_workers=4) as pool:
                for i in range(0, len(par_names), 12):
                    batch = par_names[i : i + 12]
                    list(pool.map(_timed, batch))
                    # clear BETWEEN batches only: a global clearCache
                    # mid-batch would evict blocks running queries
                    # still depend on and trigger recompute storms
                    _clear_cache(spark)
            print(
                f"# tail parallel phase: {time.perf_counter() - t_par:.1f}s"
                f" ({len(par_names)} queries)",
                file=sys.stderr,
            )
            t_seq = time.perf_counter()
            for name in seq_names:
                _timed(name)
                _clear_cache(spark)
            print(
                f"# tail sequential phase: {time.perf_counter() - t_seq:.1f}s"
                f" ({len(seq_names)} queries)",
                file=sys.stderr,
            )
            # Warm re-measure of the slowest tail queries: the cold
            # 4-wide pass taxes whichever queries run early with
            # JVM/codegen warmup + scheduler contention (measured 25.7s
            # cold vs 3.3s warm for the same query), which made tail
            # trend rows unusable for regression detection. The top-N
            # re-run sequentially on the now-warm session; the warm
            # number becomes the recorded tail time (cold kept in
            # tail_cold for the warmup-tax audit trail).
            warm_n = int(os.environ.get("SPARK_GRAFT_TAIL_WARM_N", "20"))
            slow = sorted(
                tail_timings, key=lambda n: -tail_timings[n]
            )[:warm_n]
            t_warm = time.perf_counter()
            for name in slow:
                start = time.perf_counter()
                err = _run_once(qs, name, spark, tail_sf_dir)
                elapsed = time.perf_counter() - start
                _clear_cache(spark)
                if err is None:
                    tail_cold[name] = tail_timings[name]
                    tail_timings[name] = round(elapsed, 3)
            print(
                f"# tail warm re-measure: {time.perf_counter() - t_warm:.1f}s"
                f" ({len(slow)} queries)",
                file=sys.stderr,
            )
    except Exception:
        errors["__harness__"] = traceback.format_exc(limit=3).strip().splitlines()[-1][:300]

    load_marker["spin_end"] = _spin_marker()
    # an error on a later rep of a query that already has a successful
    # timed rep is intermittent, not fatal — keep the median but mark it
    for name in list(errors):
        if name in per_rep and per_rep[name]:
            errors[name] = "intermittent: " + errors[name]
    total = round(sum(timings.values()), 3)
    out: dict = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
        "headline_stat": "median",
        "headline_pass_totals": pass_totals,
        # per-query sample counts: a query that errored on some reps
        # contributes a median of FEWER samples — visible here instead
        # of silently blending into the total (n_errors alone no longer
        # implies a missing query since "intermittent:" was introduced)
        "headline_rep_counts": {
            n: len(v) for n, v in per_rep.items() if len(v) != len(pass_totals)
        },
        "load_marker": load_marker,
    }
    if tail_timings:
        out["tail_queries"] = tail_timings
        out["tail_value"] = round(sum(tail_timings.values()), 3)
        if tail_cold:
            out["tail_cold"] = tail_cold
        tsf = tail_sf_dir.rstrip("/").rsplit("sf", 1)[-1]
        out["tail_sf"] = (
            float(tsf) if tsf.replace(".", "", 1).isdigit() else tsf
        )
    if errors:
        out["errors"] = errors
    # The full per-query line is ~3.5 KB — longer than the driver's
    # output-tail capture, which truncated it to unparseable in r4. So:
    # (1) persist the complete record to BENCH_LOCAL.json next to this
    # script, (2) print the full line FIRST (fine if truncated), and
    # (3) end with a compact summary line (total first, slowest-15
    # sample) that always fits the tail and always parses.
    full_line = json.dumps(out)
    try:
        Path(__file__).resolve().parent.joinpath("BENCH_LOCAL.json").write_text(
            full_line + "\n"
        )
    except OSError:
        pass
    print(full_line)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:15]
    )
    summary: dict = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "sf": out["sf"],
        "n_queries": len(timings),
        "n_tail_queries": len(tail_timings),
        "tail_value": round(sum(tail_timings.values()), 3),
        "n_errors": len(errors),
        "headline_stat": "median",
        "headline_pass_totals": pass_totals,
        "load_marker": load_marker,
        "queries": slowest,
        "queries_truncated": len(timings) > len(slowest),
        "queries_file": "BENCH_LOCAL.json",
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
