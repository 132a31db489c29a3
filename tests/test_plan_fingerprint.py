"""Spark-free checks of the plan-audit fingerprint normaliser: plan
texts that differ only in run-specific tokens hash alike, and a real
operator change hashes differently."""

from __future__ import annotations

from tools.plan_audit import REPO_ROOT, fingerprint, normalise, shuffle_count

PLAN = """== Physical Plan ==
AdaptiveSparkPlan (6)
+- HashAggregate (5)
   +- Exchange (4)
      +- HashAggregate (3)
         +- Project (2)
            +- Scan parquet (1)

(1) Scan parquet
Output [2]: [k#{a}L, arr#{b}]
Location: InMemoryFileIndex [file:/data/t/part-00000-{uuid}-c000.snappy.parquet]
Location: InMemoryFileIndex [file:/data/j/part-00000-{hexid}.jsonl]
Location: InMemoryFileIndex [file:/data/k/{first}/part-00000-{uuid}.c000.snappy.parquet, ... 4 entries]

(2) Project
Output [1]: [transform(arr#{b}, lambdafunction((lambda x_{lam}#{c}L + 1), lambda x_{lam}#{c}L, false)) AS v#{d}]
Input [2]: [k#{a}L, arr#{b}]

(3) HashAggregate
Keys [1]: [k#{a}L]
Functions [1]: [partial_count(1)]
Subquery [id=#{sub}] over Scan ExistingRDD MapPartitionsRDD[{rdd}] at applySchemaToPythonRDD at {site}:0

(4) Exchange
Input [2]: [k#{a}L, count#{e}L]
Arguments: hashpartitioning(k#{a}L, 4), ENSURE_REQUIREMENTS, [plan_id={pid}]

(5) HashAggregate
Keys [1]: [k#{a}L]
Functions [1]: [count(1)]

(6) AdaptiveSparkPlan
Arguments: isFinalPlan=false
"""

RUN_1 = dict(
    a=12, b=13, c=15, d=14, e=20, lam=1, sub=40, rdd=7, pid=31,
    uuid="0f8e2a44-1c9b-4c1e-9a77-3b5f2d6e8a10",
    hexid="ffdd99170d944f87a4b025466e8b9dc9", first="event_type=view",
    site="NativeMethodAccessorImpl.java",
)
RUN_2 = dict(
    a=112, b=113, c=151, d=140, e=200, lam=17, sub=4, rdd=93, pid=8,
    uuid="c3d1e0b2-77aa-4f0e-b0c4-91e2a8d35f6b",
    hexid="d5cbd02ecc0841bfb0df1bd4a409cc98", first="event_type=click",
    site="<unknown>",
)


def test_fingerprint_ignores_run_specific_tokens():
    assert fingerprint(PLAN.format(**RUN_1)) == fingerprint(PLAN.format(**RUN_2))


def test_fingerprint_sees_operator_change():
    base = PLAN.format(**RUN_1)
    changed = base.replace("hashpartitioning(k#12L, 4)", "rangepartitioning(k#12L ASC, 4)")
    assert changed != base
    assert fingerprint(changed) != fingerprint(base)
    assert fingerprint(base.replace("partial_count(1)", "partial_sum(1)")) != fingerprint(base)
    assert fingerprint(base.replace("4 entries", "5 entries")) != fingerprint(base)


def test_shuffle_count_counts_distinct_exchange_nodes():
    # tree line "Exchange (4)" and detail header "(4) Exchange" are one node
    assert shuffle_count(PLAN.format(**RUN_1)) == 1
    assert shuffle_count("(3) BroadcastExchange\n(5) ReusedExchange\n") == 0


# graph_triangles_parts' two broadcast stages: which one AQE numbers
# first depends on which finished first
STAGES = """(53) BroadcastQueryStage
Output [2]: [u#317L, du#318L]
Arguments: {a}

(54) BroadcastHashJoin [codegen id : 1]
Left keys [1]: [u#25L]

(60) BroadcastQueryStage
Output [2]: [v#320L, dv#321L]
Arguments: {b}
"""


def test_fingerprint_ignores_query_stage_ids():
    assert fingerprint(STAGES.format(a=3, b=4)) == fingerprint(STAGES.format(a=4, b=3))
    # an Arguments line of any other node still counts
    other = STAGES.format(a=3, b=4).replace("(54) BroadcastHashJoin", "(54) Exchange\nArguments: 7\n\n(55) BroadcastHashJoin")
    assert fingerprint(other) != fingerprint(other.replace("Arguments: 7", "Arguments: 8"))


def test_fingerprint_ignores_the_checkout_path():
    """bucketed_colocated_join saves its tables under the run directory's
    spark-warehouse: the plan printed in this checkout hashes like the
    same plan printed in a clone at another path."""
    plan = "(1) Scan parquet default.t\nLocation: InMemoryFileIndex [file:{root}/spark-warehouse/t]\n"
    here = plan.format(root=REPO_ROOT)
    assert REPO_ROOT not in normalise(here)
    assert fingerprint(here) == fingerprint(plan.format(root="<repo>"))
