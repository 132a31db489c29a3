"""Physical-plan audit for the headline queries: pushed filters, join
strategies, exchange counts, whole-stage-codegen coverage, and a plan
fingerprint.

The fingerprint hashes ``explain("formatted")`` after normalising the
tokens that change from one build of the same plan to the next
(expression ids, plan ids, lambda-variable suffixes, RDD ids and call
sites, AQE query-stage ids, part-file UUIDs, the first file a multi-file
index happens to list, the checkout's path). Two runs that print the
same fingerprint for a query built the same physical plan, which makes
the tool a refactor gate: audit with ``--all`` before and after a change
and diff the fingerprint column.

Usage: python tools/plan_audit.py [sf_dir] [name_filter] [--all]
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import re
import sys
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parent.parent)
sys.path.insert(0, REPO_ROOT)

# run-specific tokens of a formatted plan, in the order they are
# rewritten: "[id=#12]" must go before the bare "#12" rule eats its id
_UNSTABLE_TOKENS = [
    # the checkout's own path: tables saved under Spark's default
    # warehouse (the run directory's spark-warehouse) print it
    (re.compile(re.escape(REPO_ROOT) + r"(?=/)"), "<repo>"),
    (re.compile(r"\[id=#\d+\]"), "[id=#]"),
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b(lambda \w+?_)\d+\b"), r"\1"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    # the JVM frame an RDD was made from: the same call prints
    # NativeMethodAccessorImpl.java:0 until the JVM swaps in a generated
    # reflection accessor after ~15 calls, then <unknown>:0
    (re.compile(r"(RDD\[\] at \w+ at )\S+:\d+"), r"\1<call site>"),
    # a multi-file index prints one file + a count; which file comes
    # first follows directory listing order, not the plan
    (re.compile(r"(InMemoryFileIndex \[)[^\],]*(, \.\.\. \d+ entries\])"), r"\1<first file>\2"),
    # an AQE query stage's id ("Arguments: <n>" under each materialised
    # "(N) ...QueryStage" node) follows the order its stages finished in
    (re.compile(r"(\(\d+\) \w+QueryStage\n(?:Output \[\d+\]: [^\n]*\n)?Arguments: )\d+\b"),
     r"\1<stage id>"),
    # part-file UUIDs, dashed (parquet) or bare 32-hex (text formats)
    (re.compile(r"\b[0-9a-f]{8}(-?)[0-9a-f]{4}\1[0-9a-f]{4}\1[0-9a-f]{4}\1[0-9a-f]{12}\b"), "<uuid>"),
]


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def normalise(plan: str) -> str:
    for pattern, repl in _UNSTABLE_TOKENS:
        plan = pattern.sub(repl, plan)
    return plan


def fingerprint(plan: str) -> str:
    return hashlib.sha256(normalise(plan).encode()).hexdigest()[:12]


def shuffle_count(plan: str) -> int:
    """Shuffle exchanges in a formatted plan: distinct "(N) Exchange"
    node ids. Broadcast and reused exchanges have other node names, and
    a node printed twice (tree line and detail section, or one subplan
    shown under two consumers) counts once."""
    return len(set(re.findall(r"\((\d+)\) Exchange\b", plan)))


def audit(plan: str) -> dict:
    return {
        "shuffles": shuffle_count(plan),
        "broadcasts": len(re.findall(r"\(\d+\) BroadcastExchange", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cartesian": len(re.findall(r"CartesianProduct", plan)),
        "pushed": len(re.findall(r"PushedFilters: \[(?!\])", plan)),
        # numbered node headers only — the formatted plan repeats each
        # scan in its per-node detail section, which would double-count
        "scans": len(re.findall(r"\(\d+\) Scan parquet", plan)),
        "wscg": len(re.findall(r"WholeStageCodegen", plan)),
        "python": len(re.findall(r"(ArrowEvalPython|BatchEvalPython|MapInPandas)", plan)),
        "sorts": len(re.findall(r"\bSort\b", plan)),
        "fingerprint": fingerprint(plan),
    }


def main() -> None:
    import __spark_entry__ as entrymod
    from bench import HEADLINE
    from hudi_utility_spark.session import get_spark

    args = [a for a in sys.argv[1:] if a != "--all"]
    audit_all = "--all" in sys.argv[1:]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.01"
    name_filter = args[1] if len(args) > 1 else ""
    spark = get_spark("plan-audit")
    qs = entrymod.queries()
    names = sorted(qs) if audit_all else HEADLINE
    print(f"{'query':34s} shuf bcast bhj smj bnlj cart push scan py fingerprint")
    for name in names:
        if name_filter and name_filter not in name:
            continue
        a = audit(plan_of(qs[name](spark, sf_dir)))
        flags = []
        if a["cartesian"]:
            flags.append("CARTESIAN!")
        if a["bnlj"]:
            flags.append("BNLJ")
        print(
            f"{name:34s} {a['shuffles']:4d} {a['broadcasts']:5d} {a['bhj']:3d}"
            f" {a['smj']:3d} {a['bnlj']:4d} {a['cartesian']:4d}"
            f" {a['pushed']:4d} {a['scans']:4d} {a['python']:2d}"
            f" {a['fingerprint']}  {' '.join(flags)}"
        )


if __name__ == "__main__":
    main()
