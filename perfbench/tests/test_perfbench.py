"""The benchmark's own tests (no Spark session needed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
import describe  # noqa: E402
import lifecycle  # noqa: E402
import model  # noqa: E402
import querymix  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, spark_counters_by_group  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def test_metric_names_and_units_are_well_formed():
    names = list(run.END_TO_END) + list(run.PER_LAYER) + list(run.WORKLOADS)
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n), n
    for unit in list(run.END_TO_END.values()) + [u for u, _ in run.PER_LAYER.values()]:
        assert UNIT.fullmatch(unit), unit


def test_checked_in_descriptions_match_the_runner():
    bench, metrics = describe.documents()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == bench, "run python3 perfbench/describe.py"
    with open(os.path.join(BENCH, "metrics.json")) as f:
        assert json.load(f) == metrics, "run python3 perfbench/describe.py"


def test_benchmark_json_keeps_to_its_format():
    b, _ = describe.documents()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(b["workloads"]) <= 8 and 1 <= b["run_seconds"] <= 60
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in b["end_to_end"])
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    assert all(0 < v <= 0.25 for v in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_every_per_layer_metric_names_what_it_should_move():
    _, doc = describe.documents()
    for name, layer in doc["per_layer"].items():
        assert set(layer["moves"]) <= set(run.END_TO_END), name


@pytest.mark.parametrize("n,p", [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
                                 (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0),
                                 (1000, 99.0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert n * (100 - p) / 100 >= 10


def test_tail_falls_back_to_the_median_and_interpolates():
    assert stats.tail([3.0, 1.0, 2.0]) == (50.0, 2.0)
    xs = [float(i) for i in range(1, 41)]  # 40 samples → p75
    assert stats.tail(xs) == (75.0, stats.percentile(xs, 75.0))
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50.0) == 2.5


def test_span_self_time_on_nested_spans(monkeypatch):
    clock = iter([0.0, 0.0, 1.0, 1.0, 3.0, 3.0, 4.0, 4.0, 4.5, 4.5, 10.0, 10.0])
    monkeypatch.setattr("spans.time.perf_counter", lambda: next(clock))
    t = Tracer("t", enabled=False)
    with t.span("root"):  # 0 → 10
        with t.span("a"):  # 1 → 3
            pass
        with t.span("b"):  # 4 → 4.5
            pass
    own = t.self_times()
    assert [s.parent for s in t.spans] == [None, 0, 0]
    assert own == {0: 10.0 - 2.0 - 0.5, 1: 2.0, 2: 0.5}
    assert sum(own.values()) == t.spans[0].end - t.spans[0].start
    assert t.self_time_by_name(0) == {"root": 7.5, "a": 2.0, "b": 0.5}
    assert t.self_time_by_name(1) == {"a": 2.0}


def run_headline() -> list[str]:
    from bench import HEADLINE

    return HEADLINE


def test_every_headline_query_is_in_exactly_one_family():
    headline = run_headline()
    fams = Counter(querymix.family(n) for n in headline)
    assert sum(fams.values()) == len(headline) == len(set(headline))
    assert set(querymix.WRITE_PATH) <= set(headline)
    assert fams["write_path"] == len(querymix.WRITE_PATH)
    for fam, names in querymix.SLICE.items():
        assert all(querymix.family(n) == fam for n in names), fam
        assert set(names) <= set(headline)


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generator_is_deterministic(tmp_path):
    prof = datagen.LifecycleProfile(batch_frac=0.02, hot_tail=True)
    for d in ("a", "b"):
        datagen.write_corpus(7, str(tmp_path / d / "corpus"), 0.001)
        datagen.write_lifecycle(7, str(tmp_path / d / "life"), prof)
    datagen.write_corpus(8, str(tmp_path / "c" / "corpus"), 0.001)
    a, b = _digest(str(tmp_path / "a")), _digest(str(tmp_path / "b"))
    assert a == b and len(a) > 20
    c = _digest(str(tmp_path / "c"))
    assert c["corpus/lineitem.parquet"] != a["corpus/lineitem.parquet"]


def test_model_replays_upserts_deletes_and_cdc(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write(name, **cols):
        p = str(tmp_path / f"{name}.parquet")
        pq.write_table(pa.table(cols), p)
        return p

    src = write("src", event_id=[1, 2, 3], value=[1.0, 2.0, 3.0])
    m = model.TableModel(src, ["event_id"])
    m.apply("upsert", write("b1", event_id=[2, 4], value=[20.0, 40.0]))
    m.apply("delete", write("b2", event_id=[1, 9]))
    m.apply("upsert", write("b3", event_id=[1], value=[10.0]))
    assert sorted(m.state["value"]) == [3.0, 10.0, 20.0, 40.0]
    assert model.cdc_counts(m, -1, 2) == Counter(update=2, insert=1)  # 1 deleted then back
    assert model.cdc_counts(m, 0, 1) == Counter(delete=1)  # 9 never lived
    assert model.cdc_counts(m, 1, 2) == Counter(insert=1)


def test_stream_stops_on_a_failure_and_counts_only_operations_that_ran():
    def steps():
        yield None
        raise RuntimeError("boom\ntraceback")

    st = run.Stream("x", steps())
    assert st.step() == (True, None) and not st.done
    assert st.step() == (True, "x: RuntimeError: boom") and st.done
    empty = run.Stream("y", iter(()))
    assert empty.step() == (False, None) and empty.done


def test_the_streams_take_turns_over_every_lifecycle_stream_and_the_queries():
    assert sorted(run.STREAM_ORDER) == sorted(["queries", *lifecycle.STREAM_OPS])


def test_quotas_time_every_commit_kind_in_every_run():
    # one COW commit of each kind, and MOR commits up to the first delete
    assert lifecycle.QUOTA["cow_commit"] == len(datagen.COW_KINDS)
    assert lifecycle.QUOTA["mor_commit"] >= datagen.MOR_DELETE_EVERY
    # a compaction after every MOR commit, every lookup batch once
    assert lifecycle.QUOTA["compact"] == lifecycle.QUOTA["mor_commit"]
    assert lifecycle.QUOTA["lookup"] == datagen.LOOKUP_BATCHES
    assert max(lifecycle.QUOTA["cow_commit"], lifecycle.QUOTA["mor_commit"]) <= datagen.COMMITS


def test_event_log_counters_fold_onto_job_groups(tmp_path):
    sql = "org.apache.spark.sql.execution.ui."
    plan = {"nodeName": "Scan", "metrics": [{"name": "number of files read", "accumulatorId": 7},
                                            {"name": "number of output rows", "accumulatorId": 8}],
            "children": []}
    events = [
        {"Event": f"{sql}SparkListenerSQLExecutionStart", "executionId": 3,
         "sparkPlanInfo": {"nodeName": "Root", "metrics": [], "children": [plan]}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1],
         "Properties": {"spark.jobGroup.id": "span-4", "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 5, "JVM GC Time": 1,
                          "Input Metrics": {"Bytes Read": 100}}},
        {"Event": f"{sql}SparkListenerDriverAccumUpdates", "executionId": 3,
         "accumUpdates": [[7, 2], [8, 50]]},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
    ]
    (tmp_path / "events_1").write_text("".join(json.dumps(e) + "\n" for e in events))
    got = spark_counters_by_group(str(tmp_path))
    assert got["span-4"] == {"jobs": 1, "tasks": 1, "executor_run_ms": 5, "gc_ms": 1,
                             "shuffle_bytes": 0, "spill_bytes": 0, "input_bytes": 100,
                             "files_read": 2}
    assert got["-"]["jobs"] == 1
