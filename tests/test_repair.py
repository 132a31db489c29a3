from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from hudi_utility_spark.repair import (
    incomplete_partitions,
    missing_partitions,
    partition_counts,
    partitions_to_repair,
    resume_bootstrap,
)
from hudi_utility_spark.table import KeyedTable
from hudi_utility_spark.write import full_bootstrap


@pytest.fixture
def bootstrapped(spark, events, tmp_path):
    t = KeyedTable(
        path=str(tmp_path / "events_table"),
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_type"],
    )
    full_bootstrap(spark, events, t)
    return t


def _drop_partition(table: KeyedTable, value: str) -> None:
    shutil.rmtree(f"{table.path}/event_type={value}")


def _truncate_partition(spark, table: KeyedTable, value: str) -> None:
    """Corrupt a partition: keep only 1 row (simulates a partial write)."""
    part = spark.read.parquet(f"{table.path}/event_type={value}").limit(1)
    pdf = part.toPandas()
    shutil.rmtree(f"{table.path}/event_type={value}")
    spark.createDataFrame(pdf).write.parquet(f"{table.path}/event_type={value}")


def test_partition_counts_matches_filter_count(spark, events):
    counts = {r[0]: r[1] for r in partition_counts(events, "event_type").collect()}
    for etype, cnt in counts.items():
        assert events.filter(F.col("event_type") == etype).count() == cnt


def test_missing_partitions(spark, events, bootstrapped):
    _drop_partition(bootstrapped, "click")
    dest = bootstrapped.read_base(spark)
    miss = [r[0] for r in missing_partitions(events, dest, "event_type").collect()]
    assert miss == ["click"]


def test_incomplete_partitions(spark, events, bootstrapped):
    _truncate_partition(spark, bootstrapped, "view")
    dest = bootstrapped.read_base(spark)
    rows = incomplete_partitions(events, dest, "event_type").collect()
    assert [r.event_type for r in rows] == ["view"]
    assert rows[0].src_cnt > rows[0].dst_cnt == 1


def test_resume_repairs_exactly_the_damage(spark, events, bootstrapped):
    _drop_partition(bootstrapped, "click")
    _truncate_partition(spark, bootstrapped, "view")
    result = resume_bootstrap(spark, events, bootstrapped)
    assert sorted(result["repaired_partitions"]) == ["click", "view"]
    # table fully healed
    assert bootstrapped.read(spark).count() == events.count()
    counts = {
        r[0]: r[1]
        for r in partition_counts(bootstrapped.read(spark), "event_type").collect()
    }
    src = {r[0]: r[1] for r in partition_counts(events, "event_type").collect()}
    assert counts == src


def test_resume_is_idempotent(spark, events, bootstrapped):
    _drop_partition(bootstrapped, "click")
    resume_bootstrap(spark, events, bootstrapped)
    second = resume_bootstrap(spark, events, bootstrapped)
    assert second["noop"] and second["repaired_partitions"] == []


def test_resume_on_intact_table_is_noop(spark, events, bootstrapped):
    result = resume_bootstrap(spark, events, bootstrapped)
    assert result["noop"]


def test_partitions_to_repair_union(spark, events, bootstrapped):
    _drop_partition(bootstrapped, "click")
    _truncate_partition(spark, bootstrapped, "purchase")
    dest = bootstrapped.read_base(spark)
    assert partitions_to_repair(events, dest, "event_type") == ["click", "purchase"]


@pytest.mark.parametrize(
    "dropped, repaired",
    [([], []),
     (["a"], ["a"]),
     (["__HIVE_DEFAULT_PARTITION__"], [None]),
     (["a", "__HIVE_DEFAULT_PARTITION__"], [None, "a"])],
)
def test_resume_of_a_null_partitioned_table(spark, tmp_path, dropped, repaired):
    """A table partitioned by p ∈ {a, b, NULL}: the NULL partition is
    diffed as one value (an intact table is a no-op), sorts first as
    None, and its rows are rewritten (an IN filter never matches NULL)."""
    src = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 1, None), (4, 1, None), (5, 1, "a")],
        "id LONG, ts LONG, p STRING",
    )
    t = KeyedTable(path=str(tmp_path / "nulls"), record_key=["id"],
                   precombine="ts", partition_fields=["p"])
    full_bootstrap(spark, src, t)
    for leaf in dropped:
        shutil.rmtree(f"{t.path}/p={leaf}")
    spark.catalog.refreshByPath(t.path)
    assert resume_bootstrap(spark, src, t)["repaired_partitions"] == repaired
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3, 4, 5]
    assert resume_bootstrap(spark, src, t)["noop"]


def test_resume_of_a_table_not_yet_written_writes_every_partition(spark, tmp_path):
    src = spark.createDataFrame([(1, 1, "a"), (2, 1, None)], "id LONG, ts LONG, p STRING")
    t = KeyedTable(path=str(tmp_path / "new"), record_key=["id"],
                   precombine="ts", partition_fields=["p"])
    assert resume_bootstrap(spark, src, t)["repaired_partitions"] == [None, "a"]
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]


def test_diff_is_two_jobs_and_one_scan_per_side(spark, tmp_path, count_jobs):
    """missing ∪ incomplete, and the anti-entropy statuses, come from one
    aggregate over both sides: each side's files are scanned once,
    nothing is joined, and AQE runs it as two jobs."""
    from hudi_utility_spark.io import read_files
    from hudi_utility_spark.repair import _repair_diff, content_diff

    src_path = str(tmp_path / "src")
    spark.range(40).selectExpr("id", "CAST(id % 4 AS STRING) AS p").write.parquet(src_path)
    t = KeyedTable(path=str(tmp_path / "dst"), record_key=["id"],
                   precombine="id", partition_fields=["p"])
    source = read_files(spark, src_path)
    full_bootstrap(spark, source.filter("p != '1' AND id < 38"), t)
    dest = t.read_base(spark)
    assert sorted(tuple(r) for r in _repair_diff(source, dest, "p").collect()) == [
        ("0", 10, 10), ("1", 10, 0), ("2", 10, 9), ("3", 10, 9)]
    statuses = [("0", "match", 10, 10), ("1", "missing", 10, 0),
                ("2", "divergent", 10, 9), ("3", "divergent", 10, 9)]
    for build, want in [
        (lambda: partitions_to_repair(source, dest, "p"), ["1", "2", "3"]),
        (lambda: sorted(tuple(r) for r in content_diff(source, dest, "p", ["id"]).collect()),
         statuses),
    ]:
        got, jobs = count_jobs(build)
        assert got == want
        assert jobs <= 2
    for diff in (_repair_diff(source, dest, "p"), content_diff(source, dest, "p", ["id"])):
        plan = diff._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan parquet") == 2, plan
        assert "Join" not in plan, plan


def test_resume_on_timestamp_partitioned_ntz_table(spark, events, tmp_path):
    """The reference's signature scenario (pyspark_script.py:392-401) on
    timestamp-partitioned NTZ data: bootstrap events partitioned by the
    event *date* (derived from the TIMESTAMP_NTZ ts), drop one date
    partition, corrupt another, resume, and verify the engine-rewritten
    partitions merge cleanly with the original NTZ files (the r1
    NTZ-vs-LTZ CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE regression)."""
    dated = events.withColumn("event_date", F.to_date("ts").cast("string"))
    t = KeyedTable(
        path=str(tmp_path / "events_by_date"),
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_date"],
    )
    full_bootstrap(spark, dated, t)
    dates = sorted(
        r[0] for r in dated.select("event_date").distinct().collect()
    )
    assert len(dates) >= 2, "need at least two date partitions"
    dropped, truncated = dates[0], dates[-1]

    shutil.rmtree(f"{t.path}/event_date={dropped}")
    # corrupt: rewrite one partition through a round-trip (pandas →
    # createDataFrame) — the exact path that used to come back LTZ and
    # explode on the mergeSchema re-read
    part = spark.read.parquet(f"{t.path}/event_date={truncated}").limit(1)
    pdf = part.toPandas()
    shutil.rmtree(f"{t.path}/event_date={truncated}")
    spark.createDataFrame(pdf).write.parquet(f"{t.path}/event_date={truncated}")

    # the re-read (mergeSchema over original + rewritten files) must not
    # raise, and ts must still be NTZ end-to-end
    merged = t.read_base(spark)
    assert merged.schema["ts"].dataType.typeName() == "timestamp_ntz"

    result = resume_bootstrap(spark, dated, t)
    assert sorted(result["repaired_partitions"]) == sorted([dropped, truncated])
    healed = t.read(spark)
    assert healed.count() == events.count()
    assert healed.schema["ts"].dataType.typeName() == "timestamp_ntz"


def test_resume_from_ltz_default_session_aligns_timestamps(spark, events, tmp_path):
    """A caller driving the engine with a vanilla LTZ-default session
    must still be able to repair an NTZ table: the repair write aligns
    rewritten partitions to the destination's timestamp flavor, so the
    mergeSchema re-read never sees NTZ-vs-LTZ. Simulated by flipping the
    session default to TIMESTAMP (LTZ) around the resume."""
    t = KeyedTable(
        path=str(tmp_path / "events_ltz_repair"),
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_type"],
    )
    full_bootstrap(spark, events, t)
    assert t.read_base(spark).schema["ts"].dataType.typeName() == "timestamp_ntz"
    _drop_partition(t, "click")

    prev = spark.conf.get("spark.sql.timestampType")
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_LTZ")
    try:
        # under an LTZ-default session the source frame still reads NTZ
        # from parquet, but any session-created timestamps would be LTZ;
        # force the worst case by round-tripping ts through an LTZ cast
        from pyspark.sql.types import TimestampType

        ltz_source = events.withColumn("ts", F.col("ts").cast(TimestampType()))
        assert ltz_source.schema["ts"].dataType.typeName() == "timestamp"
        result = resume_bootstrap(spark, ltz_source, t)
        assert result["repaired_partitions"] == ["click"]
    finally:
        spark.conf.set("spark.sql.timestampType", prev)

    healed = t.read_base(spark)  # mergeSchema read across old + new files
    assert healed.count() == events.count()
    assert healed.schema["ts"].dataType.typeName() == "timestamp_ntz"


def test_file_layout_report_matches_filesystem(spark, events, tmp_path):
    import os

    from hudi_utility_spark.repair import file_layout_report
    from hudi_utility_spark.table import KeyedTable
    from hudi_utility_spark.write import full_bootstrap

    t = KeyedTable(
        path=str(tmp_path / "layout"),
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_type"],
    )
    full_bootstrap(spark, events, t)
    got = {
        r["event_type"]: (r["n_files"], r["bytes"], r["small_files"])
        for r in file_layout_report(spark, t).collect()
    }
    want = {}
    for d in os.listdir(t.base_path):
        if not d.startswith("event_type="):
            continue
        files = [
            os.path.join(t.base_path, d, f)
            for f in os.listdir(os.path.join(t.base_path, d))
            if f.endswith(".parquet")
        ]
        want[d.split("=", 1)[1]] = (len(files), sum(os.path.getsize(f) for f in files))
    assert {k: v[:2] for k, v in got.items()} == want
    # sf0.001 parquet partitions are tiny -> all flagged small
    assert all(v[2] for v in got.values())


def test_file_layout_report_reads_the_segment_below_the_table(spark, tmp_path):
    """A table stored under ``…/snap=1/`` and partitioned by ``p``: the
    ``p=`` segment is the one directly below the table path, not the
    ``snap=1`` that also ends in ``p=``."""
    from hudi_utility_spark.repair import file_layout_report

    t = KeyedTable(path=str(tmp_path / "snap=1" / "t"), record_key=["id"],
                   precombine="id", partition_fields=["p"])
    rows = spark.range(40).selectExpr("id", "CAST(id % 2 AS STRING) AS p")
    for k in range(4):
        rows.filter(f"floor(id / 2) % 4 = {k}").repartition(1).write.partitionBy("p").mode(
            "append").parquet(t.base_path)
    report = {r["p"]: r["n_files"] for r in file_layout_report(spark, t).collect()}
    assert report == {"0": 4, "1": 4}
    assert t.compact_small_files(spark)["compacted"] == {"0": 1, "1": 1}


# ---------------------------------------------------------------------------
# anti-entropy: content fingerprints + fingerprint-verified repair


def test_content_diff_catches_same_count_corruption(spark, events, bootstrapped):
    """In-place corruption with identical row counts is invisible to the
    J2 count audit but must show as 'divergent' in the fingerprint diff."""
    from hudi_utility_spark.repair import content_diff

    t = bootstrapped
    # rewrite 'click' with shifted user_ids — same cardinality
    part = spark.read.parquet(f"{t.path}/event_type=click")
    pdf = part.toPandas()
    pdf["user_id"] = pdf["user_id"] + 1
    shutil.rmtree(f"{t.path}/event_type=click")
    spark.createDataFrame(pdf).write.parquet(f"{t.path}/event_type=click")
    spark.catalog.refreshByPath(t.path)

    dest = t.read_base(spark)
    # count audit: blind to it
    assert incomplete_partitions(events, dest, "event_type").count() == 0
    st = {
        r["event_type"]: r["status"]
        for r in content_diff(
            events, dest, "event_type", ["event_id", "user_id"]
        ).collect()
    }
    assert st["click"] == "divergent"
    assert all(v == "match" for k, v in st.items() if k != "click")


def test_anti_entropy_repair_heals_all_drift_modes(spark, events, bootstrapped):
    from hudi_utility_spark.repair import anti_entropy_repair, content_diff

    t = bootstrapped
    # divergent: same-count corruption of 'click'
    part = spark.read.parquet(f"{t.path}/event_type=click")
    pdf = part.toPandas()
    pdf["value"] = pdf["value"] + 1.0
    shutil.rmtree(f"{t.path}/event_type=click")
    spark.createDataFrame(pdf).write.parquet(f"{t.path}/event_type=click")
    # missing: drop 'signup'
    _drop_partition(t, "signup")
    # extra: fabricate a partition the source never had
    spark.read.parquet(f"{t.path}/event_type=view").write.parquet(
        f"{t.path}/event_type=zombie"
    )
    spark.catalog.refreshByPath(t.path)

    hash_cols = ["event_id", "user_id", "value"]
    rep = anti_entropy_repair(spark, events, t, hash_cols)
    assert rep["rewritten"] == ["click", "signup"]
    assert rep["dropped"] == ["zombie"]

    st = content_diff(
        events, t.read_base(spark), "event_type", hash_cols
    ).collect()
    assert {r["status"] for r in st} == {"match"}

    # idempotent: second run is a no-op
    rep2 = anti_entropy_repair(spark, events, t, hash_cols)
    assert rep2["noop"] is True


def test_anti_entropy_repair_dry_run_writes_nothing(spark, events, bootstrapped):
    from hudi_utility_spark.repair import anti_entropy_repair, content_diff

    t = bootstrapped
    _drop_partition(t, "error")
    spark.catalog.refreshByPath(t.path)
    rep = anti_entropy_repair(
        spark, events, t, ["event_id", "user_id"], dry_run=True
    )
    assert rep["rewritten"] == ["error"] and rep["dry_run"] is True
    st = {
        r["event_type"]: r["status"]
        for r in content_diff(
            events, t.read_base(spark), "event_type", ["event_id", "user_id"]
        ).collect()
    }
    assert st["error"] == "missing"
