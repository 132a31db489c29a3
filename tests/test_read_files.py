"""``io.read_files`` infers a file set's schema once per listing: a second
read of unchanged files launches no Spark job, and any change on disk or
in the inference confs makes the next read infer again."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hudi_utility_spark import io
from hudi_utility_spark.table import KeyedTable, TableType
from hudi_utility_spark.write import upsert

def _mor_table(spark, tmp_path):
    table = KeyedTable(
        path=str(tmp_path / "t"),
        record_key=["id"],
        precombine="ts",
        partition_fields=["p"],
        table_type=TableType.MERGE_ON_READ,
    )
    rows = spark.createDataFrame(
        [(1, 1, "a", 1.0), (2, 1, "b", 2.0)], "id long, ts long, p string, v double"
    )
    upsert(spark, rows, table, commit_time="20260101000000000")
    upsert(
        spark,
        spark.createDataFrame([(1, 2, "a", 5.0)], "id long, ts long, p string, v double"),
        table,
        commit_time="20260102000000000",
    )
    return table


def test_second_read_of_unchanged_table_launches_no_job(spark, tmp_path, count_jobs):
    table = _mor_table(spark, tmp_path)
    table.read_base(spark), table.read_log(spark)
    (base, log), jobs = count_jobs(
        lambda: (table.read_base(spark), table.read_log(spark))
    )
    assert jobs == 0
    assert sorted(r.id for r in base.collect()) == [1, 2]
    assert [(r.id, r.v) for r in log.collect()] == [(1, 5.0)]


def test_log_read_names_files_and_keeps_partition_columns(spark, tmp_path):
    table = _mor_table(spark, tmp_path)
    log = table.read_log(spark)
    assert log.schema == spark.read.parquet(table.log_path).schema
    assert {r.p for r in log.collect()} == {"a"}


def test_upsert_adding_a_column_is_visible_in_next_read(spark, tmp_path):
    table = KeyedTable(
        path=str(tmp_path / "cow"), record_key=["id"], precombine="ts",
        partition_fields=["p"],
    )
    upsert(spark, spark.createDataFrame([(1, 1, "a")], "id long, ts long, p string"), table)
    assert "extra" not in table.read_base(spark).columns
    upsert(
        spark,
        spark.createDataFrame([(2, 1, "b", 7)], "id long, ts long, p string, extra int"),
        table,
    )
    assert {r.id: r.extra for r in table.read_base(spark).collect()} == {1: None, 2: 7}


def test_file_truncated_in_place_makes_the_read_infer_again(spark, tmp_path, count_jobs):
    d = str(tmp_path / "trunc")
    spark.range(100).coalesce(1).write.parquet(d)
    io.read_files(spark, d)
    name = next(n for n in os.listdir(d) if n.endswith(".parquet"))
    t = pq.read_table(os.path.join(d, name))
    pq.write_table(t.slice(0, t.num_rows // 2), os.path.join(d, name))
    os.remove(os.path.join(d, f".{name}.crc"))  # Hadoop's checksum sidecar
    df, jobs = count_jobs(lambda: io.read_files(spark, d))
    assert jobs > 0
    assert df.count() == 50


def test_file_added_between_the_two_listings_makes_the_read_infer_again(
    spark, tmp_path, monkeypatch, count_jobs
):
    d = str(tmp_path / "race")
    spark.createDataFrame([(1,)], "id long").write.parquet(d)
    io.read_files(spark, d)
    listing = io._listing

    def listing_then_commit(paths):
        out = listing(paths)
        pq.write_table(
            pa.table({"id": [2], "late": ["x"]}), os.path.join(d, "part-late.parquet")
        )
        return out

    monkeypatch.setattr(io, "_listing", listing_then_commit)
    df, jobs = count_jobs(lambda: io.read_files(spark, d))
    assert jobs > 0
    assert sorted(df.columns) == ["id", "late"] and df.count() == 2


def test_inference_conf_flip_between_two_reads_is_honoured(spark, tmp_path, count_jobs):
    d = str(tmp_path / "ts")
    spark.sql("SELECT timestamp_ntz'2024-01-01 00:00:00' AS ts").write.parquet(d)
    io.read_files(spark, d)
    prev = spark.conf.get("spark.sql.timestampType")
    flipped = "TIMESTAMP_LTZ" if prev != "TIMESTAMP_LTZ" else "TIMESTAMP_NTZ"
    spark.conf.set("spark.sql.timestampType", flipped)
    try:
        df, jobs = count_jobs(lambda: io.read_files(spark, d))
        want = spark.read.option("mergeSchema", "true").parquet(d).schema
    finally:
        spark.conf.set("spark.sql.timestampType", prev)
    assert jobs > 0
    assert df.schema == want


@pytest.mark.parametrize(
    "name, hidden",
    [
        ("part-0.parquet", False),
        ("_SUCCESS", True),
        (".part-0.parquet.crc", True),
        ("_delta_log", True),
        ("p=_x", False),
        ("_p=1", False),
        ("_metadata", False),
        ("_common_metadata", False),
        ("f.parquet._COPYING_", True),
    ],
)
def test_hidden_names_follow_sparks_file_index(name, hidden):
    assert io._hidden(name) is hidden


def test_non_local_paths_are_not_listed():
    assert io._listing(("hdfs://nn/t",)) is None
    assert io._listing(("/no/such/dir/anywhere",)) is None
    assert io._local_path("file:///a/b") == "/a/b"
    assert io._local_path("file:/a/b") == "/a/b"


def test_concurrent_reads_keep_one_right_schema_per_path(spark, tmp_path):
    """More reader threads than cores over a few shared paths, with a
    short switch interval: every read returns its own path's schema,
    and the cache ends with one entry per path."""
    import sys
    import threading

    dirs = []
    for i in range(3):
        d = str(tmp_path / f"c{i}")
        spark.range(2).withColumn(f"col{i}", F.lit(i)).write.parquet(d)
        dirs.append(d)
    errors = []

    def read(d):
        try:
            for _ in range(3):
                cols = io.read_files(spark, d).columns
                if cols != ["id", f"col{dirs.index(d)}"]:
                    errors.append((d, cols))
        except Exception as exc:  # reported by the assertion below
            errors.append((d, exc))

    threads = [
        threading.Thread(target=read, args=(dirs[i % 3],)) for i in range(8)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    keys = [k for k in io._schemas[spark] if k[1][0] in dirs]
    assert sorted(k[1][0] for k in keys) == sorted(dirs)
