from __future__ import annotations

import os
import re

import pytest

from hudi_utility_spark.io import (
    discover_partition_fields,
    read_source,
    resolve_source,
    sniff_format,
)


def test_sniff_format_parquet(sf_dir):
    assert sniff_format(f"{sf_dir}/lineitem.parquet") == "parquet"


def test_sniff_format_directory(tmp_path, spark, lineitem):
    out = str(tmp_path / "dir")
    lineitem.limit(10).write.parquet(out)
    assert sniff_format(out) == "parquet"


def test_sniff_format_rejects_unknown(tmp_path):
    p = tmp_path / "data.txt"
    p.write_text("hello")
    with pytest.raises(ValueError, match="Unsupported file format"):
        sniff_format(str(p))


def test_sniff_format_empty_dir(tmp_path):
    with pytest.raises(ValueError, match="No data files"):
        sniff_format(str(tmp_path))


def test_read_source_merge_schema(tmp_path, spark):
    # schema evolution: second file adds a column; mergeSchema unions them
    d = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").write.mode("append").parquet(d)
    spark.createDataFrame(
        [(2, "b", 3.5)], "id long, name string, score double"
    ).write.mode("append").parquet(d)
    df = read_source(spark, d)
    assert set(df.columns) == {"id", "name", "score"}
    assert df.count() == 2


def test_read_source_orc_roundtrip(tmp_path, spark, lineitem):
    d = str(tmp_path / "orc_table")
    sample = lineitem.limit(100)
    sample.write.mode("overwrite").orc(d)
    df = read_source(spark, d)  # sniffed as orc
    assert df.count() == 100
    assert set(df.columns) == set(sample.columns)


def test_read_source_csv_json(tmp_path, spark):
    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    df = read_source(spark, str(csv))
    assert df.count() == 2 and set(df.columns) == {"a", "b"}
    js = tmp_path / "t.json"
    js.write_text('{"a": 1}\n{"a": 2}\n')
    assert read_source(spark, str(js)).count() == 2


def test_discover_partition_fields(tmp_path, spark, lineitem):
    from pyspark.sql import functions as F

    out = str(tmp_path / "parted")
    (
        lineitem.limit(100)
        .withColumn("flag", F.col("l_returnflag"))
        .withColumn("status", F.col("l_linestatus"))
        .write.partitionBy("flag", "status")
        .parquet(out)
    )
    assert discover_partition_fields(out) == ["flag", "status"]


def test_resolve_source_path(tmp_path, spark, lineitem):
    from pyspark.sql import functions as F

    out = str(tmp_path / "parted")
    lineitem.limit(50).withColumn("flag", F.col("l_returnflag")).write.partitionBy(
        "flag"
    ).parquet(out)
    info = resolve_source(spark, out)
    assert info.is_path and info.is_partitioned
    assert info.partition_fields == ["flag"]
    assert info.data_format == "parquet"


def test_resolve_source_missing_table(spark):
    with pytest.raises(ValueError, match="not found"):
        resolve_source(spark, "no_such_table_xyz")


def test_nanos_columns_names_the_file_with_a_bad_footer(tmp_path):
    from hudi_utility_spark.io import _nanos_columns

    bad = tmp_path / "x.parquet"
    bad.write_text("not parquet")
    with pytest.raises(ValueError, match=re.escape(str(bad))):
        _nanos_columns(str(bad))
