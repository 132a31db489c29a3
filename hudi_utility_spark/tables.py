"""Test-table loaders for the TPC-H-ish corpus at /root/testdata/sf*.

Thin wrappers over :func:`hudi_utility_spark.io.read_source`, which
normalizes parquet ``timestamp[ns]`` columns (the corpus' ``events.ts``)
that Spark would otherwise reject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hudi_utility_spark.io import read_source

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table, normalizing ns-timestamps to TimestampType."""
    return read_source(spark, f"{sf_dir}/{name}.parquet", fmt="parquet")
