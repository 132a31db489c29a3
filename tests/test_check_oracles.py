"""Spark-free checks of the oracle gate's type rule: DuckDB oracle
relations against hand-built Spark schemas."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql.types import (
    DecimalType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from tools.check_oracles import type_mismatches

# x is INTEGER, so DuckDB's SUM over it is HUGEINT
INT_SUM = "SELECT {} AS s FROM (VALUES (1), (2)) t(x)"


def _schema(dtype) -> StructType:
    return StructType([StructField("s", dtype)])


def test_integer_sum_is_flagged_against_long():
    rel = duckdb.sql(INT_SUM.format("SUM(x)"))
    assert type_mismatches(rel, _schema(LongType())) == [
        "type s: spark=bigint duck=HUGEINT"
    ]


def test_integer_sum_cast_to_bigint_passes_against_long():
    rel = duckdb.sql(INT_SUM.format("CAST(SUM(x) AS BIGINT)"))
    assert type_mismatches(rel, _schema(LongType())) == []


@pytest.mark.parametrize("dtype", [DecimalType(18, 2), DoubleType()])
def test_decimal_result_is_flagged(dtype):
    rel = duckdb.sql("SELECT CAST(1.5 AS DECIMAL(18, 2)) AS s")
    assert type_mismatches(rel, _schema(dtype))


def test_double_passes_against_double_and_is_flagged_against_long():
    rel = duckdb.sql("SELECT CAST(1.5 AS DOUBLE) AS s")
    assert type_mismatches(rel, _schema(DoubleType())) == []
    assert type_mismatches(rel, _schema(LongType()))
