"""Validation operators (SURVEY §2.11 V1-V4) — the reference's signature
capability: accumulated-error argument checks, schema-role validation, and
post-write reconciliation.

Mirrors ``fastapi-backend/pyspark_script.py:41-85`` (argument validation
with accumulated error lists), ``:121-144`` (key/precombine/partition
fields must exist in the inferred schema, composite aware) and ``:146-178``
(re-read the destination, diff schemas by name+DataType ignoring ``_``
meta columns, assert global count equality).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.table import BootstrapMode, KeyedTable, TableType


class ValidationError(ValueError):
    """Raised with the full accumulated error list (the reference joins
    errors into one message, ``pyspark_script.py:84-85``)."""

    def __init__(self, errors: list[str]):
        self.errors = list(errors)
        super().__init__("Configuration Error: " + "; ".join(self.errors))


@dataclass
class BootstrapRequest:
    """Library-call equivalent of the reference's HTTP request body
    (``fastapi-backend/app.py:112-123``)."""

    data_file_path: str
    table_name: str
    record_key: list[str]
    precombine: str
    output_path: str
    partition_fields: list[str] = dc_field(default_factory=list)
    table_type: str = "COPY_ON_WRITE"
    bootstrap_type: str = "FULL_RECORD"
    partition_regex: str | None = None
    resume: bool = False
    dry_run: bool = False
    spark_config: dict = dc_field(default_factory=dict)

    def to_table(self) -> KeyedTable:
        return KeyedTable(
            path=self.output_path,
            record_key=self.record_key,
            precombine=self.precombine,
            partition_fields=self.partition_fields,
            table_type=TableType(self.table_type),
            name=self.table_name,
        )


def validate_request(req: BootstrapRequest) -> list[str]:
    """V1: argument validation with accumulated errors
    (``pyspark_script.py:41-85``). Returns the error list (empty = valid);
    callers that want exceptions use :func:`ensure_valid`."""
    errors: list[str] = []
    path = req.data_file_path
    for scheme in ("file://", "hdfs://"):
        if path.startswith(scheme):
            path = path[len(scheme):]
    if not req.data_file_path:
        errors.append("data_file_path must not be empty")
    elif not os.path.exists(path):
        errors.append(f"data_file_path does not exist: {req.data_file_path}")
    if not req.table_name:
        errors.append("table_name must not be empty")
    if not req.record_key or not [k for k in req.record_key if k]:
        errors.append("record_key must not be empty")
    if not req.precombine:
        errors.append("precombine field must not be empty")
    if not req.output_path:
        errors.append("output_path must not be empty")
    try:
        TableType(req.table_type)
    except ValueError:
        errors.append(
            f"Invalid table type: {req.table_type!r} "
            f"(expected one of {[t.value for t in TableType]})"
        )
    try:
        BootstrapMode.parse(req.bootstrap_type)
    except ValueError as exc:
        errors.append(str(exc))
    if req.partition_regex and not req.partition_fields:
        errors.append("partition_regex requires partition_fields")
    return errors


def ensure_valid(req: BootstrapRequest) -> None:
    errors = validate_request(req)
    if errors:
        raise ValidationError(errors)


def validate_fields_in_schema(df: DataFrame, table: KeyedTable) -> list[str]:
    """V2: every declared role column must exist in the inferred schema
    (``pyspark_script.py:121-144``), composite-key aware. Returns the
    accumulated error list."""
    names = set(df.schema.fieldNames())
    errors: list[str] = []
    for key in table.record_key:
        if key not in names:
            errors.append(f"Record key field not found in schema: {key}")
    if table.precombine not in names:
        errors.append(f"Precombine field not found in schema: {table.precombine}")
    for pf in table.partition_fields:
        if pf not in names:
            errors.append(f"Partition field not found in schema: {pf}")
    return errors


def schema_diff(source: DataFrame, dest: DataFrame) -> list[str]:
    """J3: full-outer diff of {name: DataType}, ignoring ``_``-prefixed
    metadata columns (``pyspark_script.py:153-165``). Schemas are driver
    metadata — plain Python, no Spark job."""
    src = {f.name: f.dataType for f in source.schema.fields}
    dst = {
        f.name: f.dataType
        for f in dest.schema.fields
        if not f.name.startswith("_")
    }
    errors = []
    for name, dtype in src.items():
        if name not in dst:
            errors.append(f"Column missing in destination: {name}")
        elif dst[name] != dtype:
            errors.append(
                f"Column type mismatch for {name}: source={dtype.simpleString()} "
                f"dest={dst[name].simpleString()}"
            )
    for name in dst:
        if name not in src:
            errors.append(f"Unexpected column in destination: {name}")
    return errors


def reconcile(
    spark: SparkSession,
    source: DataFrame,
    table: KeyedTable,
    check_schema: bool = True,
    expect_equal_counts: bool = True,
    *,
    _source_count: int | None = None,
) -> dict:
    """V3: post-write reconciliation (``pyspark_script.py:146-178``).

    Re-reads the destination, diffs schemas, compares global counts in a
    single action per side. Raises ValidationError on mismatch; returns
    {"source_count": n, "dest_count": m, "schema_errors": []} on success.
    Upserted tables may legitimately have dest < source (precombine
    dedup), so the count check is toggleable.

    ``_source_count`` is private to the bootstrap lifecycle, whose write
    already counted the source (``engine.bootstrap``); left unset, the
    source is counted here. The destination is always re-read and
    counted: that re-read is what verifies the write.
    """
    dest = table.read(spark)
    errors: list[str] = []
    if check_schema:
        errors.extend(schema_diff(source, dest))
    src_count = source.count() if _source_count is None else _source_count
    dst_count = dest.count()
    if expect_equal_counts and src_count != dst_count:
        errors.append(
            f"Record count mismatch: source={src_count} destination={dst_count}"
        )
    if errors:
        raise ValidationError(errors)
    return {"source_count": src_count, "dest_count": dst_count, "schema_errors": []}


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level reconciliation between two keyed relations — the
    value-granular extension of the reference's count-only post-write
    checks (`pyspark_script.py:146-178` compares schemas and totals;
    this names WHICH rows disagree). Classifies every key as ``added``
    (right only), ``removed`` (left only), or ``changed`` (present in
    both, any compared column differing null-safely); matching rows
    are dropped. Returns ``keys + [change_type]``.

    One full-outer shuffle join on the key columns; the comparison is
    a single null-safe struct equality (row-local, codegen'd), so a
    100 TB-vs-100 TB reconcile costs exactly one co-partitioned join —
    the standard migration cutover / backfill-audit primitive. Compare
    columns default to the non-key columns present on BOTH sides
    (schema drift audits pair this with :func:`schema_diff`).
    """
    # `_`-prefixed meta columns (commit instants etc.) are excluded by
    # default, matching the reference's reconciliation rule for Hudi
    # meta columns (`pyspark_script.py:154`): a replica legitimately
    # carries its own timeline.
    cols = compare_cols or [
        c
        for c in left.columns
        if c not in keys and c in right.columns and not c.startswith("_")
    ]
    l = left.select(*keys, F.struct(*cols).alias("_l"))
    r = right.select(*keys, F.struct(*cols).alias("_r"))
    j = l.withColumn("_lx", F.lit(True)).join(
        r.withColumn("_rx", F.lit(True)), on=keys, how="full_outer"
    )
    change = (
        F.when(F.col("_lx").isNull(), F.lit("added"))
        .when(F.col("_rx").isNull(), F.lit("removed"))
        .when(~F.col("_l").eqNullSafe(F.col("_r")), F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(*keys, "change_type")
    )
