"""Semi-structured VARIANT queries (Spark 4 native JSON path).

The reference decodes JSON request payloads row-by-row in Python
(``fastapi-backend/app.py:213`` ``json.loads`` on transaction_data).
The engine's scale path for semi-structured data is Spark 4's VARIANT
type: ``parse_json`` once into the shredded binary encoding, then
``variant_get`` typed path extraction — no per-row Python, no repeated
string re-parsing, and the extraction stays inside whole-stage codegen.

Oracle note: the JSON envelope each query parses is built
deterministically from base table columns, so the DuckDB oracle
computes the same values straight from those columns (and, for the
path-miss audit, from DuckDB's own json_extract) — the value hash
checks that the VARIANT round-trip is lossless and the path semantics
match ANSI JSON behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.queries import query
from hudi_utility_spark.tables import load_table


@query(
    "variant_extract_profile",
    """
    SELECT event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS sum_v0,
           CAST(ROUND(SUM(CAST(value * 2 AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS sum_v1
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def variant_extract_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed extraction through VARIANT: wrap each event in a nested JSON
    envelope, ``parse_json`` it into one VARIANT column, then pull scalar,
    nested-object, and array-index paths back out with ``variant_get``.

    At 100 TB this is the pattern that replaces N ``get_json_object``
    calls re-parsing the same string N times: one parse into the shredded
    encoding, then O(1) typed path reads per field.
    """
    ev = load_table(spark, sf_dir, "events")
    envelope = F.to_json(
        F.struct(
            F.col("event_id").alias("id"),
            F.struct(
                F.col("event_type").alias("type"),
                F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            ).alias("meta"),
            F.array(F.col("value"), F.col("value") * 2).alias("vals"),
        )
    )
    v = ev.select(F.parse_json(envelope).alias("v"))
    return (
        v.select(
            F.variant_get("v", "$.meta.type", "string").alias("event_type"),
            F.variant_get("v", "$.meta.k", "bigint").alias("k"),
            F.variant_get("v", "$.vals[0]", "double").alias("v0"),
            F.variant_get("v", "$.vals[1]", "double").alias("v1"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k").alias("sum_k"),
            F.round(F.sum(F.col("v0").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_v0"),
            F.round(F.sum(F.col("v1").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_v1"),
        )
        .orderBy("event_type")
    )


@query(
    "variant_path_miss_audit",
    """
    SELECT event_type,
           COUNT(*) AS cnt,
           COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_present,
           COUNT(CAST(json_extract_string(props, '$.missing') AS BIGINT))
               AS miss_present
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def variant_path_miss_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-miss semantics audit: ``try_variant_get`` on a path that does
    not exist must yield NULL (never error), matching ANSI JSON extract.
    Counts per event_type how many rows resolve the real path vs the
    missing one — the missing-path count must be 0 on both engines."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    return (
        v.select(
            "event_type",
            F.try_variant_get("v", "$.k", "bigint").alias("k"),
            F.try_variant_get("v", "$.missing", "bigint").alias("miss"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count("k").alias("k_present"),
            F.count("miss").alias("miss_present"),
        )
        .orderBy("event_type")
    )
