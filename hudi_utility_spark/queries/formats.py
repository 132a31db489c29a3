"""Oracle-checked source-format queries: ORC and CSV/JSON scans (SURVEY
§2.1 S2/S3) exercised end-to-end — write a scratch copy in the target
format, re-read it through ``io.read_source``'s sniff-and-dispatch path,
and aggregate. The oracle computes the same result from the original
parquet, so the round trip is value-hash checked.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.io import read_source
from hudi_utility_spark.queries import fresh_scratch, query
from hudi_utility_spark.tables import load_table


@query(
    "fmt_orc_scan",
    """
    SELECT l_returnflag,
           l_linestatus,
           COUNT(*) AS cnt,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    sequential=True,
)
def fmt_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: ORC scan with mergeSchema. Lineitem round-trips through ORC
    (the reference's second accepted format, pyspark_script.py:335) and
    the format is *sniffed*, not declared, on re-read."""
    root = fresh_scratch(sf_dir, "orc")
    load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity"
    ).write.mode("overwrite").orc(root)
    df = read_source(spark, root)  # sniff_format resolves "orc"
    return df.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@query(
    "fmt_csv_json_scan",
    """
    SELECT r.r_name AS region_name,
           COUNT(*) AS n_nations,
           CAST(SUM(n.n_nationkey) AS BIGINT) AS key_sum
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    sequential=True,
)
def fmt_csv_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 extension formats: nation round-trips through CSV (header +
    inferSchema) and region through JSON; both re-read via the sniffing
    dispatcher, then broadcast-joined."""
    csv_root = fresh_scratch(sf_dir, "csv")
    json_root = fresh_scratch(sf_dir, "json")
    load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.mode("overwrite").option("header", "true").csv(csv_root)
    load_table(spark, sf_dir, "region").select(
        "r_regionkey", "r_name"
    ).write.mode("overwrite").json(json_root)
    nation = read_source(spark, csv_root)
    region = read_source(spark, json_root)
    return (
        nation.join(
            F.broadcast(region),
            nation["n_regionkey"] == region["r_regionkey"],
        )
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").alias("key_sum"),
        )
    )


@query(
    "src_synth_datasource",
    """
    WITH g AS (
      SELECT i AS doc_id,
             i // 250 AS shard,
             CAST(concat('0x', substr(md5(CAST(i AS VARCHAR)), 1, 12))
                  AS BIGINT) AS h
      FROM range(0, 2000) t(i)
    )
    SELECT doc_id, shard,
           list_extract(['en','de','fr','es','zh'], CAST(h % 5 AS INT) + 1)
             AS lang,
           CAST(64 + (h % 1937) AS INT) AS n_chars,
           (h % 1000) / 1000.0 AS quality
    FROM g
    WHERE shard IN (1, 3) AND doc_id < 900
    """,
    sequential=True,
)
def src_synth_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source (sources.py `SynthDocsDataSource`):
    a deterministic generator connector planned as one InputPartition
    per shard, read as Arrow batches, with `pushFilters` pruning shards
    at planning time (the `shard IN (1,3) AND doc_id < 900` predicate
    plans 2 of 8 shards — verified at unit level in
    tests/test_sources.py). The oracle REGENERATES the same rows in
    DuckDB from `range()` + the portable md5 formula — proving the
    connector's output is engine-independent, which is what makes a
    formula source usable as shared 100 TB benchmark input."""
    from hudi_utility_spark.sources import register_sources

    register_sources(spark)
    df = (
        spark.read.format("synth_docs")
        .option("rows", 2000)
        .option("rowsPerShard", 250)
        .load()
    )
    return df.filter(
        F.col("shard").isin(1, 3) & (F.col("doc_id") < 900)
    ).select("doc_id", "shard", "lang", "n_chars", "quality")


@query(
    "src_synth_stream",
    """
    WITH g AS (
      SELECT i,
             CAST(concat('0x', substr(md5(CAST(i AS VARCHAR)), 1, 12))
                  AS BIGINT) AS h
      FROM range(0, 500) t(i)
    )
    SELECT list_extract(['click','view','purchase','signup','error'],
                        CAST(h % 5 AS INT) + 1) AS event_type,
           COUNT(*) AS cnt,
           CAST(SUM(h % 100000) AS BIGINT) AS value_cents
    FROM g GROUP BY 1
    """,
    sequential=True,
)
def src_synth_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python streaming data source end-to-end (sources.py
    `SynthEventsDataSource`, SimpleDataSourceStreamReader): a REAL
    readStream → memory-sink run over the bounded deterministic event
    stream (5 micro-batches of 120 rows to the 500-row cap), then a
    batch aggregate over what landed. Deterministic offsets + formula
    rows make an actual streaming execution value-hash checkable — the
    oracle regenerates the stream's content from range(). Exactly-once
    is the tested property: 500 generated ids → exactly 500 rows of
    committed micro-batch output, aggregated to per-type counts/cents.

    The aggregate is computed from a ``foreachBatch`` capture of
    per-batch PARTIAL aggregates (integer cents — order-independent
    sums) plus per-batch id-range COVERAGE (count, min/max, SUM and
    COUNT DISTINCT of event_id). foreachBatch runs synchronously inside
    each micro-batch commit, so ``processAllAvailable()`` returning
    guarantees every batch is captured. The run is SELF-VERIFYING: after
    the stream drains, the committed batch ranges must tile
    [0, maxRows) exactly — no gap, no cross-batch-id overlap, and each
    batch must be EXACTLY its claimed contiguous range. The density
    check (``n == mx-mn+1``) alone admits a duplicated-id + missing-id
    pair inside one range, so each batch also requires
    ``countDistinct(event_id) == n`` (no duplicates) and
    ``SUM(event_id) == (mn+mx)*n/2`` (with density + distinctness this
    pins the committed multiset to exactly {mn..mx}). A passing audit
    therefore mathematically implies the committed id multiset is
    exactly {0..maxRows-1}. On top of that, the captured per-type
    partials are checked against the expected totals computed directly
    from the ``synth_event`` formula in Python; an attempt that faults
    prints both to stderr. A violation retries with a fresh checkpoint;
    on every-attempt violation the query raises with the full coverage
    + partials dump.
    100 TB posture: the capture holds ≤8 scalars + 5 partial rows per
    batch, constant regardless of batch size — the heavy aggregate
    stays distributed inside foreachBatch."""
    import sys
    import uuid

    from hudi_utility_spark.sources import register_sources, synth_event

    register_sources(spark)
    max_rows, rows_per_batch = 500, 120

    # ground truth from the generator formula (pure Python, no Spark):
    # per-type (cnt, cents) the committed stream MUST aggregate to
    expected: dict[str, tuple[int, int]] = {}
    for i in range(max_rows):
        _, _, etype, value = synth_event(i)
        c, s = expected.get(etype, (0, 0))
        expected[etype] = (c + 1, s + round(value * 100))

    def _run_once() -> tuple[list[tuple[str, int, int]], list[str]]:
        ckpt = fresh_scratch(sf_dir, f"stream_ckpt_{uuid.uuid4().hex[:8]}")
        # bid -> (coverage (n, mn, mx, sum_id, n_distinct), partials)
        acc: dict[int, tuple[tuple[int, int, int, int, int], list]] = {}

        def capture(bdf, bid: int) -> None:
            rows = (
                bdf.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("cnt"),
                    F.sum(
                        F.round(F.col("value") * 100).cast("long")
                    ).alias("cents"),
                    F.min("event_id").alias("mn"),
                    F.max("event_id").alias("mx"),
                    F.sum("event_id").alias("sid"),
                    # event_type is a pure function of event_id, so a
                    # duplicated id lands in ONE type group and the
                    # per-type distinct counts sum to the batch distinct
                    F.countDistinct("event_id").alias("nd"),
                )
                .collect()
            )
            if rows:
                n = sum(int(r.cnt) for r in rows)
                mn = min(int(r.mn) for r in rows)
                mx = max(int(r.mx) for r in rows)
                sid = sum(int(r.sid) for r in rows)
                nd = sum(int(r.nd) for r in rows)
                acc[int(bid)] = (
                    (n, mn, mx, sid, nd),
                    [(r.event_type, int(r.cnt), int(r.cents)) for r in rows],
                )

        q = (
            spark.readStream.format("synth_events")
            .option("rowsPerBatch", rows_per_batch)
            .option("maxRows", max_rows)
            .load()
            .writeStream.foreachBatch(capture)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # exactly-once audit: committed ranges must tile [0, max_rows)
        # and each batch must be exactly its claimed contiguous range
        faults: list[str] = []
        cover = sorted(
            (cov[1], cov[2], cov[0], cov[3], cov[4], bid)
            for bid, (cov, _) in acc.items()
        )
        expect = 0
        for mn, mx, n, sid, nd, bid in cover:
            if n != mx - mn + 1:
                faults.append(f"bid={bid} sparse: n={n} range=[{mn},{mx}]")
            if nd != n:
                faults.append(
                    f"bid={bid} DUPLICATE ids: n={n} distinct={nd}"
                )
            if sid != (mn + mx) * n // 2:
                faults.append(
                    f"bid={bid} id-sum drift: sum={sid} "
                    f"want={(mn + mx) * n // 2} range=[{mn},{mx}]"
                )
            if mn < expect:
                faults.append(
                    f"bid={bid} RE-READ overlap: [{mn},{mx}] vs covered<{expect}"
                )
            elif mn > expect:
                faults.append(f"GAP [{expect},{mn - 1}] lost before bid={bid}")
            expect = max(expect, mx + 1)
        total = sum(n for _, _, n, _, _, _ in cover)
        if total != max_rows or expect != max_rows:
            faults.append(f"total={total} high={expect} want={max_rows}")
        partials = [row for bid in sorted(acc) for row in acc[bid][1]]
        # content check vs the generator formula: a drift HERE with a
        # clean coverage audit would name a value-column corruption
        got: dict[str, tuple[int, int]] = {}
        for etype, cnt, cents in partials:
            c, s = got.get(etype, (0, 0))
            got[etype] = (c + cnt, s + cents)
        if not faults and got != expected:
            for t in sorted(set(got) | set(expected)):
                if got.get(t) != expected.get(t):
                    faults.append(
                        f"type={t} got(cnt,cents)={got.get(t)} "
                        f"want={expected.get(t)}"
                    )
        return partials, faults

    partials, faults = [], ["never ran"]
    for attempt in range(3):
        partials, faults = _run_once()
        if not faults:
            break
        print(
            f"src_synth_stream attempt {attempt}: faults={faults} "
            f"partials={sorted(partials)} expected_totals={sorted(expected.items())}",
            file=sys.stderr,
        )
    if faults:
        raise RuntimeError(
            f"src_synth_stream: exactly-once violation on all attempts: "
            f"{faults}"
        )
    return (
        spark.createDataFrame(
            partials, "event_type string, cnt bigint, cents bigint"
        )
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("cents").alias("value_cents"),
        )
    )


@query(
    "src_synth_stream_offsets",
    """
    WITH g AS (
      SELECT i, CAST(i // 120 AS BIGINT) AS batch_id,
             CAST(concat('0x', substr(md5(CAST(i AS VARCHAR)), 1, 12))
                  AS BIGINT) AS h
      FROM range(0, 500) t(i)
    )
    SELECT batch_id,
           COUNT(*) AS n_rows,
           MIN(i) AS min_event_id,
           MAX(i) AS max_event_id,
           CAST(SUM(h % 1000) AS BIGINT) AS user_checksum
    FROM g GROUP BY batch_id
    """,
    sequential=True,
)
def src_synth_stream_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch offset audit of the Python streaming source
    (`SynthEventsDataSource`, sources.py): a REAL readStream run where
    `foreachBatch` records each committed batch's (count, min/max
    event_id, user-id checksum). The offset contract under test is the
    one a Kafka-like replayable log gives a 100 TB ingest: batch b must
    cover EXACTLY ids [b*rowsPerBatch, min((b+1)*rowsPerBatch, maxRows))
    — no gaps, no overlaps, no drift — which the oracle regenerates
    from range() + the same integer math. Complements
    `src_synth_stream` (which checks the exactly-once aggregate over
    the sunk rows) by pinning the batch BOUNDARIES themselves. The
    boundary audit is cross-batch-id: a skipped-then-re-read range
    landing under a FRESH batch id (the failure mode the bid-keyed
    overwrite alone cannot see) trips the overlap/gap check below, the
    run retries with a fresh checkpoint, and a persistent violation
    raises with the full coverage dump."""
    import sys
    import uuid

    from hudi_utility_spark.sources import register_sources

    register_sources(spark)
    max_rows, rows_per_batch = 500, 120

    def _run_once() -> tuple[dict, list[str]]:
        ckpt = fresh_scratch(sf_dir, f"stream_off_ckpt_{uuid.uuid4().hex[:8]}")
        acc: dict[int, tuple[int, int, int, int]] = {}

        def audit(bdf, bid: int) -> None:
            r = bdf.agg(
                F.count(F.lit(1)).alias("n"),
                F.min("event_id").alias("mn"),
                F.max("event_id").alias("mx"),
                F.sum("user_id").alias("uc"),
            ).collect()[0]
            if r.n:
                # dict-keyed by batch id: a checkpoint replay of a batch
                # overwrites with identical values instead of duplicating
                acc[int(bid)] = (int(r.n), int(r.mn), int(r.mx), int(r.uc))

        q = (
            spark.readStream.format("synth_events")
            .option("rowsPerBatch", rows_per_batch)
            .option("maxRows", max_rows)
            .load()
            .writeStream.foreachBatch(audit)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        faults: list[str] = []
        expect = 0
        for bid in sorted(acc):
            n, mn, mx, _ = acc[bid]
            want_lo = bid * rows_per_batch
            want_hi = min(want_lo + rows_per_batch, max_rows) - 1
            if (mn, mx, n) != (want_lo, want_hi, want_hi - want_lo + 1):
                faults.append(
                    f"bid={bid} covers [{mn},{mx}] n={n}, "
                    f"want [{want_lo},{want_hi}]"
                )
            if mn < expect:
                faults.append(f"bid={bid} RE-READ overlap below {expect}")
            elif mn > expect:
                faults.append(f"GAP [{expect},{mn - 1}] before bid={bid}")
            expect = max(expect, mx + 1)
        if expect != max_rows:
            faults.append(f"high watermark {expect} != {max_rows}")
        return acc, faults

    acc, faults = {}, ["never ran"]
    for attempt in range(3):
        acc, faults = _run_once()
        if not faults:
            break
        print(
            f"src_synth_stream_offsets attempt {attempt}: offset-contract "
            f"violation {faults}",
            file=sys.stderr,
        )
    if faults:
        raise RuntimeError(
            f"src_synth_stream_offsets: offset-contract violation on all "
            f"attempts: {faults}"
        )
    rows = [(bid, *v) for bid, v in sorted(acc.items())]
    return spark.createDataFrame(
        rows,
        "batch_id bigint, n_rows bigint, min_event_id bigint, "
        "max_event_id bigint, user_checksum bigint",
    )


@query(
    "src_jsonl_export_roundtrip",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents WHERE doc_id % 5 = 0
    GROUP BY lang
    """,
    sequential=True,
)
def src_jsonl_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exercise of the Python DataSourceWriter (the WRITE
    side of the custom-source family, `sources.py JsonlExportWriter`):
    a documents slice goes out through the two-phase staged-rename
    commit protocol (mode=overwrite: manifest dropped first, stale
    parts removed, staged parts renamed in, fresh _SUCCESS written),
    comes back via spark.read.json, and must aggregate identically to
    the oracle's direct scan — exactly-once commit made value-hash-
    checkable. The reader requires the manifest, so a partial export
    can never silently pass."""
    import json as _json
    import os

    from hudi_utility_spark.sources import register_sources

    register_sources(spark)
    root = fresh_scratch(sf_dir, "jsonl_export")
    out = os.path.join(root, "docs")
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    ).select("doc_id", "lang", "n_chars")
    d.write.format("jsonl_export").mode("overwrite").save(out)
    manifest = os.path.join(out, "_SUCCESS")
    with open(manifest) as f:
        files = [e["file"] for e in _json.load(f)["files"]]
    paths = [os.path.join(out, name) for name in files]
    # explicit schema: the exporter wrote exactly these three columns,
    # so schema inference — a full extra parse pass over the JSONL
    # before the real scan — is pure waste (guide §1.2); the read
    # produces the identical relation either way
    back = spark.read.schema("doc_id BIGINT, lang STRING, n_chars BIGINT").json(
        paths
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


@query(
    "fmt_text_log_scan",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS total_value
    FROM events WHERE value IS NOT NULL GROUP BY event_type
    """,
    sequential=True,
)
def fmt_text_log_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured text-log ingestion (the syslog/app-log source class
    the structured readers can't touch): events serialize to
    `ts=<us> type=<t> value=<v>` lines via `write.text`, re-read as raw
    lines with `read.text`, and the schema is recovered ON READ with
    one `regexp_extract` triple — parse failures become NULLs (the
    permissive-mode contract), and the parsed aggregate must equal the
    direct parquet aggregate value-for-value. Map-only parse at scan
    bandwidth; at 100 TB the regex runs in whole-stage codegen, never
    Python. Float round-trip is exact because the value serializes via
    CAST(double AS STRING) and parses back with CAST(STRING AS DOUBLE)
    — both shortest-round-trip representations."""

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.concat(
                F.lit("ts="),
                F.unix_micros(F.col("ts").cast("timestamp_ltz")).cast("string"),
                F.lit(" type="),
                F.col("event_type"),
                F.lit(" value="),
                F.col("value").cast("string"),
            ).alias("value")
        )
    )
    root = fresh_scratch(sf_dir, "textlog")
    ev.write.mode("overwrite").text(root)
    lines = spark.read.text(root)
    parsed = lines.select(
        F.regexp_extract("value", r"type=(\S+)", 1).alias("event_type"),
        F.regexp_extract("value", r"value=(\S+)", 1)
        .cast("double")
        .alias("v"),
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("v"), 2).alias("total_value"),
    )


@query(
    "fmt_corrupt_json_audit",
    """
    WITH src AS (SELECT doc_id, lang, n_chars FROM documents),
    marked AS (
        SELECT *, doc_id % 7 = 3 AS corrupt FROM src
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_good,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM marked WHERE NOT corrupt
    GROUP BY lang
    UNION ALL
    SELECT '__corrupt__',
           CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM marked
    """,
    sequential=True,
)
def fmt_corrupt_json_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode corrupt-record quarantine, end to end: a JSONL
    export where every 7th-mod-3 line is DELIBERATELY truncated
    mid-record, read back with `columnNameOfCorruptRecord` so bad lines
    land in the quarantine column instead of failing the job — the
    ingest posture a 100 TB pipeline needs for the real web's malformed
    tail (schema-on-read + per-record error isolation, never
    fail-the-file). The oracle knows the corruption rule, so good-row
    aggregates AND the corrupt count are value-hash-checked. Spark must
    cache the raw read before splitting good/corrupt — the documented
    PERMISSIVE caveat that a filter on the corrupt column alone can be
    pushed into the parse."""
    import os

    root = fresh_scratch(sf_dir, "corrupt_json")
    os.makedirs(root, exist_ok=True)
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
        .collect()
    )
    path = os.path.join(root, "docs.jsonl")
    import json as _json

    with open(path, "w") as f:
        for row in d:
            line = _json.dumps(
                {
                    "doc_id": row["doc_id"],
                    "lang": row["lang"],
                    "n_chars": row["n_chars"],
                }
            )
            if row["doc_id"] % 7 == 3:
                line = line[: max(4, len(line) // 2)]  # truncate mid-record
            f.write(line + "\n")
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        .cache()  # required: filtering on _corrupt alone is unsupported
    )
    good = back.filter(F.col("_corrupt").isNull()).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    bad = back.filter(F.col("_corrupt").isNotNull()).agg(
        F.lit("__corrupt__").alias("lang"),
        F.count(F.lit(1)).alias("n_good"),
        F.lit(0).cast("long").alias("chars"),
    )
    return good.unionByName(bad)
