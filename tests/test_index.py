"""File-level indexes: pruned reads and lookups must equal full-scan
filters while touching strictly fewer files on a sorted layout, and a
stale index (base files rewritten since it was built) must cost extra
reads, never a wrong answer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hudi_utility_spark import index
from hudi_utility_spark.table import KeyedTable, TableType
from hudi_utility_spark.write import write_sorted_partitioned


@pytest.fixture(scope="module")
def sorted_table(spark, lineitem, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idx") / "li")
    # sort within partitions on orderkey → tight, mostly-disjoint
    # per-file ranges (the layout the index is designed for)
    write_sorted_partitioned(
        lineitem.repartition(8),
        root,
        ["l_returnflag"],
        ["l_orderkey"],
        num_files=12,
    )
    index.build_column_stats(spark, root, ["l_orderkey", "l_quantity"])
    return root


def test_pruned_read_matches_full_filter(spark, lineitem, sorted_table):
    lo, hi = 100, 500
    got = index.read_with_skipping(spark, sorted_table, "l_orderkey", lo, hi)
    want = lineitem.filter(
        (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") <= hi)
    )
    assert got.count() == want.count()
    assert got.agg(F.sum("l_quantity")).collect()[0][0] == pytest.approx(
        want.agg(F.sum("l_quantity")).collect()[0][0]
    )


def test_pruning_skips_files_on_sorted_layout(spark, sorted_table):
    mx = spark.read.parquet(sorted_table).agg(F.max("l_orderkey")).collect()[0][0]
    kept, total = index.prune_files(
        spark, sorted_table, "l_orderkey", mx - 5, mx
    )
    assert total > 1
    assert 0 < len(kept) < total


def test_empty_range_reads_nothing(spark, sorted_table):
    mx = spark.read.parquet(sorted_table).agg(F.max("l_orderkey")).collect()[0][0]
    got = index.read_with_skipping(
        spark, sorted_table, "l_orderkey", mx + 10, mx + 20
    )
    assert got.isEmpty()


def test_record_index_point_lookup(spark, events, tmp_path):
    from hudi_utility_spark.table import KeyedTable, TableType
    from hudi_utility_spark.write import delete_keys, upsert

    table = KeyedTable(
        path=str(tmp_path / "t"),
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_type"],
        table_type=TableType.MERGE_ON_READ,
    )
    upsert(spark, events, table, commit_time="1")
    # log churn AFTER the index is built: updates and a delete the
    # lookup must still see (index covers base; log is unioned live)
    index.build_record_index(spark, table)
    upd = events.limit(10).select(
        "event_id", "event_type",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        F.lit(123.0).alias("value"),
    )
    upsert(spark, upd, table, commit_time="2")
    dead = events.limit(3).select(
        "event_id", "event_type", (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("ts")
    )
    delete_keys(spark, dead, table, commit_time="3")

    wanted = events.limit(10).select("event_id")
    got = index.point_lookup(spark, table, wanted)
    rows = {r.event_id: r.value for r in got.select("event_id", "value").collect()}
    dead_ids = {r.event_id for r in dead.collect()}
    want_ids = {r.event_id for r in wanted.collect()} - dead_ids
    assert set(rows) == want_ids
    assert all(v == 123.0 for v in rows.values())

    # missing keys resolve to nothing
    mx = events.agg(F.max("event_id")).collect()[0][0]
    ghost = spark.range(mx + 100, mx + 103).selectExpr("id AS event_id")
    assert index.point_lookup(spark, table, ghost).isEmpty()


def test_zorder_plan_has_no_global_window_or_single_partition(lineitem):
    """The r2 scale-killer: percent_rank's empty-partition window put the
    whole table in ONE task. The quantile-boundary rewrite must keep the
    write plan free of Window operators and single-partition Exchanges —
    only the repartitionByRange data shuffle remains."""
    from hudi_utility_spark.write import zorder_buckets, zorder_value

    cols = ["l_orderkey", "l_partkey"]
    zval = zorder_value(zorder_buckets(lineitem, cols, bits=8), bits=8)
    ranged = (
        lineitem.withColumn("__z", zval)
        .repartitionByRange(16, F.col("__z"))
        .sortWithinPartitions("__z")
    )
    plan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_zorder_prunes_on_both_dimensions(spark, lineitem, tmp_path):
    from hudi_utility_spark.write import write_zordered

    root = str(tmp_path / "zo")
    write_zordered(lineitem, root, ["l_orderkey", "l_partkey"], num_files=16)
    index.build_column_stats(spark, root, ["l_orderkey", "l_partkey"])

    assert spark.read.parquet(root).count() == lineitem.count()
    for c in ("l_orderkey", "l_partkey"):
        mx = lineitem.agg(F.max(c)).collect()[0][0]
        kept, total = index.prune_files(spark, root, c, 0, mx // 10)
        assert 0 < len(kept) < total, c
        # pruned read still returns exactly the filtered rows
        got = index.read_with_skipping(spark, root, c, 0, mx // 10).count()
        want = lineitem.filter(F.col(c) <= mx // 10).count()
        assert got == want


def test_bloom_index_lookup_matches_exact_filter(spark, events, tmp_path):
    from hudi_utility_spark.table import KeyedTable, TableType
    from hudi_utility_spark.write import delete_keys, upsert

    table = KeyedTable(
        path=str(tmp_path / "bl"),
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_type"],
        table_type=TableType.MERGE_ON_READ,
    )
    upsert(spark, events, table, commit_time="1")
    index.build_bloom_index(spark, table, m_bits=2048, k=3)

    # log churn AFTER the index is built: the lookup must still see it
    upd = events.limit(10).select(
        "event_id", "event_type",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        F.lit(77.0).alias("value"),
    )
    upsert(spark, upd, table, commit_time="2")
    dead = events.limit(3).select(
        "event_id", "event_type", (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("ts")
    )
    delete_keys(spark, dead, table, commit_time="3")

    wanted = events.limit(10).select("event_id")
    got = index.bloom_lookup(spark, table, wanted)
    rows = {r.event_id: r.value for r in got.select("event_id", "value").collect()}
    dead_ids = {r.event_id for r in dead.collect()}
    want_ids = {r.event_id for r in wanted.collect()} - dead_ids
    assert set(rows) == want_ids
    assert all(v == 77.0 for v in rows.values())


def test_bloom_index_prunes_files_and_never_misses(spark, events, tmp_path):
    from hudi_utility_spark.table import KeyedTable, TableType
    from hudi_utility_spark.write import upsert

    table = KeyedTable(
        path=str(tmp_path / "bl2"),
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_type"],
        table_type=TableType.COPY_ON_WRITE,
    )
    # many files: repartition before bootstrap so each partition dir
    # holds several base files with distinct key sets
    upsert(spark, events.repartition(8), table, commit_time="1")
    idx = index.build_bloom_index(spark, table, m_bits=4096, k=3)
    total = idx.count()
    assert total > 4

    # single-key probe: candidates must include the key's true file and
    # (at this m/k on distinct keys) strictly prune the file set
    one = events.limit(1).select("event_id")
    files = index.bloom_candidate_files(spark, table, one)
    assert 0 < len(files) < total
    got = index.bloom_lookup(spark, table, one)
    assert got.count() == 1

    # absent key: exact residual filter discards bloom false positives
    mx = events.agg(F.max("event_id")).collect()[0][0]
    ghost = spark.range(mx + 500, mx + 501).selectExpr("id AS event_id")
    assert index.bloom_lookup(spark, table, ghost).isEmpty()


def test_secondary_index_lookup_with_log_churn(spark, events, tmp_path):
    from hudi_utility_spark.table import KeyedTable, TableType
    from hudi_utility_spark.write import upsert

    table = KeyedTable(
        path=str(tmp_path / "sec"),
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_type"],
        table_type=TableType.MERGE_ON_READ,
    )
    upsert(spark, events.repartition(6), table, commit_time="1")
    idx = index.build_secondary_index(spark, table, "user_id")
    n_files = spark.read.parquet(str(tmp_path / "sec" / "_index/secondary/user_id")) \
        .select("file").distinct().count()
    assert n_files > 1

    uid = events.select("user_id").first()[0]
    probe = spark.createDataFrame([(uid,)], "user_id LONG")

    # baseline: lookup == plain filter on the snapshot
    want = {r.event_id for r in table.read(spark).filter(F.col("user_id") == uid).collect()}
    got = {r.event_id for r in index.secondary_lookup(spark, table, "user_id", probe).collect()}
    assert got == want and got

    # log churn AFTER the index: move one of uid's events to another user
    # (must vanish from results) and move a foreign event TO uid (must
    # appear — the log is always unioned, no index entry needed)
    moved_away = events.filter(F.col("user_id") == uid).limit(1).select(
        "event_id", "event_type",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        (F.col("user_id") + 1).alias("user_id"), "value",
    )
    foreign = events.filter(F.col("user_id") != uid).limit(1).select(
        "event_id", "event_type",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        F.lit(uid).alias("user_id"), "value",
    )
    upsert(spark, moved_away.unionByName(foreign), table, commit_time="2")

    want2 = {r.event_id for r in table.read(spark).filter(F.col("user_id") == uid).collect()}
    got2 = {r.event_id for r in index.secondary_lookup(spark, table, "user_id", probe).collect()}
    assert got2 == want2
    assert moved_away.first().event_id not in got2
    assert foreign.first().event_id in got2


def test_footer_built_index_matches_scan_built(spark, lineitem, sorted_table):
    """The footer-metadata build must agree file-by-file with the
    data-scan build (the documented production upgrade path) and drive
    identical pruned reads."""
    scan_idx = {
        r.file: (r.num_rows, r.min_l_orderkey, r.max_l_orderkey)
        for r in spark.read.parquet(sorted_table + "/_index/column_stats").collect()
    }
    footer = index.build_column_stats_from_footers(
        spark, sorted_table, ["l_orderkey", "l_quantity"]
    )
    foot_idx = {
        r.file: (r.num_rows, r.min_l_orderkey, r.max_l_orderkey)
        for r in footer.collect()
    }
    assert foot_idx == scan_idx

    lo, hi = 100, 500
    got = index.read_with_skipping(spark, sorted_table, "l_orderkey", lo, hi)
    want = lineitem.filter(
        (F.col("l_orderkey") >= lo) & (F.col("l_orderkey") <= hi)
    )
    assert got.count() == want.count()
    # restore the scan-built index for any later module-scoped test
    index.build_column_stats(spark, sorted_table, ["l_orderkey", "l_quantity"])


def test_refresh_indexes_after_cow_rewrite(spark, events, tmp_path):
    from hudi_utility_spark.table import KeyedTable, TableType
    from hudi_utility_spark.write import upsert

    table = KeyedTable(
        path=str(tmp_path / "rfr"),
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_type"],
        table_type=TableType.COPY_ON_WRITE,
    )
    upsert(spark, events.repartition(4), table, commit_time="1")
    index.build_record_index(spark, table)
    index.build_bloom_index(spark, table, m_bits=2048, k=3)
    index.build_secondary_index(spark, table, "user_id")

    # COW upsert rewrites touched partitions → every file-granular index
    # is stale; refresh discovers and rebuilds all of them
    churn = events.limit(20).select(
        "event_id", "event_type",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        F.lit(55.0).alias("value"), "user_id",
    )
    upsert(spark, churn, table, commit_time="2")
    refreshed = index.refresh_indexes(spark, table)
    assert refreshed == ["bloom", "record_index", "secondary/user_id"]

    # post-refresh lookups are exact against the new file layout
    wanted = events.limit(20).select("event_id")
    got = index.point_lookup(spark, table, wanted)
    assert got.count() == 20
    assert {r.value for r in got.select("value").collect()} == {55.0}
    got_b = index.bloom_lookup(spark, table, wanted)
    assert got_b.count() == 20

    uid = events.select("user_id").first()[0]
    probe = spark.createDataFrame([(uid,)], "user_id LONG")
    want_ids = {
        r.event_id
        for r in table.read(spark).filter(F.col("user_id") == uid).collect()
    }
    got_ids = {
        r.event_id
        for r in index.secondary_lookup(spark, table, "user_id", probe).collect()
    }
    assert got_ids == want_ids


# -- stale indexes: every reader checks the index against the listing ---------

_ALL_INDEXES = ["bloom", "column_stats", "record_index", "secondary/user_id"]


def _rows(df, cols):
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


def _indexed_table(spark, events, path, table_type=TableType.COPY_ON_WRITE,
                   partition_fields=("event_type",), rows=None):
    """A keyed table of 200 events in several files per partition, with
    every index kind built over it (bloom sized 2048 bits, not the
    default)."""
    from hudi_utility_spark.timeline import stamp
    from hudi_utility_spark.write import write_partitioned

    table = KeyedTable(
        path=path,
        record_key=["event_id"],
        precombine="ts",
        partition_fields=list(partition_fields),
        table_type=table_type,
    )
    rows = events.limit(200) if rows is None else rows
    write_partitioned(stamp(rows, "1").repartition(3), path, table.partition_fields,
                      pre_partitioned=True)
    index.build_record_index(spark, table)
    index.build_bloom_index(spark, table, m_bits=2048, k=3)
    index.build_secondary_index(spark, table, "user_id")
    index.build_column_stats(spark, table.path, ["event_id"])
    return table


def _probe(spark, table, n=40):
    ids = sorted(r.event_id for r in table.read(spark).select("event_id").collect())[:n]
    return spark.createDataFrame([(i,) for i in ids], "event_id LONG")


def _assert_every_index_exact(spark, table, keys):
    """Each lookup kind equals the snapshot semi-joined with its probe;
    the column-stats range read equals the exact filter of the base."""
    snap = table.read(spark)
    cols = sorted(snap.columns)
    want = _rows(snap.join(keys, "event_id", "left_semi"), cols)
    assert want
    assert _rows(index.point_lookup(spark, table, keys), cols) == want
    assert _rows(index.bloom_lookup(spark, table, keys), cols) == want

    users = snap.join(keys, "event_id", "left_semi").select("user_id").distinct()
    want_u = _rows(snap.join(users, "user_id", "left_semi"), cols)
    got_u = index.secondary_lookup(spark, table, "user_id", users)
    assert _rows(got_u, cols) == want_u

    ids = [r[0] for r in keys.collect()]
    lo, hi = min(ids), max(ids)
    rng = (F.col("event_id") >= lo) & (F.col("event_id") <= hi)
    got_r = index.read_with_skipping(spark, table.path, "event_id", lo, hi)
    assert _rows(got_r, cols) == _rows(table.read_base(spark).filter(rng), cols)


def _churn(events):
    """Updates of the first 20 events: new value, later precombine."""
    return events.limit(20).select(
        "event_id", "event_type",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        "user_id", F.lit(55.0).alias("value"), "props",
    )


def _cow_upsert(spark, events, path):
    from hudi_utility_spark.write import upsert

    table = _indexed_table(spark, events, path)
    upsert(spark, _churn(events), table, commit_time="2")
    return table


def _cow_upsert_partial(spark, events, path):
    from hudi_utility_spark.write import upsert_partial

    table = _indexed_table(spark, events, path)
    upsert_partial(spark, _churn(events).drop("props"), table, commit_time="2")
    return table


def _cow_delete_keys(spark, events, path):
    from hudi_utility_spark.write import delete_keys

    table = _indexed_table(spark, events, path)
    dead = _churn(events).limit(5).select("event_id", "event_type", "ts")
    delete_keys(spark, dead, table, commit_time="2")
    return table


def _cow_merge_into(spark, events, path):
    from hudi_utility_spark.write import merge_into

    table = _indexed_table(spark, events, path)
    merge_into(
        spark, _churn(events), table,
        update_set={"value": "s.value"}, delete_condition="t.user_id % 3 = 0",
        commit_time="2",
    )
    return table


def _mor_compact(partition_fields):
    def op(spark, events, path):
        from hudi_utility_spark.write import upsert

        table = _indexed_table(spark, events, path, TableType.MERGE_ON_READ,
                               partition_fields)
        upsert(spark, _churn(events), table, commit_time="2")
        table.compact(spark)
        return table

    return op


def _cluster(spark, events, path):
    table = _indexed_table(spark, events, path)
    table.cluster(spark, ["event_id"], num_files=2)
    return table


def _compact_small_files(spark, events, path):
    table = _indexed_table(spark, events, path)
    assert not table.compact_small_files(spark, small_file_bytes=1 << 30)["noop"]
    return table


def _repartition_layout(spark, events, path):
    table = _indexed_table(spark, events, path)
    return table.repartition_layout(spark, [])


def _restore_snapshot(spark, events, path):
    from hudi_utility_spark.timeline import export_snapshot, restore_snapshot

    table = _indexed_table(spark, events, path)
    export_snapshot(spark, table, path + ".bak")
    restore_snapshot(spark, table, path + ".bak")
    return table


@pytest.mark.parametrize(
    "rewrite",
    [
        _cow_upsert, _cow_upsert_partial, _cow_delete_keys, _cow_merge_into,
        _mor_compact(["event_type"]), _mor_compact([]), _cluster,
        _compact_small_files, _repartition_layout, _restore_snapshot,
    ],
    ids=[
        "cow_upsert", "cow_upsert_partial", "cow_delete_keys", "cow_merge_into",
        "mor_compact_partitioned", "mor_compact_unpartitioned", "cluster",
        "compact_small_files", "repartition_layout", "restore_snapshot",
    ],
)
def test_stale_indexes_answer_exactly_after_a_base_rewrite(spark, events, tmp_path, rewrite):
    """No refresh after the rewrite: entries of replaced files are
    ignored, new files are read unpruned, and the indexes survive the
    rewrite for `refresh_indexes` to find."""
    table = rewrite(spark, events, str(tmp_path / "t"))
    _assert_every_index_exact(spark, table, _probe(spark, table))
    assert index.refresh_indexes(spark, table) == _ALL_INDEXES


def test_escaped_partition_values_every_index_kind(spark, events, tmp_path):
    """Partition values Spark escapes on disk (``p=a%3Ab``, ``p=50%25``)
    or keeps raw (``p=c d``, ``p=x+y``): the stored ``input_file_name()``
    URIs encode them once more, and reads decode them exactly once."""
    values = ["a:b", "c d", "50%", "x+y"]
    rows = events.limit(200).withColumn(
        "p",
        F.element_at(
            F.array(*[F.lit(v) for v in values]),
            (F.col("event_id") % 4 + 1).cast("int"),
        ),
    )
    table = _indexed_table(spark, events, str(tmp_path / "esc"),
                           partition_fields=["p"], rows=rows)
    stored = {r.p for r in table.read(spark).select("p").distinct().collect()}
    assert stored == set(values)
    keys = _probe(spark, table)
    _assert_every_index_exact(spark, table, keys)
    # the bloom index answers with the sizing it was built with
    assert index.bloom_lookup(spark, table, keys).count() == 40

    index.build_column_stats_from_footers(spark, table.path, ["event_id"])
    rng = (F.col("event_id") >= 0) & (F.col("event_id") <= 10**9)
    got = index.read_with_skipping(spark, table.path, "event_id", 0, 10**9)
    cols = sorted(table.read(spark).columns)
    assert _rows(got, cols) == _rows(table.read_base(spark).filter(rng), cols)


@pytest.mark.parametrize(
    "lookup,build",
    [
        (lambda s, t, k: index.point_lookup(s, t, k), "build_record_index"),
        (lambda s, t, k: index.bloom_lookup(s, t, k), "build_bloom_index"),
        (lambda s, t, k: index.secondary_lookup(s, t, "event_id", k),
         "build_secondary_index"),
        (lambda s, t, k: index.read_with_skipping(s, t.path, "event_id", 0, 1),
         "build_column_stats"),
    ],
    ids=["record", "bloom", "secondary", "column_stats"],
)
def test_missing_index_names_its_path_and_builder(spark, tmp_path, lookup, build):
    table = KeyedTable(path=str(tmp_path / "bare"), record_key=["event_id"],
                       precombine="ts")
    keys = spark.createDataFrame([(1,)], "event_id LONG")
    with pytest.raises(FileNotFoundError, match=rf"_index.*index\.{build}"):
        lookup(spark, table, keys)


def test_bloom_index_without_sizing_names_its_builder(spark, tmp_path):
    """A bloom index whose footer carries no m_bits/k is refused, not
    probed with a guessed sizing."""
    table = KeyedTable(path=str(tmp_path / "old"), record_key=["event_id"],
                       precombine="ts")
    spark.createDataFrame([("f", [1])], "file STRING, bits ARRAY<INT>") \
        .write.parquet(table.path + "/" + index.BLOOM_INDEX_DIR)
    keys = spark.createDataFrame([(1,)], "event_id LONG")
    with pytest.raises(ValueError, match=r"m_bits/k.*index\.build_bloom_index"):
        index.bloom_candidate_files(spark, table, keys)


def test_lookup_job_budget_on_a_refreshed_table(spark, events, tmp_path, count_jobs):
    """Checking the index against the listing launches no Spark job:
    building and collecting each lookup on a refreshed, unchanged table
    stays within the jobs it took before the check existed."""
    table = _indexed_table(spark, events, str(tmp_path / "jobs"))
    index.refresh_indexes(spark, table)
    keys = _probe(spark, table)
    for lookup, budget in ((index.point_lookup, 9), (index.bloom_lookup, 11)):
        rows, jobs = count_jobs(lambda: lookup(spark, table, keys).collect())
        assert len(rows) == 40
        assert jobs <= budget, (lookup.__name__, jobs)


def test_footer_index_keeps_a_file_without_stats(spark, tmp_path):
    """A footer without min/max for the column says nothing about its
    values: the file must be read, not pruned."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "nostats")
    spark.range(100).selectExpr("id AS k").coalesce(1).write.parquet(root)
    pq.write_table(pa.table({"k": pa.array([500], pa.int64())}),
                   root + "/part-nostats.parquet", write_statistics=False)
    index.build_column_stats_from_footers(spark, root, ["k"])
    kept, total = index.prune_files(spark, root, "k", 400, 600)
    assert (len(kept), total) == (1, 2)
    assert [r.k for r in index.read_with_skipping(spark, root, "k", 400, 600).collect()] == [500]


def test_lookups_keep_the_table_schema_when_keys_miss_rewritten_files(spark, tmp_path):
    """A column only rewritten files carry (a COW commit's
    ``_commit_time``) is in every lookup's result, NULL for rows of
    older files, whichever files the probed keys sit in."""
    from hudi_utility_spark.write import full_bootstrap, upsert

    table = KeyedTable(path=str(tmp_path / "t"), record_key=["id"], precombine="ts",
                       partition_fields=["p"])
    rows = [(i, 1, "old" if i < 10 else "new", f"u{i}", float(i)) for i in range(20)]
    full_bootstrap(spark, spark.createDataFrame(rows, "id LONG, ts LONG, p STRING, "
                                                "u STRING, v DOUBLE"), table)
    upsert(spark, spark.createDataFrame([(15, 2, "new", "u15", 99.0)],
                                        "id LONG, ts LONG, p STRING, u STRING, v DOUBLE"),
           table, commit_time="2")
    index.build_record_index(spark, table)
    index.build_bloom_index(spark, table)
    index.build_secondary_index(spark, table, "u")
    index.build_column_stats(spark, table.path, ["id"])
    snap = table.read(spark)
    assert "_commit_time" in snap.columns
    old = snap.filter("id < 3")
    keys = old.select("id")
    want = _rows(old, sorted(snap.columns))
    for got in (index.point_lookup(spark, table, keys),
                index.bloom_lookup(spark, table, keys),
                index.secondary_lookup(spark, table, "u", old.select("u")),
                index.read_with_skipping(spark, table.path, "id", 0, 2)):
        assert sorted(got.columns) == sorted(snap.columns)
        assert _rows(got, sorted(snap.columns)) == want


def test_read_with_skipping_refuses_a_mor_table_with_a_log(spark, tmp_path):
    """The column-stats index covers base files only: over an
    uncompacted MOR log a range read would return row versions the log
    has since updated or deleted, so it raises instead; after
    compaction it reads the snapshot."""
    from hudi_utility_spark.write import delete_keys, upsert, write_partitioned

    table = KeyedTable(path=str(tmp_path / "mor"), record_key=["k"], precombine="ts",
                       table_type=TableType.MERGE_ON_READ)
    write_partitioned(spark.range(10).selectExpr("id AS k", "0L AS ts", "CAST(id AS DOUBLE) AS v"),
                      table.path, [])
    index.build_column_stats(spark, table.path, ["k"])
    upsert(spark, spark.createDataFrame([(3, 1, 99.0)], "k LONG, ts LONG, v DOUBLE"), table)
    delete_keys(spark, spark.createDataFrame([(4, 1)], "k LONG, ts LONG"), table)
    with pytest.raises(ValueError, match=r"KeyedTable\.read.*KeyedTable\.compact"):
        index.read_with_skipping(spark, table.path, "k", 2, 5)
    table.compact(spark)
    got = index.read_with_skipping(spark, table.path, "k", 2, 5)
    assert sorted((r.k, r.v) for r in got.collect()) == [(2, 2.0), (3, 99.0), (5, 5.0)]
