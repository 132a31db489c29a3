"""Multi-level partition identity + Hive path escaping regressions.

The HIGH advice bug: with ``partition_fields=[p1, p2]``, compact /
delete_keys / merge_into tracked touched/survivor partitions by ``p1``
alone, so an all-deleted leaf ``(A, y)`` was neither rewritten by the
dynamic overwrite nor removed (``A`` survives via ``(A, x)``) — once the
delta log was folded away the stale base rows RESURRECTED. Paired bug:
removal paths built ``f"{pcol}={v}"`` without Spark's partition-path
escaping, so values containing ``/ : = % #`` never matched their real
directory and all-deleted partitions silently survived.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import hudi_utility_spark.partition_paths as pp
from hudi_utility_spark.partition_paths import (
    DEFAULT_PARTITION,
    escape_partition_value,
    partition_leaf_dir,
    read_partition_segment,
)
from hudi_utility_spark.table import KeyedTable, TableType
from hudi_utility_spark.write import delete_keys, merge_into, upsert


# ---------------------------------------------------------------- unit

def test_escape_matches_spark_layout():
    # verified against an actual df.write.partitionBy on this Spark build
    assert escape_partition_value("a b") == "a b"  # space NOT escaped
    assert escape_partition_value("x/y") == "x%2Fy"
    assert escape_partition_value("c:d") == "c%3Ad"
    assert escape_partition_value("e=f") == "e%3Df"
    assert escape_partition_value("g%h") == "g%25h"
    assert escape_partition_value("i#j") == "i%23j"
    assert escape_partition_value("k'l") == "k%27l"
    assert escape_partition_value("m\\n") == "m%5Cn"
    assert escape_partition_value(None) == DEFAULT_PARTITION
    assert escape_partition_value("") == DEFAULT_PARTITION
    assert escape_partition_value(True) == "true"
    assert escape_partition_value(7) == "7"


def test_unescape_roundtrip():
    for v in ["x/y", "c:d", "100%", "a=b#c", "plain", "sp ace", "m\\n", None]:
        assert read_partition_segment(escape_partition_value(v)) == v


def test_partition_leaf_dir_two_levels(tmp_path):
    d = partition_leaf_dir(str(tmp_path), ["p1", "p2"], ("a/b", 3))
    assert d == os.path.join(str(tmp_path), "p1=a%2Fb", "p2=3")


# ----------------------------------------------------- table lifecycle

def _frame(spark, rows):
    return spark.createDataFrame(rows, "id int, p1 string, p2 string, ts int, v double")


def _two_level(tmp_path, tt):
    return KeyedTable(
        path=str(tmp_path / "t"),
        record_key=["id"],
        precombine="ts",
        partition_fields=["p1", "p2"],
        table_type=tt,
    )


_ROWS = [
    (1, "A", "x", 1, 1.0),
    (2, "A", "x", 1, 2.0),
    (3, "A", "y", 1, 3.0),
    (4, "A", "y", 1, 4.0),
    (5, "B", "x", 1, 5.0),
]


def test_mor_compact_does_not_resurrect_deleted_leaf(spark, tmp_path):
    """The exact advice repro: tombstone ALL rows of leaf (A, y), then
    compact. First-field bookkeeping left the stale (A,y) base dir in
    place; after the log was deleted the rows came back."""
    table = _two_level(tmp_path, TableType.MERGE_ON_READ)
    upsert(spark, _frame(spark, _ROWS), table, commit_time="1")
    victims = _frame(spark, _ROWS).filter(
        (F.col("p1") == "A") & (F.col("p2") == "y")
    ).select("id", "p1", "p2", (F.col("ts") + 1).alias("ts"))
    snap = delete_keys(spark, victims, table, commit_time="2")
    assert snap.count() == 3

    table.compact(spark)
    assert not os.path.isdir(table.log_path), "log should be fully folded"
    leaf = partition_leaf_dir(table.base_path, ["p1", "p2"], ("A", "y"))
    assert not os.path.isdir(leaf), "all-deleted leaf base dir must go"

    after = table.read(spark)
    assert after.count() == 3
    assert after.filter((F.col("p1") == "A") & (F.col("p2") == "y")).count() == 0
    # siblings intact
    assert after.filter((F.col("p1") == "A") & (F.col("p2") == "x")).count() == 2
    assert after.filter(F.col("p1") == "B").count() == 1


def test_cow_delete_removes_empty_leaf_dir(spark, tmp_path):
    table = _two_level(tmp_path, TableType.COPY_ON_WRITE)
    upsert(spark, _frame(spark, _ROWS), table, commit_time="1")
    victims = _frame(spark, _ROWS).filter(
        (F.col("p1") == "A") & (F.col("p2") == "y")
    ).select("id", "p1", "p2", (F.col("ts") + 1).alias("ts"))
    snap = delete_keys(spark, victims, table, commit_time="2")
    assert snap.count() == 3
    leaf = partition_leaf_dir(table.base_path, ["p1", "p2"], ("A", "y"))
    assert not os.path.isdir(leaf)
    assert table.read(spark).count() == 3


def test_merge_delete_removes_empty_leaf_dir(spark, tmp_path):
    table = _two_level(tmp_path, TableType.COPY_ON_WRITE)
    upsert(spark, _frame(spark, _ROWS), table, commit_time="1")
    src = _frame(
        spark,
        [(3, "A", "y", 2, 0.0), (4, "A", "y", 2, 0.0)],
    )
    out = merge_into(spark, src, table, delete_condition="s.v = 0.0")
    assert out.count() == 3
    leaf = partition_leaf_dir(table.base_path, ["p1", "p2"], ("A", "y"))
    assert not os.path.isdir(leaf)
    assert out.filter((F.col("p1") == "A") & (F.col("p2") == "x")).count() == 2


def test_compact_partitions_arg_scopes_by_first_field(spark, tmp_path):
    """The public `partitions` selector keeps first-field semantics:
    compacting only ['B'] folds B's log rows and leaves A's log alone."""
    table = _two_level(tmp_path, TableType.MERGE_ON_READ)
    upsert(spark, _frame(spark, _ROWS), table, commit_time="1")
    updates = _frame(
        spark, [(1, "A", "x", 2, 10.0), (5, "B", "x", 2, 50.0)]
    )
    upsert(spark, updates, table, commit_time="2")
    table.compact(spark, partitions=["B"])
    assert os.path.isdir(table.log_path), "A's log rows must remain"
    snap = table.read(spark)
    assert snap.filter(F.col("id") == 5).collect()[0].v == 50.0
    assert snap.filter(F.col("id") == 1).collect()[0].v == 10.0


@pytest.mark.parametrize("tt", [TableType.COPY_ON_WRITE, TableType.MERGE_ON_READ])
def test_special_char_partition_values_delete_cleanly(spark, tmp_path, tt):
    """Values Spark escapes in paths (':' '/' '=' '%') must still have
    their dirs removed when fully deleted."""
    table = KeyedTable(
        path=str(tmp_path / "t"),
        record_key=["id"],
        precombine="ts",
        partition_fields=["p1"],
        table_type=tt,
    )
    rows = [(1, "us:east/1", 1, 1.0), (2, "us:east/1", 1, 2.0), (3, "eu=w%2", 1, 3.0)]
    df = spark.createDataFrame(rows, "id int, p1 string, ts int, v double")
    upsert(spark, df, table, commit_time="1")
    # sanity: Spark laid the dir out escaped, where our helper points
    assert os.path.isdir(partition_leaf_dir(table.base_path, ["p1"], ("us:east/1",)))

    victims = df.filter(F.col("p1") == "us:east/1").select(
        "id", "p1", (F.col("ts") + 1).alias("ts")
    )
    snap = delete_keys(spark, victims, table, commit_time="2")
    assert snap.count() == 1  # resolved view pre-compact
    if tt is TableType.MERGE_ON_READ:
        table.compact(spark)
    assert not os.path.isdir(
        partition_leaf_dir(table.base_path, ["p1"], ("us:east/1",))
    ), "escaped dir must be removed, not a phantom unescaped path"
    assert table.read(spark).count() == 1


# ---------------------------------------------------------------------------
# round-7 advice hardening: timestamp rendering, strict unescape, tree shape


def test_timestamp_values_render_like_spark_trimmed():
    """Spark trims trailing fractional zeros (DateTimeUtils
    .timestampToString); verified against actual partitionBy dirs."""
    import datetime

    cases = {
        datetime.datetime(2024, 1, 2, 3, 4, 5, 0): "2024-01-02 03:04:05",
        datetime.datetime(2024, 1, 2, 3, 4, 5, 123000): "2024-01-02 03:04:05.123",
        datetime.datetime(2024, 1, 2, 3, 4, 5, 120000): "2024-01-02 03:04:05.12",
        datetime.datetime(2024, 1, 2, 3, 4, 5, 123456): "2024-01-02 03:04:05.123456",
    }
    for v, want in cases.items():
        assert pp.partition_value_str(v) == want


def test_tz_aware_datetimes_rejected_and_offsets_never_corrupted():
    """rstrip('0') on an isoformat with a '+00:00' offset would eat the
    offset's zeros and build a path matching no directory (silent leaf
    skip). tz-aware values are rejected outright — collect() hands this
    module naive timestamps."""
    import datetime

    aware = datetime.datetime(
        2021, 1, 1, 0, 0, 0, 123000, tzinfo=datetime.timezone.utc
    )
    with pytest.raises(TypeError, match="tz-aware"):
        pp.partition_value_str(aware)
    # and the fractional trim never touches non-fraction digits
    v = datetime.datetime(2024, 1, 2, 3, 4, 10, 500000)
    assert pp.partition_value_str(v) == "2024-01-02 03:04:10.5"


def test_float_partition_values_rejected():
    with pytest.raises(TypeError, match="float partition values"):
        pp.partition_value_str(1e20)
    with pytest.raises(TypeError, match="float partition values"):
        pp.escape_partition_value(0.25)


def test_unescape_requires_strict_hex_pairs():
    # '%+5' / '% 5' are NOT escapes (int('+5',16) would accept them)
    assert pp.read_partition_segment("a%+5b") == "a%+5b"
    assert pp.read_partition_segment("a% 5b") == "a% 5b"
    assert pp.read_partition_segment("a%2Fb") == "a/b"
    assert pp.read_partition_segment("a%2fb") == "a/b"
    assert pp.read_partition_segment("trail%2") == "trail%2"


def test_tuple_predicate_balanced_depth_and_exactness(spark):
    """2000 tuples must plan (left-deep chains stack-overflow or crawl)
    and still select exactly the requested leaf tuples."""
    tuples = [(f"k{i % 50}", i) for i in range(2000)]
    pred = pp.partition_tuple_predicate(["a", "b"], tuples)
    df = spark.createDataFrame(
        [(f"k{i % 50}", i) for i in range(2100)], ["a", "b"]
    )
    got = sorted((r["a"], r["b"]) for r in df.filter(pred).collect())
    assert got == sorted(tuples)
    # null-safe: a None component still matches its leaf exactly
    pred2 = pp.partition_tuple_predicate(["a", "b"], [(None, 7)])
    df2 = spark.createDataFrame([(None, 7), ("x", 7), (None, 8)], ["a", "b"])
    assert [(r["a"], r["b"]) for r in df2.filter(pred2).collect()] == [(None, 7)]
    with pytest.raises(ValueError):
        pp.partition_tuple_predicate([], [(1,)])


@pytest.mark.parametrize("op", ["upsert", "upsert_partial"])
def test_cow_upsert_into_null_partition_keeps_its_other_rows(spark, tmp_path, op):
    """The COW rewrite scopes the base by null-safe partition tuples: an
    ``isin`` on the partition value never matches the NULL partition
    (``__HIVE_DEFAULT_PARTITION__``), so the rewrite of that partition
    used to hold only the incoming rows and drop its other keys."""
    import hudi_utility_spark.write as W

    table = KeyedTable(
        path=str(tmp_path / "t"),
        record_key=["id"],
        precombine="ts",
        partition_fields=["p"],
        table_type=TableType.COPY_ON_WRITE,
    )
    schema = "id int, p string, ts int, v double"
    upsert(
        spark,
        spark.createDataFrame(
            [(1, None, 1, 1.0), (2, None, 1, 2.0), (3, "a", 1, 3.0)], schema
        ),
        table,
        commit_time="1",
    )
    getattr(W, op)(
        spark, spark.createDataFrame([(1, None, 2, 10.0)], schema), table, commit_time="2"
    )
    got = {r.id: (r.p, r.v) for r in table.read(spark).collect()}
    assert got == {1: (None, 10.0), 2: (None, 2.0), 3: ("a", 3.0)}


# ---------------------------------------------------------------------------
# partition identity: every path that names a partition by value agrees on
# the values Spark escapes in paths, and on NULL


@pytest.fixture(
    params=[None, "a:b", "c d", "50%", "x+y"],
    ids=["null", "colon", "space", "percent", "plus"],
)
def awkward(request):
    """A partition value whose directory name is escaped, holds a
    character URL decoding changes, or is the NULL partition."""
    return request.param


def _p_table(tmp_path, name="t"):
    return KeyedTable(path=str(tmp_path / name), record_key=["id"],
                      precombine="ts", partition_fields=["p"])


def _p_rows(spark, values):
    return spark.createDataFrame(
        [(i, 1, v) for i, v in enumerate(values)], "id long, ts long, p string"
    )


def test_anti_entropy_repair_leaves_an_intact_table_alone(spark, tmp_path, awkward):
    """An intact replica diffs all-match, NULL partition included (a
    join on the partition value never matches NULL, which once made
    the NULL partition both missing and extra and removed its leaf),
    and a dropped leaf of the awkward value is rewritten."""
    from hudi_utility_spark.repair import anti_entropy_repair
    from hudi_utility_spark.write import full_bootstrap

    src = _p_rows(spark, ["a", "b", awkward, awkward, "a"])
    t = _p_table(tmp_path)
    full_bootstrap(spark, src, t)
    assert anti_entropy_repair(spark, src, t, ["id"]) == {
        "rewritten": [], "dropped": [], "noop": True, "dry_run": False}
    assert t.read(spark).count() == 5

    import shutil

    shutil.rmtree(partition_leaf_dir(t.base_path, ["p"], (awkward,)))
    spark.catalog.refreshByPath(t.path)
    rep = anti_entropy_repair(spark, src, t, ["id"])
    assert (rep["rewritten"], rep["dropped"]) == ([awkward], [])
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 2, 3, 4]
    assert anti_entropy_repair(spark, src, t, ["id"])["noop"]


def test_full_bootstrap_reports_partitions_as_resume_does(spark, tmp_path, awkward):
    from hudi_utility_spark.repair import partitions_to_repair
    from hudi_utility_spark.write import full_bootstrap

    src = _p_rows(spark, ["a", "b", awkward])
    written = full_bootstrap(spark, src, _p_table(tmp_path))["written_partitions"]
    assert written == partitions_to_repair(src, None, "p")
    assert awkward in written


def test_compact_small_files_packs_every_flagged_partition(spark, tmp_path, awkward):
    """8 files in each leaf: every leaf packs to one file, and the
    result is keyed by partition value."""
    t = _p_table(tmp_path)
    rows = _p_rows(spark, [v for v in (awkward, "x") for _ in range(400)])
    for k in range(8):
        rows.filter(F.col("id") % 8 == k).repartition(1).write.partitionBy(
            "p").mode("append").parquet(t.base_path)

    def n_files(v):
        leaf = partition_leaf_dir(t.base_path, ["p"], (v,))
        return sum(f.endswith(".parquet") for f in os.listdir(leaf))

    assert n_files(awkward) == n_files("x") == 8
    res = t.compact_small_files(spark, target_file_bytes=10**9)
    assert res == {"compacted": {awkward: 1, "x": 1}, "noop": False}
    assert n_files(awkward) == n_files("x") == 1
    assert t.read(spark).count() == 800


def test_expire_partitions_compares_and_reports_values(spark, tmp_path, awkward):
    """Expiry compares the values the directories hold, not their
    escaped names (``a%3Ab`` sorts below the cutoff ``a:b``), reports
    values, and never expires the NULL partition (``NULL < cutoff`` is
    not true)."""
    from hudi_utility_spark import timeline
    from hudi_utility_spark.write import full_bootstrap

    t = _p_table(tmp_path)
    full_bootstrap(spark, _p_rows(spark, ["0", awkward]), t)
    cutoff = "~" if awkward is None else awkward
    assert timeline.expire_partitions(spark, t, cutoff) == {"dropped": ["0"], "kept": 1}
    if awkward is None:
        assert timeline.expire_partitions(spark, t, "~") == {"dropped": [], "kept": 1}
        assert [r.p for r in t.read(spark).collect()] == [None]
    else:
        assert timeline.expire_partitions(spark, t, "~") == {"dropped": [awkward], "kept": 0}
