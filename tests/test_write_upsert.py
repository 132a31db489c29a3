from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hudi_utility_spark.table import BootstrapMode, KeyedTable, TableType
from hudi_utility_spark.write import full_bootstrap, latest_by_key, upsert


@pytest.fixture
def events_table(tmp_path):
    return KeyedTable(
        path=str(tmp_path / "events_table"),
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_type"],
    )


def test_latest_by_key(spark):
    df = spark.createDataFrame(
        [(1, 10, "old"), (1, 20, "new"), (2, 5, "only")],
        "id long, ver long, val string",
    )
    out = latest_by_key(df, ["id"], "ver").orderBy("id").collect()
    assert [(r.id, r.val) for r in out] == [(1, "new"), (2, "only")]


def test_latest_by_key_composite(spark):
    df = spark.createDataFrame(
        [(1, "a", 1, "x"), (1, "a", 2, "y"), (1, "b", 1, "z")],
        "k1 long, k2 string, ver long, val string",
    )
    out = latest_by_key(df, "k1,k2", "ver")
    assert out.count() == 2
    assert out.filter("k1=1 and k2='a'").first().val == "y"


def test_full_bootstrap_full_record(spark, events, events_table):
    summary = full_bootstrap(spark, events, events_table)
    assert summary["mode"] == "FULL_RECORD"
    back = events_table.read(spark)
    assert back.count() == events.count()
    # hive-style layout → partition column survives the round trip
    assert set(r[0] for r in back.select("event_type").distinct().collect()) == set(
        r[0] for r in events.select("event_type").distinct().collect()
    )


def test_full_bootstrap_dry_run(spark, events, events_table):
    summary = full_bootstrap(spark, events, events_table, dry_run=True)
    assert summary["dry_run"] and not events_table.exists()
    assert summary["written_partitions"]  # plan computed


def test_full_bootstrap_overwrites_stale_partitions(spark, events, events_table):
    full_bootstrap(spark, events, events_table)
    only_click = events.filter(F.col("event_type") == "click")
    full_bootstrap(spark, only_click, events_table)
    back = events_table.read(spark)
    assert back.select("event_type").distinct().count() == 1


def test_metadata_only_registers_view(spark, sf_dir, tmp_path):
    t = KeyedTable(
        path=str(tmp_path / "meta_table"),
        record_key=["event_id"],
        precombine="ts",
        name="events_meta",
    )
    summary = full_bootstrap(
        spark,
        spark.read.parquet(f"{sf_dir}/events.parquet"),
        t,
        mode=BootstrapMode.METADATA_ONLY,
        source_path=f"{sf_dir}/events.parquet",
    )
    assert summary["registered_view"] == "events_meta"
    assert spark.sql("SELECT count(*) c FROM events_meta").first().c > 0
    assert not t.exists()  # no rewrite happened


def test_regex_bootstrap_splits_partitions(spark, events, events_table, sf_dir):
    summary = full_bootstrap(
        spark,
        events,
        events_table,
        mode=BootstrapMode.REGEX,
        partition_regex="^(click|view)$",
        source_path=f"{sf_dir}/events.parquet",
    )
    written = set(summary["written_partitions"])
    assert written <= {"click", "view"} and written
    back = events_table.read(spark)
    assert set(r[0] for r in back.select("event_type").distinct().collect()) == written


def test_upsert_cow_latest_wins(spark, events, events_table):
    full_bootstrap(spark, events, events_table)
    first = events.orderBy("event_id").limit(5)
    bumped = first.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY")).withColumn(
        "value", F.lit(-1.0)
    )
    resolved = upsert(spark, bumped, events_table)
    assert resolved.count() == events.count()  # no duplicates
    got = resolved.filter(F.col("event_id").isin([r.event_id for r in first.collect()]))
    assert all(r.value == -1.0 for r in got.collect())


def test_upsert_mor_appends_log_and_resolves(spark, events, tmp_path):
    t = KeyedTable(
        path=str(tmp_path / "mor_table"),
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_type"],
        table_type=TableType.MERGE_ON_READ,
    )
    full_bootstrap(spark, events, t)
    first = events.orderBy("event_id").limit(3)
    bumped = first.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY")).withColumn(
        "value", F.lit(-2.0)
    )
    resolved = upsert(spark, bumped, t)
    assert resolved.count() == events.count()
    got = resolved.filter(F.col("event_id").isin([r.event_id for r in first.collect()]))
    assert all(r.value == -2.0 for r in got.collect())
    # compaction folds the log, result unchanged
    t.compact(spark)
    import os

    assert not os.path.isdir(t.log_path)
    after = t.read(spark)
    assert after.count() == events.count()
    got2 = after.filter(F.col("event_id").isin([r.event_id for r in first.collect()]))
    assert all(r.value == -2.0 for r in got2.collect())


def test_upsert_insert_new_keys(spark, events, events_table):
    full_bootstrap(spark, events, events_table)
    mx = events.agg(F.max("event_id")).first()[0]
    new = events.limit(2).withColumn("event_id", F.col("event_id") + F.lit(mx + 1))
    resolved = upsert(spark, new, events_table)
    assert resolved.count() == events.count() + 2


def test_upsert_schema_evolution_adds_column(spark, events, tmp_path):
    """A later batch may carry new columns (the reference reads with
    mergeSchema for exactly this — pyspark_script.py:333); earlier rows
    read back with NULLs, evolved rows with values, on both table types."""
    from pyspark.sql import functions as F

    from hudi_utility_spark.table import KeyedTable, TableType

    for tt in (TableType.COPY_ON_WRITE, TableType.MERGE_ON_READ):
        t = KeyedTable(
            path=str(tmp_path / tt.value),
            record_key=["event_id"],
            precombine="ts",
            partition_fields=["event_type"],
            table_type=tt,
        )
        upsert(spark, events, t, commit_time="1")
        evolved = (
            events.filter(F.col("event_type") == "click")
            .withColumn("score", F.lit(0.9))
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        )
        upsert(spark, evolved, t, commit_time="2")
        snap = t.read(spark)
        assert "score" in snap.columns
        n_click = events.filter(F.col("event_type") == "click").count()
        assert snap.filter(F.col("score").isNotNull()).count() == n_click
        assert snap.count() == events.count()


def test_resolve_partial_fills_per_column_last_non_null(spark):
    from hudi_utility_spark.write import resolve_partial

    rows = [
        # key 1: v1 sets (a=1, b=x); v2 sets only a; v3 sets only b
        (1, 1, 1.0, "x"),
        (1, 2, 5.0, None),
        (1, 3, None, "z"),
        # key 2: later version nulls stay inherited from v1
        (2, 1, 9.0, "k"),
        (2, 2, None, None),
    ]
    df = spark.createDataFrame(rows, "id INT, pc INT, a DOUBLE, b STRING")
    got = {
        r.id: (r.pc, r.a, r.b)
        for r in resolve_partial(df, ["id"], "pc").collect()
    }
    assert got[1] == (3, 5.0, "z")   # a from v2, b from v3, pc = max
    assert got[2] == (2, 9.0, "k")   # both inherited from v1


def test_upsert_partial_cow_and_mor(spark, events, tmp_path):
    from hudi_utility_spark.table import KeyedTable, TableType
    from hudi_utility_spark.write import read_partial, upsert_partial

    base = events.select("event_id", "ts", "event_type", "value", "props")
    patch = events.limit(5).select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        "event_type",
        F.lit(None).cast("double").alias("value"),   # must inherit
        F.lit("patched").alias("props"),             # must overwrite
    )
    want_vals = {r.event_id: r.value for r in events.limit(5).collect()}

    for tt in (TableType.COPY_ON_WRITE, TableType.MERGE_ON_READ):
        table = KeyedTable(
            path=str(tmp_path / f"pu_{tt.value}"),
            record_key=["event_id"],
            precombine="ts",
            partition_fields=["event_type"],
            table_type=tt,
        )
        upsert_partial(spark, base, table, commit_time="1")
        upsert_partial(spark, patch, table, commit_time="2")
        snap = (
            table.read(spark)
            if tt is TableType.COPY_ON_WRITE
            else read_partial(spark, table)
        )
        got = {
            r.event_id: (r.value, r.props)
            for r in snap.filter(F.col("event_id").isin(list(want_vals)))
            .select("event_id", "value", "props")
            .collect()
        }
        assert set(got) == set(want_vals)
        for k, (v, p) in got.items():
            assert p == "patched"
            assert v == want_vals[k]  # NULL in the patch kept the old value
        # untouched keys unchanged
        assert snap.count() == events.count()


def test_atomic_swap_dir_rolls_back_on_failure_at_any_step(tmp_path, monkeypatch):
    """Inject a rename failure at every possible step of the swap; after
    the rollback the target must hold exactly its old contents and the
    staged tmp dir must be intact for retry — never a half-swapped or
    empty table."""
    import os as _os

    from hudi_utility_spark.write import atomic_swap_dir

    def build(i):
        tgt = tmp_path / f"tbl{i}"
        tmp = tmp_path / f"tmp{i}"
        tgt.mkdir(), tmp.mkdir()
        (tgt / "_locks").mkdir()
        (tgt / "_locks" / "writer.lock").write_text("lease")
        for f in ("a.parquet", "b.parquet"):
            (tgt / f).write_text("old:" + f)
        (tgt / "day=1").mkdir()
        (tgt / "day=1" / "p.parquet").write_text("old:part")
        for f in ("c.parquet",):
            (tmp / f).write_text("new:" + f)
        (tmp / "day=1").mkdir()
        (tmp / "day=1" / "q.parquet").write_text("new:part")
        return tgt, tmp

    def snapshot(root):
        out = {}
        for dirpath, _dirs, files in _os.walk(root):
            for f in files:
                p = _os.path.join(dirpath, f)
                out[_os.path.relpath(p, root)] = open(p).read()
        return out

    real_rename = _os.rename
    step = 5  # total renames for this layout: 3 out + 2 in
    for fail_at in range(step):
        tgt, tmp = build(fail_at)
        old_tgt, old_tmp = snapshot(tgt), snapshot(tmp)
        calls = {"n": 0}

        def flaky(src, dst, *, _fail_at=fail_at, **kw):
            # one transient fault, then recover (the rollback's own
            # renames must succeed; a hard crash mid-swap instead leaves
            # the parked trash/tmp dirs for manual recovery)
            calls["n"] += 1
            if calls["n"] - 1 == _fail_at:
                raise OSError("injected crash")
            return real_rename(src, dst, **kw)

        monkeypatch.setattr(_os, "rename", flaky)
        try:
            atomic_swap_dir(str(tmp), str(tgt))
            raised = False
        except OSError:
            raised = True
        finally:
            monkeypatch.setattr(_os, "rename", real_rename)
        assert raised, f"fail_at={fail_at} did not trigger"
        assert snapshot(tgt) == old_tgt, f"target mutated at fail_at={fail_at}"
        assert snapshot(tmp) == old_tmp, f"tmp lost entries at fail_at={fail_at}"
    # and with no injection the swap commits fully
    tgt, tmp = build(99)
    atomic_swap_dir(str(tmp), str(tgt))
    got = snapshot(tgt)
    assert got["_locks/writer.lock"] == "lease"
    assert got["c.parquet"] == "new:c.parquet"
    assert got["day=1/q.parquet"] == "new:part"
    assert "a.parquet" not in got and "day=1/p.parquet" not in got
    assert not _os.path.isdir(str(tgt) + ".trash") and not _os.path.isdir(tmp)


def test_recover_swap_restores_pre_crash_state_at_every_kill_point(tmp_path):
    """Simulate a HARD crash (no rollback ran) at every rename step of
    the swap by replaying the exact sequence of renames up to step k,
    then assert recover_swap restores the pre-swap state bit-for-bit."""
    import json as _json
    import os as _os
    import shutil as _shutil

    from hudi_utility_spark.write import _SWAP_MANIFEST, recover_swap

    def build(i):
        tgt = tmp_path / f"t{i}"
        tmp = tmp_path / f"n{i}"
        tgt.mkdir(), tmp.mkdir()
        (tgt / "_locks").mkdir()
        (tgt / "_locks" / "writer.lock").write_text("lease")
        (tgt / "a.parquet").write_text("old:a")
        (tgt / "day=1").mkdir()
        (tgt / "day=1" / "p.parquet").write_text("old:p")
        (tmp / "b.parquet").write_text("new:b")
        (tmp / "day=1").mkdir()
        (tmp / "day=1" / "q.parquet").write_text("new:q")
        return tgt, tmp

    def snapshot(root):
        out = {}
        for dirpath, _dirs, files in _os.walk(root):
            for f in files:
                p = _os.path.join(dirpath, f)
                out[_os.path.relpath(p, root)] = open(p).read()
        return out

    # the swap's rename schedule for this layout: park 2 old entries,
    # move in 2 new entries; crash points 0..4 (before each op + done-
    # before-trash-delete)
    old_entries = ["a.parquet", "day=1"]
    new_entries = ["b.parquet", "day=1"]
    for crash_at in range(5):
        tgt, tmp = build(crash_at)
        want = snapshot(tgt)
        trash = str(tgt) + ".trash"
        _os.makedirs(trash)
        with open(_os.path.join(trash, _SWAP_MANIFEST), "w") as fh:
            _json.dump(old_entries, fh)
        step = 0
        for e in old_entries:  # park old
            if step == crash_at:
                break
            _os.rename(_os.path.join(tgt, e), _os.path.join(trash, e))
            step += 1
        else:
            for e in new_entries:  # move new in
                if step == crash_at:
                    break
                _os.rename(_os.path.join(tmp, e), _os.path.join(tgt, e))
                step += 1
        assert recover_swap(str(tgt)) == "restored"
        assert snapshot(tgt) == want, f"crash_at={crash_at}"
        assert not _os.path.isdir(trash)
        _shutil.rmtree(tgt), _shutil.rmtree(tmp, ignore_errors=True)
    # no trash -> clean
    tgt, _tmp = build(9)
    assert recover_swap(str(tgt)) == "clean"


def test_upsert_widens_narrow_incoming_types(spark, tmp_path):
    """A batch arriving with int columns upserts into a bigint table:
    unionByName's type coercion widens, the table schema stays bigint,
    and precombine arbitration still works (the reference reconciles
    types by DataType equality — pyspark_script.py:153-165 — so silent
    narrowing would fail its own audit)."""
    t = KeyedTable(
        path=str(tmp_path / "widen"),
        record_key=["id"],
        precombine="v",
        partition_fields=["p"],
    )
    base = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")], "id long, v long, p string")
    full_bootstrap(spark, base, t)
    inc = spark.createDataFrame([(1, 2, "a")], "id int, v int, p string")
    out = upsert(spark, inc, t)
    assert dict(out.dtypes)["id"] == "bigint" and dict(out.dtypes)["v"] == "bigint"
    assert sorted((r.id, r.v) for r in out.collect()) == [(1, 2), (2, 1)]


def test_two_level_partitioned_bootstrap_and_upsert(spark, tmp_path):
    import os

    t = KeyedTable(
        path=str(tmp_path / "two_level"),
        record_key=["id"],
        precombine="v",
        partition_fields=["p", "q"],
    )
    base = spark.createDataFrame(
        [(1, 1, "a", "x"), (2, 1, "a", "y"), (3, 1, "b", "x")],
        "id long, v long, p string, q string",
    )
    full_bootstrap(spark, base, t)
    assert os.path.isdir(os.path.join(t.base_path, "p=a", "q=x"))
    out = upsert(
        spark,
        spark.createDataFrame([(1, 2, "a", "x")], "id long, v long, p string, q string"),
        t,
    )
    assert sorted((r.id, r.v) for r in out.collect()) == [(1, 2), (2, 1), (3, 1)]
    # untouched sibling sub-partition survives the dynamic overwrite
    assert os.path.isdir(os.path.join(t.base_path, "p=a", "q=y"))


def test_atomic_swap_auto_recovers_stale_trash_from_prior_crash(tmp_path):
    """Re-running a rewrite over a table with a crashed swap's trash must
    NOT destroy the parked data: the new swap first restores the
    pre-crash state, then proceeds — so the old content feeds the new
    rewrite instead of a half-swapped husk."""
    import json as _json
    import os as _os

    from hudi_utility_spark.write import _SWAP_MANIFEST, atomic_swap_dir

    tgt = tmp_path / "t"
    tgt.mkdir()
    (tgt / "keep.parquet").write_text("old:keep")
    # simulate a prior crash: 'lost.parquet' parked in trash, manifest
    # names both entries, target is missing it
    trash = tmp_path / "t.trash"
    trash.mkdir()
    with open(trash / _SWAP_MANIFEST, "w") as fh:
        _json.dump(["keep.parquet", "lost.parquet"], fh)
    (trash / "lost.parquet").write_text("old:lost")

    tmp = tmp_path / "new"
    tmp.mkdir()
    (tmp / "rewritten.parquet").write_text("new:data")
    atomic_swap_dir(str(tmp), str(tgt))
    names = set(_os.listdir(tgt))
    assert names == {"rewritten.parquet"}  # swap committed
    assert not _os.path.isdir(trash)
    # trash WITHOUT manifest (crash before manifest commit) is just a husk
    tgt2 = tmp_path / "t2"
    tgt2.mkdir()
    (tgt2 / "a.parquet").write_text("old:a")
    (tmp_path / "t2.trash").mkdir()
    tmp2 = tmp_path / "new2"
    tmp2.mkdir()
    (tmp2 / "b.parquet").write_text("new:b")
    atomic_swap_dir(str(tmp2), str(tgt2))
    assert set(_os.listdir(tgt2)) == {"b.parquet"}


def test_create_or_replace_view_resolves_snapshot(spark, tmp_path):
    from pyspark.sql import functions as F

    from hudi_utility_spark.table import KeyedTable, TableType
    from hudi_utility_spark.write import upsert

    table = KeyedTable(
        path=str(tmp_path / "vt"),
        record_key=["id"],
        precombine="v",
        partition_fields=["p"],
        table_type=TableType.MERGE_ON_READ,
    )
    upsert(
        spark,
        spark.createDataFrame(
            [(1, 1, "a", 10.0), (2, 1, "a", 20.0)],
            "id long, v long, p string, x double",
        ),
        table,
    )
    # log-side newer version of id 1: the VIEW must show the winner
    upsert(
        spark,
        spark.createDataFrame(
            [(1, 2, "a", 99.0)], "id long, v long, p string, x double"
        ),
        table,
    )
    name = table.create_or_replace_view(spark, "vt_view")
    got = {
        r["id"]: r["x"]
        for r in spark.sql(f"SELECT id, x FROM {name}").collect()
    }
    assert got == {1: 99.0, 2: 20.0}


def test_delete_last_row_leaves_readable_empty_table(spark, tmp_path):
    """Emptying a table must not kill snapshot reads: the _empty_schema
    marker preserves the schema (the UNABLE_TO_INFER_SCHEMA edge the
    merge property test shrank to delete-the-only-row)."""
    from hudi_utility_spark.table import KeyedTable, TableType
    from hudi_utility_spark.write import delete_keys, merge_into, upsert

    table = KeyedTable(
        path=str(tmp_path / "t"),
        record_key=["id"],
        precombine="v",
        partition_fields=["part"],
        table_type=TableType.COPY_ON_WRITE,
    )
    df = spark.createDataFrame([(1, 0, "a", 5.0)], "id long, v long, part string, value double")
    upsert(spark, df, table)
    out = delete_keys(
        spark, df.select("id", "part", (df.v + 1).alias("v")), table
    )
    assert out.count() == 0
    back = table.read(spark)
    assert back.count() == 0
    assert set(back.columns) >= {"id", "v", "part", "value"}

    # unpartitioned table through the merge path
    t2 = KeyedTable(
        path=str(tmp_path / "t2"),
        record_key=["id"],
        precombine="v",
        partition_fields=[],
        table_type=TableType.COPY_ON_WRITE,
    )
    upsert(spark, df.drop("part"), t2)
    merge_into(
        spark,
        df.drop("part").withColumn("v", df.v + 1),
        t2,
        delete_condition="true",
    )
    assert t2.read(spark).count() == 0


def test_resolve_partial_takes_tombstone_from_the_winner(spark):
    """``_deleted`` is never filled forward: a partial re-insert after a
    delete is alive. Columns the re-insert leaves NULL still inherit
    their pre-delete values (a tombstone carries NULL there)."""
    from hudi_utility_spark.write import resolve_partial

    rows = [
        (1, 1, 1.0, None),   # insert
        (1, 2, None, True),  # delete
        (1, 3, None, None),  # partial re-insert
        (2, 1, 7.0, None),
        (2, 2, None, True),  # deleted, stays deleted
    ]
    df = spark.createDataFrame(rows, "id INT, pc INT, a DOUBLE, _deleted BOOLEAN")
    got = {
        r.id: (r.pc, r.a, r._deleted)
        for r in resolve_partial(df, ["id"], "pc").collect()
    }
    assert got == {1: (3, 1.0, None), 2: (2, 7.0, True)}


def test_mor_read_partial_drops_deleted_keys(spark, tmp_path):
    from hudi_utility_spark.table import KeyedTable, TableType
    from hudi_utility_spark.write import delete_keys, read_partial, upsert, upsert_partial

    table = KeyedTable(
        path=str(tmp_path / "t"),
        record_key=["id"],
        precombine="ts",
        partition_fields=["p"],
        table_type=TableType.MERGE_ON_READ,
    )
    schema = "id int, p string, ts int, v double"
    upsert(
        spark,
        spark.createDataFrame([(1, "a", 1, 1.0), (2, "a", 1, 2.0)], schema),
        table,
        commit_time="1",
    )
    delete_keys(
        spark,
        spark.createDataFrame([(1, "a", 2)], "id int, p string, ts int"),
        table,
        commit_time="2",
    )
    snap = read_partial(spark, table)
    assert "_deleted" not in snap.columns
    assert {r.id for r in snap.collect()} == {2}

    # a partial re-insert after the delete is alive again
    upsert_partial(
        spark,
        spark.createDataFrame([(1, "a", 3, None)], schema),
        table,
        commit_time="3",
    )
    got = {r.id: r.v for r in read_partial(spark, table).collect()}
    assert got == {1: 1.0, 2: 2.0}
