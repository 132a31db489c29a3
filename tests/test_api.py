"""Engine facade: reference-endpoint parity in one object."""

from __future__ import annotations

import os

import pytest

from hudi_utility_spark.api import Engine
from hudi_utility_spark.validate import BootstrapRequest, ValidationError


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, str(tmp_path / "ledger"))


def _request(sf_dir, tmp_path, **over):
    base = dict(
        data_file_path=f"{sf_dir}/events.parquet",
        table_name="events",
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_type"],
        output_path=str(tmp_path / "events_table"),
    )
    base.update(over)
    return BootstrapRequest(**base)


def test_bootstrap_history_status_roundtrip(engine, sf_dir, tmp_path):
    events = []
    engine.subscribe(
        None, lambda payload: events.append((payload["transaction_id"], payload["status"]))
    )
    result = engine.bootstrap(_request(sf_dir, tmp_path))
    assert result["status"] == "SUCCESS"

    hist = engine.history().collect()
    assert len(hist) == 1 and hist[0].status == "SUCCESS"

    tid = hist[0].transaction_id
    st = engine.status(tid)
    assert st["status"] == "SUCCESS"
    assert st["record_counts"]["input"] == st["record_counts"]["destination"] > 0

    # observer saw PENDING then SUCCESS for this transaction
    assert [s for t, s in events if t == tid] == ["PENDING", "SUCCESS"]

    assert engine.status("nope-123") is None


def test_bootstrap_accepts_dict_and_validates(engine, tmp_path):
    with pytest.raises(ValidationError):
        engine.bootstrap(
            dict(
                data_file_path="/does/not/exist",
                table_name="x",
                record_key=["k"],
                precombine="p",
                output_path=str(tmp_path / "x"),
            )
        )
    # the failure is ledgered
    assert engine.history().filter("status = 'FAILED'").count() == 1


def test_resolve_path(engine, sf_dir):
    info = engine.resolve(f"{sf_dir}/events.parquet")
    assert info.is_path and info.data_format == "parquet"


def test_rerun_replays_stored_request(engine, sf_dir, tmp_path):
    engine.bootstrap(_request(sf_dir, tmp_path))
    tid = engine.history().collect()[0].transaction_id
    result = engine.rerun(tid)
    assert result["status"] == "SUCCESS"
    assert engine.history().count() == 2
    with pytest.raises(KeyError):
        engine.rerun("missing-tid")


def test_table_services_facade_ledgers_every_mutation(spark, events, tmp_path):
    from hudi_utility_spark.api import Engine, TableServices
    from hudi_utility_spark.table import KeyedTable, TableType

    eng = Engine(spark, str(tmp_path / "ledger"))
    svc = TableServices(
        eng,
        KeyedTable(
            path=str(tmp_path / "t"),
            record_key=["event_id"],
            precombine="ts",
            partition_fields=["event_type"],
            table_type=TableType.MERGE_ON_READ,
            name="events_svc",
        ),
    )
    import pyspark.sql.functions as F

    svc.upsert(events, commit_time="20260101000000000")
    victims = events.filter(F.col("event_type") == "view").limit(5).select(
        "event_id", "event_type", (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts")
    )
    svc.delete(victims, commit_time="20260102000000000")
    assert svc.read().count() == events.count() - 5
    cdc = svc.cdc(since="20260101000000000")
    assert cdc.filter("op = 'delete'").count() == 5
    svc.rollback("20260101000000000")
    assert svc.read().count() == events.count()
    # partial-update arm (fully-populated batch → degenerates to plain
    # upsert; column-inheritance semantics pinned in test_write_upsert)
    svc.upsert_partial(
        events.limit(3).select(
            "event_id", "event_type", "value",
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("ts"),
        ),
        commit_time="20260103000000000",
    )
    assert svc.read().count() == events.count()

    ops = [
        r.transaction_data
        for r in eng.history(transaction_id_like="events_svc").collect()
    ]
    for op in ("upsert", "delete", "rollback", "upsert_partial"):
        assert any(op in d for d in ops)
    statuses = {r.status for r in eng.history(transaction_id_like="events_svc").collect()}
    assert statuses == {"SUCCESS"}


def test_facade_expire_and_recover(spark, events, tmp_path):
    import os
    import shutil

    import pyspark.sql.functions as F

    from hudi_utility_spark.api import Engine, TableServices
    from hudi_utility_spark.table import KeyedTable

    eng = Engine(spark, str(tmp_path / "ledger"))
    svc = TableServices(
        eng,
        KeyedTable(
            path=str(tmp_path / "t"),
            record_key=["event_id"],
            precombine="ts",
            partition_fields=["day"],
            name="events_retain",
        ),
    )
    ev = events.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    svc.upsert(ev, commit_time="20260101000000000")
    days = sorted(r[0] for r in ev.select("day").distinct().collect())
    res = svc.expire_partitions(days[1])
    assert res["dropped"] == [days[0]]
    assert svc.read().filter(F.col("day") < days[1]).count() == 0
    assert (
        eng.history().filter("transaction_id LIKE 'events_retain%'").count() >= 1
    )

    # clean recover is a no-op; a staged trash manifest gets restored
    assert svc.recover() == "clean"
    import json

    from hudi_utility_spark.write import _SWAP_MANIFEST

    trash = svc.table.path.rstrip("/") + ".trash"
    os.makedirs(trash)
    # a real crash leaves a manifest naming EVERY old data entry (written
    # before anything moves); simulate dying after parking just one
    all_parts = [
        e for e in os.listdir(svc.table.path) if not e.startswith((".", "_"))
    ]
    part = f"day={days[1]}"
    with open(os.path.join(trash, _SWAP_MANIFEST), "w") as fh:
        json.dump(all_parts, fh)
    shutil.move(os.path.join(svc.table.path, part), os.path.join(trash, part))
    before = svc.read().count()  # readable even half-swapped (other days)
    assert svc.recover() == "restored"
    assert svc.read().filter(F.col("day") == days[1]).count() > 0
    assert svc.read().count() > before


def test_facade_recover_sweeps_stale_staging_dirs(spark, events, tmp_path):
    import os

    from hudi_utility_spark.api import Engine, TableServices
    from hudi_utility_spark.table import KeyedTable

    eng = Engine(spark, str(tmp_path / "ledger"))
    svc = TableServices(
        eng,
        KeyedTable(
            path=str(tmp_path / "t"),
            record_key=["event_id"],
            precombine="ts",
            partition_fields=["event_type"],
            name="events_sweep",
        ),
    )
    svc.upsert(events.limit(50), commit_time="20260101000000000")
    stale = svc.table.path.rstrip("/") + ".upsert.tmp"
    os.makedirs(stale)
    open(os.path.join(stale, "part-stale.parquet"), "w").write("junk")
    assert svc.recover() == "clean"
    assert not os.path.isdir(stale)
    assert svc.read().count() == 50


def test_table_services_merge_replicate_diff(spark, tmp_path):
    import pyspark.sql.functions as F

    from hudi_utility_spark.api import Engine, TableServices
    from hudi_utility_spark.table import KeyedTable, TableType

    eng = Engine(spark, str(tmp_path / "ledger"))
    src_svc = TableServices(
        eng,
        KeyedTable(
            path=str(tmp_path / "src"),
            record_key=["id"],
            precombine="v",
            partition_fields=["p"],
            table_type=TableType.MERGE_ON_READ,
            name="repl_src",
        ),
    )
    dst_svc = TableServices(
        eng,
        KeyedTable(
            path=str(tmp_path / "dst"),
            record_key=["id"],
            precombine="v",
            partition_fields=["p"],
            table_type=TableType.COPY_ON_WRITE,
            name="repl_dst",
        ),
    )
    base = spark.createDataFrame(
        [(1, 1, "a", 1.0), (2, 1, "a", 2.0)], "id long, v long, p string, x double"
    )
    src_svc.upsert(base, commit_time="20260101000000000")

    res = dst_svc.replicate_from(src_svc.table)
    assert res["applied_upserts"] == 2
    assert dst_svc.diff_against(src_svc.table.read(spark)).isEmpty()

    dst_svc.merge(
        spark.createDataFrame([(2, 9, "a", 0.0)], "id long, v long, p string, x double"),
        delete_condition="true",
    )
    diff = dst_svc.diff_against(src_svc.table.read(spark)).collect()
    assert [(r["id"], r["change_type"]) for r in diff] == [(2, "added")]
    datas = [
        r["transaction_data"] for r in eng.ledger.history().collect()
    ]
    assert any('"op": "replicate"' in d for d in datas)
    assert any('"op": "merge"' in d for d in datas)


def test_table_services_export_restore(spark, tmp_path):
    from hudi_utility_spark.api import Engine, TableServices
    from hudi_utility_spark.table import KeyedTable, TableType

    eng = Engine(spark, str(tmp_path / "ledger"))
    svc = TableServices(
        eng,
        KeyedTable(
            path=str(tmp_path / "t"),
            record_key=["id"],
            precombine="v",
            partition_fields=["p"],
            table_type=TableType.COPY_ON_WRITE,
            name="bk_svc",
        ),
    )
    svc.upsert(
        spark.createDataFrame([(1, 1, "a", 1.0)], "id long, v long, p string, x double")
    )
    meta = svc.export_to(str(tmp_path / "bkup"))
    assert meta["rows"] == 1
    svc.upsert(
        spark.createDataFrame([(2, 1, "a", 2.0)], "id long, v long, p string, x double")
    )
    svc.restore_from(str(tmp_path / "bkup"))
    assert svc.read().count() == 1


def test_compact_if_needed_ledgers_only_when_it_compacts(spark, tmp_path):
    from hudi_utility_spark.api import Engine, TableServices
    from hudi_utility_spark.table import KeyedTable, TableType

    eng = Engine(spark, str(tmp_path / "ledger"))
    svc = TableServices(
        eng,
        KeyedTable(
            path=str(tmp_path / "t"),
            record_key=["id"],
            precombine="ts",
            partition_fields=["p"],
            table_type=TableType.MERGE_ON_READ,
            name="cin_svc",
        ),
    )
    schema = "id int, p string, ts int, v double"
    svc.upsert(spark.createDataFrame([(i, "a", 1, 1.0) for i in range(50)], schema))
    svc.upsert(spark.createDataFrame([(1, "a", 2, 2.0)], schema))

    def ledgered():
        return eng.history(transaction_id_like="cin_svc").count()

    before = ledgered()
    assert svc.compact_if_needed(max_log_ratio=100.0) is False
    assert ledgered() == before
    assert os.path.isdir(svc.table.log_path)

    assert svc.compact_if_needed(max_log_ratio=0.0) is True
    assert ledgered() == before + 1
    assert not os.path.isdir(svc.table.log_path)
    assert {r.id: r.v for r in svc.read().collect()}[1] == 2.0


def test_rerun_compares_the_id_as_a_value(engine, sf_dir, tmp_path):
    """A transaction id is data, never SQL: one with a quote is simply
    unknown."""
    engine.bootstrap(_request(sf_dir, tmp_path))
    with pytest.raises(KeyError):
        engine.rerun("no'such-tid")
