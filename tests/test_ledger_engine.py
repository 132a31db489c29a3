from __future__ import annotations

import json
from datetime import datetime, timezone

import pytest

from hudi_utility_spark.engine import bootstrap, choose_plan
from hudi_utility_spark.events import StatusObserver
from hudi_utility_spark.ledger import Ledger, classify_error
from hudi_utility_spark.validate import BootstrapRequest, ValidationError


def test_ledger_lifecycle(spark, tmp_path):
    led = Ledger(spark, str(tmp_path / "ledger"))
    tid = led.begin("events", {"a": 1})
    assert led.status(tid)["status"] == "PENDING"
    led.finish(tid, "SUCCESS", record_counts={"input": 10, "destination": 10})
    st = led.status(tid)
    assert st["status"] == "SUCCESS"
    assert st["record_counts"] == {"input": 10, "destination": 10}


def test_ledger_history_filters(spark, tmp_path):
    led = Ledger(spark, str(tmp_path / "ledger"))
    t1 = led.begin("alpha")
    led.begin("beta")
    led.finish(t1, "FAILED", error_log="Configuration Error: bad key")
    hist = led.history()
    assert hist.count() == 2
    assert hist.first().start_time is not None  # desc order, latest first
    assert led.history(transaction_id_like="alpha").count() == 1
    assert led.history(start_date="2100-01-01").count() == 0
    assert led.history(end_date="2100-01-01").count() == 2
    assert led.status(t1)["error_message"].startswith("Configuration error")


def test_ledger_sweep_runaways(spark, tmp_path):
    led = Ledger(spark, str(tmp_path / "ledger"))
    tid = led.begin("slow")
    assert led.sweep_runaways(timeout_minutes=0) == 1
    st = led.status(tid)
    assert st["status"] == "FAILED"
    assert "timed out" in st["error_log"]
    # terminal rows are not swept again
    assert led.sweep_runaways(timeout_minutes=0) == 0


def test_ledger_compact(spark, tmp_path):
    import glob

    led = Ledger(spark, str(tmp_path / "ledger"))
    for i in range(5):
        tid = led.begin(f"t{i}", {"n": i})
        led.finish(tid, "SUCCESS", record_counts={"input": i})
    files_before = len(glob.glob(f"{led.path}/*.parquet"))
    hist_before = sorted(r.transaction_id for r in led.history().collect())
    n = led.compact()
    assert n == 5
    files_after = len(glob.glob(f"{led.path}/*.parquet"))
    assert files_after == 1 < files_before
    assert sorted(r.transaction_id for r in led.history().collect()) == hist_before
    # statuses survive the rewrite
    assert all(r.status == "SUCCESS" for r in led.history().collect())


def test_classify_error():
    assert classify_error(None) is None
    assert "parquet/orc" in classify_error("Unsupported file format: .txt")
    assert classify_error("boom") == "Job failed — see error_log"


def test_choose_plan_truth_table():
    # pyspark_script.py:373 — full unless (resume AND existing AND no regex
    # AND not metadata-only)
    assert choose_plan(False, True, None, "FULL_RECORD") == "full"
    assert choose_plan(True, False, None, "FULL_RECORD") == "full"
    assert choose_plan(True, True, "x.*", "FULL_RECORD") == "full"
    assert choose_plan(True, True, None, "METADATA_ONLY") == "full"
    assert choose_plan(True, True, None, "FULL_RECORD") == "resume"


def test_bootstrap_end_to_end_with_ledger_and_events(spark, sf_dir, tmp_path):
    led = Ledger(spark, str(tmp_path / "ledger"))
    obs = StatusObserver()
    seen = []
    obs.subscribe(None, seen.append)
    req = BootstrapRequest(
        data_file_path=f"{sf_dir}/events.parquet",
        table_name="events",
        record_key=["event_id"],
        precombine="ts",
        output_path=str(tmp_path / "events_table"),
        partition_fields=["event_type"],
    )
    summary = bootstrap(spark, req, ledger=led, observer=obs)
    assert summary["status"] == "SUCCESS"
    assert summary["record_counts"]["input"] == summary["record_counts"]["destination"]
    assert [e["status"] for e in seen] == ["PENDING", "SUCCESS"]
    st = led.status(summary["transaction_id"])
    assert st["status"] == "SUCCESS" and st["record_counts"]["input"] > 0


def test_bootstrap_resume_plan(spark, sf_dir, tmp_path):
    req = BootstrapRequest(
        data_file_path=f"{sf_dir}/events.parquet",
        table_name="events",
        record_key=["event_id"],
        precombine="ts",
        output_path=str(tmp_path / "events_table"),
        partition_fields=["event_type"],
    )
    bootstrap(spark, req)
    req.resume = True
    summary = bootstrap(spark, req)
    assert summary["plan"] == "resume" and summary["noop"]


def test_bootstrap_failure_recorded(spark, sf_dir, tmp_path):
    led = Ledger(spark, str(tmp_path / "ledger"))
    req = BootstrapRequest(
        data_file_path=f"{sf_dir}/events.parquet",
        table_name="events",
        record_key=["no_such_column"],
        precombine="ts",
        output_path=str(tmp_path / "t"),
    )
    with pytest.raises(ValidationError):
        bootstrap(spark, req, ledger=led)
    failed = led.history().filter("status = 'FAILED'")
    assert failed.count() == 1


def test_bootstrap_from_csv_source(spark, events, tmp_path):
    """The full engine lifecycle over a CSV source: format sniff →
    header/schema-inferred read → keyed bootstrap → reconcile counts
    (the reference accepts only parquet/ORC; CSV/JSON are our free
    extensions through the same dispatch)."""
    from hudi_utility_spark.engine import bootstrap
    from hudi_utility_spark.validate import BootstrapRequest

    src = str(tmp_path / "csv_src")
    sample = events.limit(200).select("event_id", "event_type", "value")
    sample.write.option("header", True).mode("overwrite").csv(src)

    out = str(tmp_path / "csv_table")
    res = bootstrap(
        spark,
        BootstrapRequest(
            data_file_path=src,
            table_name="csv_events",
            record_key=["event_id"],
            precombine="value",
            partition_fields=["event_type"],
            output_path=out,
        ),
    )
    assert res["status"] == "SUCCESS"
    assert res["record_counts"]["input"] == 200
    assert res["record_counts"]["destination"] == 200
    got = spark.read.parquet(out)
    assert got.count() == 200
    assert set(got.columns) >= {"event_id", "value", "event_type"}


def test_finish_opens_no_event_file(spark, tmp_path, monkeypatch):
    """A finish appends its own row and reads nothing; history and status
    still give the transaction's start_time and request from its PENDING
    row."""
    import pyarrow.parquet as pq

    led = Ledger(spark, str(tmp_path / "ledger"))
    tid = led.begin("events", {"a": 1})

    def no_read(*args, **kwargs):
        raise AssertionError("finish read an event file")

    for name in ("read_table", "ParquetFile", "ParquetDataset"):
        monkeypatch.setattr(pq, name, no_read)
    led.finish(tid, "SUCCESS", record_counts={"input": 3})
    monkeypatch.undo()
    (row,) = led.history().collect()
    assert (row.status, row.start_time is not None, row.end_time is not None) == (
        "SUCCESS", True, True)
    assert json.loads(row.transaction_data) == {"a": 1}
    assert led.status(tid)["record_counts"] == {"input": 3}


def test_terminal_rows_that_carry_the_request_read_the_same(spark, tmp_path):
    """Ledgers written when finish copied start_time and the request into
    the terminal row read as before."""
    led = Ledger(spark, str(tmp_path / "ledger"))
    tid = led.begin("events", {"a": 1})
    (pending,) = led.history().collect()
    led._append_row(
        transaction_id=tid, status="SUCCESS", transaction_data=pending.transaction_data,
        start_time=pending.start_time, end_time=datetime.now(timezone.utc),
    )
    (row,) = led.history().collect()
    assert (row.status, row.start_time, row.transaction_data) == (
        "SUCCESS", pending.start_time, pending.transaction_data)


def test_history_raises_on_corrupt_event_file(spark, tmp_path):
    led = Ledger(spark, str(tmp_path / "ledger"))
    led.begin("events")
    (tmp_path / "ledger" / "part-bad.snappy.parquet").write_bytes(b"garbage")
    with pytest.raises(Exception, match="part-bad.snappy.parquet"):
        led.history().collect()
