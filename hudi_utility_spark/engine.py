"""End-to-end bootstrap lifecycle (SURVEY §3.1).

One Python process replaces the reference's HTTP → ledger → background
thread → spark-submit subprocess → log-scrape chain
(``fastapi-backend/app.py:126-225``): validate → read → plan-select →
write → reconcile → ledger append + observer events. The plan selection
reproduces the reference's 4-way mode predicate
(``fastapi-backend/pyspark_script.py:373``): full bootstrap when *not
resume*, or *no existing partitions*, or *a partition regex is given*, or
*METADATA_ONLY*; otherwise the incremental repair path.

The source is counted by the pass that writes it (or, on resume, by the
diff that reads it), through ``df.observe``, and reconciliation takes
that count rather than scanning the source again. Only the full plan
probes for an empty source first, because its static overwrite would
otherwise leave an empty table.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from hudi_utility_spark.events import StatusObserver
from hudi_utility_spark.io import read_source
from hudi_utility_spark.ledger import Ledger, classify_error
from hudi_utility_spark.repair import resume_bootstrap
from hudi_utility_spark.table import BootstrapMode
from hudi_utility_spark.validate import (
    BootstrapRequest,
    ValidationError,
    ensure_valid,
    reconcile,
    validate_fields_in_schema,
)
from hudi_utility_spark.write import full_bootstrap

_EMPTY_SOURCE = "Input DataFrame is empty — nothing to bootstrap"


def choose_plan(
    resume: bool,
    has_existing_partitions: bool,
    partition_regex: str | None,
    bootstrap_type: str | BootstrapMode,
) -> str:
    """The reference's mode decision, verbatim truth table
    (``pyspark_script.py:373``): returns "full" or "resume"."""
    mode = BootstrapMode.parse(bootstrap_type)
    if (
        not resume
        or not has_existing_partitions
        or partition_regex
        or mode is BootstrapMode.METADATA_ONLY
    ):
        return "full"
    return "resume"


def bootstrap(
    spark: SparkSession,
    req: BootstrapRequest,
    ledger: Ledger | None = None,
    observer: StatusObserver | None = None,
) -> dict:
    """Run the full lifecycle; returns a result summary dict."""
    observer = observer or StatusObserver()
    tid = ledger.begin(req.table_name, req.__dict__) if ledger else req.table_name
    observer.emit(tid, "PENDING")
    try:
        # argument validation inside the ledgered span, like the
        # reference: its PENDING row exists before the Spark job
        # validates (app.py:207-225 → pyspark_script.py:314-315), so a
        # config error leaves a FAILED transaction, not silence
        ensure_valid(req)
        df = read_source(spark, req.data_file_path)
        table = req.to_table()
        errors = validate_fields_in_schema(df, table)
        if errors:
            raise ValidationError(errors)
        has_existing = table.exists() and bool(table.partition_fields)
        plan = choose_plan(req.resume, has_existing, req.partition_regex, req.bootstrap_type)
        if plan == "full":
            # the static overwrite would leave an empty table: refuse first
            if df.isEmpty():
                raise ValidationError([_EMPTY_SOURCE])
            summary = full_bootstrap(
                spark,
                df,
                table,
                mode=req.bootstrap_type,
                partition_regex=req.partition_regex,
                source_path=req.data_file_path,
                dry_run=req.dry_run,
            )
        else:
            summary = resume_bootstrap(spark, df, table, dry_run=req.dry_run)
            # counted by the diff; an empty source has no partition to rewrite
            if summary["source_count"] == 0:
                raise ValidationError([_EMPTY_SOURCE])
        summary["plan"] = plan

        mode = BootstrapMode.parse(req.bootstrap_type)
        counts = None
        if not req.dry_run and mode is not BootstrapMode.METADATA_ONLY and not req.partition_regex:
            counts = reconcile(spark, df, table, _source_count=summary["source_count"])
            summary["record_counts"] = {
                "input": counts["source_count"],
                "destination": counts["dest_count"],
            }
        if ledger:
            ledger.finish(tid, "SUCCESS", record_counts=summary.get("record_counts"))
        observer.emit(
            tid, "SUCCESS", record_counts=summary.get("record_counts")
        )
        summary["transaction_id"] = tid
        summary["status"] = "SUCCESS"
        return summary
    except Exception as exc:
        log = str(exc)
        if ledger:
            ledger.finish(tid, "FAILED", error_log=log)
        observer.emit(tid, "FAILED", error_log=log, error_message=classify_error(log))
        raise
