"""One-object facade mirroring the reference's service surface.

The reference exposes four HTTP endpoints plus a WebSocket
(``fastapi-backend/app.py``); each maps to one method here, so a user of
the reference can switch by replacing HTTP calls with library calls:

| reference endpoint                  | here                         |
|-------------------------------------|------------------------------|
| ``POST /bootstrap_hudi/``           | ``Engine.bootstrap``         |
| ``POST /check_path_or_table/``      | ``Engine.resolve``           |
| ``GET /bootstrap_history/``         | ``Engine.history``           |
| ``GET /bootstrap_status/{id}/``     | ``Engine.status``            |
| ``WS /ws/{id}/`` status push        | ``Engine.subscribe``         |
| rerun button (replay transaction)   | ``Engine.rerun``             |

The FastAPI/Postgres/WebSocket tier collapses into: a ledger table, an
observer registry, and synchronous library calls (the reference's
background-task + spark-submit + log-scrape pipeline is one in-process
Spark job here — SURVEY §3.1).
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.engine import bootstrap as _bootstrap
from hudi_utility_spark.events import StatusObserver
from hudi_utility_spark.io import SourceInfo, resolve_source
from hudi_utility_spark.ledger import Ledger
from hudi_utility_spark.validate import BootstrapRequest


class Engine:
    """Session + ledger + observer bundle with the reference's surface."""

    def __init__(self, spark: SparkSession, ledger_path: str):
        self.spark = spark
        self.ledger = Ledger(spark, ledger_path)
        self.observer = StatusObserver()
        # the reference sweeps runaway PENDING transactions at startup
        # (app.py:75-108)
        self.ledger.sweep_runaways()

    # -- POST /bootstrap_hudi/ -------------------------------------------
    def bootstrap(self, request: BootstrapRequest | dict) -> dict:
        if isinstance(request, dict):
            request = BootstrapRequest(**request)
        return _bootstrap(
            self.spark, request, ledger=self.ledger, observer=self.observer
        )

    # -- POST /check_path_or_table/ --------------------------------------
    def resolve(self, path_or_table: str) -> SourceInfo:
        return resolve_source(self.spark, path_or_table)

    # -- GET /bootstrap_history/ -----------------------------------------
    def history(
        self,
        transaction_id_like: str | None = None,
        start_date: str | None = None,
        end_date: str | None = None,
    ) -> DataFrame:
        return self.ledger.history(transaction_id_like, start_date, end_date)

    # -- GET /bootstrap_status/{id}/ -------------------------------------
    def status(self, transaction_id: str) -> dict | None:
        return self.ledger.status(transaction_id)

    # -- WS /ws/{id}/ ----------------------------------------------------
    def subscribe(self, transaction_id: str | None, callback) -> None:
        """Register a callback for status events; ``None`` subscribes to
        every transaction (the WebSocket per-id registry generalized)."""
        self.observer.subscribe(transaction_id, callback)

    # -- HistoryTable rerun ----------------------------------------------
    def rerun(self, transaction_id: str) -> dict:
        """Replay a past transaction's stored request (the UI's Rerun
        button posts ``transaction_data`` back — HistoryTable.js)."""
        row = (
            self.ledger.history(transaction_id_like=transaction_id)
            .filter(F.col("transaction_id") == transaction_id)
            .collect()
        )
        if not row:
            raise KeyError(f"unknown transaction: {transaction_id}")
        stored = json.loads(row[0]["transaction_data"])
        known = {f.name for f in BootstrapRequest.__dataclass_fields__.values()}
        return self.bootstrap({k: v for k, v in stored.items() if k in known})


class TableServices:
    """Ledgered wrapper over the table-service surface (upsert / delete /
    rollback / clean / savepoint / compact / CDC) for one
    :class:`~hudi_utility_spark.table.KeyedTable` — the write operations
    the reference's Hudi format supports but its four endpoints never
    expose (``README.md:104-105`` stops at insert/upsert). Every mutation
    runs under the writer lock and lands in the same transaction ledger
    the bootstrap endpoint uses, so ``Engine.history`` shows one audit
    trail across the whole lifecycle."""

    def __init__(self, engine: Engine, table):
        from hudi_utility_spark.table import KeyedTable  # noqa: F401

        self.engine = engine
        self.table = table

    @contextmanager
    def _ledger(self, op: str):
        """One ledger transaction around the block: FAILED (with the
        error) if it raises, SUCCESS otherwise."""
        led = self.engine.ledger
        tid = led.begin(self.table.name or "table", {"op": op, "path": self.table.path})
        try:
            yield
        except Exception as exc:
            led.finish(tid, "FAILED", error_log=str(exc))
            raise
        led.finish(tid, "SUCCESS")

    def _ledgered(self, op: str, fn):
        from hudi_utility_spark.concurrency import table_lock

        with self._ledger(op), table_lock(self.table, owner=op):
            return fn()

    def upsert(self, df: DataFrame, commit_time: str | None = None) -> DataFrame:
        from hudi_utility_spark.write import upsert

        return self._ledgered(
            "upsert", lambda: upsert(self.engine.spark, df, self.table, commit_time)
        )

    def upsert_partial(
        self, df: DataFrame, commit_time: str | None = None
    ) -> DataFrame:
        """Partial-update merge: incoming NULL columns keep the existing
        value (write.upsert_partial) — ledgered and lock-guarded like
        every other mutation."""
        from hudi_utility_spark.write import upsert_partial

        return self._ledgered(
            "upsert_partial",
            lambda: upsert_partial(self.engine.spark, df, self.table, commit_time),
        )

    def delete(self, keys_df: DataFrame, commit_time: str | None = None) -> DataFrame:
        from hudi_utility_spark.write import delete_keys

        return self._ledgered(
            "delete",
            lambda: delete_keys(self.engine.spark, keys_df, self.table, commit_time),
        )

    def rollback(self, instant: str) -> dict:
        from hudi_utility_spark import timeline

        return self._ledgered(
            "rollback", lambda: timeline.rollback(self.engine.spark, self.table, instant)
        )

    def clean(self, older_than: str) -> dict:
        from hudi_utility_spark import timeline

        return self._ledgered(
            "clean", lambda: timeline.clean(self.engine.spark, self.table, older_than)
        )

    def compact_if_needed(self, max_log_ratio: float = 0.2) -> bool:
        """Size-triggered compaction (KeyedTable.needs_compaction) — the
        check runs under the writer lock, and the call is ledgered only
        when a compaction actually runs."""
        from hudi_utility_spark.concurrency import table_lock

        with table_lock(self.table, owner="compact_if_needed"):
            if not self.table.needs_compaction(max_log_ratio):
                return False
            with self._ledger("compact_if_needed"):
                self.table.compact(self.engine.spark)
        return True

    def compact(self, partitions: list | None = None) -> None:
        """Ledgered MOR compaction; *partitions* restricts the fold to
        an explicit subset of log-touched partitions (default: all)."""
        return self._ledgered(
            "compact",
            lambda: self.table.compact(self.engine.spark, partitions=partitions),
        )

    def merge(self, source: DataFrame, **merge_kwargs) -> DataFrame:
        """Ledgered multi-action MERGE INTO this table (see
        `write.merge_into` for the clause semantics)."""
        from hudi_utility_spark.write import merge_into

        return self._ledgered(
            "merge",
            lambda: merge_into(
                self.engine.spark, source, self.table, **merge_kwargs
            ),
        )

    def replicate_from(self, src_table) -> dict:
        """Ledgered incremental sync step from *src_table* into this
        table (`materialize.replicate_incremental`)."""
        from hudi_utility_spark.materialize import replicate_incremental

        return self._ledgered(
            "replicate",
            lambda: replicate_incremental(
                self.engine.spark, src_table, self.table
            ),
        )

    def export_to(self, dest: str) -> dict:
        """Ledgered snapshot backup (`timeline.export_snapshot`)."""
        from hudi_utility_spark import timeline

        return self._ledgered(
            "export",
            lambda: timeline.export_snapshot(self.engine.spark, self.table, dest),
        )

    def restore_from(self, backup: str) -> dict:
        """Ledgered restore from a snapshot backup
        (`timeline.restore_snapshot`)."""
        from hudi_utility_spark import timeline

        return self._ledgered(
            "restore",
            lambda: timeline.restore_snapshot(
                self.engine.spark, self.table, backup
            ),
        )

    def diff_against(self, other: DataFrame, compare_cols=None) -> DataFrame:
        """Row-level diff of this table's snapshot against *other*
        (`validate.table_diff`) — read-only, so not ledgered."""
        from hudi_utility_spark.validate import table_diff

        return table_diff(
            self.table.read(self.engine.spark),
            other,
            self.table.record_key,
            compare_cols=compare_cols,
        )

    def optimize(
        self,
        small_file_bytes: int = 32 * 1024 * 1024,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> dict:
        """Partition-targeted small-file compaction (Delta/Hudi
        OPTIMIZE): rewrites only partitions whose average file size is
        below the threshold. See `KeyedTable.compact_small_files`."""
        return self._ledgered(
            "optimize",
            lambda: self.table.compact_small_files(
                self.engine.spark,
                small_file_bytes=small_file_bytes,
                target_file_bytes=target_file_bytes,
            ),
        )


    def cluster(self, sort_fields: list, num_files: int | None = None) -> None:
        return self._ledgered(
            "cluster",
            lambda: self.table.cluster(
                self.engine.spark, sort_fields, num_files=num_files
            ),
        )

    def savepoint(self, instant: str) -> None:
        from hudi_utility_spark import timeline

        timeline.savepoint(self.table, instant)

    def read(self) -> DataFrame:
        return self.table.read(self.engine.spark)

    def cdc(self, since: str, until: str | None = None) -> DataFrame:
        from hudi_utility_spark import timeline

        return timeline.incremental_cdc(self.engine.spark, self.table, since, until)

    def expire_partitions(self, cutoff: str) -> dict:
        """Retention sweep (timeline.expire_partitions): metadata-only
        partition drops below *cutoff* — ledgered and lock-guarded like
        every other mutation."""
        from hudi_utility_spark import timeline

        return self._ledgered(
            "expire_partitions",
            lambda: timeline.expire_partitions(
                self.engine.spark, self.table, cutoff
            ),
        )

    def recover(self) -> str:
        """Recover from a hard crash inside a rewrite swap
        (write.recover_swap) — lock-guarded (a concurrent writer must
        not race the restore) and ledgered when something was restored.
        Also sweeps stale rewrite staging dirs (``<path>.*.tmp``): a
        tmp without a trash is an UNCOMMITTED rewrite by construction
        (the swap starts only after the staging write completes), so
        dropping it is always safe — and holding the lock here means no
        live writer's staging can be in flight."""
        import shutil

        from hudi_utility_spark.concurrency import table_lock
        from hudi_utility_spark.write import recover_swap

        with table_lock(self.table, owner="recover"):
            out = recover_swap(self.table.path)
            # the MOR log rewrite (clean/rollback) swaps _delta_log
            # itself — recover that swap too, else a crash there would
            # silently drop log rows while this reports "clean"
            if os.path.isdir(self.table.log_path):
                log_out = recover_swap(self.table.log_path)
                if log_out != "clean" and out == "clean":
                    out = log_out
            for root in (self.table.path, os.path.dirname(self.table.path.rstrip("/"))):
                base = self.table.path.rstrip("/")
                name = os.path.basename(base)
                for entry in os.listdir(root or "."):
                    if entry.endswith(".tmp") and (
                        entry.startswith(name + ".")
                        or entry.startswith("_delta_log.")
                    ):
                        shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
        if out != "clean":
            tid = self.engine.ledger.begin(
                self.table.name or "table",
                {"op": "recover", "path": self.table.path},
            )
            self.engine.ledger.finish(tid, "SUCCESS")
        self.engine.spark.catalog.refreshByPath(self.table.path)
        return out
