"""Transaction ledger (SURVEY §2.1 S8, §2.9 St2, §3.3).

The reference keeps a Postgres ``hudi_transactions`` table via SQLAlchemy
(``fastapi-backend/app.py:41-53``) with history/status endpoints
(``app.py:228-353``) and a startup sweep failing runaway PENDING rows
older than 60 minutes (``app.py:75-108``). Here the ledger is an
engine-managed parquet directory: appends for begin/finish, DataFrame
filters for history, and the sweep is a filtered rewrite.

Scale note: a ledger is control-plane data (one row per job). Appends are
single-file writes; history queries scan a directory that grows with job
count, not data volume.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSACTION_TIMEOUT_MINUTES = 60  # reference app.py:75-78

_SCHEMA = T.StructType(
    [
        T.StructField("transaction_id", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # PENDING/FAILED/SUCCESS
        T.StructField("transaction_data", T.StringType(), True),  # JSON request
        T.StructField("start_time", T.TimestampType(), True),
        T.StructField("end_time", T.TimestampType(), True),
        T.StructField("app_id", T.StringType(), True),
        T.StructField("error_log", T.StringType(), True),
        T.StructField("record_counts", T.StringType(), True),  # JSON {input, dest}
    ]
)


class Ledger:
    """Parquet-backed transaction ledger."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    # -- writes ----------------------------------------------------------
    def begin(self, table_name: str, request: dict | None = None) -> str:
        """Insert a PENDING row; id = ``{table}-{unix_ts}`` like the
        reference (``app.py:209``), plus a uuid suffix for uniqueness."""
        tid = f"{table_name}-{int(time.time())}-{uuid.uuid4().hex[:8]}"
        self._append_row(
            transaction_id=tid,
            status="PENDING",
            transaction_data=json.dumps(request or {}, default=str),
            start_time=datetime.now(timezone.utc),
        )
        return tid

    def finish(
        self,
        transaction_id: str,
        status: str,
        error_log: str | None = None,
        record_counts: dict | None = None,
    ) -> None:
        """Append the terminal row (``app.py:173-204``). The ledger is
        append-only; the latest row per id wins (read-side precombine —
        same semantic as the engine's keyed tables). The row carries only
        its own fields: the reads fill ``start_time`` and
        ``transaction_data`` from the transaction's PENDING row, so a
        finish reads no earlier event."""
        if status not in ("SUCCESS", "FAILED", "PENDING"):
            raise ValueError(f"invalid status: {status}")
        self._append_row(
            transaction_id=transaction_id,
            status=status,
            end_time=datetime.now(timezone.utc),
            error_log=error_log,
            record_counts=json.dumps(record_counts, default=str)
            if record_counts
            else None,
        )

    def sweep_runaways(
        self, timeout_minutes: int = TRANSACTION_TIMEOUT_MINUTES
    ) -> int:
        """St2: PENDING transactions older than the timeout → FAILED with
        the reference's fixed message (``app.py:96-103``). Returns the
        number swept."""
        cutoff = datetime.now(timezone.utc) - timedelta(minutes=timeout_minutes)
        stale = (
            self._latest()
            .filter((F.col("status") == "PENDING") & (F.col("start_time") <= F.lit(cutoff)))
            .collect()
        )
        for r in stale:
            self.finish(
                r["transaction_id"],
                "FAILED",
                error_log="Transaction timed out: exceeded "
                f"{timeout_minutes} minutes in PENDING state",
            )
        return len(stale)

    # -- reads -----------------------------------------------------------
    def history(
        self,
        transaction_id_like: str | None = None,
        start_date: str | None = None,
        end_date: str | None = None,
    ) -> DataFrame:
        """History query with the reference's filters (``app.py:228-243``):
        LIKE on id, ``start_time >= start_date``, ``< end_date + 1 day``
        (half-open day range), ordered by start_time desc."""
        df = self._latest()
        if transaction_id_like:
            df = df.filter(F.col("transaction_id").contains(transaction_id_like))
        if start_date:
            df = df.filter(F.col("start_time") >= F.to_timestamp(F.lit(start_date)))
        if end_date:
            df = df.filter(
                F.col("start_time")
                < F.to_timestamp(F.date_add(F.to_date(F.lit(end_date)), 1))
            )
        return df.orderBy(F.desc("start_time"))

    def status(self, transaction_id: str) -> dict | None:
        """Point lookup + error classification (``app.py:332-353``)."""
        rows = self._latest().filter(F.col("transaction_id") == transaction_id).collect()
        if not rows:
            return None
        r = rows[0]
        return {
            "transaction_id": r["transaction_id"],
            "status": r["status"],
            "error_log": r["error_log"],
            "error_message": classify_error(r["error_log"]),
            "record_counts": json.loads(r["record_counts"]) if r["record_counts"] else None,
        }

    def compact(self) -> int:
        """Rewrite the event-sourced ledger as one resolved snapshot:
        the latest event per transaction, in a single file.

        Every begin/finish appends a one-row parquet file; after many
        transactions the ledger is thousands of tiny files and every
        history query pays the listing cost. Compaction collapses them
        (write to a sibling temp dir, atomic swap — readers never see a
        partial ledger). Returns the number of surviving rows.
        """
        import shutil

        if not os.path.isdir(self.path):
            return 0
        snapshot = self._latest().coalesce(1)
        tmp = self.path.rstrip("/") + ".compact.tmp"
        snapshot.write.mode("overwrite").parquet(tmp)
        n = self.spark.read.schema(_SCHEMA).parquet(tmp).count()
        old = self.path.rstrip("/") + ".compact.old"
        shutil.move(self.path, old)
        shutil.move(tmp, self.path)
        shutil.rmtree(old)
        return n

    # -- internals ---------------------------------------------------------
    def _append_row(self, **kwargs) -> None:
        """One-row append WITHOUT a Spark job (guide §5: the driver
        should do almost no data work — and conversely, control-plane
        bookkeeping should not spin a cluster job per event; a Spark
        write job for one row cost ~1-2 s of scheduler/py4j/commit
        overhead per begin/finish). pyarrow writes the same parquet
        physical layout Spark uses for _SCHEMA (INT64 timestamp MICROS
        adjustedToUTC, optional UTF8), so ``spark.read.schema(_SCHEMA)``
        reads both interchangeably — pinned by the end-to-end ledger
        tests. Temp-write + atomic rename: a reader never sees a
        partial event file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        row = {f.name: kwargs.get(f.name) for f in _SCHEMA.fields}
        fields, arrays = [], []
        for f in _SCHEMA.fields:
            typ = (
                pa.timestamp("us", tz="UTC")
                if isinstance(f.dataType, T.TimestampType)
                else pa.string()
            )
            fields.append(pa.field(f.name, typ, nullable=True))
            arrays.append(pa.array([row[f.name]], type=typ))
        os.makedirs(self.path, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex}.snappy.parquet"
        tmp = os.path.join(self.path, f"_tmp-{fname}")
        pq.write_table(
            pa.Table.from_arrays(arrays, schema=pa.schema(fields)),
            tmp,
            compression="snappy",
        )
        os.replace(tmp, os.path.join(self.path, fname))

    def _read(self) -> DataFrame:
        if not os.path.isdir(self.path):
            return self.spark.createDataFrame([], schema=_SCHEMA)
        return self.spark.read.schema(_SCHEMA).parquet(self.path)

    def _latest(self) -> DataFrame:
        """Latest event per transaction — the ledger's own precombine
        window (end_time desc, nulls last → PENDING loses to terminal).
        ``start_time`` and ``transaction_data`` are each the first
        non-null value over the transaction's events in that order: a
        terminal row written without them takes the PENDING row's, and
        one that carries them keeps its own."""
        from pyspark.sql import Window

        w = Window.partitionBy("transaction_id").orderBy(
            F.col("end_time").desc_nulls_last()
        )
        events = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        return (
            self._read()
            .withColumn("__rn", F.row_number().over(w))
            .withColumns(
                {
                    c: F.first(c, ignorenulls=True).over(events)
                    for c in ("start_time", "transaction_data")
                }
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )


def classify_error(error_log: str | None) -> str | None:
    """F5: substring dispatch on known error classes (``app.py:296-305``)."""
    if not error_log:
        return None
    for marker, message in (
        ("Configuration Error:", "Configuration error — check request parameters"),
        ("Permission Denied:", "Permission denied on the data path"),
        ("Unsupported file format", "Unsupported file format (expected parquet/orc)"),
        ("Transaction timed out", "Transaction timed out"),
    ):
        if marker in error_log:
            return message
    return "Job failed — see error_log"
