"""Concurrency control for multi-writer tables.

Apache Hudi guards concurrent writers with a lock provider plus
optimistic conflict resolution (``hoodie.write.concurrency.mode=
optimistic_concurrency_control``); the reference app sidesteps the
problem by funneling every job through one FastAPI process (its only
guard is the 60-minute runaway sweep, ``app.py:75-108``). This module
gives our keyed tables the same two primitives:

- ``table_lock`` — a mutual-exclusion lease implemented with an atomic
  hard-link publish under ``<table>/_locks/``: the payload is written
  to a private temp file first, then ``os.link``-ed to the lock path,
  so the lock either does not exist or exists *with* its holder
  metadata — there is no observable empty-file window for a contender
  to misread as a stale lease. Works on any filesystem with atomic
  link/create (local, HDFS; on S3 use a DynamoDB/ZK
  provider — same interface). Stale leases (holder died) are taken
  over after ``timeout_s`` via *serialized, verified* takeover:
  contenders race for a takeover mutex (uniquely-named per-contender
  entries, oldest non-expired entry wins — path reuse is what makes
  reclaim racy, so there is none)
  and the holder re-verifies the lease is still stale inside it before
  removing anything — a fresh lease published by a concurrent winner
  is never deleted, so two contenders cannot both end up holding.
  Release is owner-checked: a holder whose lease was taken over after
  timing out does NOT delete the new holder's lease.
- ``write_with_cas`` — compare-and-swap commits: the caller states the
  instant it based its write on; if the table advanced past it while
  the writer was planning, a ``CommitConflict`` is raised instead of
  silently clobbering the concurrent commit (the lost-update anomaly).

Scale: the lock file is O(1) metadata; ``latest_commit`` on MOR reads
only commit columns (parquet column pruning) and is collect-free until
the final scalar.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.table import KeyedTable
from hudi_utility_spark.timeline import COMMIT_COL, EPOCH_INSTANT


class LockHeld(RuntimeError):
    """The table's write lock is held by another live writer."""


class CommitConflict(RuntimeError):
    """The table advanced past the instant this write was based on."""


def _lock_path(table: KeyedTable) -> str:
    return os.path.join(table.path, "_locks", "writer.lock")


def _try_publish(tmp: str, path: str, payload: str) -> bool:
    """Atomically publish ``tmp`` (payload already on disk) as the lock
    file. True on acquire; False when another writer holds it. When the
    staged tmp itself vanished (a contender's stale-tmp sweep raced us),
    restage the payload and retry once instead of escaping with a raw
    FileNotFoundError."""
    for _ in range(2):
        try:
            os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        except FileNotFoundError:
            with open(tmp, "w") as f:
                f.write(payload)
    return False


def _lease_age(path: str) -> tuple[float, str]:
    """(age_seconds, owner) of the lease at ``path``. Falls back to the
    file's mtime when the payload is unreadable — never to epoch 0,
    which would make a just-acquired lease look orphaned. Raises
    :class:`FileNotFoundError` when the lease vanished (holder released
    between the contender's failed publish and this check) so the caller
    can retry the publish instead of reporting a phantom holder."""
    try:
        holder = json.loads(open(path).read() or "{}")
    except FileNotFoundError:
        raise
    except (OSError, json.JSONDecodeError):
        holder = {}
    acquired = holder.get("acquired_at")
    if acquired is None:
        try:
            acquired = os.stat(path).st_mtime
        except FileNotFoundError:
            raise
        except OSError:
            acquired = time.time()
    return time.time() - acquired, holder.get("owner", "unknown")


def _sweep_tmp_leases(lock_dir: str, timeout_s: float) -> None:
    """Remove ``*.tmp`` staging files older than the lease timeout — a
    writer hard-killed between staging its payload and the finally-
    cleanup would otherwise leave them in ``_locks/`` forever."""
    try:
        names = os.listdir(lock_dir)
    except OSError:
        return
    now = time.time()
    for n in names:
        if not n.endswith(".tmp"):
            continue
        p = os.path.join(lock_dir, n)
        try:
            if now - os.stat(p).st_mtime > timeout_s:
                os.remove(p)
        except OSError:
            pass  # raced with its owner or another sweeper — fine


def _read_payload(path: str) -> dict | None:
    """Lease payload at ``path``; None when it vanished or is garbage."""
    try:
        return json.loads(open(path).read() or "{}")
    except FileNotFoundError:
        return None
    except (OSError, json.JSONDecodeError):
        return {}


def _takeover_slot(path: str, timeout_s: float):
    """Acquire the takeover mutex: at most one contender runs the
    remove-stale-lease-then-publish sequence at a time. Returns the
    entry path to remove on exit, or None when another takeover is in
    flight.

    Each contender stages its OWN uniquely-named entry
    (``<lock>.tk.<pid>.<tid>``) and the winner is the oldest
    non-expired entry in deterministic (mtime, name) order — whoever
    created second necessarily lists the earlier entry and loses, so
    two contenders can never both win. The earlier single-path
    ``<lock>.tk`` + stat→remove→recreate reclaim was racy: a reclaimer
    could stat a crashed incarnation and remove the FRESH one a
    concurrent winner had just recreated at the same path, letting two
    contenders into the critical section. Names here are never reused,
    so sweeping an expired (>``slot_timeout``, i.e. crashed) entry can
    never strip a live contender."""
    # floor at 5s: the slot guards a microsecond critical section, but a
    # caller's tiny lease timeout (e.g. 0) must not expire live entries
    slot_timeout = max(min(timeout_s, 30.0), 5.0)
    mine = f"{path}.tk.{os.getpid()}.{threading.get_ident()}"
    with open(mine, "w") as f:
        f.write(str(time.time()))
    me = (os.stat(mine).st_mtime, os.path.basename(mine))
    d = os.path.dirname(path)
    prefix = os.path.basename(path) + ".tk."
    now = time.time()
    entries = []
    try:
        names = os.listdir(d)
    except OSError:
        names = []
    for n in names:
        if not n.startswith(prefix):
            continue
        p = os.path.join(d, n)
        try:
            m = os.stat(p).st_mtime
        except OSError:
            continue  # a finished contender removed its entry — fine
        if n != os.path.basename(mine) and now - m > slot_timeout:
            try:
                os.remove(p)  # crashed contender; unique names → safe
            except OSError:
                pass
            continue
        entries.append((m, n))
    if entries and min(entries) == me:
        return mine
    try:
        os.remove(mine)
    except OSError:
        pass
    return None


@contextmanager
def table_lock(table: KeyedTable, owner: str = "writer", timeout_s: float = 3600.0):
    """Exclusive writer lease. The payload is staged in a private temp
    file and atomically ``os.link``-ed into place, so contenders always
    observe a fully-written lease; raises :class:`LockHeld` (with holder
    metadata) when contended. A lease older than ``timeout_s`` is
    presumed orphaned and taken over — the same liveness rule as the
    reference's runaway sweep.

    Takeover protocol: contenders that judge the lease stale serialize
    through a takeover mutex (``_takeover_slot``) and RE-VERIFY
    staleness inside it before removing anything — so a fresh lease
    published by a concurrent winner is never deleted, and the lock
    path's exists-gap (between removing the stale lease and publishing
    our own) can only be won by one ``os.link``. Release is
    owner-checked: a holder that out-slept its lease and was taken over
    must not delete the new holder's lease."""
    path = _lock_path(table)
    lock_dir = os.path.dirname(path)
    os.makedirs(lock_dir, exist_ok=True)
    # sweep with a generous fixed floor, never the caller's timeout: a
    # contender invoked with a tiny timeout_s must not delete another
    # in-flight writer's just-staged tmp file
    _sweep_tmp_leases(lock_dir, max(timeout_s, 3600.0))
    token = {"owner": owner, "acquired_at": time.time()}
    payload = json.dumps(token)
    tmp = f"{path}.{os.getpid()}.{threading.get_ident()}.tmp"
    with open(tmp, "w") as f:
        f.write(payload)
    try:
        acquired = _try_publish(tmp, path, payload)
        if not acquired:
            try:
                age, holder = _lease_age(path)
            except FileNotFoundError:
                age, holder = None, None
            if age is None:
                # holder released between our failed publish and the
                # age check — the lock is free, try once more
                acquired = _try_publish(tmp, path, payload)
                if not acquired:
                    try:
                        age, holder = _lease_age(path)
                    except FileNotFoundError:
                        # owner released mid-race again — report
                        # contention rather than escape with a raw
                        # FileNotFoundError; caller retries
                        raise LockHeld(
                            f"lock on {table.path}: owner released "
                            "mid-acquire — retry"
                        )
                    raise LockHeld(
                        f"lock on {table.path} held by {holder} for {age:.0f}s"
                    )
            elif age <= timeout_s:
                raise LockHeld(
                    f"lock on {table.path} held by {holder} for {age:.0f}s"
                )
            else:
                slot = _takeover_slot(path, timeout_s)
                if slot is None:
                    raise LockHeld(
                        f"lock on {table.path} stale; takeover already in "
                        "flight — retry"
                    )
                try:
                    # re-verify INSIDE the mutex: a concurrent takeover
                    # winner may have published a fresh lease since our
                    # age check. Only a still-stale lease is removed.
                    try:
                        age2, holder2 = _lease_age(path)
                    except FileNotFoundError:
                        age2, holder2 = None, None
                    if age2 is not None and age2 <= timeout_s:
                        raise LockHeld(
                            f"lock on {table.path} held by {holder2} for "
                            f"{age2:.0f}s"
                        )
                    if age2 is not None:
                        try:
                            os.remove(path)
                        except FileNotFoundError:
                            pass
                    # the exists-gap here is safe: if another contender's
                    # initial publish slips in first, our link fails and
                    # we report contention — never a double hold.
                    acquired = _try_publish(tmp, path, payload)
                    if not acquired:
                        try:
                            age3, holder3 = _lease_age(path)
                        except FileNotFoundError:
                            raise LockHeld(
                                f"lock on {table.path}: owner released "
                                "mid-takeover — retry"
                            )
                        raise LockHeld(
                            f"lock on {table.path} held by {holder3} for "
                            f"{age3:.0f}s"
                        )
                finally:
                    try:
                        os.remove(slot)
                    except FileNotFoundError:
                        pass
    finally:
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass
    try:
        yield
    finally:
        # owner-checked release: only remove the lease WE published
        if _read_payload(path) == token:
            try:
                os.remove(path)
            except FileNotFoundError:
                pass


def latest_commit(spark: SparkSession, table: KeyedTable) -> str:
    """Highest ``_commit_time`` present in the table (base + log for
    MOR); the epoch instant for pre-timeline tables."""
    parts = []
    base = table.read_base(spark)
    if COMMIT_COL in base.columns:
        parts.append(base.select(COMMIT_COL))
    log = table.read_log(spark)
    if log is not None and COMMIT_COL in log.columns:
        parts.append(log.select(COMMIT_COL))
    if not parts:
        return EPOCH_INSTANT
    merged = parts[0]
    for p in parts[1:]:
        merged = merged.unionByName(p)
    row = merged.agg(F.max(COMMIT_COL)).collect()[0][0]
    return row or EPOCH_INSTANT


def occ_retry(
    spark: SparkSession,
    table: KeyedTable,
    plan_fn,
    retries: int = 5,
    owner: str = "writer",
    timeout_s: float = 3600.0,
):
    """The standard optimistic-concurrency loop around
    :func:`write_with_cas`: read the current instant, plan against it
    (``plan_fn(base_instant)`` returns the write thunk's result), and
    commit iff the table has not advanced; on :class:`CommitConflict`
    OR :class:`LockHeld` (another writer holds the lease or a takeover
    is in flight), re-read and re-plan up to ``retries`` times. This is
    what Hudi's concurrency mode does per write; exposing the loop
    keeps caller code to one call."""
    from pyspark.errors import AnalysisException

    last: Exception | None = None
    for attempt in range(retries):
        try:
            base = latest_commit(spark, table)
            return write_with_cas(
                spark,
                table,
                base,
                lambda: plan_fn(base),
                owner=owner,
                timeout_s=timeout_s,
            )
        except (CommitConflict, LockHeld, AnalysisException) as exc:
            # AnalysisException: the un-locked planning read raced a
            # concurrent writer's file append (transient listing
            # inconsistency — the same class of error Hudi retries on
            # eventually-consistent stores); re-read and re-plan.
            last = exc
            # exponential backoff: lock hold times are whole write
            # durations (seconds), not microseconds
            time.sleep(min(0.1 * (2 ** attempt), 5.0))
    raise last  # type: ignore[misc]


def write_with_cas(
    spark: SparkSession,
    table: KeyedTable,
    expected_commit: str,
    write_fn,
    owner: str = "writer",
    timeout_s: float = 3600.0,
):
    """Commit ``write_fn()`` only if the table is still at
    ``expected_commit`` — the optimistic writer's validate-then-commit
    step, executed under the table lock so the check and the write are
    one critical section. Raises :class:`CommitConflict` when a
    concurrent writer advanced the timeline first; the caller re-reads,
    re-plans, and retries (standard OCC loop)."""
    with table_lock(table, owner=owner, timeout_s=timeout_s):
        current = latest_commit(spark, table)
        if current != expected_commit:
            raise CommitConflict(
                f"table at {table.path} advanced to {current} "
                f"(write based on {expected_commit}); re-read and retry"
            )
        return write_fn()
