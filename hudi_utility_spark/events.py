"""Status-event observer (SURVEY §2.9 St1).

The reference pushes ``{transaction_id, status, error_log, error_message,
record_counts}`` over a per-transaction WebSocket when a job reaches a
terminal status (``fastapi-backend/app.py:246-293``), scraping record
counts out of the job log with regexes (``app.py:307-329``). In-process,
that collapses to observer callbacks; record counts flow through
``DataFrame.observe`` metrics instead of log-scraping.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

Payload = dict
Callback = Callable[[Payload], None]


@dataclass
class StatusObserver:
    """Registry of per-transaction callbacks (the reference's
    ``active_connections`` WeakValueDictionary, ``app.py:246-248``)."""

    _subs: dict[str, list[Callback]] = field(default_factory=dict)
    _global: list[Callback] = field(default_factory=list)
    events: list[Payload] = field(default_factory=list)

    def subscribe(self, transaction_id: str | None, callback: Callback) -> None:
        if transaction_id is None:
            self._global.append(callback)
        else:
            self._subs.setdefault(transaction_id, []).append(callback)

    def emit(
        self,
        transaction_id: str,
        status: str,
        error_log: str | None = None,
        error_message: str | None = None,
        record_counts: dict | None = None,
    ) -> Payload:
        payload: Payload = {
            "transaction_id": transaction_id,
            "status": status,
            "error_log": error_log,
            "error_message": error_message,
            "record_counts": record_counts,
        }
        self.events.append(payload)
        for cb in self._subs.get(transaction_id, []) + self._global:
            cb(payload)
        return payload
