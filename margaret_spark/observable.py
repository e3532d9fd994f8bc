"""Minimal in-process observable cell.

Reference: luigi.Observable — a value cell consumers subscribe to
(used for ``Changes()``, ``log.go:20``, and KV-index ``Get``,
``indexes/index.go:27-38``). Subscriptions are delivered on the
setter's thread, exactly like the reference delivers on the appender's
goroutine (``offset2/log.go:453-455``), so ``log.changes()`` fires
only for appends made through that handle. To follow appends made
through another handle or process, poll ``seq()``, which is fresh
across handles: ``query(Live())``, ``LiveTail`` and ``stream_changes``
do.
"""

from __future__ import annotations

import threading
from typing import Any, Callable


class _Unset:
    def __repr__(self) -> str:
        return "UnsetValue"


#: Reference ``indexes/index.go:36-38``: reads of unset keys observe this.
UNSET = _Unset()


class Observable:
    def __init__(self, value: Any = UNSET):
        self._value = value
        self._lock = threading.Lock()
        self._subs: dict[int, Callable[[Any], None]] = {}
        self._next_id = 0

    def value(self) -> Any:
        with self._lock:
            return self._value

    def set(self, value: Any) -> None:
        with self._lock:
            self._value = value
            subs = list(self._subs.values())
        for fn in subs:
            fn(value)

    def subscribe(self, fn: Callable[[Any], None]) -> Callable[[], None]:
        """Register a callback; returns a cancel function. Mirrors the
        reference's GC'd registrations (``indexes/obv.go:15-51``) — the
        owner can drop the cell when no subscribers remain."""
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            self._subs[sid] = fn

        def cancel() -> None:
            with self._lock:
                self._subs.pop(sid, None)

        return cancel

    def has_subscribers(self) -> bool:
        with self._lock:
            return bool(self._subs)
