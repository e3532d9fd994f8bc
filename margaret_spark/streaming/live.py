"""Live queries: catch up on stored entries, then follow appends.

Reference semantics (``offset2/qry.go:126-158``): a live query drains
existing entries, then blocks until the next append and continues —
catch-up-then-follow. The one follow loop is :meth:`Log._live_iter`,
behind ``log.query(Live())``. It polls ``seq()``, which is fresh across
handles, so it follows appends made through any handle.

- :class:`LiveTail` — that loop as a pull iterator with an idle
  timeout (``next()`` blocks like the reference's ``Next``).
  Reverse+live is rejected at construction like the reference
  (``offset2/log.go:418-420``).
- :func:`stream_changes` — a ``Changes()`` observable set from
  ``seq()`` by a thread that waits with the same poll.
- :func:`stream_build_index` — the §3.3 derived-index pipeline as a
  Structured Streaming query: each micro-batch goes to the user
  function and the checkpoint directory plays the resume-cursor role
  (exactly-once, replacing the reference's hand-rolled cursor
  orderings, ``multilog/sink.go:46-58``).
"""

from __future__ import annotations

import contextlib
import threading
import time
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame

from margaret_spark.errors import SEQ_EMPTY
from margaret_spark.log import _IDLE, OffsetLog
from margaret_spark.observable import Observable
from margaret_spark.qry import QuerySpec, build_plan


class LiveTail:
    """``log.query(Live(), *specs)`` with an idle timeout.

    Yields values in seq order: stored entries first (catch-up), then
    each new append. ``SeqWrap``, bounds and ``Limit`` behave as in
    ``log.query``, and so do patches: a nulled entry yields
    ``ErrNulled()`` and a replaced one its replacement, as in margaret.

    An idle log does NOT end the stream: the reference's live query
    blocks until the next append (``offset2/qry.go:126-158``), so a
    quiet ``poll_timeout`` raises ``TimeoutError`` with the tail still
    open — call ``next()`` again to keep waiting, or ``close()`` to
    give up. Only ``Limit`` exhaustion, an exhausted upper bound (or
    ``close()``) ends the iteration; silently converting an idle wait
    into end-of-stream would make "no appends for 30 s"
    indistinguishable from "done".
    """

    def __init__(self, log: OffsetLog, *specs: QuerySpec, poll_timeout: float = 30.0):
        self.log = log
        self.plan = build_plan(specs)
        # force live semantics; reverse+live invalid as in the reference
        self.plan.live = True
        self.plan.validate()
        self._poll_timeout = poll_timeout
        self._closed = False
        self._it = log._live_iter(self.plan)

    def __iter__(self) -> Iterator[Any]:
        return self

    def __next__(self) -> Any:
        deadline = time.monotonic() + self._poll_timeout
        for item in self._it:
            if item is not _IDLE:
                return item
            if self._closed:  # by another thread while this one waited
                self._it.close()
                break
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"no append within poll_timeout={self._poll_timeout}s — "
                    "the live tail is still open: next() keeps waiting, "
                    "close() gives up"
                )
        raise StopIteration

    def close(self) -> None:
        self._closed = True
        # ValueError: a next() in another thread is running it; that
        # next() closes it at its next poll
        with contextlib.suppress(ValueError):
            self._it.close()

    def __enter__(self) -> "LiveTail":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def stream_changes(log: OffsetLog) -> tuple[Observable, Callable[[], None]]:
    """A ``Changes()`` observable that follows the log across handles:
    a daemon thread waits with the log's live poll and sets the
    observable to each new ``seq()``. Returns (observable, stop_fn)."""
    obs = Observable()
    stop = threading.Event()

    def follow() -> None:
        seen = SEQ_EMPTY
        while not stop.is_set():
            s = log.seq()
            if s > seen:
                obs.set(s)
                seen = s
            else:
                log._wait_for_append(seen)

    t = threading.Thread(target=follow, name="stream_changes", daemon=True)
    t.start()

    def stop_fn() -> None:
        stop.set()
        t.join()

    return obs, stop_fn


def stream_build_index(
    log: OffsetLog,
    apply_batch: Callable[[DataFrame], None],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """The canonical derived-data pipeline (§3.3) as Structured
    Streaming: each micro-batch of appended entries is handed to
    ``apply_batch`` (a DataFrame of (seq, value)); the checkpoint
    directory is the persisted cursor, giving exactly-once batch
    delivery across restarts — the streaming twin of
    ``indexes.build_index``.

    ``available_now=True`` = one catch-up run that terminates (the
    reference's batch rebuild); ``False`` = continuous follow.
    """
    src = log.stream_df()

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_batch(batch_df)

    w = src.writeStream.foreachBatch(on_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        q = w.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return w.trigger(processingTime="500 milliseconds").start()
