"""Cross-log consistent snapshots.

The reference has no transactions (SURVEY §2.7) — go-ssb gets
multi-log consistency by replaying every derived index to a recorded
cursor. This module makes that cut explicit: a snapshot atomically
pins ``(seq, patch_id)`` for a *group* of logs in one manifest file,
and an as-of read returns views bounded to that point, so appends,
nulls, and replaces landing after the snapshot are invisible.

Scale: a manifest is O(#logs) metadata, independent of data size; the
as-of bound is an ordinary pushed ``seq <=`` filter, so Parquet
row-group pruning keeps snapshot reads as cheap as head reads.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import DataFrame

from margaret_spark import files
from margaret_spark.log import OffsetLog

#: where id recovery says a foreign name was found
_WHAT = "manifest-like entry in snapshot catalog"


class SnapshotCatalog:
    """A directory of snapshot manifests over a named group of
    :class:`OffsetLog` instances (single-writer, driver-coordinated,
    matching the log write path)."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        self._sid_lock = threading.Lock()

    def _manifest_path(self, sid: int) -> str:
        return os.path.join(self.path, f"manifest-{sid:020d}.json")

    def ids(self) -> list[int]:
        return [sid for sid, _name in files.published(self.path, "manifest-", _WHAT, ".json")]

    def snapshot(self, logs: dict[str, OffsetLog], note: str | None = None) -> int:
        """Record the current ``(seq, patch_id)`` of every log in one
        atomically-published manifest; returns the snapshot id.

        Log locks are taken together (in name order, so concurrent
        snapshots cannot deadlock) — the cut is consistent across logs,
        not merely per-log."""
        items = sorted(logs.items())
        taken = []
        try:
            for _name, log in items:
                log._lock.acquire()
                taken.append(log)
            pinned = {
                name: {"seq": log._seq, "patch_id": log._patch_id}
                for name, log in items
            }
        finally:
            for log in reversed(taken):
                log._lock.release()
        # sid allocation + publish under the catalog lock: two
        # concurrent snapshots must never share an id (the second
        # rename would silently clobber the first manifest, losing a
        # consistent cut). Single-process writer, like the log.
        with self._sid_lock:
            sid = files.max_id(self.path, "manifest-", _WHAT, ".json") + 1
            doc = {"id": sid, "note": note, "logs": pinned}
            files.publish_json(doc, self._manifest_path(sid))
        return sid

    def manifest(self, sid: int) -> dict:
        with open(self._manifest_path(sid)) as f:
            return json.load(f)

    def read(self, sid: int, name: str, log: OffsetLog) -> DataFrame:
        """The as-of view of one log at snapshot ``sid``: columns
        ``seq, value, nulled`` exactly as :meth:`OffsetLog.df`, bounded
        to the recorded cut."""
        pin = self.manifest(sid)["logs"][name]
        return log.df(as_of_seq=pin["seq"], as_of_patch=pin["patch_id"])

    def read_all(self, sid: int, logs: dict[str, OffsetLog]) -> dict[str, DataFrame]:
        return {name: self.read(sid, name, log) for name, log in logs.items()}

    def drop(self, sid: int) -> None:
        os.remove(self._manifest_path(sid))
