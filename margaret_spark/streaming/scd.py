"""Streaming SCD2 ingest: maintain a versioned (type-2) history table
from a log's append stream — each micro-batch of changes is merged
with :func:`~margaret_spark.functions.diff.scd2_merge`, so the
dimension table a pipeline reads always carries full validity-interval
history, updated exactly-once as changes arrive.

Crash safety / exactly-once: every batch writes the merged history to
its OWN versioned directory (``v<batch_id>``) and then registers it in
a manifest (published by one rename, :func:`files.publish_json`, like
every store of the core). A batch re-run after a crash is safe twice
over:

- the merge input is always the latest version STRICTLY OLDER than the
  current batch id (never the directory being written), so a re-run
  recomputes from the same input and overwrites the same output; and
- :func:`scd2_merge` itself is idempotent under re-application of an
  identical batch at the same version (already-closed rows compare
  content-equal and no-op).

Concurrency: the manifest is a shared read-modify-write between the
stream's publish and :func:`prune_history` — both serialize on a
per-directory ``flock`` (see :func:`_manifest_lock`), so a prune run
WHILE the stream is ingesting loses no published version and the
stream never resurrects a pruned one (margaret's mutex-serialized
writer never loses an acknowledged append — ``offset2/log.go:431``;
this is the same guarantee for the history manifest). Readers stay
lock-free: publish is an atomic rename.

Scale shape: per batch, one open-set full-outer hash join (the merge)
plus a parquet rewrite of the history. History rewrite cost grows with
table size — for a 100 TB dimension, partition ``history_dir`` rows by
a stable key hash upstream or compact closed history periodically; the
merge join itself only carries (key, content-hash, payload) for the
OPEN set and the batch.
"""

from __future__ import annotations

import contextlib
import json
import os
from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from margaret_spark import files
from margaret_spark.functions.diff import scd2_merge
from margaret_spark.log import OffsetLog

_MANIFEST = "_versions.json"


@contextlib.contextmanager
def _manifest_lock(history_dir: str) -> Iterator[None]:
    """Exclusive lock over the manifest's read-modify-write — the
    stream's publish and :func:`prune_history` both update the SAME
    file, and an unserialized read→republish in either loses the
    other's entries (last-writer-wins). ``flock`` serializes across
    threads AND processes on the posix paths this layer targets (the
    manifest I/O here is ``os``-level local-fs by design, like the
    log writers); the lock file sits beside the manifest so every
    maintainer of one history dir contends on one inode. Lock-free
    READERS stay safe without it: publish is an atomic rename, so
    :func:`read_history` sees the old or the new manifest, never a
    torn one."""
    import fcntl

    os.makedirs(history_dir, exist_ok=True)
    p = os.path.join(history_dir, _MANIFEST + ".lock")
    with open(p, "a") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(f, fcntl.LOCK_UN)


def _read_manifest(history_dir: str) -> dict[int, str]:
    p = os.path.join(history_dir, _MANIFEST)
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return {int(k): v for k, v in json.load(f).items()}


def prune_history(history_dir: str, keep_last: int = 2) -> int:
    """Delete all but the newest ``keep_last`` published versions —
    the janitor for a long-running ingest (every batch writes a full
    history copy; without pruning disk grows linearly in batches).
    Crash-safe order: the manifest is republished WITHOUT the pruned
    entries first, then the directories are removed — a crash between
    the two steps leaves unreferenced dirs that the next prune sweeps,
    never a referenced-but-deleted version. Returns the number of
    versions removed.

    Safe to run CONCURRENTLY with a live :func:`stream_scd2`: the
    read→republish holds the manifest lock, so a version the stream
    publishes mid-prune is either in the read (and kept — it is the
    newest) or published after (prune cannot overwrite it); the
    stream's own publish re-reads under the same lock, so it never
    resurrects a pruned entry. Directory removal happens after the
    lock is released — every doomed dir is already unreferenced, and
    the stream's merge input (the newest, or newest-but-one on a
    crash replay) is never doomed with ``keep_last >= 2``.

    ``keep_last`` must be >= 2: :func:`stream_scd2`'s crash replay of
    a micro-batch rebuilds from the newest version STRICTLY OLDER than
    the replayed batch — if only the replayed batch's own version
    survived pruning, that set is empty and the batch would silently
    re-merge onto ``initial``, discarding all accumulated history.
    Keeping the newest-but-one version closes that window for the
    single-batch replay Structured Streaming can actually issue."""
    import shutil

    if keep_last < 2:
        raise ValueError(
            "keep_last must be >= 2 (crash replay needs the "
            f"newest-but-one version): {keep_last}"
        )
    with _manifest_lock(history_dir):
        versions = _read_manifest(history_dir)
        doomed = sorted(versions)[:-keep_last]
        if not doomed:
            return 0
        kept = {b: v for b, v in versions.items() if b not in set(doomed)}
        files.publish_json(kept, os.path.join(history_dir, _MANIFEST))
    for b in doomed:
        shutil.rmtree(versions[b], ignore_errors=True)
    return len(doomed)


def read_history(spark, history_dir: str) -> DataFrame | None:
    """The latest published history, or None before the first batch."""
    versions = _read_manifest(history_dir)
    if not versions:
        return None
    return spark.read.parquet(versions[max(versions)])


def stream_scd2(
    log: OffsetLog,
    prepare: Callable[[DataFrame], DataFrame],
    keys: str | Sequence[str],
    initial: DataFrame,
    history_dir: str,
    checkpoint_dir: str,
    version_of: Callable[[int], int] = lambda batch_id: batch_id + 1,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Drain a log's append stream into a versioned SCD2 history.

    ``prepare`` maps each micro-batch (log schema: ``seq, value, …``)
    to a change frame of exactly (keys..., attrs...) PLUS the ``seq``
    column — within a batch only each key's LATEST change (max seq)
    applies, mirroring arrival-order semantics. ``initial`` is the
    starting history (keys..., attrs..., valid_from, valid_to) used
    for the first batch. ``version_of`` maps the deterministic
    micro-batch id to the version stamped on closes/inserts.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    spark = log.spark
    os.makedirs(history_dir, exist_ok=True)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        changes = prepare(batch_df)
        if "seq" not in changes.columns:
            raise ValueError("prepare() must retain the seq column")
        # latest change per key within the batch (max_by on seq)
        attrs = [c for c in changes.columns if c not in set(keys) | {"seq"}]
        latest = changes.groupBy(*keys).agg(
            *[F.max_by(a, "seq").alias(a) for a in attrs]
        )
        with _manifest_lock(history_dir):
            versions = _read_manifest(history_dir)
        older = [b for b in versions if b < batch_id]
        current = (
            spark.read.parquet(versions[max(older)]) if older else initial
        )
        merged = scd2_merge(current, latest, keys, version_of(batch_id))
        vdir = os.path.join(history_dir, f"v{batch_id:020d}")
        merged.write.mode("overwrite").parquet(vdir)
        # publish under the manifest lock, against a FRESH read: a
        # concurrent prune_history may have republished while this
        # batch was merging — re-adding the stale `versions` dict here
        # would resurrect pruned (deleted) entries, and prune writing
        # after us would drop this batch's version. Both directions
        # are closed by re-read + add-own-entry inside the lock.
        with _manifest_lock(history_dir):
            versions = _read_manifest(history_dir)
            versions[batch_id] = vdir
            files.publish_json(versions, os.path.join(history_dir, _MANIFEST))

    w = (
        log.stream_df(max_files_per_trigger=max_files_per_trigger)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        q = w.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return w.trigger(processingTime="500 milliseconds").start()
