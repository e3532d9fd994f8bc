"""The file layer under the core's stores: how an entry is published,
how a store recovers its ids at open, and what the crash janitor
removes.

Every on-disk store (``OffsetLog``, ``OffsetMultiLog``,
``OffsetSetterIndex``, the sink cursors, ``SnapshotCatalog``) keeps its
state as files named by id, written by one writer at a time, so that a
reader never sees a torn frame (margaret serializes its writes too,
``offset2/log.go:431``).

Publish. An entry is written in full under a dot-prefixed name
(``.<name>.tmp``) or a staging directory, then moved into place with
one ``os.rename``: a reader sees all of it or nothing. Readers never
look at dot-names (pyarrow datasets and Spark skip ``.`` and ``_``
prefixes, and so does :func:`published`).

Durability. Nothing is fsynced. A process crash loses nothing that was
published, because a finished rename lives in the kernel's page cache,
which outlives the process. A power loss or kernel crash may lose the
most recent publishes, or leave a published name whose bytes never
reached the disk.

Janitor. A crash leaves unpublished artifacts: dot-tmp files, staging
entries and the ``.dead`` backup of an interrupted swap. At open a
store first runs :func:`finish_swaps` (not age-gated: mid-swap, the
only copy of the data sits in dot-names), then :func:`sweep`, which
removes dot-artifacts and staging entries older than :data:`STALE_S`.
A younger one may be the in-flight write of a live writer in another
process, and opening a store must never break a live writer.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Any, Iterable

#: age in seconds past which the janitor treats an unpublished
#: artifact as a crash leftover rather than a live writer's work
STALE_S = 3600


def _dot(path: str, suffix: str) -> str:
    head, name = os.path.split(path)
    return os.path.join(head, f".{name}{suffix}")


def publish_table(table, path: str, **options: Any) -> None:
    """Write a pyarrow table to ``.<name>.tmp`` (``options`` go to
    ``pq.write_table``), then rename it onto ``path``.

    POSIX cannot rename a file over a directory, which is what
    ``compact_log`` does to a log whose only file is a bulk
    ``append_df`` directory. That case swaps in two renames,
    ``path → .<name>.dead`` then ``tmp → path``; :func:`finish_swaps`
    completes a swap that a crash cut between the two."""
    import pyarrow.parquet as pq

    tmp = _dot(path, ".tmp")
    pq.write_table(table, tmp, **options)
    if not os.path.isdir(path):
        os.rename(tmp, path)
        return
    dead = _dot(path, ".dead")
    os.rename(path, dead)
    os.rename(tmp, path)
    remove(dead)


def publish_json(doc: Any, path: str) -> None:
    """Write ``doc`` as JSON to ``.<name>.tmp``, then rename it onto
    ``path``."""
    tmp = _dot(path, ".tmp")
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.rename(tmp, path)


def publish_dir(staged: str, path: str) -> None:
    """Move an entry Spark wrote under a staging root (a directory, or
    one part file of one) into place with one rename, then drop the
    staging root if that left it empty."""
    os.rename(staged, path)
    try:
        os.rmdir(os.path.dirname(staged))
    except OSError:
        pass  # another entry is still staging there


def remove(path: str) -> None:
    """Delete a file or a directory tree. A path that is already gone
    is no error: two janitors may race to the same leftover."""
    try:
        if os.path.isdir(path):
            shutil.rmtree(path)
        else:
            os.remove(path)
    except FileNotFoundError:
        pass


def finish_swaps(d: str) -> None:
    """Complete the two-rename swaps of :func:`publish_table` that a
    crash interrupted in directory ``d``.

    The ``.<name>.dead`` backup proves the swap started, and hence
    that ``.<name>.tmp`` had been written in full before it. If
    ``<name>`` exists, only the backup's deletion was lost. Otherwise
    the tmp is promoted when it has a Parquet footer, and the backup
    is restored when it has none: the only copy of the data is never
    deleted. A lone tmp without a backup is a torn write and is left
    to :func:`sweep`.

    Not age-gated: until this runs, the swapped range's only copy
    sits in dot-names that no reader sees, so deferring it would
    serve an empty or holed store. The price is a two-syscall window
    in which an open racing a live swap promotes the tmp first and
    the writer's own rename fails; the data stays consistent, and
    opening a store while another handle compacts it is outside the
    single-writer contract anyway."""
    import pyarrow.parquet as pq

    for name in sorted(os.listdir(d)):
        if not (name.startswith(".") and name.endswith(".dead")):
            continue
        dead = os.path.join(d, name)
        path = os.path.join(d, name[1 : -len(".dead")])
        if not os.path.exists(path):
            tmp = _dot(path, ".tmp")
            try:
                pq.read_metadata(tmp)  # a footer: written in full
            except (OSError, ValueError):  # missing, or torn (ArrowInvalid)
                os.rename(dead, path)
                continue
            os.rename(tmp, path)
        remove(dead)


def sweep(dirs: Iterable[str], staging: Iterable[str] = ()) -> None:
    """Remove the dot-named artifacts in ``dirs`` and every entry of the
    ``staging`` roots (which need not exist) that are older than
    :data:`STALE_S`."""
    horizon = time.time() - STALE_S
    found = [os.path.join(d, n) for d in dirs for n in os.listdir(d) if n.startswith(".")]
    for root in staging:
        if os.path.isdir(root):
            found += [os.path.join(root, n) for n in os.listdir(root)]
    for p in found:
        try:
            if os.path.getmtime(p) < horizon:
                remove(p)
        except OSError:
            pass  # gone or not removable: invisible to readers either way


def is_id(s: str) -> bool:
    """Decimal ASCII digits only: ``'²'.isdigit()`` is true, yet
    ``int('²')`` fails."""
    return s.isascii() and s.isdigit()


def published(
    d: str, prefix: str, what: str, suffix: str = ".parquet"
) -> list[tuple[int, str]]:
    """The published entries of a store directory as sorted ``(id,
    name)`` pairs: files ``<prefix><id><suffix>`` or
    ``<prefix><id>.m<suffix>`` (``.m`` marks a ``compact_multilog``
    merge) and directories ``<prefix><id>`` (one bulk ``append_df``
    batch each). Dot-names are never published and are skipped, and so
    are names without the prefix and prefixed names that are neither a
    ``suffix`` file nor a directory. Any other name that claims the
    prefix fails with its path named (``what`` says where): guessing
    could replay an id and overwrite committed data."""
    out = []
    for name in os.listdir(d):
        if name.startswith(".") or not name.startswith(prefix):
            continue
        stem = name[len(prefix) :]
        if stem.endswith(suffix):
            stem = stem[: -len(suffix)].removesuffix(".m")
        elif not os.path.isdir(os.path.join(d, name)):
            continue
        if not is_id(stem):
            raise ValueError(
                f"foreign {what}: {os.path.join(d, name)} — a name that "
                f"starts with {prefix!r} must be {prefix}<decimal id>"
                f"{suffix}; move or delete it (id recovery refuses to guess)"
            )
        out.append((int(stem), name))
    return sorted(out)


def max_id(d: str, prefix: str, what: str, suffix: str = ".parquet") -> int:
    """The highest published id under ``d`` (see :func:`published`),
    or -1 when there is none."""
    found = published(d, prefix, what, suffix)
    return found[-1][0] if found else -1
