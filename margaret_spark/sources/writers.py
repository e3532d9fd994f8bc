"""Sinks and physical-layout writers.

At 100 TB the physical layout *is* the query plan: a table partitioned
by its filter key gets partition pruning for free; two tables bucketed
the same way join with zero shuffle; a log compacted into large
seq-sorted files keeps row-group stats selective. These writers encode
those layouts.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from margaret_spark.log import ROW_GROUP_ROWS, _file_bytes


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet: filters on ``partition_cols``
    become directory pruning (no file even opened)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: equal-bucketed tables co-locate join
    keys, so joins between them skip the shuffle entirely (Spark
    requires saveAsTable for bucket metadata)."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table_name)


def compact_small_files(
    log,
    small_file_bytes: int = 64 << 20,
    target_file_bytes: int = 256 << 20,
) -> int:
    """Size-tiered compaction: merge contiguous runs of small data
    files into larger seq-sorted files, leaving files already at tier
    size untouched.

    This is the steady-state policy for an append-heavy log: unlike
    :func:`compact_log` (a full rewrite), each pass costs O(bytes in
    small files), never O(log size), so at 100 TB a background
    compactor absorbs append amplification without ever rewriting cold
    data. Runs are merged driver-side with pyarrow — by definition a
    run fits in ``target_file_bytes``. Patches are untouched: the
    overlay joins by ``seq``, not by file. Returns the number of runs
    merged.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    with log._lock:
        patches, patch_id = log._patches, log._patch_id
        log._reload()  # plan from a fresh listing
        runs: list[list[tuple[int, int, str]]] = []
        cur: list[tuple[int, int, str]] = []
        cur_bytes = 0

        def flush():
            nonlocal cur, cur_bytes
            if len(cur) > 1:
                runs.append(cur)
            cur, cur_bytes = [], 0

        for lo, hi, path, b in log._live:
            if b >= small_file_bytes:
                flush()
                continue
            if cur and cur_bytes + b > target_file_bytes:
                flush()
            cur.append((lo, hi, path))
            cur_bytes += b
        flush()

        for run in runs:
            table = pa.concat_tables(
                pq.read_table(p, schema=log._arrow()) for _lo, _hi, p in run
            ).sort_by("seq")
            lo, hi = run[0][0], run[-1][1]
            final = os.path.join(log._data_dir, f"part-{lo:020d}-{hi:020d}.parquet")
            tmp = os.path.join(log._data_dir, f".part-{lo:020d}-{hi:020d}.parquet.tmp")
            pq.write_table(table, tmp, row_group_size=ROW_GROUP_ROWS)
            # PUBLISH FIRST, delete after: once the merged file is
            # renamed into place, the supersede rule in _data_files
            # makes the inputs invisible — a crash anywhere in the
            # deletion loop loses nothing (the janitor sweeps the dead
            # inputs on the next open). The old order (delete inputs,
            # then rename) had a window where the run's rows existed
            # only in a dot-tmp file no reader would see.
            os.rename(tmp, final)
            for _l, _h, p in run:
                if os.path.isdir(p):
                    shutil.rmtree(p)
                else:
                    os.remove(p)
        log._reload()
        if log._patch_id == patch_id:
            log._patches = patches  # patch/ is untouched: keep the map
        return len(runs)


def maybe_compact(
    log,
    max_small_files: int = 64,
    small_file_bytes: int = 64 << 20,
    target_file_bytes: int = 256 << 20,
) -> int:
    """Scheduling policy over :func:`compact_small_files`: compact only
    once enough small files have accumulated (the ticker-threshold
    analog of the reference's batched flushes,
    ``indexes/badger/index.go:29-31,88-92``). Cheap to call after every
    append batch: it reads the sizes in the handle's cached file list,
    with no listing and no stat. Returns runs merged (0 = below
    threshold)."""
    n_small = sum(1 for *_f, b in log._live if b < small_file_bytes)
    if n_small < max_small_files:
        return 0
    return compact_small_files(log, small_file_bytes, target_file_bytes)


def _aligned_groups(
    files: list[tuple[int, int, str]], target_files: int
) -> list[list[tuple[int, int, str]]]:
    """Split the (sorted, contiguous) old file list into at most
    ``target_files`` contiguous groups balanced by bytes. Output file
    ranges coincide with unions of WHOLE old files, so after a crash
    between publish and delete every old file is either strictly
    contained in one published file (supersede rule hides it) or was
    atomically rename-replaced — no straddling input can stay live and
    duplicate seqs, which ``repartitionByRange``'s arbitrary boundaries
    could not guarantee for ``target_files > 1``."""
    n = max(1, min(target_files, len(files)))
    sizes = [_file_bytes(p) for _lo, _hi, p in files]
    total = sum(sizes)
    groups: list[list[tuple[int, int, str]]] = []
    cur: list[tuple[int, int, str]] = []
    cur_b = 0
    budget = total / n
    for i, (f, b) in enumerate(zip(files, sizes)):
        cur.append(f)
        cur_b += b
        remaining_files = len(files) - i - 1
        remaining_groups = n - len(groups) - 1
        if (
            remaining_groups > 0
            and cur_b >= budget
            and remaining_files >= remaining_groups
        ):
            groups.append(cur)
            cur, cur_b = [], 0
    if cur:
        groups.append(cur)
    # a single-file group whose input is a DIRECTORY (append_df bulk
    # part) cannot be atomically rename-replaced by a same-name plain
    # file — merge it into a neighbor so its new range strictly grows
    i = 0
    while i < len(groups):
        g = groups[i]
        if len(g) == 1 and os.path.isdir(g[0][2]) and len(groups) > 1:
            if i + 1 < len(groups):
                groups[i + 1] = g + groups[i + 1]
            else:
                groups[i - 1] = groups[i - 1] + g
            groups.pop(i)
        else:
            i += 1
    return groups


def compact_log(log, target_files: int = 1) -> int:
    """Compact an OffsetLog's data directory into ``target_files``
    large seq-sorted files — the answer to small-append amplification
    (SURVEY §7). Replace-patches are folded into the data; null-patches
    are preserved (squashed to one latest-per-seq patch file) so
    ``ErrNulled`` semantics survive compaction.

    Keeps every invariant: dense seq, range-encoded file names,
    readers before/after see identical contents. Returns the new data
    file count.

    Crash safety for any ``target_files``: output ranges align to old
    file boundaries (:func:`_aligned_groups`), each output is published
    with one atomic rename, and inputs are deleted only afterwards —
    at every instant each seq is covered by exactly one live file
    (strict-containment supersede rule, or same-name atomic replace
    for a single-file group). Sole documented exception: a log whose
    entire data is ONE bulk directory swaps via two renames (a plain
    file cannot atomically replace a directory on POSIX); the window
    is two syscalls and the janitor completes it on next open.

    Folding patches renumbers ``patch_id``, so earlier
    ``SnapshotCatalog`` manifests over this log stop being readable
    (the vacuum-drops-time-travel trade; :func:`compact_small_files`
    has no such effect).
    """
    import pyarrow.parquet as pq

    with log._lock:
        # data with replace-overlay applied (null-overlay NOT applied:
        # the payload stays, the patch carries the redaction)
        nulled = None
        if log._has_patches():
            view = log.df()
            # replace folded in; nulled payloads zeroed (reference
            # zero-fills the frame, offset2/log.go:91-128) — the
            # squashed patch files below preserve the ErrNulled marker
            nulled = view.where(F.col("nulled")).select("seq")
            data = view.select("seq", "value")
        else:
            data = log._base_df().select("seq", "value")
        old_files = log._data_files()
        groups = _aligned_groups(old_files, target_files)
        staging = os.path.join(log.path, "_compact_staging")
        (
            data.repartitionByRange(max(target_files, 1), F.col("seq"))
            .sortWithinPartitions("seq")
            .write.mode("overwrite")
            .parquet(staging)
        )
        # Crash-safe ordering:
        # 1. squash the null markers under a FRESH shared patch id
        #    (latest-wins overlay: correct both before and after the
        #    old patches go). Written EXECUTOR-SIDE — a heavily
        #    redacted log must not materialize its nulled-seq set on
        #    the driver. All squashed rows share patch_id =
        #    squash_base (one row per seq, so latest-wins needs no
        #    intra-squash order), which also keeps the reopened
        #    _recover_patch_id (max filename id + 1) ABOVE every
        #    squashed row — the old per-row-id scheme handed out ids
        #    after reopen that could lose to its own squash rows.
        squash_base = log._patch_id
        n_null_parts = 0
        if nulled is not None:
            squash_staging = os.path.join(log.path, "_compact_staging_patch")
            (
                nulled.select(
                    F.lit(squash_base).cast("long").alias("patch_id"),
                    F.col("seq").cast("long").alias("seq"),
                    F.lit("null").alias("op"),
                    F.lit(None).cast(log.value_type).alias("value"),
                )
                .write.mode("overwrite")
                .parquet(squash_staging)
            )
            for part in sorted(
                glob.glob(os.path.join(squash_staging, "part-*.parquet"))
            ):
                if pq.read_metadata(part).num_rows == 0:
                    continue
                os.rename(
                    part,
                    os.path.join(
                        log._patch_dir,
                        f"patch-{squash_base + n_null_parts:020d}.parquet",
                    ),
                )
                n_null_parts += 1
            shutil.rmtree(squash_staging, ignore_errors=True)
        # 2. publish the rewritten data files, one atomic rename per
        #    group, ranges aligned to old file boundaries (see
        #    _aligned_groups) — the supersede rule hides every input
        #    the moment its group's output lands; re-applying the
        #    not-yet-deleted replace patches over already-folded data
        #    is idempotent;
        import pyarrow.dataset as pads

        sds = pads.dataset(staging, format="parquet")
        new_names = set()
        for grp in groups:
            glo, ghi = grp[0][0], grp[-1][1]
            table = sds.to_table(
                filter=(pads.field("seq") >= glo) & (pads.field("seq") <= ghi)
            ).sort_by("seq")
            name = f"part-{glo:020d}-{ghi:020d}.parquet"
            new_names.add(name)
            dst = os.path.join(log._data_dir, name)
            tmp = os.path.join(log._data_dir, f".{name}.tmp")
            pq.write_table(table, tmp, row_group_size=ROW_GROUP_ROWS)
            if os.path.isdir(dst):
                # whole-log-is-one-bulk-directory edge: POSIX cannot
                # rename a file over a directory; two-step swap (the
                # only non-single-rename window, documented above)
                dead = os.path.join(log._data_dir, f".{name}.dead")
                os.rename(dst, dead)
                os.rename(tmp, dst)
                shutil.rmtree(dead, ignore_errors=True)
            else:
                os.rename(tmp, dst)
        shutil.rmtree(staging, ignore_errors=True)
        # 3. delete the superseded data files (directory-aware:
        #    append_df publishes directories) and the pre-squash
        #    patches.
        for old in glob.glob(os.path.join(log._data_dir, "*.parquet")):
            if os.path.basename(old) in new_names:
                continue
            if os.path.isdir(old):
                shutil.rmtree(old)
            else:
                os.remove(old)
        for old in glob.glob(os.path.join(log._patch_dir, "*.parquet")):
            pid = int(os.path.basename(old)[len("patch-"):-len(".parquet")])
            if pid < squash_base:
                os.remove(old)
        # the renumbered patches and rewritten files: drop the cached
        # footers and patch map, rederive seq and the next patch id
        log._reload()
    return len(groups)


def compact_multilog(mlog) -> int:
    """Merge an OffsetMultiLog's per-insert entry files into one
    parquet file, dropping tombstone-dead rows — the multilog's answer
    to single-insert small-file amplification (bulk ``append_df``
    loads produce few files; interactive ``sublog.append`` produces
    one per insert).

    Crash-safe by the same publish-first argument as the log: the
    merged file (named to preserve the max entry id, which the
    open-time ``_entry_id`` recovery parses) is renamed into place
    BEFORE the inputs are deleted; during the window readers see
    duplicate rows, which every read path tolerates by construction
    (the pull paths build member SETS, ``df()`` ends in
    ``distinct()``). An empty merged file is still written so entry-id
    continuity survives compacting a fully-tombstoned multilog — new
    entry ids must stay above old tombstone horizons.

    Returns the number of input files merged (0 = nothing to do)."""
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    with mlog._lock:
        # inputs: per-insert flat files AND bulk append_df batch
        # DIRECTORIES (each published with one atomic rename) — the
        # dataset read below walks both, so the sweep must too or a
        # compacted multilog keeps every bulk batch as duplicate rows
        # forever
        names = sorted(
            n
            for n in os.listdir(mlog._entries_dir)
            if n.startswith("entry-")
            and (
                n.endswith(".parquet")
                or os.path.isdir(os.path.join(mlog._entries_dir, n))
            )
        )
        if len(names) <= 1:
            return 0
        max_eid = mlog._entry_id - 1
        horizons = mlog._tombstoned()
        tbl = (
            pads.dataset(mlog._entries_dir, format="parquet")
            .to_table()
            .sort_by(
                [
                    ("entry_id", "ascending"),
                    ("addr", "ascending"),
                    ("main_seq", "ascending"),
                ]
            )
        )
        if horizons and len(tbl):
            pdf = tbl.to_pandas()
            dead = pdf["addr"].map(horizons).fillna(-1) >= pdf["entry_id"]
            import pyarrow as pa

            tbl = pa.Table.from_pandas(
                pdf[~dead.to_numpy()], schema=tbl.schema, preserve_index=False
            )
        # 'm' marks a merged file; _max_id's "split('.')[0]" parse
        # recovers max_eid from it, keeping entry-id allocation monotone
        name = f"entry-{max_eid:020d}.m.parquet"
        tmp = os.path.join(mlog._entries_dir, "." + name + ".tmp")
        final = os.path.join(mlog._entries_dir, name)
        pq.write_table(tbl, tmp)
        os.rename(tmp, final)
        for n in names:
            if n != name:
                p = os.path.join(mlog._entries_dir, n)
                if os.path.isdir(p):
                    import shutil

                    shutil.rmtree(p)
                else:
                    os.remove(p)
        return len(names)
