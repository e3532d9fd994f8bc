"""The sequence-addressed log: the engine's fundamental abstraction.

Reference: ``margaret.Log`` (``log.go:14-29``) — Seq / Get / Query /
Append plus the ``Alterer`` extension Null / Replace (``log.go:46-52``).

Two backends, mirroring the reference's two:

- :class:`MemLog` — in-process list (reference ``mem/log.go``); used
  for fast contract tests and as the semantics oracle.
- :class:`OffsetLog` — Parquet-directory log (reference ``offset2/``).
  The write path is a driver-side single-writer appender (the
  reference serializes appends under a mutex too,
  ``offset2/log.go:431``) that emits seq-range-named Parquet files;
  the read path is a full Spark DataFrame, so every query benefits
  from Catalyst filter pushdown / column pruning / TakeOrdered.

Physical layout of an OffsetLog (replacing the reference's
``data``/``ofst``/``jrnl`` triple, ``offset2/log.go:5-27``)::

    <path>/_meta.json                   # value type + codec name
    <path>/data/part-<first>-<last>.parquet   # columns: seq, value
    <path>/patch/patch-<id>.parquet     # columns: patch_id, seq, op, value

The seq range embedded in each data file name plays the role of the
reference's ``ofst`` positional index. Each handle keeps that index in
memory: the sorted live file list (with file sizes, for the compaction
policy) and, per file it has read, the Parquet footer with the first
seq of each row group. A point ``get`` bisects to the file, bisects to
the row group and decodes that one group. Every writer bounds row
groups (:data:`ROW_GROUP_ROWS` rows; ``append_df`` by
:data:`APPEND_DF_BLOCK_BYTES`), so a ``get`` decodes O(1) rows whatever
the size of the log. Spark-side queries get the same pruning from the
row-group min/max statistics on ``seq``. The highest ``last`` across
file names plays the role of the ``jrnl`` journal.

The cached index has one owner (the handle) and one invalidation rule:
:meth:`OffsetLog._reload` relists ``data/`` and drops every cached
footer and patch. The handle's own appends add their file to the list;
compaction reloads. The cache holds footers, not open files: ``get``
opens the one file it reads and checks it is the file the footer came
from (inode, size, mtime). A handle reloads when asked for a seq past
its cached end, when a patch newer than its own exists, and once when
the file it opens has vanished or was rewritten under the same name
(another handle appended, patched or compacted), so it never reads
through a stale footer.

Null/Replace are implemented as an *overlay*: patches are appended to
``patch/`` and merged at read with latest-patch-wins semantics
(reference mutates frames in place, ``offset2/log.go:91-160``; an
overlay is the append-friendly equivalent and needs no size limit on
replacements).
"""

from __future__ import annotations

import json
import os
import threading
import time
from abc import ABC, abstractmethod
from typing import Any, Iterable, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from margaret_spark.codec import Codec, CborCodec, JsonCodec, MsgpackCodec
from margaret_spark.errors import (
    SEQ_EMPTY,
    ErrNulled,
    OutOfBounds,
    QuerySpecError,
)
from margaret_spark.observable import Observable
from margaret_spark.qry import QueryPlan, QuerySpec, apply_plan, apply_plan_rows, build_plan

_CODECS = {"json": JsonCodec, "msgpack": MsgpackCodec, "cbor": CborCodec}


class _Nulled:
    """In-memory tombstone marker."""


_NULLED = _Nulled()


class Log(ABC):
    """Common API: mirrors ``log.go:14-29`` + ``log.go:46-52``."""

    spark: SparkSession
    value_type: T.DataType

    # -- Seqer -------------------------------------------------------------
    @abstractmethod
    def seq(self) -> int:
        """Highest assigned sequence; SEQ_EMPTY (-1) when empty."""

    # -- reads -------------------------------------------------------------
    @abstractmethod
    def get(self, seq: int) -> Any:
        """Point lookup. Raises OutOfBounds past the end, ErrNulled for
        redacted entries."""

    @abstractmethod
    def df(self) -> DataFrame:
        """The log as a DataFrame: columns ``seq``, ``value``, ``nulled``
        (patch overlay already applied)."""

    def query_df(self, *specs: QuerySpec, ordered: bool = False) -> DataFrame:
        """Spark-native query: the algebra compiled onto :meth:`df`."""
        plan = build_plan(specs)
        if plan.live:
            raise QuerySpecError("query_df is batch-only; use query() for live")
        return apply_plan(self.df(), plan, ordered=ordered)

    def query(self, *specs: QuerySpec) -> Iterator[Any]:
        """Pull-style iteration (reference ``Query`` + ``Next``,
        ``offset2/qry.go:101-189``). Yields bare values, ``(seq, value)``
        tuples under SeqWrap, and ErrNulled() *as a value* for redacted
        entries. Live queries block awaiting appends."""
        plan = build_plan(specs)
        if plan.live:
            return self._live_iter(plan)
        return self._batch_iter(plan)

    @abstractmethod
    def _batch_iter(self, plan: QueryPlan) -> Iterator[Any]:
        ...

    def _live_iter(self, plan: QueryPlan) -> Iterator[Any]:
        """Catch-up-then-follow (reference ``offset2/qry.go:126-158``)."""
        cursor = (plan.gt if plan.gt is not None else
                  (plan.gte - 1 if plan.gte is not None else -1))
        remaining = plan.limit
        while True:
            if remaining is not None and remaining <= 0:
                return
            hi = self.seq()
            if hi > cursor:
                sub = QueryPlan(gt=cursor, lt=plan.lt, lte=plan.lte,
                                seqwrap=True)
                emitted_any = False
                for s, v in self._batch_iter(sub):
                    emitted_any = True
                    cursor = max(cursor, s)
                    if remaining is not None:
                        if remaining <= 0:
                            return
                        remaining -= 1
                    yield (s, v) if plan.seqwrap else v
                if not emitted_any:
                    cursor = hi
                # upper bound exhausted → terminate like a bounded query
                if plan.lt is not None and cursor >= plan.lt - 1:
                    return
                if plan.lte is not None and cursor >= plan.lte:
                    return
            else:
                self._wait_for_append(cursor)

    def _wait_for_append(self, after_seq: int) -> None:
        """Block until the log grows past ``after_seq``. Default: poll.
        MemLog overrides with a condition variable; streaming tails live
        in margaret_spark.streaming."""
        time.sleep(0.05)

    # -- writes ------------------------------------------------------------
    @abstractmethod
    def append(self, value: Any) -> int:
        """Append one value; returns its assigned seq (dense, gap-free)."""

    def append_many(self, values: Iterable[Any]) -> int:
        last = self.seq()
        for v in values:
            last = self.append(v)
        return last

    # -- Alterer -----------------------------------------------------------
    @abstractmethod
    def null(self, seq: int) -> None:
        """Redact the entry at ``seq`` (reference ``offset2/log.go:91-128``)."""

    @abstractmethod
    def replace(self, seq: int, value: Any) -> None:
        """Overwrite the entry at ``seq`` (reference ``offset2/log.go:130-160``)."""

    # -- observability -----------------------------------------------------
    def changes(self) -> Observable:
        """Observable of the current seq, fired on every append
        (reference ``log.go:20``, ``offset2/log.go:352-354``)."""
        return self._changes

    def check_consistency(self) -> None:
        """Reference fsck (``offset2/log.go:217-344``): the invariants
        expressed as aggregations — dense, zero-based, duplicate-free."""
        row = (
            self.df()
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("seq").alias("nd"),
                F.min("seq").alias("mn"),
                F.max("seq").alias("mx"),
            )
            .collect()[0]
        )
        if row["n"] == 0:
            if self.seq() != SEQ_EMPTY:
                raise AssertionError(f"empty log but seq()={self.seq()}")
            return
        if row["nd"] != row["n"]:
            raise AssertionError("duplicate sequence numbers")
        if row["mn"] != 0:
            raise AssertionError(f"log does not start at 0 (min={row['mn']})")
        if row["mx"] != row["n"] - 1:
            raise AssertionError(f"gaps: max={row['mx']} count={row['n']}")
        if row["mx"] != self.seq():
            raise AssertionError(f"journal mismatch: files say {self.seq()}, data says {row['mx']}")


# ---------------------------------------------------------------------------
# In-memory backend (reference mem/log.go)
# ---------------------------------------------------------------------------


class MemLog(Log):
    """In-memory log with identical semantics to OffsetLog; the
    reference keeps one too for tests (``mem/log.go:18-25``)."""

    def __init__(self, spark: SparkSession, value_type: T.DataType | None = None):
        self.spark = spark
        self.value_type = value_type or T.LongType()
        self._entries: list[Any] = []
        self._lock = threading.Lock()
        self._cond = threading.Condition(self._lock)
        self._changes = Observable()

    def seq(self) -> int:
        with self._lock:
            return len(self._entries) - 1

    def append(self, value: Any) -> int:
        with self._cond:
            self._entries.append(value)
            s = len(self._entries) - 1
            self._cond.notify_all()
        self._changes.set(s)
        return s

    def get(self, seq: int) -> Any:
        with self._lock:
            if seq < 0 or seq >= len(self._entries):
                raise OutOfBounds(seq)
            v = self._entries[seq]
        if v is _NULLED:
            raise ErrNulled()
        return v

    def null(self, seq: int) -> None:
        with self._lock:
            if seq < 0 or seq >= len(self._entries):
                raise OutOfBounds(seq)
            self._entries[seq] = _NULLED

    def replace(self, seq: int, value: Any) -> None:
        with self._lock:
            if seq < 0 or seq >= len(self._entries):
                raise OutOfBounds(seq)
            self._entries[seq] = value

    def df(self) -> DataFrame:
        with self._lock:
            snap = list(self._entries)
        schema = T.StructType(
            [
                T.StructField("seq", T.LongType(), False),
                T.StructField("value", self.value_type, True),
                T.StructField("nulled", T.BooleanType(), False),
            ]
        )
        rows = [
            (i, None if v is _NULLED else v, v is _NULLED) for i, v in enumerate(snap)
        ]
        return self.spark.createDataFrame(rows, schema)

    def _batch_iter(self, plan: QueryPlan) -> Iterator[Any]:
        with self._lock:
            snap = list(enumerate(self._entries))
        for s, v in apply_plan_rows(snap, plan):
            out_v = ErrNulled() if v is _NULLED else v
            yield (s, out_v) if plan.seqwrap else out_v

    def _wait_for_append(self, after_seq: int) -> None:
        with self._cond:
            self._cond.wait_for(lambda: len(self._entries) - 1 > after_seq, timeout=0.5)


# ---------------------------------------------------------------------------
# Parquet-backed backend (reference offset2/)
# ---------------------------------------------------------------------------


def _spark_to_arrow_schema(value_type: T.DataType):
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema(
        [
            pa.field("seq", pa.int64(), nullable=False),
            pa.field("value", to_arrow_type(value_type), nullable=True),
        ]
    )


#: rows per row group in every file the driver writes: a point ``get``
#: decodes one group, and at ~1k rows the footers cost ~2 % more bytes
ROW_GROUP_ROWS = 1024
#: ``append_df``'s Spark writer can bound row groups only in bytes
APPEND_DF_BLOCK_BYTES = 256 << 10


def _supersede(files: list[tuple[int, int, str]]) -> list[tuple[int, int, str]]:
    """The live files among ``(first, last, path)`` entries, sorted by
    ``first``. A file whose seq range lies inside a LARGER file's range
    is a compaction input whose merged replacement has been published:
    it is dropped. This is what makes compaction crash-safe: the merged
    file is renamed into place FIRST and the inputs deleted after; a
    crash in between leaves dead inputs that readers skip and the
    janitor removes on the next open.

    One sweep in ``(first, -last)`` order: every earlier file starts at
    or before this one, and a file starting at the same seq is longer,
    so the file is covered exactly when the running max of ``last``
    already reaches its ``last`` (names are unique, so ranges are)."""
    live = []
    reach = -1
    for f in sorted(files, key=lambda f: (f[0], -f[1])):
        if reach < f[1]:
            live.append(f)
            reach = f[1]
    return live


def _file_bytes(path: str) -> int:
    """Size of a data file, or of all files under a bulk directory."""
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dns, fns in os.walk(path)
            for f in fns
        )
    return os.path.getsize(path)


def _identity(fd: int) -> tuple[int, int, int]:
    """What tells a file from one later written under its name: a
    compaction's same-name rewrite is a new inode, size and mtime."""
    st = os.fstat(fd)
    return st.st_ino, st.st_size, st.st_mtime_ns


class _Rewritten(Exception):
    """A cached footer's file was replaced under the same name."""


def _row_groups(path: str) -> tuple[list[int], list[tuple[str, Any, Any, int]]]:
    """The positional index of one live data file: the first seq of
    each row group, ascending, and the matching ``(part path, identity,
    footer, row group)``. A bulk ``append_df`` directory contributes the
    row groups of all its part files, placed by their ``seq`` min
    statistics. Only footers are kept; no file stays open."""
    import glob

    import pyarrow.parquet as pq

    parts = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    groups = []
    for part in parts:
        with open(part, "rb") as fh:
            ident = _identity(fh.fileno())
            md = pq.read_metadata(fh)
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if rg.num_rows:  # seq is every writer's first column
                groups.append((rg.column(0).statistics.min, (part, ident, md, i)))
    groups.sort(key=lambda g: g[0])
    return [g[0] for g in groups], [g[1] for g in groups]


class OffsetLog(Log):
    """Parquet-directory log (reference ``offset2/log.go``).

    Appends are single-writer (driver): each :meth:`append` /
    :meth:`append_many` writes one seq-range-named Parquet file via
    pyarrow — no Spark job on the write path. Bulk ingestion from an
    existing DataFrame goes through :meth:`append_df`, which assigns
    dense seqs distributively (see ``functions/seqassign.py``) and
    writes through Spark.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        value_type: T.DataType | None = None,
        codec: str | Codec | None = None,
    ):
        self.spark = spark
        self.path = path
        self._data_dir = os.path.join(path, "data")
        self._patch_dir = os.path.join(path, "patch")
        self._meta_path = os.path.join(path, "_meta.json")
        self._lock = threading.Lock()
        self._changes = Observable()

        if isinstance(codec, str):
            codec = _CODECS[codec]()
        self.codec: Optional[Codec] = codec

        if os.path.exists(self._meta_path):
            with open(self._meta_path) as f:
                meta = json.load(f)
            self.value_type = T._parse_datatype_json_string(meta["value_type"])
            if codec is None and meta.get("codec"):
                self.codec = _CODECS[meta["codec"]]()
        else:
            if self.codec is not None:
                self.value_type = self.codec.storage_type
            else:
                self.value_type = value_type or T.LongType()
            os.makedirs(self._data_dir, exist_ok=True)
            os.makedirs(self._patch_dir, exist_ok=True)
            codec_name = None
            if self.codec is not None:
                codec_name = next(
                    k for k, v in _CODECS.items() if isinstance(self.codec, v)
                )
            with open(self._meta_path, "w") as f:
                json.dump(
                    {"value_type": self.value_type.json(), "codec": codec_name}, f
                )
        self._arrow_schema = None
        self._cleanup_superseded()
        self._reload()

    # -- file bookkeeping (the jrnl/ofst analog) ---------------------------

    def _data_files(self) -> list[tuple[int, int, str]]:
        """List ``data/``: the live ``(first, last, path)`` files,
        sorted (see :func:`_supersede`)."""
        out = []
        for name in os.listdir(self._data_dir):
            if not name.endswith(".parquet"):
                continue
            stem = name[: -len(".parquet")]
            parts = stem.split("-")
            if (
                len(parts) != 3
                or parts[0] != "part"
                or not parts[1].isdigit()
                or not parts[2].isdigit()
            ):
                # LOUD with the path named: a foreign *.parquet here
                # would otherwise crash with a bare int() error — or
                # worse, parse as a bogus seq range and corrupt
                # the recovered seq / the point-lookup index
                raise ValueError(
                    f"foreign entry in log data dir: {self._data_dir}/{name}"
                    " — the name must be part-<first>-<last>.parquet; "
                    "move or delete it (the seq index refuses to guess)"
                )
            out.append((int(parts[1]), int(parts[2]), os.path.join(self._data_dir, name)))
        return _supersede(out)

    def _cleanup_superseded(self) -> None:
        """Remove compaction inputs left behind by a crash between the
        merged file's publish and the input deletion (see the
        supersede rule in :meth:`_data_files`), plus stale staging
        areas and dot-tmp files a crashed bulk append / compaction
        left behind — none of them are visible to readers, but they
        accumulate disk forever otherwise."""
        import shutil
        import time

        self._complete_interrupted_swaps()
        live = {p for _lo, _hi, p in self._data_files()}
        horizon = time.time() - 3600
        for name in os.listdir(self._data_dir):
            p = os.path.join(self._data_dir, name)
            if not name.endswith(".parquet"):
                if name.startswith("."):
                    # orphaned .tmp/.dead artifacts — age-gated like
                    # the _staging sweep below: a fresh dot-tmp may be
                    # another process's in-flight write (single-writer
                    # is the CONTRACT, but a reader open must never
                    # sabotage a live writer)
                    try:
                        if os.path.getmtime(p) >= horizon:
                            continue
                    except OSError:
                        continue
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
                    else:
                        os.remove(p)
                continue
            if p in live:
                continue
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
        # staging areas: only sweep entries old enough that no live
        # writer can still be filling them (another handle may be
        # mid-append_df when this one opens — single-writer is the
        # CONTRACT, but a reader open must never sabotage a writer)
        import time

        horizon = time.time() - 3600
        for stale in ("_staging", "_compact_staging", "_compact_staging_patch"):
            root = os.path.join(self.path, stale)
            if not os.path.isdir(root):
                continue
            for name in os.listdir(root):
                p = os.path.join(root, name)
                try:
                    if os.path.getmtime(p) < horizon:
                        if os.path.isdir(p):
                            shutil.rmtree(p, ignore_errors=True)
                        else:
                            os.remove(p)
                except OSError:
                    pass

    def _complete_interrupted_swaps(self) -> None:
        """Finish a directory swap a crashed compaction started.

        ``compact_log``'s whole-log-is-one-bulk-directory edge swaps
        via two renames (``dst → .dst.dead`` then ``.dst.tmp → dst``;
        POSIX cannot rename a file over a directory). A crash between
        them leaves the log's ONLY contents in dot-named files that
        the artifact sweep would otherwise destroy — the janitor must
        COMPLETE the swap before sweeping, never the reverse. The
        ``.dead`` backup is the proof the swap started (and hence that
        the tmp was fully written before the first rename); a lone
        dot-tmp without a backup is a torn in-flight write and stays
        for the age-gated sweep.

        This intervention is deliberately NOT age-gated, unlike the
        artifact sweeps: in the interrupted state the affected range's
        ONLY copy lives in dot-named files invisible to
        :meth:`_data_files`, so a reader that deferred completion
        would see an empty/holed log — wrong answers, not just stale
        disk. The cost is a two-syscall window during a LIVE
        compaction's swap where a concurrent open could promote the
        tmp first and make the writer's own ``rename(tmp, dst)`` raise
        ``FileNotFoundError`` — data stays consistent, only the writer
        process fails. That window is accepted under the single-writer
        contract (opening a log while another handle is compacting it
        is already outside the contract; read correctness for genuine
        crash recovery wins over a contract-violating writer's
        convenience)."""
        import shutil

        import pyarrow.parquet as pq

        for name in sorted(os.listdir(self._data_dir)):
            if not (name.startswith(".") and name.endswith(".dead")):
                continue
            base = name[1:-len(".dead")]
            dst = os.path.join(self._data_dir, base)
            tmp = os.path.join(self._data_dir, "." + base + ".tmp")
            dead = os.path.join(self._data_dir, name)
            if os.path.exists(dst):
                # swap completed; only the backup's deletion was lost
                if os.path.isdir(dead):
                    shutil.rmtree(dead, ignore_errors=True)
                else:
                    os.remove(dead)
                continue
            promoted = False
            if os.path.isfile(tmp):
                try:
                    pq.read_metadata(tmp)  # footer present = complete file
                    os.rename(tmp, dst)
                    promoted = True
                except Exception:
                    promoted = False
            if promoted:
                if os.path.isdir(dead):
                    shutil.rmtree(dead, ignore_errors=True)
                else:
                    os.remove(dead)
            else:
                # no usable tmp: restore the backup — never delete the
                # only copy of the data
                os.rename(dead, dst)

    def _reload(self) -> None:
        """Rebuild the handle's index from disk: the live file list with
        sizes, ``seq`` and the next patch id. Every cached footer and
        the patch map are dropped; this is the cache's only
        invalidation (``compact_small_files``, which leaves ``patch/``
        alone, puts the map back). Callers hold ``_lock`` (or own the handle, in
        ``__init__``)."""
        self._live = [(lo, hi, p, _file_bytes(p)) for lo, hi, p in self._data_files()]
        self._firsts = [f[0] for f in self._live]
        self._groups = {}  # path -> _row_groups(path), filled by get
        self._patches = None  # seq -> (op, value), filled by get
        self._seq = self._live[-1][1] if self._live else SEQ_EMPTY
        self._patch_id = self._recover_patch_id()

    def _add_live(self, first: int, last: int, path: str) -> None:
        """Record a file this handle just published past the end."""
        self._live.append((first, last, path, _file_bytes(path)))
        self._firsts.append(first)
        self._seq = last

    def _recover_patch_id(self) -> int:
        ids = []
        if os.path.isdir(self._patch_dir):
            for n in os.listdir(self._patch_dir):
                if not n.endswith(".parquet"):
                    continue
                s = n[len("patch-") : -len(".parquet")]
                if not (n.startswith("patch-") and s.isdigit()):
                    raise ValueError(
                        f"foreign entry in log patch dir: "
                        f"{self._patch_dir}/{n} — the name must be "
                        "patch-<decimal id>.parquet; move or delete it "
                        "(patch-id recovery refuses to guess)"
                    )
                ids.append(int(s))
        return max(ids) + 1 if ids else 0

    def _has_patches(self) -> bool:
        return self._patch_id > 0

    def _patch_file(self, pid: int) -> str:
        return os.path.join(self._patch_dir, f"patch-{pid:020d}.parquet")

    # -- write path --------------------------------------------------------

    def _arrow(self):
        if self._arrow_schema is None:
            self._arrow_schema = _spark_to_arrow_schema(self.value_type)
        return self._arrow_schema

    def _write_rows(self, first: int, values: list[Any]) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        stored = [self.codec.marshal(v) if self.codec else v for v in values]
        table = pa.Table.from_pydict(
            {"seq": list(range(first, first + len(values))), "value": stored},
            schema=self._arrow(),
        )
        last = first + len(values) - 1
        final = os.path.join(self._data_dir, f"part-{first:020d}-{last:020d}.parquet")
        tmp = os.path.join(self._data_dir, f".part-{first:020d}-{last:020d}.parquet.tmp")
        pq.write_table(table, tmp, row_group_size=ROW_GROUP_ROWS)
        os.rename(tmp, final)  # atomic publish: readers never see torn files
        self._add_live(first, last, final)

    def append(self, value: Any) -> int:
        with self._lock:
            s = self._seq + 1
            self._write_rows(s, [value])
        self._changes.set(s)
        return s

    def append_many(self, values: Iterable[Any]) -> int:
        values = list(values)
        if not values:
            return self.seq()
        with self._lock:
            first = self._seq + 1
            self._write_rows(first, values)
            s = self._seq
        self._changes.set(s)
        return s

    def append_df(
        self, df: DataFrame, value_col: str = "value", order_by: str | None = None
    ) -> int:
        """Bulk ingestion: assign dense seqs distributively and write
        Parquet through Spark. The scalable path for large loads — the
        corpus never transits the driver.

        Default seq order is partition-major arrival order (a log's
        semantic). Pass ``order_by`` to ingest in a deterministic
        GLOBAL order instead: rows are range-partitioned and sorted on
        that column, so seqs follow it exactly (partition-major order
        of a range partitioning IS global order) — still one range
        shuffle, no single-partition funnel.

        Requires a typed (codec-less) log: the distributed write
        stores the column as-is; a codec log's entries must be
        marshaled per value on the driver paths (``append_many``)."""
        from margaret_spark.functions.seqassign import with_dense_seq

        if self.codec is not None:
            raise ValueError(
                "append_df writes the value column raw; this log has a "
                "codec — marshal per value via append/append_many instead"
            )
        with self._lock:
            first = self._seq + 1
            if order_by is not None:
                n = max(df.sparkSession.sparkContext.defaultParallelism, 1)
                df = df.repartitionByRange(n, F.col(order_by)).sortWithinPartitions(
                    order_by
                )
            staged = with_dense_seq(
                df.select(F.col(value_col).cast(self.value_type).alias("value")),
                start=first,
            ).select("seq", "value")
            n = staged.count()
            if n == 0:
                return self._seq
            last = first + n - 1
            name = f"part-{first:020d}-{last:020d}.parquet"
            # stage + rename: the seq-range-named directory must appear
            # atomically (readers and crash recovery trust the name —
            # a half-committed Spark write would otherwise advance
            # the recovered seq past a hole)
            staging = os.path.join(self.path, "_staging", name)
            staged.write.mode("overwrite").option(
                "parquet.block.size", APPEND_DF_BLOCK_BYTES
            ).parquet(staging)
            final = os.path.join(self._data_dir, name)
            os.rename(staging, final)
            self._add_live(first, last, final)
        self._changes.set(self._seq)
        return self._seq

    def _write_patch(self, seq: int, op: str, value: Any | None) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        cur = self._seq
        if seq < 0 or seq > cur:
            raise OutOfBounds(seq)
        stored = None
        if value is not None:
            stored = self.codec.marshal(value) if self.codec else value
        base = self._arrow()
        schema = pa.schema(
            [
                pa.field("patch_id", pa.int64(), nullable=False),
                pa.field("seq", pa.int64(), nullable=False),
                pa.field("op", pa.string(), nullable=False),
                pa.field("value", base.field("value").type, nullable=True),
            ]
        )
        pid = self._patch_id
        table = pa.Table.from_pydict(
            {"patch_id": [pid], "seq": [seq], "op": [op], "value": [stored]},
            schema=schema,
        )
        final = self._patch_file(pid)
        tmp = os.path.join(self._patch_dir, f".patch-{pid:020d}.parquet.tmp")
        pq.write_table(table, tmp)
        os.rename(tmp, final)
        self._patch_id = pid + 1
        if self._patches is not None:
            self._patches[seq] = (op, stored)

    def null(self, seq: int) -> None:
        with self._lock:
            self._write_patch(seq, "null", None)

    def replace(self, seq: int, value: Any) -> None:
        if value is None:
            # a null 'replace' patch would later hit codec.unmarshal(None)
            # on the read path; redaction has its own operation
            raise ValueError("replace value must not be None — use null(seq)")
        with self._lock:
            self._write_patch(seq, "replace", value)

    # -- read path ---------------------------------------------------------

    def seq(self) -> int:
        return self._seq

    def _base_df(self) -> DataFrame:
        schema = T.StructType(
            [
                T.StructField("seq", T.LongType(), False),
                T.StructField("value", self.value_type, True),
            ]
        )
        # Read the EXPLICIT live file list (the supersede rule filters
        # dead compaction inputs a crash may have left), not the whole
        # directory. recursiveFileLookup: append_df publishes a
        # DIRECTORY of part files per bulk load; without it, mixing
        # single appends (depth-1 files) with bulk loads (depth-2
        # leaves) makes Spark's partition discovery reject the log
        # ("conflicting directory structures").
        files = [p for _lo, _hi, p in self._data_files()]
        if not files:
            return self.spark.createDataFrame([], schema)
        return (
            self.spark.read.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
            .parquet(*files)
        )

    def stream_df(self, max_files_per_trigger: int | None = None) -> DataFrame:
        """The log as a streaming DataFrame (file source): catch-up
        over stored entries, then each append as its file is
        discovered — the substrate for live queries, Changes(), and
        streaming index builds. Patches are NOT overlaid (the live
        path replays appended frames, as in the reference).
        ``max_files_per_trigger`` bounds catch-up batch size."""
        # recursiveFileLookup: append_df publishes a DIRECTORY of part
        # files per bulk load (distributed write); the stream must
        # discover those leaves like the batch reader does.
        reader = (
            self.spark.readStream.schema(self._base_df().schema)
            .option("pathGlobFilter", "*.parquet")
            .option("recursiveFileLookup", "true")
        )
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        return reader.parquet(self._data_dir)

    def df(
        self, as_of_seq: int | None = None, as_of_patch: int | None = None
    ) -> DataFrame:
        """Read view with the null/replace overlay applied. ``as_of_seq``
        / ``as_of_patch`` bound the view to a recorded snapshot point
        (see ``sources/snapshot.py``): appends after ``as_of_seq`` and
        patches at/after ``as_of_patch`` are invisible. The seq bound is
        an ordinary pushed filter, so row-group pruning still applies."""
        base = self._base_df()
        if as_of_seq is not None:
            base = base.where(F.col("seq") <= F.lit(as_of_seq))
        has_patches = (
            self._has_patches() if as_of_patch is None else as_of_patch > 0
        )
        if not has_patches:
            return base.withColumn("nulled", F.lit(False))
        patch_schema = T.StructType(
            [
                T.StructField("patch_id", T.LongType(), False),
                T.StructField("seq", T.LongType(), False),
                T.StructField("op", T.StringType(), False),
                T.StructField("value", self.value_type, True),
            ]
        )
        patches = (
            self.spark.read.schema(patch_schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(self._patch_dir)
        )
        if as_of_patch is not None:
            patches = patches.where(F.col("patch_id") < F.lit(as_of_patch))
        w = Window.partitionBy("seq").orderBy(F.col("patch_id").desc())
        latest = (
            patches.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                F.col("seq"),
                F.col("op").alias("__op"),
                F.col("value").alias("__pvalue"),
            )
        )
        # Patch tables are tiny relative to the log: broadcast the overlay
        # join so the log itself never shuffles.
        return (
            base.join(F.broadcast(latest), "seq", "left")
            .select(
                "seq",
                F.when(F.col("__op") == "null", F.lit(None))
                .when(F.col("__op") == "replace", F.col("__pvalue"))
                .otherwise(F.col("value"))
                .alias("value"),
                F.coalesce(F.col("__op") == "null", F.lit(False)).alias("nulled"),
            )
        )

    def _decode_value(self, row) -> Any:
        if row["nulled"]:
            return ErrNulled()
        v = row["value"]
        if self.codec is not None:
            return self.codec.unmarshal(v)
        if hasattr(v, "asDict"):
            return v.asDict(recursive=True)
        return v

    def get(self, seq: int) -> Any:
        """Driver-side point lookup through the handle's positional
        index — the analog of the reference's ``ofst`` positional read
        (``offset2/log.go:373-394``): one bisect over the live files,
        one over the file's row groups, one bounded row group decoded."""
        with self._lock:
            if seq > self._seq or os.path.exists(self._patch_file(self._patch_id)):
                self._reload()  # another handle appended or patched
            if seq < 0 or seq > self._seq:
                raise OutOfBounds(seq)
            try:
                value = self._read_value(seq)
            except (FileNotFoundError, NotADirectoryError, _Rewritten):
                # another handle compacted a listed file away or
                # rewrote it under the same name (a bulk directory's
                # parts fail with ENOTDIR once a file replaced it)
                self._reload()
                value = self._read_value(seq)
            op, pval = self._latest_patch(seq)
        if op == "null":
            raise ErrNulled()
        if op == "replace":
            value = pval
        if self.codec is not None:
            return self.codec.unmarshal(value)
        return value

    def _read_value(self, seq: int) -> Any:
        import bisect

        import pyarrow.parquet as pq

        i = bisect.bisect_right(self._firsts, seq) - 1
        first, last, path, _bytes = self._live[i]
        assert first <= seq <= last, "filename index out of sync"
        groups = self._groups.get(path)
        if groups is None:
            groups = self._groups[path] = _row_groups(path)
        starts, parts = groups
        j = bisect.bisect_right(starts, seq) - 1
        assert j >= 0, "filename index out of sync"
        part, ident, md, rg = parts[j]
        # open per get (a log may hold thousands of files) and check the
        # open file is the one the footer came from
        with open(part, "rb") as fh:
            if _identity(fh.fileno()) != ident:
                raise _Rewritten(part)
            table = pq.ParquetFile(fh, metadata=md).read_row_group(rg)
        # every writer stores a row group's seqs dense and ascending
        rows = table.slice(seq - starts[j], 1).to_pylist()
        assert len(rows) == 1 and rows[0]["seq"] == seq, "filename index out of sync"
        return rows[0]["value"]

    def _latest_patch(self, seq: int) -> tuple[Optional[str], Any]:
        """The latest patch of ``seq`` as ``(op, stored value)``, or
        ``(None, None)``. The handle loads ``patch/`` once into a map
        that ``_write_patch`` extends and ``_reload`` drops. The trade:
        a get costs one dict lookup instead of a scan of every patch
        file, but the map holds one entry per patched seq on the
        driver, rebuilt by the first get after a reload (``df`` and
        ``compact_log`` keep the overlay executor-side)."""
        if not self._has_patches():
            return None, None
        if self._patches is None:
            import pyarrow.dataset as ds

            tbl = ds.dataset(self._patch_dir, format="parquet").to_table()
            tbl = tbl.sort_by("patch_id")  # latest patch wins
            self._patches = {
                s: (op, v)
                for s, op, v in zip(
                    tbl["seq"].to_pylist(), tbl["op"].to_pylist(), tbl["value"].to_pylist()
                )
            }
        return self._patches.get(seq, (None, None))

    def _batch_iter(self, plan: QueryPlan) -> Iterator[Any]:
        df = apply_plan(self.df(), plan, ordered=True)
        for row in df.toLocalIterator():
            v = self._decode_value(row)
            yield (row["seq"], v) if plan.seqwrap else v
