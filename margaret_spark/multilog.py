"""MultiLog: virtual sublogs partitioning a main log by key.

Reference: ``multilog/multilog.go:21-31`` (the interface) and
``multilog/roaring/`` (the production implementation, where each
sublog is a roaring bitmap of main-log sequence numbers and sublog
``Get(n)`` is bitmap ``Select(n)`` — the n-th smallest member,
``multilog/roaring/sublog.go:40-60``).

Spark-first translation: the whole multilog is ONE index table
``(addr, main_seq)`` with set semantics. A sublog is a filtered view;
rank addressing is ``row_number() OVER (PARTITION BY addr ORDER BY
main_seq) - 1`` — exactly ``Select(n)``. At scale the table is
written partitioned by ``addr`` so sublog reads are partition-pruned
scans and rank windows shuffle only within one key.

Two backends, as in the reference (roaring-over-persistence vs
test-only mem): :class:`MemMultiLog` and :class:`OffsetMultiLog`
(Parquet). Deletes are tombstones; handles to a deleted sublog are
poisoned (``ErrSublogDeleted``, reference ``multilog/multilog.go:16-18``,
seq sentinel ``seq.go:14``).
"""

from __future__ import annotations

import os
import threading
from abc import ABC, abstractmethod
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from margaret_spark import files
from margaret_spark.errors import (
    SEQ_EMPTY,
    SEQ_SUBLOG_DELETED,
    ErrSublogDeleted,
    OutOfBounds,
    QuerySpecError,
)
from margaret_spark.observable import Observable
from margaret_spark.qry import QueryPlan, QuerySpec, apply_plan_rows, build_plan


#: where id recovery says a foreign name was found
_WHAT = "entry in multilog dir"


def _norm_addr(addr) -> str:
    """Addresses are byte-strings in the reference (``indexes/index.go:17-23``);
    we accept str/bytes/int and normalize to str for storage. Bytes
    that aren't valid UTF-8 are stored as a NUL-prefixed hex encoding —
    surrogateescape strings would crash every pyarrow/Spark
    serialization of the addr column."""
    if isinstance(addr, bytes):
        try:
            return addr.decode("utf-8")
        except UnicodeDecodeError:
            return "\x00hex:" + addr.hex()
    return str(addr)


class SubLog:
    """A sublog presented through the Log query API, addressed by rank.

    ``seq()`` is cardinality − 1 (``multilog/roaring/sublog.go:32-34``);
    ``get(n)`` is the n-th smallest main-log seq (``sublog.go:40-60``);
    ``append(v)`` inserts main-seq v with set semantics
    (``sublog.go:87-124``) and returns the new cardinality − 1.
    """

    def __init__(self, mlog: "MultiLog", addr: str):
        self._mlog = mlog
        self.addr = addr
        # Handles are poisoned per-instance: delete bumps the addr's
        # generation; a handle opened before the delete is dead, a fresh
        # Get() starts clean (reference deletes the sublog object,
        # roaring/multilog.go:166-178).
        self._gen = mlog._generation(addr)

    def _poisoned(self) -> bool:
        return self._mlog._generation(self.addr) != self._gen

    def _check(self) -> None:
        if self._poisoned():
            raise ErrSublogDeleted(self.addr)

    def seq(self) -> int:
        if self._poisoned():
            return SEQ_SUBLOG_DELETED
        return len(self._members()) - 1

    def _members(self) -> list[int]:
        return self._mlog._members(self.addr)

    def get(self, rank: int) -> int:
        self._check()
        m = self._members()
        if rank < 0 or rank >= len(m):
            raise OutOfBounds(rank)
        return m[rank]

    def append(self, main_seq: int) -> int:
        self._check()
        if main_seq < 0:
            raise ValueError("sublog values are main-log seqs (non-negative)")
        n, grew = self._mlog._insert(self.addr, int(main_seq))
        if grew:
            # fire ONLY on cardinality growth (set semantics: a
            # duplicate append changes nothing observable)
            self._mlog._changes_for(self.addr).set(n - 1)
        return n - 1

    def changes(self) -> Observable:
        # the observable is shared per (multilog, addr): appends through
        # ANY handle to the same sublog notify every subscriber — a
        # per-handle cell would miss writes from other components
        # (reference shares one observable per sublog)
        return self._mlog._changes_for(self.addr)

    def query(self, *specs: QuerySpec) -> Iterator[Any]:
        """The §2.2 algebra over the *rank* domain
        (``multilog/roaring/qry.go:86-179``)."""
        self._check()
        plan = build_plan(specs)
        if plan.live:
            return self._live_iter(plan)
        return self._batch_iter(plan)

    def _batch_iter(self, plan: QueryPlan) -> Iterator[Any]:
        ranked = list(enumerate(self._members()))
        for rank, mseq in apply_plan_rows(ranked, plan):
            yield (rank, mseq) if plan.seqwrap else mseq

    def _live_iter(self, plan: QueryPlan) -> Iterator[Any]:
        import time

        start_rank = (plan.gt + 1 if plan.gt is not None else
                      (plan.gte if plan.gte is not None else 0))
        remaining = plan.limit
        # The live cursor is a MAIN-SEQ watermark, not a rank: an
        # out-of-order insert below an already-emitted member shifts
        # every later rank, so a rank cursor would re-emit one value
        # and skip another. The initial rank bound converts to a
        # watermark on the first snapshot that reaches it; members
        # arriving below the watermark afterwards are late data and
        # are skipped (ranks reported with each value are
        # emission-time ranks).
        last_mseq = None
        while True:
            if remaining is not None and remaining <= 0:
                return
            self._check()
            members = self._members()
            if last_mseq is None:
                if start_rank == 0:
                    last_mseq = -1
                elif len(members) >= start_rank:
                    last_mseq = members[start_rank - 1]
                else:
                    time.sleep(0.02)
                    continue
            progressed = False
            for rank, mseq in enumerate(members):
                if mseq <= last_mseq:
                    continue
                if plan.lt is not None and rank >= plan.lt:
                    return
                if plan.lte is not None and rank > plan.lte:
                    return
                last_mseq = mseq
                progressed = True
                if remaining is not None:
                    remaining -= 1
                yield (rank, mseq) if plan.seqwrap else mseq
                if remaining is not None and remaining <= 0:
                    return
            if not progressed:
                time.sleep(0.02)

    def df(self) -> DataFrame:
        """Spark view: (rank, main_seq) for this sublog."""
        self._check()
        return self._mlog.ranks_df().where(F.col("addr") == self.addr).select(
            "rank", "main_seq"
        )


class MultiLog(ABC):
    """Reference ``multilog.MultiLog`` (``multilog/multilog.go:21-31``)."""

    spark: SparkSession

    def get(self, addr) -> SubLog:
        """Sublog for key, created lazily (``roaring/multilog.go:98-140``)."""
        return SubLog(self, _norm_addr(addr))

    def _changes_for(self, addr: str) -> Observable:
        """One shared Observable per addr (all handles see all
        appends). Plain dict setdefault — atomic under the GIL."""
        reg = self.__dict__.setdefault("_addr_changes", {})
        return reg.setdefault(addr, Observable())

    def list(self) -> list[str]:
        """All keys with a non-empty sublog (``roaring/multilog.go:181-216``)."""
        return sorted(self._live_addrs())

    def has(self, addr) -> bool:
        """Does a non-empty sublog exist (``multilog/multilog.go:33-40``)."""
        return _norm_addr(addr) in set(self._live_addrs())

    @abstractmethod
    def delete(self, addr) -> None:
        """Drop a sublog; existing handles become poisoned
        (``roaring/multilog.go:166-178``)."""

    # -- Spark views -------------------------------------------------------

    @abstractmethod
    def df(self) -> DataFrame:
        """The whole multilog as (addr STRING, main_seq BIGINT), set
        semantics already applied."""

    def ranks_df(self) -> DataFrame:
        """(addr, main_seq, rank): rank is bitmap-Select position.
        The window shuffles by addr only — at scale, write the table
        partitioned by addr and this is a within-partition sort."""
        w = Window.partitionBy("addr").orderBy("main_seq")
        return self.df().withColumn("rank", F.row_number().over(w) - F.lit(1))

    # -- internals ---------------------------------------------------------

    @abstractmethod
    def _members(self, addr: str) -> list[int]:
        ...

    @abstractmethod
    def _insert(self, addr: str, main_seq: int) -> tuple[int, bool]:
        """Insert; returns (new cardinality, whether it grew)."""

    @abstractmethod
    def _live_addrs(self) -> list[str]:
        ...

    @abstractmethod
    def _generation(self, addr: str) -> int:
        """Delete-generation of an addr; bumped by every delete."""

    def flush(self) -> None:
        """Persistence flush (``roaring/multilog.go:59-83``). Parquet
        appends are durable at write; this is a no-op kept for parity."""


class MemMultiLog(MultiLog):
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._data: dict[str, list[int]] = {}
        self._gens: dict[str, int] = {}
        self._lock = threading.Lock()

    def _members(self, addr: str) -> list[int]:
        with self._lock:
            return list(self._data.get(addr, []))

    def _insert(self, addr: str, main_seq: int) -> tuple[int, bool]:
        import bisect

        with self._lock:
            m = self._data.setdefault(addr, [])
            i = bisect.bisect_left(m, main_seq)
            grew = i == len(m) or m[i] != main_seq
            if grew:
                m.insert(i, main_seq)
            return len(m), grew

    def _live_addrs(self) -> list[str]:
        with self._lock:
            return [a for a, m in self._data.items() if m]

    def _generation(self, addr: str) -> int:
        with self._lock:
            return self._gens.get(addr, 0)

    def delete(self, addr) -> None:
        a = _norm_addr(addr)
        with self._lock:
            self._data.pop(a, None)
            self._gens[a] = self._gens.get(a, 0) + 1

    def df(self) -> DataFrame:
        with self._lock:
            rows = [(a, s) for a, m in self._data.items() for s in m]
        schema = T.StructType(
            [
                T.StructField("addr", T.StringType(), False),
                T.StructField("main_seq", T.LongType(), False),
            ]
        )
        return self.spark.createDataFrame(rows, schema)


class OffsetMultiLog(MultiLog):
    """Parquet-backed multilog.

    Layout::

        <path>/entries/entry-<n>.parquet      (addr, main_seq) single append
        <path>/entries/entry-<n>/             one bulk append_df batch
                                              (published with ONE rename)
        <path>/tombstone/tomb-<n>.parquet     (tomb_id, addr)

    A tombstone deletes every entry appended *before* it (entry files
    carry monotonically increasing ids; the reference instead rewrites
    the bitmap, ``roaring/multilog.go:166-178``). Re-appending after a
    delete recreates the sublog, matching reference behavior where
    ``Get`` after ``Delete`` starts fresh.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._entries_dir = os.path.join(path, "entries")
        self._tomb_dir = os.path.join(path, "tombstone")
        os.makedirs(self._entries_dir, exist_ok=True)
        os.makedirs(self._tomb_dir, exist_ok=True)
        self._lock = threading.Lock()
        # per-addr member sets, filled lazily (one scan per addr) and
        # maintained incrementally by _insert; invalidated by delete
        # and by bulk append_df (which writes arbitrary addrs)
        self._member_cache: dict[str, set[int]] = {}
        self._entry_id = files.max_id(self._entries_dir, "entry-", _WHAT) + 1
        self._tomb_id = files.max_id(self._tomb_dir, "tomb-", _WHAT) + 1
        files.sweep([self._entries_dir, self._tomb_dir], [os.path.join(path, "_staging")])
        # generation = number of tombstones for the addr (persisted);
        # handles capture it at open and die when it moves.
        self._gens: dict[str, int] = {}
        if self._tomb_id > 0:
            for r in self._dataset(self._tomb_dir).to_table().to_pylist():
                self._gens[r["addr"]] = self._gens.get(r["addr"], 0) + 1

    def _dataset(self, d: str):
        """A pyarrow dataset over ``entries/`` or ``tombstone/``. Its
        schema is given, so an empty directory scans as no rows."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        if d == self._entries_dir:
            cols = [("entry_id", pa.int64()), ("addr", pa.string()), ("main_seq", pa.int64())]
        else:
            cols = [("tomb_id", pa.int64()), ("addr", pa.string())]
        return ds.dataset(d, format="parquet", schema=pa.schema(cols))

    def _tombstoned(self) -> dict[str, int]:
        """addr -> latest tombstone entry-id horizon."""
        rows = self._dataset(self._tomb_dir).to_table().to_pylist()
        out: dict[str, int] = {}
        for r in rows:
            out[r["addr"]] = max(out.get(r["addr"], -1), r["tomb_id"])
        return out

    def _read_all(self) -> dict[str, list[int]]:
        tombs = self._tombstoned()
        rows = self._dataset(self._entries_dir).to_table().to_pylist()
        agg: dict[str, set[int]] = {}
        for r in rows:
            horizon = tombs.get(r["addr"], -1)
            if r["entry_id"] <= horizon:
                continue
            agg.setdefault(r["addr"], set()).add(r["main_seq"])
        return {a: sorted(m) for a, m in agg.items()}

    def _members_scan(self, addr: str) -> list[int]:
        import pyarrow.dataset as ds

        horizon = self._tombstoned().get(addr, -1)
        tbl = self._dataset(self._entries_dir).to_table(
            filter=(ds.field("addr") == addr) & (ds.field("entry_id") > horizon)
        ).to_pylist()
        return sorted({r["main_seq"] for r in tbl})

    def _members(self, addr: str) -> list[int]:
        with self._lock:
            cached = self._member_cache.get(addr)
            if cached is not None:
                return sorted(cached)
        members = self._members_scan(addr)
        with self._lock:
            # single-writer design (like the log): the scan result is
            # authoritative unless an insert raced it, in which case
            # the cache already holds the superset
            self._member_cache.setdefault(addr, set(members))
            return sorted(self._member_cache[addr])

    def _insert(self, addr: str, main_seq: int) -> tuple[int, bool]:
        import pyarrow as pa

        with self._lock:
            cached = self._member_cache.get(addr)
        if cached is None:
            # one disk scan per addr per process lifetime; afterwards
            # cardinality tracking is incremental (a per-insert rescan
            # made index builds O(N²))
            scanned = set(self._members_scan(addr))
            with self._lock:
                cached = self._member_cache.setdefault(addr, scanned)
        with self._lock:
            if main_seq in cached:
                return len(cached), False  # set semantics: no-op append
            eid = self._entry_id
            self._entry_id += 1
            table = pa.table(
                {
                    "entry_id": pa.array([eid], pa.int64()),
                    "addr": pa.array([addr], pa.string()),
                    "main_seq": pa.array([main_seq], pa.int64()),
                }
            )
            files.publish_table(table, os.path.join(self._entries_dir, f"entry-{eid:020d}.parquet"))
            cached.add(main_seq)
            return len(cached), True

    def append_df(self, df: DataFrame) -> None:
        """Bulk index build: append an (addr, main_seq) DataFrame
        through Spark — the scalable fan-out path. Spark writes to a
        staging dir; the WHOLE batch is then published as the
        ``entries/entry-<eid>`` directory with ONE rename, so a crash
        can never tear it (the previous per-part rename loop could die
        mid-loop and leave a prefix of the batch visible — silently
        missing index entries once the janitor swept the rest; the
        reference's mutex-serialized writer never exposes a torn
        write, and neither may we). Spark's ``_SUCCESS`` marker and
        pyarrow both ignore underscore/dot-prefixed files, and every
        reader walks the directory form (pyarrow datasets recurse by
        default; the Spark read uses ``recursiveFileLookup``)."""
        with self._lock:
            eid = self._entry_id
            self._entry_id += 1
            out = df.select(
                F.lit(eid).cast("long").alias("entry_id"),
                F.col("addr").cast("string").alias("addr"),
                F.col("main_seq").cast("long").alias("main_seq"),
            )
            staging = os.path.join(self.path, "_staging", str(eid))
            out.write.mode("overwrite").parquet(staging)
            files.publish_dir(staging, os.path.join(self._entries_dir, f"entry-{eid:020d}"))
            self._member_cache.clear()  # bulk write touches arbitrary addrs
            watched = {
                a
                for a, obs in self.__dict__.get("_addr_changes", {}).items()
                if obs.has_subscribers()
            }
        # changes()-based subscribers (e.g. pump) must be woken by bulk
        # appends too, not only by single-row append. Only addrs with a
        # live subscriber pay the cardinality read; notification runs
        # outside the lock like the single-append path's callbacks.
        # The watched-set filter runs IN THE PLAN, below the collect:
        # the collect is bounded by subscriber count, never by the
        # batch's addr cardinality (a bulk load touching millions of
        # addrs with one watcher must not materialize the addr set).
        if watched:
            touched = {
                r["addr"]
                for r in df.select(
                    F.col("addr").cast("string").alias("addr")
                )
                .where(F.col("addr").isin(sorted(watched)))
                .distinct()
                .collect()
            }
            for a in sorted(touched):
                members = self._members(a)
                if members:
                    self._changes_for(a).set(len(members) - 1)

    def _live_addrs(self) -> list[str]:
        return [a for a, m in self._read_all().items() if m]

    def _generation(self, addr: str) -> int:
        with self._lock:
            return self._gens.get(addr, 0)

    def delete(self, addr) -> None:
        import pyarrow as pa

        a = _norm_addr(addr)
        with self._lock:
            tid = self._tomb_id
            self._tomb_id += 1
            # horizon = everything appended so far
            table = pa.table(
                {"tomb_id": pa.array([self._entry_id - 1], pa.int64()),
                 "addr": pa.array([a], pa.string())}
            )
            files.publish_table(table, os.path.join(self._tomb_dir, f"tomb-{tid:020d}.parquet"))
            self._gens[a] = self._gens.get(a, 0) + 1
            self._member_cache[a] = set()  # everything below the horizon

    def df(self) -> DataFrame:
        schema = T.StructType(
            [
                T.StructField("entry_id", T.LongType(), False),
                T.StructField("addr", T.StringType(), False),
                T.StructField("main_seq", T.LongType(), False),
            ]
        )
        entries = (
            self.spark.read.schema(schema)
            # bulk batches publish as entry-<eid>/ DIRECTORIES (one
            # atomic rename each); walk into them
            .option("recursiveFileLookup", "true")
            .parquet(self._entries_dir)
        )
        tomb_schema = T.StructType(
            [
                T.StructField("tomb_id", T.LongType(), False),
                T.StructField("addr", T.StringType(), False),
            ]
        )
        if files.max_id(self._tomb_dir, "tomb-", _WHAT) >= 0:
            tombs = (
                self.spark.read.schema(tomb_schema)
                .parquet(self._tomb_dir)
                .groupBy("addr")
                .agg(F.max("tomb_id").alias("__horizon"))
            )
            entries = (
                entries.join(F.broadcast(tombs), "addr", "left")
                .where(
                    F.col("__horizon").isNull()
                    | (F.col("entry_id") > F.col("__horizon"))
                )
                .drop("__horizon")
            )
        return entries.select("addr", "main_seq").distinct()
