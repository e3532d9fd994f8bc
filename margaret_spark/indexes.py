"""Key→latest-value indexes with observables, build cursors, and the
incremental index-builder sinks.

Reference: ``indexes/index.go:27-70`` (Index / SetterIndex /
SeqSetterIndex), ``indexes/sinkindex.go:15-61`` (SinkIndex, the
incremental-view builder), ``multilog/sink.go:20-82`` (the fan-out
sink that routes log entries into sublogs).

Spark translation: an index is an upsert table reduced by
latest-wins (``max_by(value, upd_id)``); the build cursor is a
checkpoint. The pull-mode ``pump`` here mirrors ``luigi.Pump``; the
scalable paths are :func:`build_index` (batch KV builds) and
:func:`fanout` + ``OffsetMultiLog.append_df`` (bulk multilog routing)
which drive the same user functions over DataFrames — in Structured
Streaming they become ``foreachBatch`` bodies (see
``margaret_spark.streaming``).
"""

from __future__ import annotations

import json
import os
import threading
from abc import ABC, abstractmethod
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from margaret_spark import files
from margaret_spark.errors import SEQ_EMPTY, ErrNulled
from margaret_spark.log import Log
from margaret_spark.multilog import MultiLog
from margaret_spark.observable import UNSET, Observable
from margaret_spark.qry import Gt, QuerySpec, SeqWrap


class SetterIndex(ABC):
    """key → latest value; reads are observable cells
    (``indexes/index.go:27-46``)."""

    @abstractmethod
    def get(self, addr: str) -> Observable:
        ...

    @abstractmethod
    def set(self, addr: str, value: Any) -> None:
        ...

    @abstractmethod
    def delete(self, addr: str) -> None:
        """Unset the key; subscribers observe UNSET
        (``indexes/index.go:44-46``)."""

    @abstractmethod
    def df(self) -> DataFrame:
        """(addr, value) of all currently-set keys."""


class SeqSetterIndex(SetterIndex):
    """SetterIndex + persisted build cursor (``indexes/index.go:63-70``)."""

    @abstractmethod
    def set_seq(self, seq: int) -> None:
        ...

    @abstractmethod
    def get_seq(self) -> int:
        ...


class MemSetterIndex(SeqSetterIndex):
    def __init__(self, spark: SparkSession, value_type: T.DataType | None = None):
        self.spark = spark
        self.value_type = value_type or T.StringType()
        self._data: dict[str, Any] = {}
        self._cells: dict[str, Observable] = {}
        self._seq = SEQ_EMPTY
        self._lock = threading.Lock()

    def _cell(self, addr: str) -> Observable:
        with self._lock:
            if addr not in self._cells:
                self._cells[addr] = Observable(self._data.get(addr, UNSET))
            return self._cells[addr]

    def get(self, addr: str) -> Observable:
        return self._cell(addr)

    def set(self, addr: str, value: Any) -> None:
        with self._lock:
            self._data[addr] = value
            cell = self._cells.get(addr)
        if cell is not None:
            cell.set(value)
        else:
            self._cell(addr)

    def delete(self, addr: str) -> None:
        with self._lock:
            self._data.pop(addr, None)
            cell = self._cells.get(addr)
        if cell is not None:
            cell.set(UNSET)

    def set_seq(self, seq: int) -> None:
        self._seq = seq

    def get_seq(self) -> int:
        return self._seq

    def df(self) -> DataFrame:
        with self._lock:
            rows = list(self._data.items())
        schema = T.StructType(
            [
                T.StructField("addr", T.StringType(), False),
                T.StructField("value", self.value_type, True),
            ]
        )
        return self.spark.createDataFrame(rows, schema)


class OffsetSetterIndex(SeqSetterIndex):
    """Parquet-backed SetterIndex.

    Layout::

        <path>/upserts/up-<n>.parquet   (upd_id, addr, value, unset)
        <path>/_cursor.json             build cursor (reference stores it
                                        under the reserved key
                                        ``__current_observable``,
                                        ``indexes/badger/index.go:349-422``)

    Current state = latest upd_id per addr where not unset — in Spark a
    ``row_number`` window (or ``max_by``) over the upsert table.
    """

    def __init__(self, spark: SparkSession, path: str, value_type: T.DataType | None = None):
        self.spark = spark
        self.path = path
        self.value_type = value_type or T.StringType()
        self._ups_dir = os.path.join(path, "upserts")
        os.makedirs(self._ups_dir, exist_ok=True)
        self._cursor_path = os.path.join(path, "_cursor.json")
        self._lock = threading.Lock()
        self._upd_id = files.max_id(self._ups_dir, "up-", "entry in upsert dir") + 1
        files.sweep([path, self._ups_dir])
        self._cells: dict[str, Observable] = {}

    def _arrow_value_type(self):
        from pyspark.sql.pandas.types import to_arrow_type

        return to_arrow_type(self.value_type)

    def _write_upsert(self, addr: str, value: Any, unset: bool) -> None:
        import pyarrow as pa

        with self._lock:
            uid = self._upd_id
            self._upd_id += 1
            schema = pa.schema(
                [
                    pa.field("upd_id", pa.int64(), False),
                    pa.field("addr", pa.string(), False),
                    pa.field("value", self._arrow_value_type(), True),
                    pa.field("unset", pa.bool_(), False),
                ]
            )
            table = pa.Table.from_pydict(
                {"upd_id": [uid], "addr": [addr], "value": [value], "unset": [unset]},
                schema=schema,
            )
            files.publish_table(table, os.path.join(self._ups_dir, f"up-{uid:020d}.parquet"))

    def get(self, addr: str) -> Observable:
        with self._lock:
            cell = self._cells.get(addr)
        if cell is None:
            cur = self._current().get(addr, UNSET)
            with self._lock:
                cell = self._cells.setdefault(addr, Observable(cur))
        return cell

    def _current(self) -> dict[str, Any]:
        import pyarrow.dataset as ds

        if self._upd_id == 0:
            return {}
        rows = ds.dataset(self._ups_dir, format="parquet").to_table().to_pylist()
        best: dict[str, tuple[int, Any, bool]] = {}
        for r in rows:
            prev = best.get(r["addr"])
            if prev is None or r["upd_id"] > prev[0]:
                best[r["addr"]] = (r["upd_id"], r["value"], r["unset"])
        return {a: v for a, (_, v, unset) in best.items() if not unset}

    def set(self, addr: str, value: Any) -> None:
        self._write_upsert(addr, value, False)
        # CREATE the cell if missing (like the mem backend): a get()
        # racing this set would otherwise install a cell from its
        # pre-set snapshot and never learn the new value — with
        # create-or-update here, either order converges (get's
        # setdefault returns this fresher cell, or this set updates
        # get's cell)
        with self._lock:
            cell = self._cells.setdefault(addr, Observable())
        cell.set(value)

    def delete(self, addr: str) -> None:
        self._write_upsert(addr, None, True)
        with self._lock:
            cell = self._cells.setdefault(addr, Observable())
        cell.set(UNSET)

    def set_seq(self, seq: int) -> None:
        files.publish_json({"seq": seq}, self._cursor_path)

    def get_seq(self) -> int:
        if not os.path.exists(self._cursor_path):
            return SEQ_EMPTY
        with open(self._cursor_path) as f:
            return json.load(f)["seq"]

    def df(self) -> DataFrame:
        schema = T.StructType(
            [
                T.StructField("upd_id", T.LongType(), False),
                T.StructField("addr", T.StringType(), False),
                T.StructField("value", self.value_type, True),
                T.StructField("unset", T.BooleanType(), False),
            ]
        )
        ups = self.spark.read.schema(schema).parquet(self._ups_dir)
        w = Window.partitionBy("addr").orderBy(F.col("upd_id").desc())
        return (
            ups.withColumn("__rn", F.row_number().over(w))
            .where((F.col("__rn") == 1) & (~F.col("unset")))
            .select("addr", "value")
        )


# ---------------------------------------------------------------------------
# Sinks: the user-function extension points (reference §2.6)
# ---------------------------------------------------------------------------


class SinkIndex:
    """Incremental view builder (``indexes/sinkindex.go:15-61``).

    ``proc(seq, value, idx)`` is the user StreamProcFunc; ``pour``
    applies it then advances the cursor. Nulled entries are swallowed
    (``sinkindex.go:44-46``).
    """

    def __init__(self, proc: Callable[[int, Any, SeqSetterIndex], None], idx: SeqSetterIndex):
        self.proc = proc
        self.idx = idx

    def query_spec(self) -> list[QuerySpec]:
        """Resume spec: ``Gt(cursor) + SeqWrap`` (``sinkindex.go:29-37``)."""
        return [Gt(self.idx.get_seq()), SeqWrap(True)]

    def pour(self, seq: int, value: Any) -> None:
        if not isinstance(value, ErrNulled):
            self.proc(seq, value, self.idx)
        self.idx.set_seq(seq)


class MultilogSink:
    """Fan-out indexer (``multilog/sink.go:20-58``): ``route(seq, value,
    mlog)`` pours one entry into any number of sublogs. The cursor is
    persisted *before* processing, as in the reference (at-most-once
    per entry on crash)."""

    def __init__(self, route: Callable[[int, Any, MultiLog], None], mlog: MultiLog,
                 cursor_path: str | None = None):
        self.route = route
        self.mlog = mlog
        self._cursor_path = cursor_path
        self._mem_cursor = SEQ_EMPTY

    def get_seq(self) -> int:
        if self._cursor_path and os.path.exists(self._cursor_path):
            with open(self._cursor_path) as f:
                return json.load(f)["seq"]
        return self._mem_cursor

    def _save_seq(self, seq: int) -> None:
        self._mem_cursor = seq
        if self._cursor_path:
            files.publish_json({"seq": seq}, self._cursor_path)

    def query_spec(self) -> list[QuerySpec]:
        return [Gt(self.get_seq()), SeqWrap(True)]

    def pour(self, seq: int, value: Any) -> None:
        self._save_seq(seq)  # cursor first: multilog/sink.go:46-58
        if not isinstance(value, ErrNulled):
            self.route(seq, value, self.mlog)


def pump(source: Iterator[Any], sink) -> None:
    """``luigi.Pump``: pull from source, pour into sink. Source must be
    seq-wrapped."""
    for seq, value in source:
        sink.pour(seq, value)


def build_index(log: Log, sink) -> None:
    """One catch-up pass: query the log from the sink's cursor and pump.
    This is the batch twin of the streaming ``foreachBatch`` loop."""
    pump(log.query(*sink.query_spec()), sink)


# ---------------------------------------------------------------------------
# Scalable (DataFrame-native) builders for the same semantics
# ---------------------------------------------------------------------------


def latest_by_key(
    df: DataFrame,
    key_col: str,
    seq_col: str,
    value_cols: list[str] | None = None,
) -> DataFrame:
    """Relational SetterIndex materialization: latest value per key by
    sequence, as a ``max_by`` aggregation. Unlike a rank window (which
    sorts every key's rows inside its partition), max_by is algebraic:
    partial aggregation keeps one row per key map-side, so the shuffle
    carries |keys| rows — the right plan when a hot key has millions
    of updates."""
    out_cols = value_cols or [c for c in df.columns if c != key_col]
    picked = df.groupBy(key_col).agg(
        F.max_by(F.struct(*[F.col(c) for c in out_cols]), F.col(seq_col)).alias("__s")
    )
    return picked.select(key_col, *[F.col(f"__s.{c}").alias(c) for c in out_cols])


def fanout(
    df: DataFrame,
    addrs_expr,
    seq_col: str = "seq",
) -> DataFrame:
    """Relational MultilogSink: ``addrs_expr`` is an array<string>
    Column routing each row to 0..n sublogs; explode into the
    (addr, main_seq) index table."""
    return df.select(
        F.explode(addrs_expr).alias("addr"), F.col(seq_col).alias("main_seq")
    )
