"""KV-index contract suite (reference ``indexes/test/setidx.go:18-128``,
``seqsetidx.go:18-57``) and the interesting/boring SinkIndex resume
fixture (``indexes/test/sinkindex.go:29-131``)."""

import pytest

from margaret_spark import MemLog
from margaret_spark.errors import SEQ_EMPTY
from margaret_spark.indexes import (
    MemSetterIndex,
    OffsetSetterIndex,
    SinkIndex,
    build_index,
    latest_by_key,
    pump,
)
from margaret_spark.observable import UNSET


@pytest.fixture(params=["mem", "offset"])
def idx(request, spark, tmp_path):
    if request.param == "mem":
        return MemSetterIndex(spark)
    return OffsetSetterIndex(spark, str(tmp_path / "idx"))


def test_set_get(idx):
    assert idx.get("a").value() is UNSET
    idx.set("a", "x")
    assert idx.get("a").value() == "x"
    idx.set("a", "y")
    assert idx.get("a").value() == "y"


def test_observable_subscription_order(idx):
    # setidx.go: subscription sees updates in order, incl. UNSET on delete
    seen = []
    cancel = idx.get("k").subscribe(seen.append)
    idx.set("k", "1")
    idx.set("k", "2")
    idx.delete("k")
    cancel()
    idx.set("k", "3")
    assert seen == ["1", "2", UNSET]
    assert idx.get("k").value() == "3"


def test_cursor(idx):
    assert idx.get_seq() == SEQ_EMPTY
    idx.set_seq(41)
    assert idx.get_seq() == 41


def test_offset_index_reopen(spark, tmp_path):
    p = str(tmp_path / "idx")
    i1 = OffsetSetterIndex(spark, p)
    i1.set("a", "1")
    i1.set("b", "2")
    i1.delete("b")
    i1.set_seq(7)
    i2 = OffsetSetterIndex(spark, p)
    assert i2.get("a").value() == "1"
    assert i2.get("b").value() is UNSET
    assert i2.get_seq() == 7
    rows = {r["addr"]: r["value"] for r in i2.df().collect()}
    assert rows == {"a": "1"}


def test_offset_index_reopen_sweeps_tmp_and_rejects_foreign(spark, tmp_path):
    """A crashed _write_upsert's unpublished .up-*.parquet.tmp is
    swept on reopen (it never held committed data); a foreign
    up-<non-integer>.parquet fails LOUDLY with the path named instead
    of a bare int() ValueError — silently skipping a file that claims
    to be an upsert could hide committed writes."""
    import os
    import time

    p = str(tmp_path / "idx")
    i1 = OffsetSetterIndex(spark, p)
    i1.set("a", "1")
    ups = os.path.join(p, "upserts")
    tmp = os.path.join(ups, ".up-00000000000000000009.parquet.tmp")
    open(tmp, "w").close()
    old = time.time() - 7200  # the janitor is age-gated
    os.utime(tmp, (old, old))
    i2 = OffsetSetterIndex(spark, p)
    assert not os.path.exists(tmp)
    assert i2.get("a").value() == "1"

    # '²'.isdigit() is True, yet int() rejects it
    for foreign in ("up-abc.parquet", "up-².parquet"):
        open(os.path.join(ups, foreign), "w").close()
        with pytest.raises(ValueError, match="foreign entry"):
            OffsetSetterIndex(spark, p)
        os.remove(os.path.join(ups, foreign))


def test_offset_index_reopen_keeps_fresh_tmp(spark, tmp_path):
    """A fresh dot-tmp may be another process's in-flight upsert: a
    second open leaves it in place."""
    import os

    p = str(tmp_path / "idx")
    OffsetSetterIndex(spark, p).set("a", "1")
    fresh = os.path.join(p, "upserts", ".up-00000000000000000009.parquet.tmp")
    open(fresh, "w").close()
    OffsetSetterIndex(spark, p)
    assert os.path.exists(fresh)


# --- interesting/boring resume fixture (indexes/test/sinkindex.go) --------

VALUES = [
    "boring string",
    "another boring string",
    "mildly interesting string",
    "so-so string",
    "highly interesting string",
]


def _proc_factory(seen):
    def proc(seq, value, idx):
        seen.append(seq)
        if "interesting" in value:
            idx.set("interesting", value)
        if "boring" in value:
            idx.set("boring", value)

    return proc


def test_sinkindex_resume_exactly_once(spark, idx):
    log = MemLog(spark)
    seen: list[int] = []

    log.append_many(VALUES[:3])
    sink = SinkIndex(_proc_factory(seen), idx)
    build_index(log, sink)
    assert idx.get("interesting").value() == "mildly interesting string"
    assert idx.get("boring").value() == "another boring string"
    assert idx.get_seq() == 2

    # second pump session: only new entries are processed
    log.append_many(VALUES[3:])
    sink2 = SinkIndex(_proc_factory(seen), idx)
    build_index(log, sink2)
    assert idx.get("interesting").value() == "highly interesting string"
    assert idx.get("boring").value() == "another boring string"
    assert seen == [0, 1, 2, 3, 4]  # each seq exactly once across sessions


def test_latest_by_key_relational(spark):
    df = spark.createDataFrame(
        [(0, "u1", "a"), (1, "u2", "b"), (2, "u1", "c")], "seq long, k string, v string"
    )
    rows = {r["k"]: r["v"] for r in latest_by_key(df, "k", "seq", ["v"]).collect()}
    assert rows == {"u1": "c", "u2": "b"}
