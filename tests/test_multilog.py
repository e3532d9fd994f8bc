"""MultiLog contract suite (reference ``multilog/test/multilog.go:35-705``,
``multilog/test/sublog.go:21-159``) and the prime-factor fan-out
end-to-end fixture (``multilog/test/sink.go:166-257``)."""

import pytest

from pyspark.sql import functions as F

from margaret_spark import Gt, Gte, Limit, Lt, Lte, MemLog, Reverse, SeqWrap
from margaret_spark.errors import SEQ_SUBLOG_DELETED, ErrSublogDeleted, OutOfBounds
from margaret_spark.indexes import MultilogSink, build_index, fanout
from margaret_spark.multilog import MemMultiLog, OffsetMultiLog


@pytest.fixture(params=["mem", "offset"])
def mlog(request, spark, tmp_path):
    if request.param == "mem":
        return MemMultiLog(spark)
    return OffsetMultiLog(spark, str(tmp_path / "mlog"))


def test_sublog_append_get_rank(mlog):
    # sublog is a sorted set of main-log seqs; get(n) = Select(n)
    sub = mlog.get("2")
    for v in [4, 2, 8, 2, 6]:  # out of order + duplicate
        sub.append(v)
    assert sub.seq() == 3  # cardinality-1 (dup collapsed)
    assert [sub.get(i) for i in range(4)] == [2, 4, 6, 8]
    with pytest.raises(OutOfBounds):
        sub.get(4)


def test_sublog_query_algebra(mlog):
    # multilog/test/multilog.go:407-697: the rank-domain golden cases
    sub = mlog.get("2")
    members = [2, 4, 6, 8, 10, 12, 14, 16, 18]
    for v in members:
        sub.append(v)
    assert list(sub.query()) == members
    assert list(sub.query(Lte(3))) == members[:4]
    assert list(sub.query(Lt(3))) == members[:3]
    assert list(sub.query(Limit(1))) == [2]
    assert list(sub.query(Reverse(True))) == members[::-1]
    assert list(sub.query(Gte(1))) == members[1:]
    assert list(sub.query(Gt(0), SeqWrap(True)))[0] == (1, 4)


def test_list_has_delete_poisoned(mlog):
    a = mlog.get("fii")
    b = mlog.get("faa")
    a.append(1)
    b.append(2)
    assert mlog.list() == ["faa", "fii"]
    assert mlog.has("fii") and not mlog.has("nope")

    mlog.delete("fii")
    assert mlog.list() == ["faa"]
    # poisoned handle: multilog/multilog.go:16-18, seq.go:14
    assert a.seq() == SEQ_SUBLOG_DELETED
    with pytest.raises(ErrSublogDeleted):
        a.append(3)
    with pytest.raises(ErrSublogDeleted):
        a.get(0)
    # a fresh Get() starts a new, empty sublog
    a2 = mlog.get("fii")
    assert a2.append(9) == 0
    assert mlog.has("fii")


def test_reopen_persistence(spark, tmp_path):
    # "local fork" regression (multilog/test/multilog.go:257-…):
    # reopen must see persisted entries.
    path = str(tmp_path / "ml")
    m1 = OffsetMultiLog(spark, path)
    s = m1.get("k")
    s.append(5)
    s.append(3)
    m2 = OffsetMultiLog(spark, path)
    assert m2.get("k").seq() == 1
    assert [m2.get("k").get(i) for i in range(2)] == [3, 5]
    assert m2.list() == ["k"]


def test_delete_persists_across_reopen(spark, tmp_path):
    path = str(tmp_path / "ml")
    m1 = OffsetMultiLog(spark, path)
    m1.get("k").append(5)
    m1.get("j").append(1)
    m1.delete("k")
    m2 = OffsetMultiLog(spark, path)
    assert m2.list() == ["j"]


def test_ranks_df_matches_pull_api(mlog):
    for a, vals in {"x": [3, 1, 9], "y": [2]}.items():
        sub = mlog.get(a)
        for v in vals:
            sub.append(v)
    rows = {
        (r["addr"], r["rank"]): r["main_seq"] for r in mlog.ranks_df().collect()
    }
    assert rows == {("x", 0): 1, ("x", 1): 3, ("x", 2): 9, ("y", 0): 2}


# --- the end-to-end fan-out fixture (multilog/test/sink.go:166-257) -------


def _prime_factors(n: int) -> list[int]:
    out, d = [], 2
    while d * d <= n:
        if n % d == 0:
            out.append(d)
            while n % d == 0:
                n //= d
        d += 1
    if n > 1:
        out.append(n)
    return out


EXPECTED_SUBLOGS = {
    "2": [2, 4, 6, 8, 10, 12, 14, 16, 18],
    "3": [3, 6, 9, 12, 15, 18],
    "5": [5, 10, 15],
    "7": [7, 14],
    "11": [11],
    "13": [13],
    "17": [17],
    "19": [19],
}


def test_prime_factor_fanout_pull(spark, mlog, tmp_path):
    log = MemLog(spark)
    log.append_many(list(range(20)))  # value == seq

    def route(seq, value, ml):
        for p in _prime_factors(value):
            ml.get(str(p)).append(seq)

    sink = MultilogSink(route, mlog, cursor_path=str(tmp_path / "cursor.json"))
    build_index(log, sink)
    assert sink.get_seq() == 19
    for addr, expect in EXPECTED_SUBLOGS.items():
        assert list(mlog.get(addr).query()) == expect, addr
    # resume: nothing new → no-op; then new appends only
    build_index(log, sink)
    assert list(mlog.get("2").query()) == EXPECTED_SUBLOGS["2"]
    log.append(20)  # 20 = 2^2 * 5
    build_index(log, sink)
    assert list(mlog.get("2").query()) == EXPECTED_SUBLOGS["2"] + [20]
    assert list(mlog.get("5").query()) == EXPECTED_SUBLOGS["5"] + [20]


def test_prime_factor_fanout_dataframe(spark, tmp_path):
    # The scalable path: same routing as an exploded array column.
    mlog = OffsetMultiLog(spark, str(tmp_path / "ml"))
    log = MemLog(spark)
    log.append_many(list(range(20)))
    df = log.df().where(~F.col("nulled"))
    # routing as a JVM-side array expression: no Python on the hot path
    primes = F.array(*[F.lit(p) for p in [2, 3, 5, 7, 11, 13, 17, 19]])
    addrs = F.when(
        F.col("value") >= 2,
        F.transform(
            F.filter(primes, lambda p: F.col("value") % p == 0),
            lambda p: p.cast("string"),
        ),
    ).otherwise(F.array().cast("array<string>"))
    routed = fanout(df.withColumn("addrs", addrs), F.col("addrs"))
    mlog.append_df(routed)
    for addr, expect in EXPECTED_SUBLOGS.items():
        got = [
            r["main_seq"]
            for r in mlog.df().where(F.col("addr") == addr).orderBy("main_seq").collect()
        ]
        assert got == expect, addr


def test_append_df_fires_change_observables(spark, tmp_path):
    """Bulk appends must wake changes()-based subscribers (pump) just
    like single-row append does — only watched addrs pay the
    cardinality read, unwatched ones stay lazy."""
    ml = OffsetMultiLog(spark, str(tmp_path / "ml"))
    ml.get("a").append(0)  # pre-existing member
    seen: list = []
    cancel = ml.get("a").changes().subscribe(seen.append)
    try:
        ml.append_df(
            spark.createDataFrame(
                [("a", 5), ("a", 9), ("b", 1)], "addr string, main_seq long"
            )
        )
    finally:
        cancel()
    # cardinality grew 1 -> 3; observable carries latest rank (n-1)
    assert seen == [2]
    # unwatched addr untouched but readable
    assert list(ml.get("b").query()) == [1]


def test_norm_addr_non_utf8_bytes(spark, tmp_path):
    # non-UTF-8 byte addrs must store (hex-prefixed), not crash pyarrow
    ml = OffsetMultiLog(spark, str(tmp_path / "ml"))
    sub = ml.get(b"\xff\xfe")
    assert sub.append(3) == 0
    assert sub.get(0) == 3
    assert any(a.startswith("\x00hex:") for a in ml.list())
    # utf-8 byte addrs keep their decoded form
    assert ml.get(b"plain").addr == "plain"


def test_sublog_changes_shared_across_handles(spark):
    ml = MemMultiLog(spark)
    got = []
    ml.get("a").changes().subscribe(got.append)
    # append through a DIFFERENT handle must notify the subscriber
    ml.get("a").append(7)
    assert got and got[-1] == 0
    # duplicate append (set semantics) must NOT fire again
    n = len(got)
    ml.get("a").append(7)
    assert len(got) == n


def test_sublog_live_iter_out_of_order_insert(spark):
    import threading
    import time

    ml = MemMultiLog(spark)
    sub = ml.get("k")
    sub.append(10)
    sub.append(20)
    got = []

    def consume():
        from margaret_spark.qry import Limit, Live, SeqWrap

        for item in ml.get("k").query(Live(True), SeqWrap(True), Limit(4)):
            got.append(item)

    t = threading.Thread(target=consume, daemon=True)
    t.start()
    deadline = time.time() + 30
    while len(got) < 2 and time.time() < deadline:
        time.sleep(0.02)
    # out-of-order insert BELOW the watermark: late data, must neither
    # re-emit 10/20 nor wedge the cursor
    sub.append(5)
    sub.append(30)
    sub.append(40)
    t.join(timeout=30)
    values = [v for _r, v in got]
    assert values == [10, 20, 30, 40]  # 5 skipped as late; no duplicates


def test_offset_insert_is_incremental_and_set_semantic(spark, tmp_path):
    ml = OffsetMultiLog(spark, str(tmp_path / "ml"))
    sub = ml.get("x")
    assert sub.append(4) == 0
    assert sub.append(9) == 1
    assert sub.append(4) == 1   # duplicate: cardinality unchanged
    # a duplicate append writes no new entry file
    import os

    n_files = len([f for f in os.listdir(str(tmp_path / "ml" / "entries"))])
    assert sub.append(9) == 1
    assert len(os.listdir(str(tmp_path / "ml" / "entries"))) == n_files
    # reopen: cache rebuilds from disk
    ml2 = OffsetMultiLog(spark, str(tmp_path / "ml"))
    assert ml2.get("x").seq() == 1
    assert ml2.get("x").get(1) == 9


def test_compact_multilog(spark, tmp_path):
    """Per-insert entry files merge into one; membership, ranks,
    tombstone horizons, and entry-id continuity all survive — and a
    crash between publish and delete only leaves harmless duplicates."""
    import os

    from margaret_spark.sources import compact_multilog

    ml = OffsetMultiLog(spark, str(tmp_path / "ml"))
    for a, seqs in (("x", [3, 1, 7]), ("y", [2, 5]), ("gone", [4, 9])):
        for s in seqs:
            ml.get(a).append(s)
    ml.delete("gone")
    # a FRESH handle restarts the sublog above the tombstone horizon:
    # 4 and 9 are dead, 11 is live — compaction must keep it that way
    ml.get("gone").append(11)
    before_x = list(ml.get("x").query())
    before_gone = list(ml.get("gone").query())
    n_files_before = len(
        [n for n in os.listdir(ml._entries_dir) if n.endswith(".parquet")]
    )
    assert n_files_before >= 7

    merged = compact_multilog(ml)
    assert merged == n_files_before
    live = [n for n in os.listdir(ml._entries_dir) if n.endswith(".parquet")]
    assert len(live) == 1

    assert list(ml.get("x").query()) == before_x == [1, 3, 7]
    assert list(ml.get("y").query()) == [2, 5]
    assert list(ml.get("gone").query()) == before_gone  # horizon preserved
    rows = {
        (r["addr"], r["main_seq"])
        for r in ml.df().collect()
    }
    assert ("x", 7) in rows and ("gone", 4) not in rows

    # reopen: entry-id allocation stays monotone (merged name parses)
    ml2 = OffsetMultiLog(spark, str(tmp_path / "ml"))
    ml2.get("x").append(100)
    assert 100 in list(ml2.get("x").query())
    assert list(ml2.get("gone").query()) == before_gone

    # idempotent / no-op on a single file
    assert compact_multilog(ml2) >= 0


def test_multilog_open_sweeps_crash_leftovers(spark, tmp_path):
    import os
    import time

    path = str(tmp_path / "ml")
    ml = OffsetMultiLog(spark, path)
    ml.get("a").append(1)
    # plant crash artifacts
    old = time.time() - 7200
    tmpf = os.path.join(ml._entries_dir, ".entry-x.parquet.tmp")
    open(tmpf, "w").write("junk")
    os.utime(tmpf, (old, old))
    stale = os.path.join(path, "_staging", "7")
    os.makedirs(stale)
    os.utime(stale, (old, old))
    fresh = os.path.join(path, "_staging", "8")
    os.makedirs(fresh)

    ml2 = OffsetMultiLog(spark, path)
    assert list(ml2.get("a").query()) == [1]
    assert not os.path.exists(tmpf)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)  # possibly-live writer untouched


def test_multilog_open_keeps_fresh_tmp(spark, tmp_path):
    """A fresh dot-tmp may be another process's in-flight write: a
    second open leaves it in place (the janitor is age-gated)."""
    import os

    ml = OffsetMultiLog(spark, str(tmp_path / "ml"))
    ml.get("a").append(1)
    fresh = os.path.join(ml._entries_dir, ".entry-00000000000000000009.parquet.tmp")
    open(fresh, "w").write("in flight")
    OffsetMultiLog(spark, str(tmp_path / "ml"))
    assert os.path.exists(fresh)


@pytest.mark.parametrize("sub, name", [
    ("entries", "entry-abc.parquet"),
    ("entries", "entry-².parquet"),  # '²'.isdigit() is True; int() rejects it
    ("tombstone", "tomb-7.bak.parquet"),
])
def test_multilog_foreign_names_fail_loudly(spark, tmp_path, sub, name):
    """A name that claims an id prefix but carries no decimal id fails
    with its path named, never with a bare int() error."""
    import os

    path = str(tmp_path / "ml")
    OffsetMultiLog(spark, path).get("a").append(1)
    open(os.path.join(path, sub, name), "w").close()
    with pytest.raises(ValueError, match="foreign entry in multilog dir"):
        OffsetMultiLog(spark, path)


def test_append_df_publish_is_atomic(spark, tmp_path, monkeypatch):
    """A bulk batch is all-or-nothing: if the single publish rename
    dies, NO entries from the batch are visible (the old per-part
    rename loop could die mid-loop and leave a torn prefix), the
    failed staging dir is janitor-swept on a later reopen, and a
    retried append_df lands the whole batch."""
    import os
    import time

    ml = OffsetMultiLog(spark, str(tmp_path / "ml"))
    ml.get("a").append(1)

    batch = spark.createDataFrame(
        [("a", 5), ("b", 7), ("b", 9)], "addr string, main_seq long"
    )
    real_rename = os.rename

    def bomb(src, dst):
        if os.sep + "entries" + os.sep + "entry-" in dst and os.path.isdir(src):
            raise OSError("chaos: publish rename died")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", bomb)
    with pytest.raises(OSError, match="publish rename"):
        ml.append_df(batch)
    monkeypatch.setattr(os, "rename", real_rename)

    # nothing from the batch leaked — not one row
    rows = {(r["addr"], r["main_seq"]) for r in ml.df().collect()}
    assert rows == {("a", 1)}
    staging_root = str(tmp_path / "ml" / "_staging")
    assert os.listdir(staging_root)  # the failed batch's leftovers

    # reopen sweeps the stale staging (age-gated: backdate it)
    for n in os.listdir(staging_root):
        p = os.path.join(staging_root, n)
        os.utime(p, (time.time() - 7200, time.time() - 7200))
    ml2 = OffsetMultiLog(spark, str(tmp_path / "ml"))
    assert not os.path.exists(staging_root) or not os.listdir(staging_root)

    # the retry publishes the whole batch through the directory form
    ml2.append_df(batch)
    rows = {(r["addr"], r["main_seq"]) for r in ml2.df().collect()}
    assert rows == {("a", 1), ("a", 5), ("b", 7), ("b", 9)}
    assert list(ml2.get("b").query()) == [7, 9]
    # id recovery parses the published directory name
    ml3 = OffsetMultiLog(spark, str(tmp_path / "ml"))
    assert ml3._entry_id == ml2._entry_id


def test_compact_multilog_folds_bulk_batch_dirs(spark, tmp_path):
    """Compaction treats bulk append_df directory batches as inputs:
    they fold into the single merged file and are swept — membership,
    ranks, and entry-id continuity preserved."""
    import os

    from margaret_spark.sources import compact_multilog

    ml = OffsetMultiLog(spark, str(tmp_path / "ml"))
    ml.get("x").append(3)
    ml.append_df(
        spark.createDataFrame(
            [("x", 1), ("y", 2)], "addr string, main_seq long"
        )
    )
    before = {(r["addr"], r["main_seq"]) for r in ml.df().collect()}
    n = compact_multilog(ml)
    assert n == 2  # one flat file + one batch dir
    names = os.listdir(ml._entries_dir)
    assert len(names) == 1 and names[0].endswith(".m.parquet")
    ml2 = OffsetMultiLog(spark, str(tmp_path / "ml"))
    after = {(r["addr"], r["main_seq"]) for r in ml2.df().collect()}
    assert after == before == {("x", 3), ("x", 1), ("y", 2)}
    assert ml2._entry_id == ml._entry_id
