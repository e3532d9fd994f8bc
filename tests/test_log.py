"""Log contract suite: the reference's golden query-semantics table
(``test/simple.go:126-254``) and point-lookup contract
(``test/get.go:16-65``), run against every backend — the same
backend-parameterized registry shape as ``test/registry.go:15-23``.
"""

import pytest

from margaret_spark import (
    SEQ_EMPTY,
    ErrNulled,
    Gt,
    Gte,
    Limit,
    Live,
    Lt,
    Lte,
    MemLog,
    OffsetLog,
    OutOfBounds,
    QuerySpecError,
    Reverse,
    SeqWrap,
)


def make_log(kind, spark, tmp_path):
    if kind == "mem":
        return MemLog(spark)
    return OffsetLog(spark, str(tmp_path / "offsetlog"))


BACKENDS = ["mem", "offset"]


@pytest.fixture(params=BACKENDS)
def log(request, spark, tmp_path):
    return make_log(request.param, spark, tmp_path)


# The golden table from test/simple.go:126-236 (values [1,2,3] unless noted).
GOLDEN = [
    ("simple", [1, 2, 3], [], [1, 2, 3]),
    ("reverse", [1, 2, 3, 4, 5], [Reverse(True)], [5, 4, 3, 2, 1]),
    ("reverse-false", [1, 2, 3], [Reverse(False)], [1, 2, 3]),
    ("gt0", [1, 2, 3], [Gt(0)], [2, 3]),
    ("gte1", [1, 2, 3], [Gte(1)], [2, 3]),
    ("lt2", [1, 2, 3], [Lt(2)], [1, 2]),
    ("lte1", [1, 2, 3], [Lte(1)], [1, 2]),
    ("limit2", [1, 2, 3], [Limit(2)], [1, 2]),
    # negative limit = UNLIMITED: the reference cursor only EOS's at
    # exactly limit == 0 (offset2/qry.go:105-108), so a negative
    # counter decrements forever; limit 0 is immediately empty
    ("limit-neg", [1, 2, 3], [Limit(-1)], [1, 2, 3]),
    ("limit0", [1, 2, 3], [Limit(0)], []),
    ("reverse-limit2", [1, 2, 3, 4, 5], [Reverse(True), Limit(2)], [5, 4]),
    ("seqwrap", [1, 2, 3], [SeqWrap(True)], [(0, 1), (1, 2), (2, 3)]),
    ("gt-lte", [1, 2, 3, 4, 5], [Gt(0), Lte(3)], [2, 3, 4]),
]


@pytest.mark.parametrize("name,values,specs,expected", GOLDEN, ids=[g[0] for g in GOLDEN])
def test_golden_query_semantics(log, name, values, specs, expected):
    log.append_many(values)
    assert list(log.query(*specs)) == expected


def test_live_reverse_rejected(log):
    # offset2/log.go:418-420: Reverse+Live is invalid.
    with pytest.raises(QuerySpecError):
        list(log.query(Live(True), Reverse(True)))


def test_conflicting_bounds_rejected(log):
    with pytest.raises(QuerySpecError):
        list(log.query(Gt(0), Gte(1)))
    with pytest.raises(QuerySpecError):
        list(log.query(Lt(5), Lte(4)))


def test_get_contract(log):
    # test/get.go:16-65: appended values come back with dense seqs.
    for i, v in enumerate([10, 20, 30]):
        assert log.append(v) == i
    assert log.seq() == 2
    assert [log.get(i) for i in range(3)] == [10, 20, 30]
    with pytest.raises(OutOfBounds):
        log.get(3)
    with pytest.raises(OutOfBounds):
        log.get(-1)


def test_empty_log(log):
    assert log.seq() == SEQ_EMPTY
    assert list(log.query()) == []


def test_query_past_end_is_eos(log):
    log.append_many([1, 2, 3])
    assert list(log.query(Gt(2))) == []


def test_check_consistency(log):
    log.append_many([1, 2, 3, 4])
    log.check_consistency()


def test_changes_observable(log):
    seen = []
    cancel = log.changes().subscribe(seen.append)
    log.append(1)
    log.append(2)
    cancel()
    log.append(3)
    assert seen == [0, 1]


def test_query_df_algebra(log):
    log.append_many([1, 2, 3, 4, 5])
    df = log.query_df(Gt(0), Lte(3))
    rows = sorted((r["seq"], r["value"]) for r in df.collect())
    assert rows == [(1, 2), (2, 3), (3, 4)]


def test_mixed_append_and_append_df_reads(spark, tmp_path):
    """Single appends write depth-1 files; append_df publishes a
    depth-2 directory — the batch reader must discover both (this
    broke partition discovery before recursiveFileLookup)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    log = OffsetLog(
        spark, str(tmp_path / "log"),
        value_type=T.StructType([T.StructField("v", T.LongType())]),
    )
    log.append({"v": 1})
    df2 = spark.createDataFrame([(2,), (3,)], "v long").select(
        F.struct(F.col("v")).alias("value")
    )
    log.append_df(df2)
    log.append({"v": 4})
    rows = sorted((r["seq"], r["value"]["v"]) for r in log.df().collect())
    assert rows == [(0, 1), (1, 2), (2, 3), (3, 4)]
    assert log.get(2) == {"v": 3}
    log.check_consistency()
    # the bulk directory was published atomically via staging+rename
    import os

    assert not os.path.exists(os.path.join(str(tmp_path / "log"), "_staging")) or \
        not os.listdir(os.path.join(str(tmp_path / "log"), "_staging"))


def test_append_df_rejects_codec_logs(spark, tmp_path):
    log = OffsetLog(spark, str(tmp_path / "log"), codec="json")
    df = spark.createDataFrame([("x",)], "value string")
    with pytest.raises(ValueError, match="codec"):
        log.append_df(df)


def test_replace_none_rejected(spark, tmp_path):
    log = OffsetLog(spark, str(tmp_path / "log"), codec="json")
    log.append({"a": 1})
    with pytest.raises(ValueError, match="null"):
        log.replace(0, None)


def test_concurrent_appends_dense_unique_seqs(spark, tmp_path):
    """Many threads appending to one log (the reference serializes
    appends under a mutex, offset2/log.go:431): every append gets a
    UNIQUE seq, the final log is dense, and every value survives."""
    import threading

    from margaret_spark.log import OffsetLog

    log = OffsetLog(spark, str(tmp_path / "clog"))
    seqs: list[int] = []
    lock = threading.Lock()

    def worker(base):
        got = []
        for i in range(10):
            got.append(log.append(base * 100 + i))
        with lock:
            seqs.extend(got)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(seqs) == list(range(40))      # dense, no duplicates
    assert log.seq() == 39
    log.check_consistency()
    vals = sorted(list(log.query()))
    assert len(vals) == 40 and len(set(vals)) == 40


def test_point_get_on_bulk_and_compacted_parts(spark, tmp_path):
    """get() pushes the point filter into the scan: correct on a bulk
    append_df batch DIRECTORY, on flat per-append files, and after
    compaction merges the log into one big file — never materializing
    the whole part (the filtered dataset read prunes by row-group seq
    stats)."""
    from pyspark.sql import types as T

    from margaret_spark.sources import compact_log

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.LongType())
    log.append_many([10, 11, 12])
    log.append_df(
        spark.createDataFrame([(100 + i,) for i in range(50)], "value long"),
        order_by="value",
    )
    for s, want in [(0, 10), (2, 12), (3, 100), (30, 127), (52, 149)]:
        assert log.get(s) == want, s
    compact_log(log)
    log2 = OffsetLog(spark, str(tmp_path / "log"))
    for s, want in [(0, 10), (3, 100), (52, 149)]:
        assert log2.get(s) == want, s


def test_foreign_names_in_data_and_patch_dirs_fail_loudly(spark, tmp_path):
    """A foreign *.parquet in data/ or patch/ fails with the path
    named — a bare int() error (or worse, a bogus parsed seq range
    corrupting recovery) must never happen."""
    import os

    from pyspark.sql import types as T

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.LongType())
    log.append(1)
    # '²'.isdigit() is True, yet int() rejects it
    for name in ("upload.parquet", "part-²-00000000000000000009.parquet"):
        open(os.path.join(log._data_dir, name), "w").close()
        with pytest.raises(ValueError, match="foreign entry in log data dir"):
            OffsetLog(spark, str(tmp_path / "log"))
        os.remove(os.path.join(log._data_dir, name))

    log.null(0)
    for name in ("patch-x.parquet", "patch-².parquet"):
        open(os.path.join(log._patch_dir, name), "w").close()
        with pytest.raises(ValueError, match="foreign entry in log patch dir"):
            OffsetLog(spark, str(tmp_path / "log"))
        os.remove(os.path.join(log._patch_dir, name))


# ---------------------------------------------------------------------------
# The handle's positional index: supersede sweep, row groups, invalidation
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


def _supersede_brute(files):
    """The original rule: drop a file whose range lies inside a strictly
    larger file's range."""
    return sorted(
        (lo, hi, p)
        for lo, hi, p in files
        if not any(
            Lo <= lo and hi <= Hi and (Hi - Lo) > (hi - lo) for Lo, Hi, _ in files
        )
    )


@st.composite
def _file_ranges(draw):
    """Unique (lo, hi) ranges: random ones plus compaction outputs that
    contain a run of them, like a crash between publish and delete."""
    ranges = set(
        draw(
            st.lists(
                st.tuples(st.integers(0, 40), st.integers(0, 12)).map(
                    lambda t: (t[0], t[0] + t[1])
                ),
                max_size=25,
            )
        )
    )
    base = sorted(ranges)
    for _ in range(draw(st.integers(0, 3))):
        if base:
            i = draw(st.integers(0, len(base) - 1))
            j = draw(st.integers(i, len(base) - 1))
            ranges.add((base[i][0], max(hi for _lo, hi in base[i : j + 1])))
    return [(lo, hi, f"part-{lo}-{hi}") for lo, hi in ranges]


@settings(max_examples=300, deadline=None)
@given(files=_file_ranges())
def test_supersede_sweep_matches_brute_force(files):
    from margaret_spark.log import _supersede

    assert _supersede(files) == _supersede_brute(files)


def _row_group_counts(path):
    import glob
    import os

    import pyarrow.parquet as pq

    parts = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    return [pq.ParquetFile(p).metadata.num_row_groups for p in parts]


def test_compact_small_files_invalidates_same_handle(spark, tmp_path):
    from margaret_spark.log import ROW_GROUP_ROWS
    from margaret_spark.sources import compact_small_files

    log = OffsetLog(spark, str(tmp_path / "log"), codec="msgpack")
    want = []
    for b in range(3):
        batch = [{"i": b * 1000 + i} for i in range(1000)]
        log.append_many(batch)
        want.extend(batch)
    for s in (5, 1500, 2999):  # footers of every batch file cached
        assert log.get(s) == want[s]
    assert compact_small_files(log) == 1
    [(lo, hi, path)] = log._data_files()
    assert (lo, hi) == (0, 2999)
    assert _row_group_counts(path) == [-(-3000 // ROW_GROUP_ROWS)]
    for s in (0, 5, 1023, 1024, 1500, 2047, 2048, 2999):
        assert log.get(s) == want[s], s
    log.append({"i": -1})
    assert log.get(3000) == {"i": -1}


def test_compact_log_same_name_rewrite_after_replace(spark, tmp_path):
    """compact_log folds a replace into the log's only file and rewrites
    it under the SAME name: the handle must not read the new file
    through the old footer."""
    import os

    from margaret_spark.sources import compact_log

    log = OffsetLog(spark, str(tmp_path / "log"), codec="json")
    vals = [{"i": i, "pad": "x" * (i % 7)} for i in range(2500)]
    log.append_many(vals)
    [(_lo, _hi, path)] = log._data_files()
    ino = os.stat(path).st_ino
    assert log.get(10) == vals[10] and log.get(2400) == vals[2400]
    log.replace(10, {"i": "ten"})
    assert compact_log(log, target_files=1) == 1
    assert log._data_files() == [(0, 2499, path)]
    assert os.stat(path).st_ino != ino  # rewritten under the same name
    assert not os.listdir(log._patch_dir)  # the replace was folded in
    assert log.get(10) == {"i": "ten"}
    for s in (0, 11, 1023, 1024, 2400, 2499):
        assert log.get(s) == vals[s], s


def test_null_then_compact_log_same_handle(spark, tmp_path):
    from margaret_spark.sources import compact_log

    log = OffsetLog(spark, str(tmp_path / "log"))
    log.append_many(list(range(100)))
    log.append_many(list(range(100, 200)))
    assert log.get(42) == 42
    log.null(42)
    with pytest.raises(ErrNulled):
        log.get(42)
    compact_log(log, target_files=1)
    with pytest.raises(ErrNulled):
        log.get(42)
    assert [log.get(s) for s in (0, 41, 43, 199)] == [0, 41, 43, 199]
    log.replace(43, 4300)  # patches written after the reload are seen
    assert log.get(43) == 4300
    with pytest.raises(ErrNulled):
        log.get(42)


def test_get_on_append_df_parts_with_several_row_groups(spark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append("head")
    n = 6000
    text = F.concat(*[F.sha2(F.concat(F.col("id").cast("string"), F.lit(k)), 256)
                      for k in "abc"])
    df = spark.range(n).repartition(3).select(text.alias("value"))
    log.append_df(df)
    [_head, (lo, hi, path)] = log._data_files()
    assert (lo, hi) == (1, n)
    counts = _row_group_counts(path)
    assert len(counts) > 1 and max(counts) > 1, counts
    want = {r["seq"]: r["value"] for r in log.df().collect()}
    for s in list(range(0, n + 1, 97)) + [1, n]:
        assert log.get(s) == want[s], s


def test_second_reader_across_another_handles_compaction(spark, tmp_path):
    """A reader opened before another handle compacts keeps returning
    correct values, never FileNotFoundError, and sees later appends."""
    from margaret_spark.sources import compact_log, compact_small_files

    path = str(tmp_path / "log")
    writer = OffsetLog(spark, path)
    for b in range(4):
        writer.append_many(list(range(b * 50, b * 50 + 50)))
    reader = OffsetLog(spark, path)
    assert reader.get(10) == 10  # one file's footer cached, others not
    compact_small_files(writer)
    assert [reader.get(s) for s in range(0, 200, 7)] == list(range(0, 200, 7))
    writer.append_many([200, 201])
    compact_log(writer, target_files=2)
    assert reader.get(201) == 201  # past its cached end: reloads
    assert [reader.get(s) for s in range(0, 202, 3)] == list(range(0, 202, 3))
    assert reader.seq() == 201


@pytest.mark.parametrize("fold", ["replace", "null"])
def test_second_reader_across_same_name_rewrite(spark, tmp_path, fold):
    """Another handle patches seq 10 and compacts to one file under the
    SAME name: a reader that cached that file's footer returns the new
    value (or ErrNulled) and never the bytes it read before."""
    from margaret_spark.sources import compact_log

    path = str(tmp_path / "log")
    writer = OffsetLog(spark, path)
    writer.append_many(list(range(300)))
    compact_log(writer, target_files=1)
    reader = OffsetLog(spark, path)
    assert reader.get(10) == 10
    if fold == "replace":
        writer.replace(10, -10)
        assert reader.get(10) == -10  # a patch newer than the reader's
    else:
        writer.null(10)
        with pytest.raises(ErrNulled):
            reader.get(10)
    compact_log(writer, target_files=1)  # rewrites part-0-299 in place
    for h in (reader, OffsetLog(spark, path)):
        if fold == "replace":
            assert h.get(10) == -10
        else:
            with pytest.raises(ErrNulled):
                h.get(10)
        assert [h.get(s) for s in range(11, 300, 17)] == list(range(11, 300, 17))


def test_second_reader_across_bulk_directory_swap(spark, tmp_path):
    """The whole log is one ``append_df`` directory and another handle's
    ``compact_log`` swaps a plain file in under its name: a reader that
    cached the directory's parts reloads instead of failing."""
    from pyspark.sql import functions as F

    from margaret_spark.sources import compact_log

    path = str(tmp_path / "log")
    writer = OffsetLog(spark, path)
    writer.append_df(spark.range(40).select(F.col("id").alias("value")), order_by="value")
    reader = OffsetLog(spark, path)
    assert reader.get(5) == 5
    compact_log(writer, target_files=1)
    assert [reader.get(s) for s in range(40)] == list(range(40))


def test_get_keeps_no_file_open(spark, tmp_path):
    """Reading through more files than the soft open-file limit allows:
    the handle caches footers, not open files."""
    import os
    import resource

    log = OffsetLog(spark, str(tmp_path / "log"))
    for i in range(150):
        log.append(i)
    fds = {int(n) for n in os.listdir("/proc/self/fd")}
    limit = len(fds)
    while limit - len({fd for fd in fds if fd < limit}) < 40:
        limit += 1  # 40 free descriptors below the limit
    soft, hard = resource.getrlimit(resource.RLIMIT_NOFILE)
    resource.setrlimit(resource.RLIMIT_NOFILE, (limit, hard))
    try:
        got = [log.get(s) for s in range(150)]
    finally:
        resource.setrlimit(resource.RLIMIT_NOFILE, (soft, hard))
    assert got == list(range(150))


def test_maybe_compact_policy_check_makes_no_listing(spark, tmp_path, monkeypatch):
    import os

    from margaret_spark.sources import maybe_compact

    log = OffsetLog(spark, str(tmp_path / "log"))
    for i in range(5):
        log.append(i)

    def refuse(*_a, **_k):
        raise AssertionError("maybe_compact touched the file system")

    monkeypatch.setattr(os, "listdir", refuse)
    monkeypatch.setattr(os, "stat", refuse)
    assert maybe_compact(log, max_small_files=6) == 0


def test_concurrent_get_append_compact_one_handle(spark, tmp_path):
    """Threads share one handle's cached index: appenders, readers and a
    compaction interleave (short switch interval, more threads than
    cores); every get returns the value appended at its seq."""
    import random
    import sys
    import threading

    from margaret_spark.sources import compact_small_files

    log = OffsetLog(spark, str(tmp_path / "log"))
    log.append_many(list(range(0, 3000, 3)))
    written = {s: s * 3 for s in range(1000)}
    lock = threading.Lock()
    errors: list = []

    def appender(t):
        for i in range(30):
            v = 10_000 * (t + 1) + i
            s = log.append(v)
            with lock:
                written[s] = v

    def reader(t):
        rng = random.Random(t)
        for _ in range(150):
            with lock:
                s = rng.choice(list(written))
                want = written[s]
            got = log.get(s)
            if got != want:
                errors.append((s, got, want))

    def compactor(_t):
        for _ in range(2):
            compact_small_files(log)

    def guarded(fn, t):
        try:
            fn(t)
        except Exception as e:  # a thread's failure must fail the test
            errors.append(repr(e))

    jobs = [(appender, t) for t in range(3)] + [(reader, t) for t in range(4)]
    threads = [threading.Thread(target=guarded, args=job) for job in jobs + [(compactor, 0)]]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert log.seq() == 1000 + 90 - 1
    assert sorted(written) == list(range(1090))
    assert [log.get(s) for s in range(0, 1090, 11)] == [written[s] for s in range(0, 1090, 11)]
