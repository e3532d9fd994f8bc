"""Live-query and streaming-index tests (reference
``test/concurrent.go:20-107``, ``offset2/test/pumplive.go:151-159``,
and the §3.3 pipeline)."""

import threading
import time

import pytest

from pyspark.sql import functions as F

from margaret_spark import Gt, Live, Limit, OffsetLog, Reverse, SeqWrap, MemLog
from margaret_spark.errors import QuerySpecError
from margaret_spark.indexes import fanout
from margaret_spark.multilog import OffsetMultiLog
from margaret_spark.streaming import LiveTail, stream_build_index, stream_changes


def test_live_tail_catchup_then_follow(spark, tmp_path):
    log = OffsetLog(spark, str(tmp_path / "log"))
    log.append_many([10, 20, 30])

    got = []
    tail = LiveTail(log, SeqWrap(True), Limit(5), poll_timeout=60.0)

    def consume():
        for item in tail:
            got.append(item)

    t = threading.Thread(target=consume, daemon=True)
    t.start()
    deadline = time.time() + 60
    while len(got) < 3 and time.time() < deadline:
        time.sleep(0.1)
    assert got == [(0, 10), (1, 20), (2, 30)]
    # follow phase: appends become visible without restarting the query
    log.append(40)
    log.append(50)
    t.join(timeout=60)
    assert got == [(0, 10), (1, 20), (2, 30), (3, 40), (4, 50)]


def test_live_tail_bounds(spark, tmp_path):
    log = OffsetLog(spark, str(tmp_path / "log"))
    log.append_many([1, 2, 3, 4])
    with LiveTail(log, Gt(1), SeqWrap(True), Limit(2), poll_timeout=60.0) as tail:
        assert list(tail) == [(2, 3), (3, 4)]


def test_live_tail_idle_timeout_keeps_tail_open(spark, tmp_path):
    """An idle log must NOT end the live stream: the reference's live
    query blocks until the next append (offset2/qry.go:126-158). A
    poll_timeout expiry raises TimeoutError with the tail still open,
    and an append made AFTER the timeout is still delivered."""
    log = OffsetLog(spark, str(tmp_path / "log"))
    log.append(10)
    with LiveTail(log, SeqWrap(True), poll_timeout=3.0) as tail:
        assert next(tail) == (0, 10)
        with pytest.raises(TimeoutError, match="still open"):
            next(tail)  # idle: no append within poll_timeout
        log.append(20)
        assert next(tail) == (1, 20)  # tail survived the timeout


def test_live_reverse_rejected_streaming(spark, tmp_path):
    log = OffsetLog(spark, str(tmp_path / "log"))
    with pytest.raises(QuerySpecError):
        LiveTail(log, Reverse(True))


@pytest.mark.parametrize("backend", ["mem", "offset"])
def test_mem_live_concurrent_append(spark, tmp_path, backend):
    # concurrent.go: appender and live reader see identical order
    log = MemLog(spark) if backend == "mem" else OffsetLog(spark, str(tmp_path / "log"))
    got = []

    def consume():
        for v in log.query(Live(True), SeqWrap(True), Limit(10)):
            got.append(v)

    t = threading.Thread(target=consume, daemon=True)
    t.start()
    for i in range(10):
        log.append(i * 11)
        time.sleep(0.01)
    t.join(timeout=30)
    assert got == [(i, i * 11) for i in range(10)]


def test_stream_changes_observable(spark, tmp_path):
    log = OffsetLog(spark, str(tmp_path / "log"))
    log.append_many([1, 2])
    obs, stop = stream_changes(log)
    try:
        deadline = time.time() + 60
        while obs.value() != 1 and time.time() < deadline:
            time.sleep(0.1)
        assert obs.value() == 1
        log.append(3)
        while obs.value() != 2 and time.time() < deadline:
            time.sleep(0.1)
        assert obs.value() == 2
    finally:
        stop()


def test_second_handle_seq_and_live_query_see_appends(spark, tmp_path):
    """A reader handle opened before the writer's appends: its seq()
    and its live query follow the writer (offset2/qry.go:126-158)."""
    path = str(tmp_path / "log")
    writer = OffsetLog(spark, path)
    writer.append_many([1, 2, 3])
    reader = OffsetLog(spark, path)
    writer.append(4)
    assert reader.seq() == 3

    got = []

    def consume():
        got.extend(reader.query(Live(True), SeqWrap(True), Limit(6)))

    t = threading.Thread(target=consume, daemon=True)
    t.start()
    writer.append(5)
    writer.append(6)
    t.join(timeout=120)
    assert not t.is_alive()
    assert got == [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 6)]


def test_stream_changes_across_handles(spark, tmp_path):
    """The observable is fed from handle B; the append goes through A."""
    path = str(tmp_path / "log")
    a = OffsetLog(spark, path)
    a.append_many([1, 2])
    b = OffsetLog(spark, path)
    obs, stop = stream_changes(b)
    try:
        deadline = time.time() + 60
        while obs.value() != 1 and time.time() < deadline:
            time.sleep(0.05)
        assert obs.value() == 1
        a.append(3)
        while obs.value() != 2 and time.time() < deadline:
            time.sleep(0.05)
        assert obs.value() == 2
    finally:
        stop()


def test_live_tail_nulled_and_replaced(spark, tmp_path):
    """LiveTail yields what log.query yields: ErrNulled() for a nulled
    entry and the replacement for a replaced one."""
    from margaret_spark.errors import ErrNulled

    log = OffsetLog(spark, str(tmp_path / "log"))
    log.append_many([1, 2, 3])
    log.null(1)
    log.replace(2, 30)
    want = [(0, 1), (1, ErrNulled()), (2, 30)]
    assert list(log.query(SeqWrap(True), Limit(3))) == want
    with LiveTail(log, SeqWrap(True), Limit(3), poll_timeout=60.0) as tail:
        assert list(tail) == want


def test_live_paths_run_no_streaming_query_and_write_nothing(spark, tmp_path):
    """LiveTail and stream_changes follow through the log's own poll:
    no Structured Streaming query runs and nothing is written under
    the log directory."""
    path = tmp_path / "log"
    log = OffsetLog(spark, str(path))
    log.append_many([1, 2])

    def tree():
        return sorted(str(p.relative_to(path)) for p in path.rglob("*"))

    before_files = tree()
    before_queries = {q.id for q in spark.streams.active}
    with LiveTail(log, SeqWrap(True), poll_timeout=60.0) as tail:
        assert next(tail) == (0, 1)
        obs, stop = stream_changes(log)
        try:
            deadline = time.time() + 60
            while obs.value() != 1 and time.time() < deadline:
                time.sleep(0.05)
            assert obs.value() == 1
            assert {q.id for q in spark.streams.active} == before_queries
            assert tree() == before_files
        finally:
            stop()
    assert tree() == before_files


def test_scd_manifest_publish_failure_keeps_old_versions(spark, tmp_path, monkeypatch):
    """A manifest publish that dies at its rename leaves the published
    manifest as it was, and no visible tmp file in the history dir."""
    import json
    import os

    from margaret_spark.streaming import prune_history, read_history

    hist = tmp_path / "hist"
    hist.mkdir()
    versions = {}
    for b in range(3):
        vdir = str(hist / f"v{b:020d}")
        spark.createDataFrame([(b,)], "k long").write.parquet(vdir)
        versions[str(b)] = vdir
    (hist / "_versions.json").write_text(json.dumps(versions))

    def failing_rename(src, dst):
        raise OSError("simulated crash at publish")

    monkeypatch.setattr(os, "rename", failing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        prune_history(str(hist), keep_last=2)
    monkeypatch.undo()

    assert json.loads((hist / "_versions.json").read_text()) == versions
    assert sorted(n for n in os.listdir(hist) if n.startswith("v")) == sorted(
        os.path.basename(v) for v in versions.values()
    )
    assert [r["k"] for r in read_history(spark, str(hist)).collect()] == [2]
    assert not [n for n in os.listdir(hist) if n.endswith(".tmp") and not n.startswith(".")]


def test_stream_build_index_exactly_once(spark, tmp_path):
    """The §3.3 pipeline with checkpoint-as-cursor: a second run only
    processes newly appended entries (no double counting)."""
    log = OffsetLog(spark, str(tmp_path / "log"))
    log.append_many(list(range(10)))
    mlog = OffsetMultiLog(spark, str(tmp_path / "ml"))
    ckpt = str(tmp_path / "ckpt")

    def apply_batch(batch_df):
        routed = fanout(
            batch_df.withColumn(
                "addrs",
                F.array(F.when(F.col("value") % 2 == 0, "even").otherwise("odd")),
            ),
            F.col("addrs"),
        )
        if routed.take(1):
            mlog.append_df(routed)

    stream_build_index(log, apply_batch, ckpt, available_now=True)
    even = [r["main_seq"] for r in mlog.df().where(F.col("addr") == "even").orderBy("main_seq").collect()]
    assert even == [0, 2, 4, 6, 8]

    # resume: new entries only
    log.append_many([10, 11])
    stream_build_index(log, apply_batch, ckpt, available_now=True)
    even2 = [r["main_seq"] for r in mlog.df().where(F.col("addr") == "even").orderBy("main_seq").collect()]
    odd2 = [r["main_seq"] for r in mlog.df().where(F.col("addr") == "odd").orderBy("main_seq").collect()]
    assert even2 == [0, 2, 4, 6, 8, 10]
    assert odd2 == [1, 3, 5, 7, 9, 11]


def test_stream_latest_index_emits_only_changes(spark, tmp_path):
    """applyInPandasWithState SetterIndex: per-key latest in the state
    store; each batch emits only changed keys, and a resumed run does
    not re-emit already-indexed state."""
    from margaret_spark.streaming import stream_latest_index

    log = OffsetLog(spark, str(tmp_path / "log"))
    log.append_many([100, 201, 102, 203, 104])  # key = value % 2
    updates = []
    ckpt = str(tmp_path / "ck")

    stream_latest_index(
        log, F.col("value") % 2, updates.append, ckpt, available_now=True
    )
    latest = {}
    for pdf in updates:
        for _, r in pdf.iterrows():
            latest[r["addr"]] = (r["upd_seq"], r["value"])
    assert latest == {"0": (4, "104"), "1": (3, "203")}

    # resume with new appends: only the changed key is emitted
    updates.clear()
    log.append(305)  # key "1", seq 5
    stream_latest_index(
        log, F.col("value") % 2, updates.append, ckpt, available_now=True
    )
    emitted = {r["addr"]: (r["upd_seq"], r["value"]) for pdf in updates for _, r in pdf.iterrows()}
    assert emitted == {"1": (5, "305")}


def test_windowed_agg_batch_stream_parity(spark, tmp_path):
    """The same windowed_agg plan runs batch and streaming; an
    availableNow pass over the files must equal the batch answer."""
    import datetime as dt
    from margaret_spark.streaming import windowed_agg

    rows = [
        (
            i,
            dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i * 7),
            "a" if i % 2 else "b",
            float(i),
        )
        for i in range(10)
    ]
    schema = "event_id long, ts timestamp, event_type string, value double"
    src_dir = str(tmp_path / "ev")
    spark.createDataFrame(rows, schema).write.parquet(src_dir)

    batch = windowed_agg(
        spark.read.parquet(src_dir), "ts", keys=["event_type"], window="15 minutes"
    )
    expect = {
        (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
        for r in batch.collect()
    }

    got = {}

    def on_batch(bdf, bid):
        for r in bdf.collect():
            got[(r["window_start"], r["event_type"])] = (r["n"], r["sum_value"])

    sdf = spark.readStream.schema(schema).parquet(src_dir)
    q = (
        windowed_agg(sdf, "ts", keys=["event_type"], window="15 minutes")
        .writeStream.foreachBatch(on_batch)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "wck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert got == expect and len(expect) > 0


def test_watermark_drops_late_data(spark, tmp_path):
    """Watermark semantics pinned deterministically: three
    micro-batches (one file each, arrival order forced via mtimes +
    maxFilesPerTrigger=1). The watermark a batch uses derives from
    data up to the PREVIOUS batch (one-batch propagation lag), so the
    late event arrives two batches after the data that outran it —
    append mode must have finalized its window and drop it, while a
    generous watermark (update mode) still counts it."""
    import datetime as dt
    import os
    import time

    from margaret_spark.streaming import windowed_agg

    base = dt.datetime(2024, 1, 1)
    schema = "event_id long, ts timestamp, event_type string"

    def run(watermark, mode):
        tag = f"{watermark.replace(' ', '_')}_{mode}"
        src = str(tmp_path / f"src_{tag}")
        os.makedirs(src)
        spark.createDataFrame(
            [(0, base, "a"), (1, base + dt.timedelta(hours=10), "a")], schema
        ).coalesce(1).write.parquet(src + "/f1")
        spark.createDataFrame(
            [(2, base + dt.timedelta(hours=11), "a")], schema
        ).coalesce(1).write.parquet(src + "/f2")
        # LATE event back at 00:30, plus an on-time one at 20h
        spark.createDataFrame(
            [(3, base + dt.timedelta(minutes=30), "a"),
             (4, base + dt.timedelta(hours=20), "a")], schema
        ).coalesce(1).write.parquet(src + "/f3")
        now = time.time()
        for sub, when in (("f1", now - 120), ("f2", now - 60), ("f3", now)):
            d = os.path.join(src, sub)
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (when, when))
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        agg = windowed_agg(sdf, "ts", keys=["event_type"], window="1 hour",
                           watermark=watermark)
        acc = {}

        def on_batch(bdf, bid):
            for r in bdf.collect():
                acc[r["window_start"]] = r["n"]

        q = (
            agg.writeStream.foreachBatch(on_batch)
            .outputMode(mode)
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return acc

    tight = run("1 hour", "append")
    # hour-0 window finalized with ONLY event 0 — the late event 3 was
    # dropped (window end 01:00 <= the 10h-derived watermark when it
    # arrived); hour-20's window is still open, so append never emits it
    assert tight[base] == 1
    assert base + dt.timedelta(hours=20) not in tight
    # generous watermark + update mode: the late event still counts
    loose = run("24 hours", "update")
    assert loose[base] == 2


def test_session_windows_batch(spark):
    import datetime as dt
    from margaret_spark.streaming import session_windows

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1.0),
        (1, base + dt.timedelta(minutes=10), 2.0),   # same session (gap 30m)
        (1, base + dt.timedelta(minutes=60), 4.0),   # new session
        (2, base, 8.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["sum_value"])
        for r in session_windows(df, "ts", ["user_id"], gap="30 minutes").collect()
    }
    assert got[(1, base)] == (2, 3.0)
    assert got[(1, base + dt.timedelta(minutes=60))] == (1, 4.0)
    assert got[(2, base)] == (1, 8.0)


def test_stream_sessions_equals_batch_sessionization(spark):
    """The streaming session_window twin must reproduce the batch
    gap-sessionization exactly (same session count and per-session
    event totals) at sf0.001."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    stream_rows = entry.q_stream_events_sessions(spark, sf).collect()
    batch = entry.q_events_sessions(spark, sf).collect()
    assert len(stream_rows) == len(batch)
    assert sorted((r.user_id, r.start_us, r.n_events) for r in stream_rows) == sorted(
        (r.user_id, r.start_ts, r.n_events) for r in batch
    )


def test_stream_dedup_exact_first_seen_wins(spark, tmp_path):
    """Stateful streaming dedup: first arrival of each content keeps;
    re-arrivals (same or later batches, even after resume) emit
    nothing."""
    from pyspark.sql import types as T

    from margaret_spark.streaming import stream_dedup_exact

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append_many(["aa", "bb", "aa", "cc", "bb"])  # seqs 0..4
    keepers = []
    ckpt = str(tmp_path / "ck")

    stream_dedup_exact(log, F.col("value"), keepers.append, ckpt, available_now=True)
    got = {r["keep_seq"] for pdf in keepers for _, r in pdf.iterrows()}
    assert got == {0, 1, 3}

    # resume: one new content, one re-arrival of old content
    keepers.clear()
    log.append_many(["aa", "dd"])  # seqs 5, 6
    stream_dedup_exact(log, F.col("value"), keepers.append, ckpt, available_now=True)
    got2 = {r["keep_seq"] for pdf in keepers for _, r in pdf.iterrows()}
    assert got2 == {6}


def test_stream_scd2_multi_batch_history(spark, tmp_path):
    """Versioned streaming ingest: batches chain validity intervals
    exactly like sequential batch merges; within a batch only each
    key's LATEST change applies; the manifest always points at the
    newest published version."""
    from pyspark.sql import types as T

    from margaret_spark.functions.diff import scd2_merge
    from margaret_spark.streaming import read_history, stream_scd2

    schema = "k long, v string"
    initial = spark.createDataFrame(
        [(1, "a", 0, None)], "k long, v string, valid_from int, valid_to int"
    )

    def prepare(b):
        return b.select(
            F.from_json(F.col("value"), schema).alias("c"), "seq"
        ).select("c.*", "seq")

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    hist, ck = str(tmp_path / "hist"), str(tmp_path / "ck")
    # batch 1 (one file): k=1 changes twice in-batch (latest wins), k=2 new
    log.append_many(
        ['{"k":1,"v":"mid"}', '{"k":1,"v":"a2"}', '{"k":2,"v":"b"}']
    )
    stream_scd2(
        log, prepare, "k", initial, hist, ck,
        version_of=lambda b: b + 1, available_now=True,
    )
    h1 = {
        (r["k"], r["v"]): (r["valid_from"], r["valid_to"])
        for r in read_history(spark, hist).collect()
    }
    assert h1 == {
        (1, "a"): (0, 1),
        (1, "a2"): (1, None),   # latest-in-batch, not "mid"
        (2, "b"): (1, None),
    }
    # batch 2 (resume): k=2 changes — intervals chain at version 2
    log.append('{"k":2,"v":"b2"}')
    stream_scd2(
        log, prepare, "k", initial, hist, ck,
        version_of=lambda b: b + 1, available_now=True,
    )
    h2 = read_history(spark, hist)
    got = {
        (r["k"], r["v"]): (r["valid_from"], r["valid_to"])
        for r in h2.collect()
    }
    assert got[(2, "b")] == (1, 2) and got[(2, "b2")] == (2, None)
    assert got[(1, "a2")] == (1, None)
    # equals the sequential batch-merge construction
    m1 = scd2_merge(
        initial,
        spark.createDataFrame([(1, "a2"), (2, "b")], schema), "k", 1,
    )
    m2 = scd2_merge(m1, spark.createDataFrame([(2, "b2")], schema), "k", 2)
    want = {
        (r["k"], r["v"]): (r["valid_from"], r["valid_to"]) for r in m2.collect()
    }
    assert got == want

    # batch 3: a third version so prune has something to remove under
    # the keep_last >= 2 floor (crash replay needs newest-but-one)
    log.append('{"k":1,"v":"a3"}')
    stream_scd2(
        log, prepare, "k", initial, hist, ck,
        version_of=lambda b: b + 1, available_now=True,
    )
    m3 = scd2_merge(m2, spark.createDataFrame([(1, "a3")], schema), "k", 3)
    want3 = {
        (r["k"], r["v"]): (r["valid_from"], r["valid_to"]) for r in m3.collect()
    }

    # prune: the newest TWO versions survive; history still readable
    from margaret_spark.streaming import prune_history
    import os

    assert prune_history(hist, keep_last=2) == 1
    assert len([d for d in os.listdir(hist) if d.startswith("v")]) == 2
    still = {
        (r["k"], r["v"]): (r["valid_from"], r["valid_to"])
        for r in read_history(spark, hist).collect()
    }
    assert still == want3
    assert prune_history(hist, keep_last=2) == 0  # idempotent
    for bad in (0, 1):
        with pytest.raises(ValueError):
            prune_history(hist, keep_last=bad)


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """The at-ingest scorer reproduces the batch ngram_contamination
    exactly — counts AND the pround'ed ratio — including docs with no
    shingles (fewer than n tokens) and zero-match docs."""
    from pyspark.sql import types as T

    from margaret_spark.operators.dedup import ngram_contamination
    from margaret_spark.streaming import stream_decontaminate

    eval_rows = [(100, "the quick brown fox jumps"), (101, "pack my box with jugs")]
    corpus_rows = [
        (0, "the quick brown fox leaps high today"),   # partial overlap
        (1, "completely unrelated text about spark"),  # zero matches
        (2, "too short"),                              # < 3 tokens: no shingles
        (3, "pack my box with jugs and more jugs"),    # heavy overlap
    ]
    eval_df = spark.createDataFrame(eval_rows, "doc_id long, text string")
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")

    want = {
        r["doc_id"]: (r["n_shingles"], r["n_matched"], r["contamination"])
        for r in ngram_contamination(
            corpus, eval_df, "doc_id", "text", mode="word", n=3
        ).collect()
    }

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    for _id, text in corpus_rows:  # seq == doc_id
        log.append(text)
    sink = str(tmp_path / "sink")
    stream_decontaminate(
        log, F.col("value"), eval_df, "text", sink, str(tmp_path / "ck"),
        mode="word", n=3, available_now=True,
    )
    got = {
        r["seq"]: (r["n_shingles"], r["n_matched"], r["contamination"])
        for r in spark.read.parquet(sink).collect()
    }
    assert got == want
    assert got[2] == (0, 0, 0.0) and got[1][1] == 0 and got[3][1] > 0


def test_stream_dedup_window_horizon_and_eviction(spark, tmp_path):
    """Bounded-horizon dedup: the SLIDING rule (suppressed re-arrivals
    still advance the horizon), resume across runs, and physical
    state eviction via the processing-time TTL."""
    from pyspark.sql import types as T

    from margaret_spark.streaming import stream_dedup_window

    def drain(log, ckpt, **kw):
        got = []
        stream_dedup_window(
            log, F.col("value"), got.append, ckpt, available_now=True, **kw
        )
        return {int(r["keep_seq"]) for pdf in got for _, r in pdf.iterrows()}

    # gaps: a at 0,2 (gap 2) -> kept at ttl 1, suppressed at ttl 2
    log = OffsetLog(spark, str(tmp_path / "l1"), value_type=T.StringType())
    log.append_many(["a", "b", "a", "c"])
    assert drain(log, str(tmp_path / "c1"), ttl_seqs=1) == {0, 1, 2, 3}
    log2 = OffsetLog(spark, str(tmp_path / "l2"), value_type=T.StringType())
    log2.append_many(["a", "b", "a", "c"])
    ck2 = str(tmp_path / "c2")
    assert drain(log2, ck2, ttl_seqs=2) == {0, 1, 3}

    # resume: a re-arrives at seq 4; horizon slid to the SUPPRESSED
    # occurrence (seq 2), so 4-2=2 <= ttl -> still suppressed; then
    # seq 7 with 7-4=3 > ttl -> re-admitted
    log2.append_many(["a", "d"])  # seqs 4, 5
    assert drain(log2, ck2, ttl_seqs=2) == {5}
    log2.append_many(["e", "a"])  # seqs 6, 7
    assert drain(log2, ck2, ttl_seqs=2) == {6, 7}

    with pytest.raises(ValueError):
        stream_dedup_window(
            log2, F.col("value"), lambda p: None, str(tmp_path / "cx"), ttl_seqs=0
        )

    # state_ttl + availableNow is rejected (the drain never terminates
    # while timeouts are armed — measured)
    with pytest.raises(ValueError):
        stream_dedup_window(
            log2, F.col("value"), lambda p: None, str(tmp_path / "cy"),
            ttl_seqs=10, state_ttl=1000,
        )

    # physical eviction (continuous trigger): ttl_seqs large (would
    # suppress forever), but a 1s processing-time TTL evicts the idle
    # key — the re-arrival is then re-admitted (state forgotten)
    import time

    log3 = OffsetLog(spark, str(tmp_path / "l3"), value_type=T.StringType())
    log3.append("x")
    got: list = []
    q = stream_dedup_window(
        log3, F.col("value"), got.append, str(tmp_path / "c3"),
        ttl_seqs=1000, state_ttl=1000, available_now=False,
    )

    def keeps():
        return {int(r["keep_seq"]) for pdf in got for _, r in pdf.iterrows()}

    try:
        deadline = time.time() + 30
        while keeps() != {0} and time.time() < deadline:
            time.sleep(0.3)
        assert keeps() == {0}
        time.sleep(2.5)  # > state_ttl: x's state is expiry-eligible
        log3.append("y")  # the batch carrying y also fires x's timeout
        while keeps() != {0, 1} and time.time() < deadline:
            time.sleep(0.3)
        assert keeps() == {0, 1}
        time.sleep(1.0)  # let the eviction batch complete
        log3.append("x")  # within ttl_seqs of seq 0 — but state is gone
        while keeps() != {0, 1, 2} and time.time() < deadline:
            time.sleep(0.3)
        assert keeps() == {0, 1, 2}, "evicted key was not re-admitted"
    finally:
        q.stop()


def test_stream_scrub_pii_matches_batch(spark, tmp_path):
    """The at-ingest scrub's parquet sink is byte-identical to the
    batch pii_redact over the same rows, and resume scrubs only the
    NEW appends (append-mode sink, exactly-once)."""
    from pyspark.sql import types as T

    from margaret_spark.operators.pii import pii_redact
    from margaret_spark.streaming import stream_scrub_pii

    texts = [
        "mail jane.doe+x@sub.example.org now",
        "server at 10.0.254.3 port 80",
        "call +1 (555) 123-4567 today",
        "clean text with no pii at all",
    ]
    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append_many(texts)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")

    stream_scrub_pii(log, F.col("value"), sink, ckpt, available_now=True)
    got = {
        r["seq"]: r["redacted"] for r in spark.read.parquet(sink).collect()
    }
    batch_df = spark.createDataFrame(
        list(enumerate(texts)), "seq long, text string"
    )
    want = {
        r["seq"]: r["redacted"]
        for r in pii_redact(batch_df, "seq", "text").collect()
    }
    assert got == want
    assert "[EMAIL]" in got[0] and "jane" not in got[0]
    assert "[IP]" in got[1] and "[PHONE]" in got[2]
    assert got[3] == texts[3]

    # resume: only the new append lands in the sink (no reprocessing)
    log.append("second email bob@example.com")
    stream_scrub_pii(log, F.col("value"), sink, ckpt, available_now=True)
    after = {
        r["seq"]: r["redacted"] for r in spark.read.parquet(sink).collect()
    }
    assert len(after) == 5
    assert after[4] == "second email [EMAIL]"
    assert {k: v for k, v in after.items() if k < 4} == want


def test_minhash_sigs_kernel_matches_jvm(spark):
    """The numpy xxhash64 kernel (functions/xxh.py) must be bit-exact
    with the JVM expression form it replaced in the streaming MinHash
    banding chain: per-permutation signed mins of xxhash64(h, i) over
    the element-hash array — including negative hashes, single-element
    arrays, and a row mix with NULL/empty arrays."""
    import random

    from pyspark.sql import functions as F

    from margaret_spark.functions.xxh import with_minhash_sigs

    rng = random.Random(11)
    rows = []
    for i in range(50):
        n = rng.choice([0, 1, 2, 7, 40])
        rows.append(
            (i, [rng.randint(-(2**63), 2**63 - 1) for _ in range(n)] or None)
        )
    df = spark.createDataFrame(rows, "id long, h array<long>").where(
        F.size("h") > 0
    )
    k = 32
    jvm = [
        F.array_min(
            F.transform(F.col("h"), lambda x: F.xxhash64(x, F.lit(i)))
        ).alias(f"m{i}")
        for i in range(k)
    ]
    want = {
        r["id"]: [r[f"m{i}"] for i in range(k)]
        for r in df.select("id", *jvm).collect()
    }
    got = {
        r["id"]: list(r["sig"])
        for r in with_minhash_sigs(
            df.select("id", "h"), "h", "sig", k
        ).collect()
    }
    assert got == want


def test_stream_dedup_minhash_collides_near_dups(spark, tmp_path):
    """Streaming LSH dedup: a near-duplicate arriving later collides
    with the first doc's banded buckets; unrelated text claims its own
    buckets silently. Buckets agree with the batch operator exactly."""
    from pyspark.sql import types as T

    from margaret_spark.streaming import stream_dedup_minhash

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append_many(
        [
            "the quick brown fox jumps over the lazy dog",
            "a completely different sentence with other words entirely",
            "the quick brown fox jumps over the lazy dog",  # exact dup of 0
        ]
    )
    cands = []
    ckpt = str(tmp_path / "ck")
    stream_dedup_minhash(
        log, F.col("value"), cands.append, ckpt, num_hashes=16, bands=4,
        available_now=True,
    )
    got = {
        (int(r["dup_seq"]), int(r["keep_seq"]))
        for pdf in cands for _, r in pdf.iterrows()
    }
    # the exact dup collides in EVERY band with keeper seq 0; no
    # cross-content collisions at 4-row bands
    assert got == {(2, 0)}
    n_bands_hit = sum(
        1 for pdf in cands for _, r in pdf.iterrows() if int(r["dup_seq"]) == 2
    )
    assert n_bands_hit == 4

    # resume: a near-dup (one word changed) still shares ≥1 band; brand
    # new content emits nothing
    cands.clear()
    log.append_many(
        [
            "the quick brown fox jumps over the lazy cat",  # near-dup
            "totally unrelated fresh material never seen before at all",
        ]
    )
    stream_dedup_minhash(
        log, F.col("value"), cands.append, ckpt, num_hashes=16, bands=4,
        available_now=True,
    )
    got2 = {
        (int(r["dup_seq"]), int(r["keep_seq"]))
        for pdf in cands for _, r in pdf.iterrows()
    }
    assert all(d == 3 for d, _ in got2)  # only the near-dup collides
    assert len(got2) >= 1 and all(k == 0 for _, k in got2)


def test_stream_asof_join_state_across_batches(spark, tmp_path):
    """The stateful as-of operator's right-side history must persist
    in the state store across micro-batches: a left row in batch 2
    matches a right row that arrived in batch 1."""
    import os
    import time

    import pandas as pd

    from margaret_spark.streaming.stateful import stream_asof_join

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "k long, side string, tsu long"
    # batch 1: rights at 10 and 20 for key 1; a left at 15 (matches 10)
    spark.createDataFrame(
        [(1, "R", 10), (1, "R", 20), (1, "L", 15)], schema
    ).coalesce(1).write.parquet(src + "/f1")
    # batch 2: lefts at 25 (matches 20, from batch-1 state) and 5 (no match)
    spark.createDataFrame(
        [(1, "L", 25), (1, "L", 5), (2, "L", 99)], schema
    ).coalesce(1).write.parquet(src + "/f2")
    now = time.time()
    for sub, when in (("f1", now - 60), ("f2", now)):
        d = os.path.join(src, sub)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (when, when))
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    got = {}

    def on_rows(pdf):
        for r in pdf.itertuples(index=False):
            got[(int(r.k), int(r.tsu))] = (
                None if pd.isna(r.tsu_matched) else int(r.tsu_matched)
            )

    stream_asof_join(sdf, str(tmp_path / "ck"), on_rows)
    assert got == {
        (1, 15): 10,
        (1, 25): 20,   # right arrived a batch earlier — via state
        (1, 5): None,
        (2, 99): None,  # key with no right history at all
    }


def test_stream_token_budget_state_across_batches(spark, tmp_path):
    """The per-stratum used-token counter must persist across
    micro-batches: a stratum exhausted in batch 1 admits nothing in
    batch 2, a fresh stratum starts its own budget, and the admitted
    prefix may overshoot by at most its last document."""
    import os
    import time

    from margaret_spark.streaming import stream_token_budget

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "stratum string, seq long, n_tokens long"
    spark.createDataFrame(
        [("s", 0, 300), ("s", 1, 300)], schema
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [("s", 2, 10), ("t", 3, 450), ("t", 4, 100), ("t", 5, 1)], schema
    ).coalesce(1).write.parquet(src + "/f2")
    now = time.time()
    for sub, when in (("f1", now - 60), ("f2", now)):
        d = os.path.join(src, sub)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (when, when))
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    kept: list = []
    stream_token_budget(sdf, 500, str(tmp_path / "ck"), kept.append)
    got = {
        (r.stratum, int(r.seq)): (int(r.n_tokens), int(r.cum_tokens))
        for pdf in kept
        for r in pdf.itertuples(index=False)
    }
    assert got == {
        ("s", 0): (300, 300),
        ("s", 1): (300, 600),   # overshoot by the last admitted doc
        # ("s", 2) dropped: batch-1 state says the budget is spent
        ("t", 3): (450, 450),
        ("t", 4): (100, 550),   # 450 < 500 still admits; then closed
        # ("t", 5) dropped
    }
    import pytest as _pytest

    with _pytest.raises(ValueError):
        stream_token_budget(sdf, -1, str(tmp_path / "ck2"), kept.append)


def test_stream_topk_state_across_batches(spark, tmp_path):
    """The bounded per-key top-k heap must persist across
    micro-batches: batch-2 arrivals merge against batch-1 state, an
    unchanged key emits nothing new, and the final per-key emission
    equals the batch window ranking over ALL rows."""
    import os
    import time

    from margaret_spark.streaming.stateful import stream_topk

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "k string, item long, score double"
    # batch 1: key a gets 3 items; key b gets 2
    spark.createDataFrame(
        [("a", 1, 5.0), ("a", 2, 9.0), ("a", 3, 7.0), ("b", 10, 1.0), ("b", 11, 2.0)],
        schema,
    ).coalesce(1).write.parquet(src + "/f1")
    # batch 2: key a gets a new #1 and a non-qualifier; b unchanged
    # (nothing beats its state), ties on score break by smaller item
    spark.createDataFrame(
        [("a", 4, 11.0), ("a", 5, 0.5), ("a", 6, 7.0), ("b", 12, 0.1)],
        schema,
    ).coalesce(1).write.parquet(src + "/f2")
    now = time.time()
    for sub, when in (("f1", now - 60), ("f2", now)):
        d = os.path.join(src, sub)
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (when, when))
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    emissions: list = []  # (batch_id, rows)

    def on_batch(bdf, bid):
        rows = [
            (r["k"], int(r["item"]), float(r["score"]), int(r["rank"]))
            for r in bdf.collect()
        ]
        if rows:
            emissions.append((bid, sorted(rows)))

    stream_topk(sdf, 2, str(tmp_path / "ck"), on_batch)
    per_key_final: dict = {}
    for _bid, rows in emissions:
        for k in {r[0] for r in rows}:
            per_key_final[k] = [r for r in rows if r[0] == k]
    assert per_key_final["a"] == [
        ("a", 2, 9.0, 2),
        ("a", 4, 11.0, 1),
    ]
    assert per_key_final["b"] == [("b", 10, 1.0, 2), ("b", 11, 2.0, 1)]
    # key b must NOT have re-emitted in batch 2: item 12 (0.1) does
    # not displace its state [(2.0, 11), (1.0, 10)], so only batch 1
    # carries a b emission
    b_batches = [bid for bid, rows in emissions if any(r[0] == "b" for r in rows)]
    assert len(b_batches) == 1


def test_stream_decontaminate_spans_matches_batch(spark, tmp_path):
    """The at-ingest span cutter reproduces the batch
    cut_contaminated_spans exactly — clean text, token counts, NULL
    text, and spanning-merge of adjacent hits."""
    from pyspark.sql import types as T

    from margaret_spark.operators.dedup import cut_contaminated_spans
    from margaret_spark.streaming import stream_decontaminate_spans

    eval_rows = [(100, "secret bench question one two")]
    corpus_rows = [
        (0, "intro secret bench question one two outro tail"),  # mid cut
        (1, "clean text with no overlap at all"),
        (2, None),                                              # NULL text
        (3, "secret bench question one two"),                   # fully cut
    ]
    eval_df = spark.createDataFrame(eval_rows, "doc_id long, text string")
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")

    want = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["removed_tokens"])
        for r in cut_contaminated_spans(
            corpus, eval_df, "doc_id", "text", n=3
        ).collect()
    }

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    for _id, text in corpus_rows:  # seq == doc_id
        log.append(text)
    sink = str(tmp_path / "sink")
    stream_decontaminate_spans(
        log, F.col("value"), eval_df, "text", sink, str(tmp_path / "ck"),
        n=3, available_now=True,
    )
    got = {
        r["seq"]: (r["clean_text"], r["n_tokens"], r["removed_tokens"])
        for r in spark.read.parquet(sink).collect()
    }
    assert got == want
    assert got[0] == ("intro outro tail", 8, 5)
    assert got[2] == ("", 0, 0)
    assert got[3] == ("", 5, 5)


def test_stream_web_filter_matches_batch_and_resumes(spark, tmp_path):
    """The at-ingest web filter's sink equals the batch
    canonicalize+blocklist over the same rows; resume processes only
    new appends."""
    from pyspark.sql import types as T

    from margaret_spark.operators.web import (
        canonicalize_url,
        filter_blocked_domains,
        registered_domain,
        url_host,
    )
    from margaret_spark.streaming import stream_web_filter

    urls = [
        "HTTPS://Example.COM:443/a?utm_x=1&b=2",
        "http://tracker.ads.net/b",
        "https://news.example.com/c#frag",
        "http://cdn.media.io:8080/d",
    ]
    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append_many(urls)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")
    blocked = ["ads.net"]

    stream_web_filter(log, F.col("value"), blocked, sink, ckpt, available_now=True)
    got = {
        r["seq"]: (r["url_canonical"], r["url_domain"])
        for r in spark.read.parquet(sink).collect()
    }
    batch = spark.createDataFrame(list(enumerate(urls)), "seq long, url string")
    kept = filter_blocked_domains(batch, "url", blocked)
    want = {
        r["seq"]: (r["c"], r["d"])
        for r in kept.select(
            "seq",
            canonicalize_url(F.col("url")).alias("c"),
            registered_domain(url_host(F.col("url"))).alias("d"),
        ).collect()
    }
    assert got == want
    assert 1 not in got  # blocklisted domain never lands in the sink
    assert got[0][0] == "https://example.com/a?b=2"

    log.append("https://blog.example.co.uk/e")
    stream_web_filter(log, F.col("value"), blocked, sink, ckpt, available_now=True)
    after = {r["seq"] for r in spark.read.parquet(sink).collect()}
    assert after == {0, 2, 3, 4}


def test_stream_cms_merged_equals_batch_sketch(spark, tmp_path):
    """Multi-batch streaming sketch (maxFilesPerTrigger=1 over spaced
    appends) re-sums to exactly the batch sketch of the whole log."""
    from pyspark.sql import types as T

    from margaret_spark.functions.cms import cms_sketch
    from margaret_spark.streaming import read_cms, stream_cms
    from tests.test_streaming_chaos import _space_log_file_mtimes

    keys = ["a", "b", "a", "c", "a", "b"]
    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    for k in keys:
        log.append(k)
    _space_log_file_mtimes(log)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")
    stream_cms(
        log, F.col("value"), sink, ckpt, depth=3, width=8,
        available_now=True, max_files_per_trigger=2,
    )
    import os as _os

    n_batches = len(
        [d for d in _os.listdir(sink) if d.startswith("batch=")]
    )
    assert n_batches >= 2  # genuinely multi-batch
    merged = {
        (r["row"], r["bucket"]): r["cnt"] for r in read_cms(spark, sink).collect()
    }
    batch_df = spark.createDataFrame([(k,) for k in keys], "k string")
    want = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_sketch(batch_df, "k", depth=3, width=8).collect()
    }
    assert merged == want


def test_stream_cms_kill_mid_batch_restart(spark, tmp_path, monkeypatch):
    """Chaos: the sketch write bombs on the second micro-batch; the
    restart replays it into the same batch=<id> partition (overwrite),
    so the merged sketch still equals the clean batch sketch — no
    double counting."""
    from pyspark.sql import types as T

    import margaret_spark.streaming.cms as cms_mod
    from margaret_spark.functions.cms import cms_sketch
    from margaret_spark.streaming import read_cms, stream_cms
    from tests.test_streaming_chaos import _space_log_file_mtimes

    keys = ["a", "b", "a", "c"]
    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    for k in keys:
        log.append(k)
    _space_log_file_mtimes(log)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")

    real = cms_mod.cms_sketch
    counter = {"n": 0}

    def bombed(df, key_col, depth, width):
        counter["n"] += 1
        if counter["n"] == 2:
            raise RuntimeError("chaos kill mid-stream")
        return real(df, key_col, depth, width)

    monkeypatch.setattr(cms_mod, "cms_sketch", bombed)
    import pytest as _pytest

    with _pytest.raises(Exception, match="chaos kill"):
        stream_cms(
            log, F.col("value"), sink, ckpt, depth=3, width=8,
            available_now=True, max_files_per_trigger=2,
        )
    monkeypatch.setattr(cms_mod, "cms_sketch", real)
    stream_cms(
        log, F.col("value"), sink, ckpt, depth=3, width=8,
        available_now=True, max_files_per_trigger=2,
    )
    merged = {
        (r["row"], r["bucket"]): r["cnt"] for r in read_cms(spark, sink).collect()
    }
    batch_df = spark.createDataFrame([(k,) for k in keys], "k string")
    want = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_sketch(batch_df, "k", depth=3, width=8).collect()
    }
    assert merged == want


def test_read_cms_empty_sink_is_empty_sketch(spark, tmp_path):
    """A stream that produced zero batches is a valid EMPTY sketch —
    read_cms must not die on parquet schema inference (missing dir and
    existing-but-batchless dir both count)."""
    from margaret_spark.streaming import read_cms

    missing = str(tmp_path / "never_written")
    assert read_cms(spark, missing).count() == 0
    empty = tmp_path / "sink_no_batches"
    empty.mkdir()
    df = read_cms(spark, str(empty))
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["row", "bucket", "cnt"]


def test_keeper_sink_equals_callback_delivery(spark, tmp_path):
    """The executor-side parquet sink and the driver callback are two
    deliveries of the SAME keeper stream: run stream_dedup_exact with
    both active and assert the read-back sink equals the callback
    accumulation row for row."""
    from pyspark.sql import types as T

    from margaret_spark.streaming import read_keeper_sink, stream_dedup_exact

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append_many(["a", "b", "a", "c", "b", "a"])
    got_cb = []
    sink = str(tmp_path / "sink")
    stream_dedup_exact(
        log, F.col("value"), got_cb.append, str(tmp_path / "ck"),
        sink_dir=sink,
    )
    from_cb = {
        (r["content_hash"], r["keep_seq"])
        for pdf in got_cb
        for _, r in pdf.iterrows()
    }
    from_sink = {
        (r["content_hash"], r["keep_seq"])
        for r in read_keeper_sink(
            spark, sink, "content_hash string, keep_seq long"
        ).collect()
    }
    assert from_sink == from_cb
    assert {s for _h, s in from_sink} == {0, 1, 3}


def test_latest_index_sink_reduces_updates_to_current(spark, tmp_path):
    """stream_latest_index's sink carries UPDATE semantics (a key
    re-emits on change); read_latest_index_sink must reduce the batch
    partials to the CURRENT index — newest emission per addr."""
    from margaret_spark.streaming import (
        read_latest_index_sink,
        stream_latest_index,
    )
    from tests.test_streaming_chaos import _space_log_file_mtimes

    log = OffsetLog(spark, str(tmp_path / "log"))
    log.append_many([100, 201])  # key = value % 2
    log.append_many([102, 203])  # both keys change
    log.append_many([304])       # key 0 changes again
    _space_log_file_mtimes(log)
    sink = str(tmp_path / "sink")
    stream_latest_index(
        log, F.col("value") % 2, None, str(tmp_path / "ck"),
        sink_dir=sink, available_now=True, max_files_per_trigger=1,
    )
    import os as _os

    assert len([d for d in _os.listdir(sink) if d.startswith("batch=")]) >= 2
    cur = {
        r["addr"]: (r["upd_seq"], r["value"])
        for r in read_latest_index_sink(spark, sink).collect()
    }
    assert cur == {"0": (4, "304"), "1": (3, "203")}


def test_delivery_requires_a_path(spark, tmp_path):
    """No sink_dir AND no callback is a wiring bug — rejected up
    front, not a silently discarded output stream."""
    import pytest as _pytest

    from pyspark.sql import types as T

    from margaret_spark.streaming import stream_dedup_exact

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append("x")
    with _pytest.raises(ValueError, match="delivery"):
        stream_dedup_exact(log, F.col("value"), None, str(tmp_path / "ck"))


def test_keeper_sink_empty_stream_is_typed_empty(spark, tmp_path):
    """A keeper sink that never produced a batch reads back as a
    typed empty DataFrame, not a parquet schema-inference error."""
    from margaret_spark.streaming import read_keeper_sink

    df = read_keeper_sink(
        spark, str(tmp_path / "nope"), "content_hash string, keep_seq long"
    )
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["content_hash", "keep_seq"]


def test_stream_asof_history_horizon_exact_within_bound(spark, tmp_path):
    """Horizon-pruned as-of state: with every left at most `horizon`
    late relative to the newest left on its key, results equal the
    unpruned run exactly (the retained floor right covers the oldest
    admissible left)."""
    import pandas as pd

    from margaret_spark.streaming import stream_asof_join
    from tests.test_streaming_chaos import _file_stream, _write_batches

    schema = "k long, side string, tsu long"
    batches = [
        [(1, "R", 10), (1, "R", 20), (1, "L", 25)],
        [(1, "R", 30), (1, "L", 35), (1, "L", 22)],  # 22 is 13 late
        [(1, "R", 40), (1, "L", 45), (1, "L", 33)],
    ]
    src = str(tmp_path / "src")
    _write_batches(spark, src, schema, batches)

    def run(ck, horizon):
        got = []
        stream_asof_join(
            _file_stream(spark, src, schema),
            ck,
            got.append,
            history_horizon=horizon,
        )
        return {
            (int(r.k), int(r.tsu)): (
                None if pd.isna(r.tsu_matched) else int(r.tsu_matched)
            )
            for pdf in got
            for r in pdf.itertuples(index=False)
        }

    unpruned = run(str(tmp_path / "ck_a"), None)
    pruned = run(str(tmp_path / "ck_b"), 15)
    assert pruned == unpruned
    assert pruned[(1, 22)] == 20 and pruned[(1, 33)] == 30


def test_stream_asof_history_horizon_prunes_to_floor(spark, tmp_path):
    """A left later than the horizon degrades gracefully: it can
    only match rights that survived pruning (the floor right when it
    is at-or-before the left, else NULL) — never an error, never a
    right LATER than the left."""
    import pandas as pd

    from margaret_spark.streaming import stream_asof_join
    from tests.test_streaming_chaos import _file_stream, _write_batches

    schema = "k long, side string, tsu long"
    batches = [
        [(1, "R", 10), (1, "R", 20), (1, "R", 90), (1, "L", 100)],
        # 85 late (horizon 50): its true match 10 was pruned; the
        # retained floor right 20 is LATER than 15, so as-of
        # semantics correctly yield NULL — and a left at 25 still
        # finds the floor right 20
        [(1, "L", 15), (1, "L", 25)],
    ]
    src = str(tmp_path / "src")
    _write_batches(spark, src, schema, batches)
    got = []
    stream_asof_join(
        _file_stream(spark, src, schema),
        str(tmp_path / "ck"),
        got.append,
        history_horizon=50,
    )
    rows = {
        int(r.tsu): (None if pd.isna(r.tsu_matched) else int(r.tsu_matched))
        for pdf in got
        for r in pdf.itertuples(index=False)
    }
    assert rows[100] == 90
    assert rows[15] is None  # true match pruned; never a later right
    assert rows[25] == 20    # the floor right serves in-range lates


def test_stream_dedup_minhash_state_ttl_evicts_idle_buckets(spark, tmp_path):
    """LSH bucket eviction: with a processing-time state_ttl, an idle
    bucket's claimant is forgotten — an identical doc arriving after
    eviction RE-CLAIMS the bucket (no collision emitted) instead of
    colliding; a prompt duplicate still collides. availableNow +
    state_ttl is rejected up front."""
    import time

    import pytest as _pytest
    from pyspark.sql import types as T

    from margaret_spark.streaming import stream_dedup_minhash

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    doc = "the quick brown fox jumps over the lazy dog again and again"
    log.append(doc)

    with _pytest.raises(ValueError, match="state_ttl"):
        stream_dedup_minhash(
            log, F.col("value"), lambda p: None, str(tmp_path / "cx"),
            state_ttl=1000,
        )

    got: list = []
    q = stream_dedup_minhash(
        log, F.col("value"), got.append, str(tmp_path / "ck"),
        num_hashes=8, bands=2, available_now=False, state_ttl=1000,
    )

    def dups():
        return {int(r["dup_seq"]) for pdf in got for _, r in pdf.iterrows()}

    try:
        deadline = time.time() + 30
        log.append(doc)  # prompt duplicate: must collide
        while 1 not in dups() and time.time() < deadline:
            time.sleep(0.3)
        assert 1 in dups()
        time.sleep(2.5)  # > state_ttl: the buckets are expiry-eligible
        log.append("completely different words entirely here")  # fires timeouts
        time.sleep(2.0)  # let the eviction batch complete
        before = set(dups())
        log.append(doc)  # identical again (seq 3) — buckets were evicted
        time.sleep(4.0)
        assert dups() == before, "evicted bucket should re-claim, not collide"
    finally:
        q.stop()


def test_stream_lm_filter_gates_and_matches_batch(spark, tmp_path):
    """The at-ingest LM gate keeps exactly the under-threshold subset
    the batch scorer computes against the same fixed reference LM —
    short/NULL docs (no score) drop conservatively; resume scores
    only NEW appends."""
    from pyspark.sql import types as T

    from margaret_spark.operators.lm import fit_bigram_lm, lm_surprise
    from margaret_spark.streaming import read_keeper_sink, stream_lm_filter

    texts = [
        "the cat sat on the mat",     # in-distribution (low surprise)
        "the cat sat on the mat",
        "zq xv qqq zz yy ww kk jj",   # junk (high surprise)
        "one",                        # 0 bigrams -> dropped
        None,                         # NULL -> dropped
    ]
    ref = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts[:2])], "doc_id long, text string"
    )
    lm = fit_bigram_lm(ref, "doc_id", "text", max_ngrams=64)

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    batch = {
        r["doc_id"]: r["surprise"]
        for r in lm_surprise(docs, "doc_id", "text", lm=lm).collect()
    }
    thr = (batch[0] + batch[2]) / 2  # between clean and junk

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append_many(texts)
    sink = str(tmp_path / "sink")
    stream_lm_filter(
        log, F.col("value"), lm, thr, sink, str(tmp_path / "ck")
    )
    kept = {
        r["seq"]: r["surprise"]
        for r in read_keeper_sink(
            spark, sink, "seq long, n_bigrams long, surprise double"
        ).collect()
    }
    assert set(kept) == {0, 1}
    assert kept[0] == batch[0] and kept[1] == batch[1]

    # resume: a new clean doc is scored and admitted; nothing re-emits
    log.append("the cat sat on the mat")
    stream_lm_filter(
        log, F.col("value"), lm, thr, sink, str(tmp_path / "ck")
    )
    kept2 = {
        r["seq"]
        for r in read_keeper_sink(
            spark, sink, "seq long, n_bigrams long, surprise double"
        ).collect()
    }
    assert kept2 == {0, 1, 5}


def test_stream_nb_filter_gates_and_matches_batch(spark, tmp_path):
    """The at-ingest trained-classifier gate keeps exactly the rows
    the batch nb_classify assigns a kept label, with identical scores
    — zero-token/NULL docs (pred NULL) drop conservatively; resume
    classifies only NEW appends; an empty keep_labels is rejected."""
    from pyspark.sql import types as T

    from margaret_spark.operators.nbayes import fit_nb, nb_classify
    from margaret_spark.streaming import read_keeper_sink, stream_nb_filter

    train = spark.createDataFrame(
        [
            ("good", "the cat sat on the mat"),
            ("good", "a dog sat on the rug"),
            ("spam", "buy cheap pills now buy now"),
            ("spam", "cheap pills cheap deals now"),
        ],
        "label string, text string",
    )
    model = fit_nb(train, "label", "text", max_vocab=64)

    texts = [
        "the cat sat on a rug",    # good-ish
        "buy cheap pills deals",   # spam-ish
        "dog on the mat",          # good-ish
        "",                        # zero tokens -> dropped
        None,                      # NULL -> dropped
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    batch = {
        r["doc_id"]: (r["pred"], r["score"])
        for r in nb_classify(docs, "doc_id", "text", model).collect()
    }
    want = {i: ps for i, ps in batch.items() if ps[0] == "good"}
    preds = {p for p, _ in batch.values()}
    assert want and "spam" in preds and None in preds  # gate must drop

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append_many(texts)
    sink = str(tmp_path / "sink")

    with pytest.raises(ValueError, match="keep_labels"):
        stream_nb_filter(
            log, F.col("value"), model, sink, str(tmp_path / "ck0"),
            keep_labels=[],
        )
    with pytest.raises(ValueError, match="exactly one admission rule"):
        stream_nb_filter(
            log, F.col("value"), model, sink, str(tmp_path / "ck0"),
            keep_labels=["good"], score_label="good", max_score=1.0,
        )
    with pytest.raises(ValueError, match="BOTH score_label"):
        stream_nb_filter(
            log, F.col("value"), model, sink, str(tmp_path / "ck0"),
            score_label="good",
        )

    stream_nb_filter(
        log, F.col("value"), model, sink, str(tmp_path / "ck"),
        keep_labels=["good"],
    )
    kept = {
        r["seq"]: (r["pred"], r["score"])
        for r in read_keeper_sink(
            spark, sink, "seq long, pred string, score double"
        ).collect()
    }
    assert kept == want

    # resume: only the new append is classified; nothing re-emits
    log.append("the cat sat")
    new = spark.createDataFrame([(5, "the cat sat")], "doc_id long, text string")
    p5 = nb_classify(new, "doc_id", "text", model).collect()[0]["pred"]
    stream_nb_filter(
        log, F.col("value"), model, sink, str(tmp_path / "ck"),
        keep_labels=["good"],
    )
    kept2 = {
        r["seq"]
        for r in read_keeper_sink(
            spark, sink, "seq long, pred string, score double"
        ).collect()
    }
    assert kept2 == set(want) | ({5} if p5 == "good" else set())

    # threshold mode (the GPT-3 recipe): keep score under 'good' at
    # most the batch scorer's value for doc 0 — admits exactly the
    # docs at or below it, regardless of which class wins the argmin
    from margaret_spark.operators.nbayes import nb_scores

    g = {
        r["doc_id"]: r["score"]
        for r in nb_scores(docs, "doc_id", "text", model).collect()
        if r["label"] == "good" and r["score"] is not None
    }
    thr = g[0]
    want_thr = {i: ("good", s) for i, s in g.items() if s <= thr}
    sink2 = str(tmp_path / "sink_thr")
    stream_nb_filter(
        log, F.col("value"), model, sink2, str(tmp_path / "ck_thr"),
        score_label="good", max_score=thr, max_files_per_trigger=1,
    )
    kept3 = {
        r["seq"]: (r["pred"], r["score"])
        for r in read_keeper_sink(
            spark, sink2, "seq long, pred string, score double"
        ).collect()
        if r["seq"] <= 4  # the first log file; seq 5 was appended above
    }
    assert kept3 == want_thr and 0 in kept3 and len(kept3) < len(g)


def test_stream_dsir_filter_gates_and_matches_batch(spark, tmp_path):
    """The at-ingest DSIR gate keeps exactly the at-or-above-threshold
    subset the batch weigher computes against the same fixed fitted
    model — no-feature docs (single token / NULL) drop conservatively;
    resume weighs only NEW appends."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from margaret_spark.operators.dsir import dsir_weights, fit_dsir
    from margaret_spark.streaming import read_keeper_sink, stream_dsir_filter

    target = spark.createDataFrame(
        [Row(text="the cat sat"), Row(text="the cat ran far")]
    )
    raw = spark.createDataFrame(
        [Row(text="buy pills now"), Row(text="cheap pills now now")]
    )
    model = fit_dsir(target, raw, "text", n=2, n_buckets=16)

    texts = [
        "the cat sat",      # target-like (high weight)
        "buy pills now",    # raw-like (low weight)
        "the cat ran",      # target-like
        "one",              # no bigram -> dropped
        None,               # NULL -> dropped
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    batch = {
        r["doc_id"]: (r["n_grams"], r["weight"])
        for r in dsir_weights(
            docs, "doc_id", "text", model, n=2, n_buckets=16
        ).collect()
        if r["weight"] is not None
    }
    thr = (batch[0][1] + batch[1][1]) / 2  # between target-like and raw-like
    want = {i: gw for i, gw in batch.items() if gw[1] >= thr}
    assert want and len(want) < len(batch)  # the gate must drop

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append_many(texts)
    sink = str(tmp_path / "sink")
    stream_dsir_filter(
        log, F.col("value"), model, thr, sink, str(tmp_path / "ck"),
        n=2, n_buckets=16,
    )
    kept = {
        r["seq"]: (r["n_grams"], r["weight"])
        for r in read_keeper_sink(
            spark, sink, "seq long, n_grams long, weight double"
        ).collect()
    }
    assert kept == want

    # resume: only the new append is weighed; nothing re-emits
    log.append("the cat sat")
    stream_dsir_filter(
        log, F.col("value"), model, thr, sink, str(tmp_path / "ck"),
        n=2, n_buckets=16,
    )
    kept2 = {
        r["seq"]
        for r in read_keeper_sink(
            spark, sink, "seq long, n_grams long, weight double"
        ).collect()
    }
    assert kept2 == set(want) | {5}  # same text as seq 0 -> admitted


def test_stream_ivf_assign_matches_batch_and_resumes(spark, tmp_path):
    """Streaming ANN intake routes each embedding to the same cell the
    batch ranking picks (rounded cosine desc, cent_id asc — incl. the
    tiebreak), drops NULL vectors, and on resume assigns only NEW
    appends."""
    from pyspark.sql import types as T

    from margaret_spark.streaming import read_keeper_sink, stream_ivf_assign

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "cent_id long, cent array<float>",
    )
    vecs = [
        [2.0, 0.1],     # -> cell 0
        [0.1, 3.0],     # -> cell 1
        [5.0, 5.0],     # ties cells... nearest 2 exactly; 0/1 at cos .707
        None,           # dropped
        [1.0, 1.0],     # exactly on centroid 2
    ]
    log = OffsetLog(
        spark, str(tmp_path / "log"), value_type=T.ArrayType(T.FloatType())
    )
    log.append_many(vecs)
    sink = str(tmp_path / "sink")
    stream_ivf_assign(
        log, F.col("value"), cents, sink, str(tmp_path / "ck")
    )
    out = {
        r["seq"]: (r["cell"], r["cos"])
        for r in read_keeper_sink(
            spark, sink, "seq long, cell long, cos double"
        ).collect()
    }
    assert set(out) == {0, 1, 2, 4}  # NULL vector (seq 3) dropped
    assert out[0][0] == 0 and out[1][0] == 1
    assert out[2][0] == 2 and out[4] == (2, 1.0)

    # a vector equidistant from cells 0 and 1: the cent_id-asc
    # tiebreak must pick 0
    log.append([1.0, 1.0])  # cos to 0 == cos to 1 == .707107, to 2 = 1.0
    log.append([3.0, -3.0])  # cos to 0 = .707107, 1 = -.707107, 2 = 0
    stream_ivf_assign(
        log, F.col("value"), cents, sink, str(tmp_path / "ck")
    )
    out2 = {
        r["seq"]: (r["cell"], r["cos"])
        for r in read_keeper_sink(
            spark, sink, "seq long, cell long, cos double"
        ).collect()
    }
    assert set(out2) == {0, 1, 2, 4, 5, 6}  # resume: only new seqs added
    assert out2[5][0] == 2  # exact centroid wins over the .707 pair
    assert out2[6] == (0, 0.707107)  # tie at .707107 -> lowest cent_id


def test_stream_hll_merged_equals_batch_sketch(spark, tmp_path):
    """Multi-batch streaming HLL re-maxes to exactly the batch
    register table of the whole log (registers are max-mergeable);
    empty sink reads as a typed empty sketch."""
    from pyspark.sql import types as T

    from margaret_spark.functions.hll import hll_sketch
    from margaret_spark.streaming import read_hll, stream_hll
    from tests.test_streaming_chaos import _space_log_file_mtimes

    keys = [f"k{i % 7}" for i in range(20)]
    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    for k in keys:
        log.append(k)
    _space_log_file_mtimes(log)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")
    stream_hll(
        log, F.col("value"), sink, ckpt, p=8,
        available_now=True, max_files_per_trigger=5,
    )
    import os as _os

    assert len([d for d in _os.listdir(sink) if d.startswith("batch=")]) >= 2
    merged = {
        (r["bucket"], r["maxrank"]) for r in read_hll(spark, sink).collect()
    }
    batch_df = spark.createDataFrame([(k,) for k in keys], "k string")
    want = {
        (r["bucket"], r["maxrank"])
        for r in hll_sketch(batch_df, "k", p=8).collect()
    }
    assert merged == want
    empty = read_hll(spark, str(tmp_path / "nope"))
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["bucket", "maxrank"]


def test_stream_histogram_merged_equals_batch(spark, tmp_path):
    """Fixed-grid streaming histogram re-sums to exactly the batch
    histogram of the whole log; the merged counts feed
    histogram_quantiles' interpolation unchanged."""
    from pyspark.sql import types as T

    from margaret_spark.operators.profiling import histogram
    from margaret_spark.streaming import read_histogram, stream_histogram
    from tests.test_streaming_chaos import _space_log_file_mtimes

    vals = [5.0, 50.0, 50.0, 99.0, 10.0, 75.0]
    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.DoubleType())
    for v in vals:
        log.append(v)
    _space_log_file_mtimes(log)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")
    stream_histogram(
        log, F.col("value"), sink, ckpt, bins=10, lo=0.0, hi=100.0,
        available_now=True, max_files_per_trigger=2,
    )
    import os as _os

    assert len([d for d in _os.listdir(sink) if d.startswith("batch=")]) >= 2
    merged = {
        (r["bucket"], r["n"]) for r in read_histogram(spark, sink).collect()
    }
    batch_df = spark.createDataFrame([(v,) for v in vals], "v double")
    want = {
        (r["bucket"], r["n"])
        for r in histogram(batch_df, "v", 10, lo=0.0, hi=100.0)
        .select("bucket", "n")
        .collect()
    }
    assert merged == want
    assert read_histogram(spark, str(tmp_path / "nope")).count() == 0


def test_stateful_ops_require_checkpoint_dir(spark, tmp_path):
    """checkpoint_dir=None must fail with a clear ValueError before
    any stream starts, not an opaque py4j error from
    checkpointLocation=None (r6 ADVICE)."""
    import pytest

    from pyspark.sql import types as T

    from margaret_spark.log import OffsetLog
    from margaret_spark.streaming import stream_dedup_exact

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append("x")
    with pytest.raises(ValueError, match="checkpoint_dir is required"):
        stream_dedup_exact(
            log, F.col("value"), sink_dir=str(tmp_path / "sink")
        )


def test_stream_pq_assign_matches_batch_encode_and_resumes(spark, tmp_path):
    """Streaming PQ intake compresses each appended vector to exactly
    the codes the batch encoder picks (pround'ed squared-L2 rank,
    code-id-asc tiebreak), drops NULL vectors, and on resume encodes
    only NEW appends."""
    from pyspark.sql import types as T

    from margaret_spark.operators.pq import pq_encode, pq_train
    from margaret_spark.streaming import read_keeper_sink, stream_pq_assign

    corpus = spark.createDataFrame(
        [(i, [float(i % 3), float((i * 7) % 5), float(i % 2), 1.0])
         for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    cb = pq_train(corpus, m=2, codes=3, iters=1)

    vecs = [
        [2.0, 0.1, 0.0, 1.0],
        [0.1, 3.0, 1.0, 1.0],
        None,  # dropped
        [1.0, 1.0, 1.0, 1.0],
    ]
    log = OffsetLog(
        spark, str(tmp_path / "log"), value_type=T.ArrayType(T.FloatType())
    )
    log.append_many(vecs)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")
    stream_pq_assign(log, F.col("value"), cb, sink, ckpt)
    out = {
        (r["seq"], r["sub"]): r["code_id"]
        for r in read_keeper_sink(
            spark, sink, "seq long, sub long, code_id long, dist2 double"
        ).collect()
    }
    assert {s for s, _ in out} == {0, 1, 3}  # NULL (seq 2) dropped
    # streaming codes == batch encoder codes on the identical vectors
    batch_in = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs) if v is not None],
        "vec_id long, embedding array<float>",
    )
    expect = {
        (r["vec_id"], r["sub"]): r["code_id"]
        for r in pq_encode(batch_in, cb, m=2).collect()
    }
    assert out == expect

    # resume: a new append is encoded; old seqs aren't re-emitted twice
    log.append([9.0, 9.0, 9.0, 9.0])
    stream_pq_assign(log, F.col("value"), cb, sink, ckpt)
    out2 = read_keeper_sink(
        spark, sink, "seq long, sub long, code_id long, dist2 double"
    )
    assert out2.where(F.col("seq") == 4).count() == 2  # m=2 rows
    assert out2.count() == len(out) + 2


def test_stream_hash_embed_matches_batch_and_resumes(spark, tmp_path):
    """At-ingest hashed vectorization equals the batch embedder on the
    identical texts (NULL text -> zero vector, still emitted), and on
    resume embeds only NEW appends."""
    from pyspark.sql import types as T

    from margaret_spark.operators.hashembed import hash_doc_embeddings
    from margaret_spark.streaming import read_keeper_sink, stream_hash_embed

    texts = ["the quick brown fox", None, "lorem ipsum dolor"]
    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append_many(texts)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")
    stream_hash_embed(log, F.col("value"), sink, ckpt, dim=16)
    out = {}
    for r in read_keeper_sink(
        spark, sink, "seq long, pos long, val double"
    ).collect():
        out.setdefault(r.seq, {})[r.pos] = r.val
    assert set(out) == {0, 1, 2}  # NULL text still embeds (zero vector)
    assert all(len(v) == 16 for v in out.values())
    assert set(out[1].values()) == {0.0}

    batch_in = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "seq long, text string"
    )
    expect = {
        r.seq: r.embedding
        for r in hash_doc_embeddings(batch_in, "seq", "text", dim=16).collect()
    }
    for s in (0, 2):
        assert [out[s][p] for p in range(16)] == expect[s]

    log.append("a fresh document arrives")
    stream_hash_embed(log, F.col("value"), sink, ckpt, dim=16)
    out2 = read_keeper_sink(spark, sink, "seq long, pos long, val double")
    assert out2.where(F.col("seq") == 3).count() == 16
    assert out2.count() == 16 * 4


def test_stream_kmv_merged_equals_batch_sketch(spark, tmp_path):
    """Multi-batch streaming KMV re-cuts to exactly the batch sketch
    of the whole log (min-k is a lossless union fold); empty sink
    reads as a typed empty sketch."""
    from pyspark.sql import types as T

    from margaret_spark.functions.kmv import kmv_sketch
    from margaret_spark.streaming import read_kmv, stream_kmv
    from tests.test_streaming_chaos import _space_log_file_mtimes

    keys = [f"k{i % 97}" for i in range(300)]
    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    for kk in keys:
        log.append(kk)
    _space_log_file_mtimes(log)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")
    stream_kmv(
        log, F.col("value"), sink, ckpt, k=32,
        available_now=True, max_files_per_trigger=60,
    )
    import os as _os

    batches = [d for d in _os.listdir(sink) if d.startswith("batch=")]
    assert len(batches) >= 2  # genuinely multi-batch
    got = [(r.rk, r.h) for r in read_kmv(spark, sink, k=32).collect()]
    df = spark.createDataFrame([(kk,) for kk in keys], "k string")
    want = [(r.rk, r.h) for r in kmv_sketch(df, "k", k=32).collect()]
    assert sorted(got) == sorted(want)

    empty_sink = str(tmp_path / "empty")
    _os.makedirs(empty_sink)
    assert read_kmv(spark, empty_sink, k=32).count() == 0


def test_stream_image_phash_matches_batch_and_resumes(spark, tmp_path):
    """At-ingest pHash equals the batch hasher on the identical blobs,
    NULL blobs drop (seq gap, no placeholder hash), and a resume
    hashes only NEW appends."""
    from pyspark.sql import types as T

    from margaret_spark.operators.imagehash import image_phash
    from margaret_spark.operators.media_codecs import encode_png
    from margaret_spark.streaming import read_keeper_sink, stream_image_phash

    def png(seed, w=18, h=13):
        px = bytes((seed * 31 + j * j) % 256 for j in range(w * h))
        return bytearray(encode_png(w, h, px, color_type=0))

    blobs = [png(0), None, png(1), png(0)]
    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.BinaryType())
    log.append_many(blobs)
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ck")
    stream_image_phash(log, F.col("value"), sink, ckpt)
    got = {
        r.seq: r.phash
        for r in read_keeper_sink(spark, sink, "seq long, phash long").collect()
    }
    assert set(got) == {0, 2, 3}  # NULL blob dropped -> seq gap
    assert got[0] == got[3]  # identical blobs, identical hash

    batch_in = spark.createDataFrame(
        [(i, b) for i, b in enumerate(blobs) if b is not None],
        "seq long, blob binary",
    )
    expect = {
        r.seq: r.phash for r in image_phash(batch_in, "seq", "blob").collect()
    }
    assert got == expect

    log.append(bytes(png(2)))
    stream_image_phash(log, F.col("value"), sink, ckpt)
    out2 = read_keeper_sink(spark, sink, "seq long, phash long")
    assert out2.where(F.col("seq") == 4).count() == 1
    assert out2.count() == 4


def test_stream_gopher_filter_gates_and_matches_batch(spark, tmp_path):
    """The at-ingest Gopher repetition gate keeps exactly the
    under-threshold subset the batch battery computes — repetitive
    docs drop at ingest, fractions identical to the batch operator;
    appends after a restart gate only the NEW rows."""
    from pyspark.sql import types as T

    from margaret_spark.operators.text import gopher_repetition
    from margaret_spark.streaming import read_keeper_sink, stream_gopher_filter

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",  # diverse: kept
        "spam spam spam spam spam spam",                  # repetitive: dropped
        "one two three four five six seven eight nine",   # kept
        "ab cd ab cd ab cd ab cd",                        # repetitive: dropped
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    batch = {
        r["doc_id"]: (r["top_2gram_frac"], r["dup_3gram_frac"])
        for r in gopher_repetition(
            docs, "doc_id", "text", top_ns=(2,), dup_ns=(3,)
        ).collect()
    }
    expect = {
        i: v for i, v in batch.items() if v[0] <= 0.3 and v[1] <= 0.2
    }
    assert 0 in expect and 2 in expect and 1 not in expect and 3 not in expect

    log = OffsetLog(spark, str(tmp_path / "log"), value_type=T.StringType())
    log.append_many(texts)
    sink = str(tmp_path / "sink")
    stream_gopher_filter(
        log, F.col("value"), sink, str(tmp_path / "ck"),
        max_top2=0.3, max_dup3=0.2,
    )
    schema = "seq long, top_2gram_frac double, dup_3gram_frac double"
    kept = {
        r["seq"]: (r["top_2gram_frac"], r["dup_3gram_frac"])
        for r in read_keeper_sink(spark, sink, schema).collect()
    }
    assert kept == expect
    # resume: a new clean append is gated without rescoring the old
    log.append_many(["unique tokens only here now"])
    stream_gopher_filter(
        log, F.col("value"), sink, str(tmp_path / "ck"),
        max_top2=0.3, max_dup3=0.2,
    )
    kept2 = {r["seq"] for r in read_keeper_sink(spark, sink, schema).collect()}
    assert kept2 == set(expect) | {4}


def test_stream_hier_assign_matches_batch_and_resumes(spark, tmp_path):
    """Streaming hierarchical intake routes each embedding to the same
    (coarse, sub) cell the frozen batch assignment picks, drops NULL
    vectors, and on resume assigns only NEW appends."""
    from pyspark.sql import types as T

    from margaret_spark.operators.semdedup import (
        assign_to_hier_centroids,
        hier_centroids,
    )
    from margaret_spark.streaming import read_keeper_sink, stream_hier_assign

    fit = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.9, 0.3, 0.0, 0.0]),
            (2, [0.0, 0.0, 1.0, 0.0]),
            (3, [0.0, 0.0, 0.9, 0.3]),
        ],
        "vec_id long, embedding array<double>",
    )
    cents, subc = hier_centroids(fit, k1=2, k2=2, iters=1)
    vecs = [
        [1.0, 0.1, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.1],
        None,                  # dropped
        [0.8, 0.4, 0.0, 0.0],
    ]
    batch_rows = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs) if v is not None],
        "seq long, e array<double>",
    )
    expect = {
        r.seq: (r.cent_id, r.sub_id, r.cosine)
        for r in assign_to_hier_centroids(
            batch_rows, cents, subc, id_col="seq", vec_col="e"
        ).collect()
    }

    log = OffsetLog(
        spark, str(tmp_path / "log"), value_type=T.ArrayType(T.DoubleType())
    )
    log.append_many(vecs)
    sink = str(tmp_path / "sink")
    stream_hier_assign(
        log, F.col("value"), cents, subc, sink, str(tmp_path / "ck")
    )
    schema = "seq long, cell long, sub int, cos double"
    out = {
        r["seq"]: (r["cell"], r["sub"], r["cos"])
        for r in read_keeper_sink(spark, sink, schema).collect()
    }
    assert set(out) == {0, 1, 3}  # NULL vector (seq 2) dropped
    assert out == expect
    # resume: only the new append is assigned
    log.append([0.0, 0.0, 0.8, 0.4])
    stream_hier_assign(
        log, F.col("value"), cents, subc, sink, str(tmp_path / "ck")
    )
    out2 = read_keeper_sink(spark, sink, schema).collect()
    assert {r["seq"] for r in out2} == {0, 1, 3, 4}


def test_stream_semantic_decontaminate_matches_batch(spark, tmp_path):
    """The at-ingest semantic gate (VERDICT r9 ask #4) reproduces the
    batch composition exactly — hashembed, frozen test-side fit,
    cell-scoped threshold check — across MULTIPLE micro-batches
    (max_files_per_trigger=1), including a planted near-copy
    (flagged); a NULL-text doc (zero vector — undefined cosine) is
    DROPPED under the no-geometry rule, surfaced by its seq gap."""
    from pyspark.sql import types as T

    from margaret_spark.operators.hashembed import hash_doc_embeddings
    from margaret_spark.operators.semdedup import semantic_dedup_incremental
    from margaret_spark.streaming import (
        read_keeper_sink,
        stream_semantic_decontaminate,
    )

    test_rows = [
        (100, "the quick brown fox jumps over the lazy dog"),
        (101, "pack my box with five dozen liquor jugs"),
    ]
    train_rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "completely unrelated text about spark partitions"),
        (3, None),
        (4, "pack my box with five dozen liquor jugs"),
        (5, "another unrelated document entirely different words"),
    ]
    test = hash_doc_embeddings(
        spark.createDataFrame(test_rows, "doc_id long, text string"),
        "doc_id", "text", dim=32,
    ).localCheckpoint(eager=False)
    train_df = spark.createDataFrame(train_rows, "doc_id long, text string")

    # batch twin (same pieces as decontaminate_semantic) over the
    # rows WITH geometry (the batch composition errors on zero
    # vectors under ANSI division; the stream drops them)
    train_emb = hash_doc_embeddings(
        train_df.where(F.col("text").isNotNull()), "doc_id", "text", dim=32
    )
    want = {
        (r.doc_id, r.cent_id, r.status == "dup_of_existing")
        for r in semantic_dedup_incremental(
            train_emb, test, k=2, iters=1, threshold=0.8,
            id_col="doc_id", vec_col="embedding", batch_dups=False,
        ).collect()
    }

    log = OffsetLog(
        spark, str(tmp_path / "log"), value_type=T.StringType()
    )
    for _, txt in train_rows:  # one file per append -> 5 micro-batches
        log.append(txt)
    sink = str(tmp_path / "sink")
    stream_semantic_decontaminate(
        log, F.col("value"), test, sink, str(tmp_path / "ckpt"),
        dim=32, k=2, iters=1, threshold=0.8, id_col="doc_id",
        max_files_per_trigger=1,
    )
    got = {
        (r.seq + 1, r.cell, r.contaminated)
        for r in read_keeper_sink(
            spark, sink, "seq long, cell long, contaminated boolean"
        ).collect()
    }
    assert got == want
    flagged = {d for d, _, c in got if c}
    assert 4 in flagged  # the exact copy
    assert not any(d == 3 for d, _, _ in got)  # zero vector dropped
