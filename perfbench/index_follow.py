"""index_follow: the reference's derived-view pipeline.

Two sinks follow one msgpack-codec log: a ``SinkIndex`` into an
``OffsetSetterIndex`` (latest seq per author) and a ``MultilogSink``
into an ``OffsetMultiLog`` (one sublog per author). From cursor -1 both
rebuild over the preloaded log; then one closed-loop client appends
seeded batches with ``append_many`` and brings both sinks current with
``build_index`` after each batch. Each catch-up plans a query over the
whole log for a few new rows: this workload puts the log's query path
under tiny deltas.

Last, outside the gated figures, the same two views are rebuilt once
through the Spark path (``append_df`` into a typed log, ``fanout`` into
``OffsetMultiLog.append_df``, a noop-sink ``latest_by_key``,
``stream_build_index``, then ``query_df`` reads, a sublog ``ranks_df``
page and ``check_consistency``), so the traced run covers those layers.
"""

from __future__ import annotations

import os
import random
import time

from common import ROUNDS, dir_bytes, p50_ms, tail
from feed_oltp import VOCAB, user_bytes

AUTHORS = 50
PRELOAD = 1_500
PRELOAD_BATCH = 150
WARMUP_ROWS = 300
BATCH = 5
WARMUP_BATCHES = 6
#: append batches per second of --seconds; the list is fixed, never time-boxed
BATCHES_PER_SECOND = 2.0
#: the largest --seconds this workload accepts: the log then holds at most
#: 10 preload files + 20 batch files. Past 32 data files Spark lists the
#: files with a distributed job and every catch-up from then on takes
#: about twice as long, which would split a run in two regimes.
MAX_SECONDS = 10
#: the Spark-path reindex: range + Limit and Reverse + Limit reads, page size
RANGE_READS = 4
REVERSE_READS = 2
PAGE = 10
#: sizes for the self-test (run.py --tiny)
TINY = {"PRELOAD": 40, "PRELOAD_BATCH": 10, "WARMUP_ROWS": 20, "WARMUP_BATCHES": 1}


def author_name(i: int) -> str:
    return f"@feed{i:03d}.ed25519"


class Gen:
    def __init__(self, seed: int):
        self.rng = random.Random(seed * 1_000_003 + 23)
        self.counter = 0

    def message(self) -> dict:
        self.counter += 1
        if self.counter <= AUTHORS:
            # every feed opens with one message of each author, so the
            # sinks' first write per author (which scans the sublog
            # files written so far) happens at the same point for every
            # seed
            a = author_name(self.counter - 1)
        else:
            # a few authors write most of the messages
            a = author_name(min(int(self.rng.expovariate(1 / 8)), AUTHORS - 1))
        words = self.rng.randint(3, 30)
        return {"author": a, "sequence": self.counter,
                "content": {"type": "post",
                            "text": " ".join(self.rng.choice(VOCAB) for _ in range(words))}}

    def batches(self, n: int) -> list[list[dict]]:
        return [[self.message() for _ in range(BATCH)] for _ in range(n)]


def _proc(seq, value, idx) -> None:
    idx.set(value["author"], seq)


def _route(seq, value, mlog) -> None:
    mlog.get(value["author"]).append(seq)


class Pipeline:
    """A log, its two sinks and the model of all three."""

    def __init__(self, ctx, path: str, gen: Gen):
        from pyspark.sql import types as T

        from margaret_spark.indexes import MultilogSink, OffsetSetterIndex, SinkIndex
        from margaret_spark.log import OffsetLog
        from margaret_spark.multilog import OffsetMultiLog

        self.path = path
        self.gen = gen
        self.log = OffsetLog(ctx.spark, os.path.join(path, "log"), codec="msgpack")
        self.idx = OffsetSetterIndex(ctx.spark, os.path.join(path, "latest"), T.LongType())
        self.mlog = OffsetMultiLog(ctx.spark, os.path.join(path, "authors"))
        self.setter = SinkIndex(_proc, self.idx)
        self.fan = MultilogSink(_route, self.mlog, os.path.join(path, "authors.cursor"))
        self.values: list[dict] = []
        self.members: dict[str, list[int]] = {}
        self.user_bytes = 0

    def append(self, ctx, batch: list[dict]) -> int:
        with ctx.tracer.span("log.append_many"):
            return self.log.append_many(batch)

    def remember(self, ctx, batch: list[dict], last: int) -> None:
        """Add an appended batch to the model."""
        ctx.check.eq("append_many seq", last, len(self.values) + len(batch) - 1)
        for m in batch:
            self.members.setdefault(m["author"], []).append(len(self.values))
            self.values.append(m)
            self.user_bytes += user_bytes(m)

    def catch_up(self, ctx) -> None:
        from margaret_spark.indexes import build_index

        with ctx.tracer.span("indexes.build_index_setter"):
            build_index(self.log, self.setter)
        with ctx.tracer.span("indexes.build_index_mlog"):
            build_index(self.log, self.fan)

    def verify(self, ctx, authors) -> None:
        """Both sinks against the model: cursors, every author's latest
        seq, and the sublogs of ``authors``."""
        head = len(self.values) - 1
        ctx.check.eq("setter cursor", self.idx.get_seq(), head)
        ctx.check.eq("multilog cursor", self.fan.get_seq(), head)
        for a, mem in self.members.items():
            ctx.check.eq(f"latest {a}", self.idx.get(a).value(), mem[-1])
        for a in authors:
            ctx.check.eq(f"sublog {a}", list(self.mlog.get(a).query()), self.members[a])


def _fill(ctx, p: Pipeline, rows: int) -> Pipeline:
    for _ in range(rows // PRELOAD_BATCH):
        batch = [p.gen.message() for _ in range(PRELOAD_BATCH)]
        p.remember(ctx, batch, p.append(ctx, batch))
    return p


def preload(ctx, path: str) -> Pipeline:
    return _fill(ctx, Pipeline(ctx, path, Gen(ctx.seed)), PRELOAD)


def warmup(ctx, p: Pipeline) -> None:
    """A rebuild and a few catch-ups on a smaller pipeline of its own, so
    the measured rebuild and catch-ups start with the query path
    compiled."""
    w = _fill(ctx, Pipeline(ctx, p.path + "-warmup", Gen(ctx.seed + 7_919)), WARMUP_ROWS)
    w.catch_up(ctx)
    w.verify(ctx, list(w.members))
    for batch in w.gen.batches(WARMUP_BATCHES):
        w.remember(ctx, batch, w.append(ctx, batch))
        w.catch_up(ctx)
        w.verify(ctx, {m["author"] for m in batch})


def instrument(tr, p: Pipeline) -> None:
    """Traced run only: spans and counts inside build_index and the
    Spark-path reindex (whose new log spark_reindex wraps itself)."""
    log = p.log
    tr.wrap_iter(log, "query", "log.query")
    tr.wrap(log, "df", "log.df")
    import margaret_spark.log as log_mod

    import margaret_spark.functions.seqassign as seqassign

    tr.wrap(log_mod, "apply_plan", "qry.apply_plan")
    tr.wrap(seqassign, "with_dense_seq", "seqassign.with_dense_seq")
    tr.wrap(log.codec, "marshal", "codec.marshal")
    tr.wrap(log.codec, "unmarshal", "codec.unmarshal")
    for sink in (p.setter, p.fan):
        tr.wrap(sink, "pour", "indexes.pour",
                lambda out, args: tr.count("indexes.rows_poured"))
    tr.wrap(p.idx, "set", "indexes.set")
    tr.wrap(p.idx, "_write_upsert", None, lambda out, args: tr.count("indexes.upsert_files"))
    tr.wrap(p.idx, "set_seq", None, lambda out, args: tr.count("indexes.cursor_writes"))
    tr.wrap(p.fan, "_save_seq", None, lambda out, args: tr.count("indexes.cursor_writes"))

    def grew(out, _args):
        tr.count("multilog.inserts")
        tr.count("multilog.grew", 1 if out[1] else 0)

    tr.wrap(p.mlog, "_insert", "multilog.sublog_append", grew)


def measure(ctx, p: Pipeline) -> tuple[dict, dict]:
    batches = p.gen.batches(max(int(ctx.seconds * BATCHES_PER_SECOND), ROUNDS))
    rows = len(p.values)
    t0 = time.perf_counter()
    ctx.ops.run("rebuild", p.catch_up, ctx)
    rebuild_s = time.perf_counter() - t0
    p.verify(ctx, list(p.members))

    # a write is done when both views show it: append plus catch-up
    def step(batch):
        t0 = time.perf_counter()
        last = ctx.ops.run("append", p.append, ctx, batch)
        if last is not None:
            p.remember(ctx, batch, last)
        ctx.ops.run("catchup", p.catch_up, ctx)
        ctx.ops.record("visible", time.perf_counter() - t0)

    ctx.ops.measure(batches, step, lambda batch: p.verify(ctx, {m["author"] for m in batch}))
    sample = ctx.ops.samples
    e2e = {
        "ops_per_s": (ctx.ops.rate(), "1/s"),
        "write_p50_ms": (p50_ms(sample("visible")), "ms"),
        "read_p50_ms": (p50_ms(sample("catchup")), "ms"),
        "bytes_per_user_byte": (dir_bytes(p.path) / p.user_bytes, "ratio"),
    }
    replay = ctx.ops.run("reindex", spark_reindex, ctx, p)
    replay_rows_per_s, reads = replay if replay else (0.0, [])
    extra = {
        "append_p50_ms": (p50_ms(sample("append")), "ms"),
        "append_tail_ms": tail(sample("append")),
        "catchup_p50_ms": (p50_ms(sample("catchup")), "ms"),
        "catchup_tail_ms": tail(sample("catchup")),
        "rebuild_rows_per_s": (rows / rebuild_s, "1/s"),
        "replay_rows_per_s": (replay_rows_per_s, "1/s"),
        "query_p50_ms": (p50_ms(reads), "ms"),
    }
    return e2e, extra


def spark_reindex(ctx, p: Pipeline) -> tuple[float, list[float]]:
    """Rebuild the views of ``p`` through the Spark path into fresh state
    and check them against the model. Returns the log rows per second of
    the rebuild (every step but the untimed checks) and the durations of
    the ``query_df`` reads."""
    from pyspark.sql import functions as F

    from margaret_spark.indexes import fanout, latest_by_key
    from margaret_spark.log import OffsetLog
    from margaret_spark.multilog import OffsetMultiLog
    from margaret_spark.qry import Gte, Limit, Reverse
    from margaret_spark.streaming.live import stream_build_index

    tr, spark, n = ctx.tracer, ctx.spark, len(p.values)
    rng = random.Random(ctx.seed * 1_000_003 + 37)
    d = p.path + "-spark"
    src = spark.createDataFrame(
        [(m["author"], ts, m["content"]["text"]) for ts, m in enumerate(p.values)],
        "author string, ts long, text string",
    ).select(F.struct("author", "ts", "text").alias("value"))
    t0 = time.perf_counter()
    log = OffsetLog(spark, os.path.join(d, "log"), value_type=src.schema["value"].dataType)
    tr.wrap(log, "df", "log.df")
    with tr.span("log.append_df"):
        last = log.append_df(src)
    mlog = OffsetMultiLog(spark, os.path.join(d, "authors"))
    with tr.span("indexes.fanout"):
        fanned = fanout(log.df(), F.array(F.col("value.author")))
    with tr.span("multilog.append_df"):
        mlog.append_df(fanned)
    with tr.span("indexes.latest_by_key"):
        latest_by_key(log.df().select(F.col("value.author").alias("author"), "seq"),
                      "author", "seq").write.format("noop").mode("overwrite").save()
    streamed = []
    with tr.span("streaming.stream_build_index"):
        stream_build_index(log, lambda df: streamed.append(df.count()),
                           os.path.join(d, "ckpt"), available_now=True)
    reads, results = [], []
    specs = [("range", rng.randrange(n - PAGE), rng.randint(1, PAGE))
             for _ in range(RANGE_READS)]
    specs += [("reverse", n, rng.randint(1, PAGE)) for _ in range(REVERSE_READS)]
    for kind, lo, k in specs:
        t1 = time.perf_counter()
        with tr.span("log.query_df"):
            q = log.query_df(*([Gte(lo), Limit(k)] if kind == "range" else [Reverse(), Limit(k)]),
                             ordered=True)
        with tr.span("log.collect"):
            results.append(q.collect())
        reads.append(time.perf_counter() - t1)
    author = min(p.members, key=lambda a: (-len(p.members[a]), a))
    with tr.span("multilog.ranks"):
        page = (mlog.ranks_df().where((F.col("addr") == author) & (F.col("rank") < PAGE))
                .orderBy("rank").collect())
    with tr.span("log.check_consistency"):
        log.check_consistency()
    wall = time.perf_counter() - t0

    # untimed: every output against the model
    ctx.check.eq("append_df last seq", last, n - 1)
    ctx.check.eq("streamed rows", sum(streamed), n)
    for (kind, lo, k), rows in zip(specs, results):
        want = list(range(lo, lo + k)) if kind == "range" else list(range(n - 1, n - 1 - k, -1))
        ctx.check.eq(f"{kind} read seqs", [r["seq"] for r in rows], want)
        ctx.check.eq(f"{kind} read values",
                     [(r["value"]["author"], r["value"]["text"]) for r in rows],
                     [(p.values[r["value"]["ts"]]["author"],
                       p.values[r["value"]["ts"]]["content"]["text"]) for r in rows])
    ctx.check.eq("ranks page", [r["rank"] for r in page],
                 list(range(min(PAGE, len(p.members[author])))))
    sizes = {r["addr"]: r["n"] for r in mlog.ranks_df().groupBy("addr")
             .agg(F.count("*").alias("n")).collect()}
    ctx.check.eq("sublog sizes", sizes, {a: len(m) for a, m in p.members.items()})
    return n / wall, reads
