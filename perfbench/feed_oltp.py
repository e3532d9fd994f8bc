"""feed_oltp: the serving path of a feed app, driver-side pyarrow only.

A msgpack-codec log preloaded in batches, a sublog per author and an
``OffsetSetterIndex`` of each author's latest seq. One closed-loop
client runs a fixed seeded mix of three operations:

- append: ``log.append``, the author's ``SubLog.append``, ``idx.set``,
  then ``maybe_compact(log)``;
- get: ``log.get`` of a recency-skewed seq;
- feed: ``idx.get(author)``, ``SubLog.query(Reverse(), Limit(PAGE))``, then
  ``log.get`` of every seq on that page.
"""

from __future__ import annotations

import json
import os
import random

from common import dir_bytes, p50_ms, tail

AUTHORS = 200
PRELOAD = 20_000
PRELOAD_BATCH = 1_000
WARMUP_OPS = 100
#: operations per second of --seconds; the list is fixed, never time-boxed
OPS_PER_SECOND = 36
#: the largest --seconds this workload accepts
MAX_SECONDS = 60
#: exact shares of the op list, in seeded order
MIX = (("append", 0.3), ("get", 0.4), ("feed", 0.3))
#: feed page size
PAGE = 8
#: mean distance from the head of a point read
GET_RECENCY = 2_000
#: sizes for the self-test (run.py --tiny)
TINY = {"AUTHORS": 20, "PRELOAD": 600, "PRELOAD_BATCH": 100, "WARMUP_OPS": 20,
        "GET_RECENCY": 100}

_VOCAB_RNG = random.Random(7)
VOCAB = ["".join(_VOCAB_RNG.choice("abcdefghijklmnopqrstuvwxyz")
                 for _ in range(_VOCAB_RNG.randint(2, 9))) for _ in range(500)]


def author_name(i: int) -> str:
    return f"@author{i:04d}.ed25519"


class Gen:
    """The seeded inputs: messages and the operation list."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed * 1_000_003 + 11)
        w = [1.0 / (i + 1) ** 1.1 for i in range(AUTHORS)]
        total = sum(w)
        self.weights = [x / total for x in w]
        self.counter = 0

    def author(self) -> str:
        return author_name(self.rng.choices(range(AUTHORS), self.weights)[0])

    def message(self, author: str | None = None) -> dict:
        self.counter += 1
        a = author or self.author()
        words = self.rng.randint(5, 40)
        return {
            "author": a,
            "sequence": self.counter,
            "timestamp": 1_600_000_000_000 + self.counter * 997,
            "content": {"type": "post",
                        "text": " ".join(self.rng.choice(VOCAB) for _ in range(words))},
        }

    def ops(self, n: int) -> list[tuple]:
        kinds = [k for k, share in MIX for _ in range(round(n * share))]
        self.rng.shuffle(kinds)
        out = []
        for k in kinds:
            if k == "append":
                out.append(("append", self.message()))
            elif k == "get":
                out.append(("get", int(self.rng.expovariate(1.0 / GET_RECENCY))))
            else:
                out.append(("feed", self.author()))
        return out


def user_bytes(msg: dict) -> int:
    return len(json.dumps(msg, separators=(",", ":")).encode())


class State:
    def __init__(self, ctx, path: str):
        from pyspark.sql import types as T

        from margaret_spark.indexes import OffsetSetterIndex
        from margaret_spark.log import OffsetLog
        from margaret_spark.multilog import OffsetMultiLog

        self.path = path
        self.log = OffsetLog(ctx.spark, os.path.join(path, "log"), codec="msgpack")
        self.mlog = OffsetMultiLog(ctx.spark, os.path.join(path, "authors"))
        self.idx = OffsetSetterIndex(ctx.spark, os.path.join(path, "latest"), T.LongType())
        self.subs: dict = {}
        # the model
        self.values: list[dict] = []
        self.members: dict[str, list[int]] = {}
        self.user_bytes = 0
        self.gen = Gen(ctx.seed)

    def sub(self, author: str):
        s = self.subs.get(author)
        if s is None:
            s = self.subs[author] = self.mlog.get(author)
        return s


def preload(ctx, path: str) -> State:
    """The preload ends compacted, like a log that has been serving for a
    while: the measured mix starts from one merged file, not from the
    batch files whose first compaction would land at a seed-dependent
    point of the run."""
    from margaret_spark.sources.writers import compact_small_files

    st = State(ctx, path)
    for _ in range(PRELOAD // PRELOAD_BATCH):
        msgs = [st.gen.message() for _ in range(PRELOAD_BATCH)]
        last = st.log.append_many(msgs)
        ctx.check.eq("preload append_many", last, len(st.values) + len(msgs) - 1)
        st.values.extend(msgs)
    compact_small_files(st.log)
    for s, m in enumerate(st.values):
        st.members.setdefault(m["author"], []).append(s)
        st.user_bytes += user_bytes(m)
    rows = [(a, s) for a, ss in st.members.items() for s in ss]
    st.mlog.append_df(ctx.spark.createDataFrame(rows, "addr string, main_seq long"))
    for a, ss in sorted(st.members.items()):
        st.idx.set(a, ss[-1])
    return st


def warmup(ctx, st: State) -> None:
    """Open every author's sublog and index cell, then run a separate
    seeded op list; all outputs are checked like the measured ones."""
    for i in range(AUTHORS):
        a = author_name(i)
        ctx.check.eq("warm sublog size", st.sub(a).seq(), len(st.members.get(a, [])) - 1)
        st.idx.get(a)
    for op in st.gen.ops(WARMUP_OPS):
        _do(ctx, st, op, record=False)


def instrument(tr, st: State) -> None:
    """Traced run only: spans and counts inside the calls the mix makes."""
    log, mlog, idx = st.log, st.mlog, st.idx
    tr.wrap(log.codec, "marshal", "codec.marshal")
    tr.wrap(log.codec, "unmarshal", "codec.unmarshal")

    def files(out, _args):
        if tr.current() == "log.get":
            tr.count("log.get_files", len(out))
            tr.count("log.get_files_calls")

    tr.wrap(log, "_data_files", None, files)

    def grew(out, _args):
        tr.count("multilog.inserts")
        tr.count("multilog.grew", 1 if out[1] else 0)

    tr.wrap(mlog, "_insert", None, grew)
    tr.wrap(idx, "_write_upsert", None, lambda out, args: tr.count("indexes.upsert_files"))


def _append(ctx, st: State, msg: dict) -> None:
    from margaret_spark.sources.writers import maybe_compact

    tr, log = ctx.tracer, st.log
    a = msg["author"]
    with tr.span("log.append"):
        s = log.append(msg)
    if tr.enabled:
        tr.count("writers.appended_bytes", os.path.getsize(
            os.path.join(log._data_dir, f"part-{s:020d}-{s:020d}.parquet")))
    with tr.span("multilog.sublog_append"):
        rank = st.sub(a).append(s)
    with tr.span("indexes.set"):
        st.idx.set(a, s)
    before = set(os.listdir(log._data_dir)) if tr.enabled else None
    with tr.span("writers.maybe_compact"):
        runs = maybe_compact(log)
    if tr.enabled and runs:
        tr.count("writers.runs_merged", runs)
        tr.count("writers.rewritten_bytes", sum(
            os.path.getsize(os.path.join(log._data_dir, n))
            for n in os.listdir(log._data_dir)
            if n not in before and n.endswith(".parquet")))
    mem = st.members.setdefault(a, [])
    ctx.check.eq("append seq", s, len(st.values))
    ctx.check.eq("sublog rank", rank, len(mem))
    st.values.append(msg)
    mem.append(s)
    st.user_bytes += user_bytes(msg)


def _get(ctx, st: State, back: int) -> None:
    s = max(len(st.values) - 1 - back, 0)
    with ctx.tracer.span("log.get"):
        v = st.log.get(s)
    ctx.check.eq(f"get {s}", v, st.values[s])


def _feed(ctx, st: State, author: str) -> None:
    from margaret_spark.observable import UNSET
    from margaret_spark.qry import Limit, Reverse

    tr = ctx.tracer
    with tr.span("indexes.get"):
        latest = st.idx.get(author).value()
    with tr.span("multilog.sublog_query"):
        page = list(st.sub(author).query(Reverse(), Limit(PAGE)))
    vals = []
    for s in page:
        with tr.span("log.get"):
            vals.append(st.log.get(s))
    mem = st.members.get(author, [])
    ctx.check.eq(f"feed latest {author}", latest, mem[-1] if mem else UNSET)
    want = mem[::-1][:PAGE]
    ctx.check.eq(f"feed page {author}", page, want)
    ctx.check.eq(f"feed values {author}", vals, [st.values[s] for s in want])


_OPS = {"append": _append, "get": _get, "feed": _feed}


def _do(ctx, st: State, op: tuple, record: bool = True) -> None:
    kind = op[0]
    if record:
        ctx.ops.run(kind, _OPS[kind], ctx, st, *op[1:])
    else:
        _OPS[kind](ctx, st, *op[1:])


def measure(ctx, st: State) -> tuple[dict, dict]:
    ops = st.gen.ops(max(int(ctx.seconds * OPS_PER_SECOND), 50))
    ctx.ops.measure(ops, lambda op: _do(ctx, st, op))
    sample = ctx.ops.samples
    e2e = {
        "ops_per_s": (ctx.ops.rate(), "1/s"),
        "write_p50_ms": (p50_ms(sample("append")), "ms"),
        "read_p50_ms": (p50_ms(sample("feed")), "ms"),
        "bytes_per_user_byte": (dir_bytes(st.path) / st.user_bytes, "ratio"),
    }
    extra = {}
    for kind in ("append", "get", "feed"):
        extra[f"{kind}_p50_ms"] = (p50_ms(sample(kind)), "ms")
        extra[f"{kind}_tail_ms"] = tail(sample(kind))
    return e2e, extra
