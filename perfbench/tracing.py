"""In-memory spans recorded around the benchmark's calls into each layer.

Spans live only in the benchmark's files: a span opens around a call the
workload makes into a layer's public function, or around a method the
traced run wraps on an object the workload owns. Each span keeps its
name, start, end, parent and the run id; all of them stay in memory
until the run ends, when :func:`layer_metrics` folds them into
``<module>.<call>_{calls,busy_ms,p50_ms}`` figures.

``busy_ms`` is self time: a span's duration minus the part of it its
child spans cover. ``p50_ms`` is the median inclusive duration of one
call.
"""

from __future__ import annotations

import contextlib
import statistics
import time
from collections import defaultdict

#: every span the workloads open; each yields _calls, _busy_ms, _p50_ms
SPANS = [
    "log.get",
    "log.append",
    "log.append_many",
    "log.append_df",
    "log.query",
    "log.query_df",
    "log.collect",
    "log.df",
    "log.check_consistency",
    "qry.apply_plan",
    "codec.marshal",
    "codec.unmarshal",
    "multilog.sublog_append",
    "multilog.sublog_query",
    "multilog.append_df",
    "multilog.ranks",
    "indexes.set",
    "indexes.get",
    "indexes.pour",
    "indexes.build_index_setter",
    "indexes.build_index_mlog",
    "indexes.latest_by_key",
    "indexes.fanout",
    "writers.maybe_compact",
    "streaming.stream_build_index",
    "seqassign.with_dense_seq",
]


class Tracer:
    """Records spans; one instance per run."""

    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        # [name, start, end, parent index or -1, run id]
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        # indexes into self.spans of the spans open right now
        self._stack: list[int] = []

    def current(self) -> str | None:
        return self.spans[self._stack[-1]][0] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else -1
        rec = [name, time.perf_counter(), 0.0, parent, self.run_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] += n

    def wrap(self, owner, attr: str, name: str | None, on_result=None) -> None:
        """Replace ``owner.attr`` by a function that runs the original
        inside a span (none when ``name`` is None: the call's time stays
        with its caller); ``on_result(result, args)`` may record counts."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            if name is None:
                out = orig(*args, **kwargs)
            else:
                with self.span(name):
                    out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out, args)
            return out

        setattr(owner, attr, traced)

    def wrap_iter(self, owner, attr: str, name: str) -> None:
        """Like :meth:`wrap` for a method returning an iterator: every
        ``next()`` runs in a span, so the consumer's own work between
        items is not charged to the producer."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            it = iter(orig(*args, **kwargs))

            def gen():
                while True:
                    with tracer.span(name):
                        try:
                            item = next(it)
                        except StopIteration:
                            return
                    yield item

            return gen()

        setattr(owner, attr, traced)


class NullTracer:
    """The untraced run's tracer: every hook is a no-op."""

    enabled = False
    _null = contextlib.nullcontext()

    def span(self, name: str):
        return self._null

    def count(self, name: str, n: float = 1) -> None:
        pass

    def wrap(self, *a, **k) -> None:
        pass


def _self_times(spans: list[list]) -> list[float]:
    """Duration of each span minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for name, s, e, parent, _run in spans:
        if parent >= 0:
            children[parent].append((s, e))
    out = []
    for i, (name, s, e, parent, _run) in enumerate(spans):
        covered = 0.0
        cur_s = cur_e = None
        for cs, ce in sorted(children.get(i, ())):
            cs, ce = max(cs, s), min(ce, e)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append(max(e - s - covered, 0.0))
    return out


def layer_metrics(tracer: Tracer) -> dict[str, tuple[float, str]]:
    """Every figure of each SPANS name, then the counts and ratios measured
    at the same boundaries, as name -> (value, unit). A layer the workload
    never calls reads 0."""
    spans = tracer.spans
    selfs = _self_times(spans)
    durs: dict[str, list[float]] = defaultdict(list)
    busy: dict[str, float] = defaultdict(float)
    for (name, s, e, _p, _r), st in zip(spans, selfs):
        durs[name].append(e - s)
        busy[name] += st
    out: dict[str, tuple[float, str]] = {}
    for name in SPANS:
        d = durs.get(name, [])
        out[f"{name}_calls"] = (float(len(d)), "count")
        out[f"{name}_busy_ms"] = (busy.get(name, 0.0) * 1e3, "ms")
        out[f"{name}_p50_ms"] = (statistics.median(d) * 1e3 if d else 0.0, "ms")

    c = tracer.counts
    # planning: building the DataFrame of a query on the driver (the
    # log.df view and the algebra compiled onto it); execution: the rest
    # of the time the caller waits for rows
    plan_s = sum(
        e - s for name, s, e, p, _r in spans
        if name == "log.query_df"
        or (name in ("log.df", "qry.apply_plan")
            and _nearest(spans, p, _QUERY_SPANS) == "log.query"))
    exec_s = sum(st for (name, *_x), st in zip(spans, selfs)
                 if name in ("log.query", "log.collect"))
    gets = c.get("log.get_files_calls", 0.0)
    appended = c.get("writers.appended_bytes", 0.0)
    inserts = c.get("multilog.inserts", 0.0)
    out["session.start_ms"] = (c.get("session.start_ms", 0.0), "ms")
    out["log.files_per_get"] = (
        c.get("log.get_files", 0.0) / gets if gets else 0.0, "count")
    out["log.query_plan_ms"] = (plan_s * 1e3, "ms")
    out["log.query_exec_ms"] = (exec_s * 1e3, "ms")
    out["writers.runs_merged"] = (c.get("writers.runs_merged", 0.0), "count")
    out["writers.rewrite_amplification"] = (
        c.get("writers.rewritten_bytes", 0.0) / appended if appended else 0.0,
        "ratio")
    out["multilog.append_grew_ratio"] = (
        c.get("multilog.grew", 0.0) / inserts if inserts else 0.0, "ratio")
    for name in ("indexes.rows_poured", "indexes.upsert_files",
                 "indexes.cursor_writes"):
        out[name] = (c.get(name, 0.0), "count")
    return out


_QUERY_SPANS = ("log.query", "log.query_df", "log.df", "qry.apply_plan",
                "log.check_consistency")


def _nearest(spans, parent: int, names) -> str | None:
    """Name of the closest enclosing span whose name is in ``names``."""
    while parent >= 0:
        if spans[parent][0] in names:
            return spans[parent][0]
        parent = spans[parent][3]
    return None
