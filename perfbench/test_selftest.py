"""Tiny-size self-test of the benchmark.

    python3 -m pytest perfbench/test_selftest.py -q

Runs every workload of BENCHMARK.json untraced and traced at the sizes
of each workload's ``TINY``, checks that each run is correct and prints
exactly the metrics BENCHMARK.json names, that the layers each workload
exists to load are busy and the ones it should bypass are idle, and that
the command fails in a directory without the program.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import common  # noqa: E402
from common import tail  # noqa: E402
from tracing import Tracer, layer_metrics  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]

#: per workload: per-layer figures that must be non-zero / exactly zero
BUSY = {
    "feed_oltp": ["log.get_calls", "log.append_calls", "codec.marshal_calls",
                  "codec.unmarshal_calls", "writers.maybe_compact_calls",
                  "multilog.sublog_append_calls", "multilog.sublog_query_calls",
                  "indexes.set_calls", "indexes.get_calls", "log.files_per_get",
                  "multilog.append_grew_ratio", "indexes.upsert_files",
                  "get_p50_ms", "feed_p50_ms", "append_p50_ms"],
    "index_follow": ["log.append_many_calls", "log.query_calls", "log.df_calls",
                     "qry.apply_plan_calls", "indexes.build_index_setter_calls",
                     "indexes.build_index_mlog_calls", "indexes.pour_calls",
                     "indexes.rows_poured", "indexes.upsert_files",
                     "indexes.cursor_writes", "log.query_plan_ms",
                     "log.query_exec_ms", "catchup_p50_ms", "rebuild_rows_per_s",
                     "log.append_df_calls", "multilog.append_df_calls",
                     "indexes.fanout_calls", "indexes.latest_by_key_calls",
                     "streaming.stream_build_index_calls",
                     "seqassign.with_dense_seq_calls", "multilog.ranks_calls",
                     "log.query_df_calls", "log.collect_calls",
                     "log.check_consistency_calls", "replay_rows_per_s", "query_p50_ms"],
}
IDLE = {
    "feed_oltp": ["log.append_df_calls", "log.query_calls",
                  "indexes.build_index_setter_calls", "streaming.stream_build_index_calls"],
    "index_follow": ["log.get_calls", "log.append_calls", "writers.maybe_compact_calls",
                     "multilog.sublog_query_calls", "indexes.get_calls"],
}


def _run(root: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
           "--workload", workload, "--seed", "3", "--seconds", "1",
           "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=400)


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    r = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] is True
    assert r["failed"] == 0 and r["attempted"] >= 1
    return r


def test_benchmark_json_format():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert BENCH["paths"] == ["perfbench"]
    assert 1 <= BENCH["run_seconds"] <= 60
    assert 2 <= len(WORKLOADS) <= 8
    names = WORKLOADS + [m["name"] for m in BENCH["end_to_end"] + BENCH["per_layer"]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and m["bound"] <= 0.25
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert 1 <= len(BENCH["per_layer"]) <= 128
    assert {"name": "setup_s", "unit": "s", "better": "lower"}.items() <= next(
        m for m in BENCH["end_to_end"] if m["name"] == "setup_s").items()


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run(workload):
    r = _result(_run(ROOT, workload, 0))
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert set(r["metrics"]) == set(want)
    for name, m in r["metrics"].items():
        assert m["unit"] == want[name]
        assert m["value"] > 0, name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run(workload):
    r = _result(_run(ROOT, workload, 1))
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert set(r["metrics"]) == set(want)
    for name, m in r["metrics"].items():
        assert m["unit"] == want[name]
    for name in BUSY[workload]:
        assert r["metrics"][name]["value"] > 0, name
    for name in IDLE[workload]:
        assert r["metrics"][name]["value"] == 0, name
    state = os.path.join(ROOT, ".perfbench_state")
    left = os.listdir(state) if os.path.isdir(state) else []
    assert not [d for d in left if d.startswith(f"{workload}-s3-")]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), WORKLOADS[0], 0)
    assert p.returncode != 0
    last = (p.stdout.strip().splitlines() or [""])[-1]
    assert not last.startswith("{")


def test_rejects_seconds_past_the_workload_limit():
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                        "index_follow", "--seed", "1", "--seconds", "11"],
                       cwd=ROOT, capture_output=True, text=True, timeout=60)
    assert p.returncode == 2 and "--seconds" in p.stderr and not p.stdout


def test_rounds_with_cpu_steal_are_left_out(monkeypatch):
    stolen = [0.0]
    monkeypatch.setattr(common, "cpu_steal_s", lambda: stolen[0])

    def measure(dirty_items):
        ops = common.Ops()

        def step(i):
            ops.run("op", time.sleep, 0.002)
            if i < dirty_items:
                stolen[0] += 1.0 + i  # the host took a second or more meanwhile

        ops.measure(list(range(20)), step)
        return ops

    ops = measure(4)  # rounds 0 and 1
    assert ops.counted == set(range(2, 10))
    assert len(ops.samples("op")) == 16
    assert 100 < ops.rate() < 500
    # rounds 0-6 are stolen from, each more than the one before; the
    # figures come from the clean rounds 7-9 and the two least stolen from
    ops = measure(14)
    assert ops.counted == {0, 1, 7, 8, 9}
    assert len(ops.samples("op")) == 10


def test_self_time_subtracts_children():
    tr = Tracer("t")
    with tr.span("log.get"):
        with tr.span("codec.unmarshal"):
            time.sleep(0.02)
        time.sleep(0.01)
    m = layer_metrics(tr)
    assert m["log.get_calls"][0] == 1
    assert m["log.get_p50_ms"][0] >= 30
    assert 8 <= m["log.get_busy_ms"][0] < 20
    assert m["codec.unmarshal_busy_ms"][0] >= 20


def test_tail_needs_ten_samples_above():
    xs = [i / 1000 for i in range(1, 101)]  # 1..100 ms
    value, pct, n = tail(xs)
    assert (pct, n) == (90.0, 100) and value == pytest.approx(90.0)
    assert tail(xs[:10]) == (0.0, 0.0, 10)
