"""The benchmark's one command.

    python3 perfbench/run.py --workload feed_oltp --seed 1 --seconds 10 --trace 0

Runs the workload once in a fresh worker process (worker.py) with a
fresh state directory under ``.perfbench_state/`` of the checkout, and
prints every metric by name with its unit; the last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``.

- ``--trace 0``: the end-to-end metrics of BENCHMARK.json.
- ``--trace 1``: an untraced run, then a traced run of the same seed;
  the per-layer metrics of BENCHMARK.json come from the traced run, the
  workload's own latencies from the untraced one, and
  ``tracing_overhead_pct`` is the traced run's measured time over the
  untraced run's.

A model mismatch in any run makes ``correct`` false and the exit code 1.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_ROOT = os.path.join(ROOT, ".perfbench_state")
WORKLOADS = ("feed_oltp", "index_follow")

#: the workloads' own latencies and rates: each workload fills the ones
#: its operations have and reports 0 for the rest
WORKLOAD_FIGURES = {
    "append_p50_ms": "ms", "append_tail_ms": "ms",
    "get_p50_ms": "ms", "get_tail_ms": "ms",
    "feed_p50_ms": "ms", "feed_tail_ms": "ms",
    "catchup_p50_ms": "ms", "catchup_tail_ms": "ms",
    "rebuild_rows_per_s": "1/s",
    "replay_rows_per_s": "1/s",
    "query_p50_ms": "ms",
}
#: the worker processes of one run may take this long, plus
#: TIMEOUT_PER_SECOND_S for each second of --seconds, before they are
#: killed: 170 s at --seconds 10, inside the 180 s a run may take
TIMEOUT_BASE_S = 130
TIMEOUT_PER_SECOND_S = 4


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (its JVM and Python
    workers included) and wait until every member has ended."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_worker(workload: str, seed: int, seconds: float, trace: int,
               state: str, budget_s: float, tiny: bool) -> dict:
    out = os.path.join(state, "result.json")
    log = os.path.join(state, "worker.log")
    os.makedirs(state, exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--state", state, "--out", out] + (["--tiny"] if tiny else [])
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _kill_group(proc)
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            lines = [ln for ln in f.read().splitlines()
                     if " WARN " not in ln and " INFO " not in ln]
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        why = "timed out" if code is None else f"exit code {code}"
        raise SystemExit(f"perfbench: {workload} worker failed ({why})")
    with open(out) as f:
        return json.load(f)


def _describe(r: dict) -> None:
    env = r["env"]
    print(f"# {r['workload']} seed={r['seed']} trace={r['trace']} "
          f"nproc={env['nproc']} python={env['python']} spark={env['spark']} "
          f"pyarrow={env['pyarrow']}")
    parts = r["setup_parts_s"]
    print(f"#   setup {r['setup_s']:.3f} s = session {parts['session']:.3f} + "
          f"median preload of {[round(x, 3) for x in parts['preloads']]} + "
          f"warm-up {parts['warmup']:.3f}; measured {r['measured_s']:.3f} s "
          f"attempted {r['attempted']} failed {r['failed']} "
          f"mismatches {r['mismatches']}")
    rounds = ", ".join(f"{b:.2f} s/{st:.2f}" for _n, b, st in r["rounds"])
    print(f"#   rounds (busy/cpu steal): {rounds}; figures from rounds "
          f"{r['counted_rounds']}")
    for m in r["first_mismatches"]:
        print(f"#   MISMATCH {m}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the self-test; the figures mean nothing")
    args = ap.parse_args()
    limit = importlib.import_module(args.workload).MAX_SECONDS
    if not 0 < args.seconds <= limit:
        ap.error(f"{args.workload} takes --seconds in (0, {limit}]")
    # a terminated run still stops its worker's process group (run_worker's
    # finally) and removes its state directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    run_dir = os.path.join(STATE_ROOT, f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:12]}")
    t_start = time.time()
    try:
        modes = (0, 1) if args.trace else (0,)
        results = []
        for mode in modes:
            # the untraced run of a traced pair gets half of the budget
            left = (TIMEOUT_BASE_S + TIMEOUT_PER_SECOND_S * args.seconds
                    - (time.time() - t_start))
            if args.trace and mode == 0:
                left /= 2
            results.append(run_worker(args.workload, args.seed, args.seconds, mode,
                                      os.path.join(run_dir, f"trace{mode}"), left,
                                      args.tiny))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(STATE_ROOT)
        except OSError:
            pass

    for r in results:
        _describe(r)
    plain = results[0]
    metrics: dict[str, tuple[float, str]] = {}
    if args.trace:
        traced = results[1]
        metrics.update({k: tuple(v) for k, v in traced["layers"].items()})
        for name, unit in WORKLOAD_FIGURES.items():
            v = plain["extra"].get(name)
            if v is None:
                metrics[name] = (0.0, unit)
            elif len(v) == 3:  # a tail: (value, percentile, n)
                metrics[name] = (v[0], unit)
                if v[1]:
                    print(f"#   {name} = p{v[1]:g} of n={v[2]}: {v[0]:.4f} {unit}")
                else:
                    print(f"#   {name}: n={v[2]}, too few samples for a tail")
            else:
                metrics[name] = (v[0], unit)
        metrics["tracing_overhead_pct"] = (
            (traced["measured_s"] / plain["measured_s"] - 1) * 100, "%")
    else:
        metrics["setup_s"] = (plain["setup_s"], "s")
        metrics.update({k: tuple(v) for k, v in plain["e2e"].items()})
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")

    correct = all(r["correct"] for r in results)
    print(json.dumps({
        "correct": correct,
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
