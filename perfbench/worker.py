"""One run of one workload, in a fresh process with a fresh state directory.

    python3 perfbench/worker.py --workload feed_oltp --seed 1 --seconds 10 \
        --trace 0 --state <dir> --out <result.json> [--tiny]

Set-up is: Spark session start, the preload (made ``PRELOADS`` times
into fresh directories; the median is counted and the last is kept),
then an untimed warm-up and ``os.sync()``. The fixed operation list
runs after that. With ``--trace 1`` the spans of tracing.py are recorded
during the measured phase only.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import statistics
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (Check, Ops, import_program, ncpu, start_session,  # noqa: E402
                    stop_session)
from tracing import NullTracer, Tracer, layer_metrics  # noqa: E402

WORKLOADS = ("feed_oltp", "index_follow")
PRELOADS = 3


class Ctx:
    def __init__(self, spark, seed: int, seconds: float):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.tracer = NullTracer()
        self.check = Check()
        self.ops = Ops()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--state", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tiny", action="store_true", help="the self-test's sizes")
    args = ap.parse_args()

    import_program()
    wl = importlib.import_module(args.workload)
    if args.tiny:
        for name, value in wl.TINY.items():
            setattr(wl, name, value)
    os.makedirs(args.state, exist_ok=True)
    tracer = Tracer(uuid.uuid4().hex) if args.trace else NullTracer()

    spark, start_s = start_session(args.state, tracer)
    try:
        ctx = Ctx(spark, args.seed, args.seconds)
        preload_s = []
        st = None
        for i in range(PRELOADS):
            if st is not None:
                shutil.rmtree(st.path, ignore_errors=True)
            t0 = time.perf_counter()
            st = wl.preload(ctx, os.path.join(args.state, f"data{i}"))
            preload_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warmup(ctx, st)
        os.sync()
        warm_s = time.perf_counter() - t0
        setup_s = start_s + statistics.median(preload_s) + warm_s

        # only the measured phase counts attempts, failures and spans
        ctx.ops = Ops()
        if args.trace:
            ctx.tracer = tracer
            wl.instrument(tracer, st)
        t0 = time.perf_counter()
        e2e, extra = wl.measure(ctx, st)
        measured_s = time.perf_counter() - t0
    finally:
        stop_session(spark)

    import pyarrow
    import pyspark

    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "correct": ctx.check.mismatches == 0,
        "mismatches": ctx.check.mismatches,
        "first_mismatches": ctx.check.first,
        "attempted": ctx.ops.attempted,
        "failed": ctx.ops.failed,
        "setup_s": setup_s,
        "setup_parts_s": {"session": start_s, "preloads": preload_s, "warmup": warm_s},
        "measured_s": measured_s,
        "rounds": ctx.ops.rounds,
        "counted_rounds": sorted(ctx.ops.counted),
        "e2e": e2e,
        "extra": extra,
        "layers": layer_metrics(tracer) if args.trace else {},
        "env": {
            "nproc": ncpu(),
            "python": platform.python_version(),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
        },
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
