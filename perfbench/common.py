"""Shared pieces of the workloads: the Spark session, timed operations
with failure accounting, the model check, and the summary statistics."""

from __future__ import annotations

import math
import os
import statistics
import sys
import time
import traceback

#: the checkout root: the benchmark measures the program that sits beside it
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def import_program():
    """Import ``margaret_spark`` from the checkout and nowhere else; a
    directory without the program makes the run fail."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import margaret_spark

    here = os.path.dirname(os.path.abspath(margaret_spark.__file__))
    if os.path.dirname(here) != ROOT:
        raise SystemExit(f"margaret_spark imported from {here}, not the checkout")
    return margaret_spark


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def start_session(state_dir: str, tracer):
    """``get_spark`` on ``local[nproc]`` with every scratch file kept under
    ``state_dir``. Returns the session and its start time in seconds."""
    from margaret_spark.session import get_spark

    local = os.path.join(state_dir, "spark-local")
    tmp = os.path.join(state_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        cpus=ncpu(),
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(state_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    tracer.count("session.start_ms", start_s * 1e3)
    return spark, start_s


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def cpu_steal_s() -> float:
    """CPU time the host gave to other guests, summed over CPUs: a run
    that lost much of it ran on a busy machine."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _dns, fns in os.walk(path):
        for f in fns:
            total += os.path.getsize(os.path.join(dp, f))
    return total


class Check:
    """Compares outputs to the workload's in-memory model."""

    def __init__(self):
        self.mismatches = 0
        self.first: list[str] = []

    def eq(self, what: str, got, want) -> bool:
        if got == want:
            return True
        self.mismatches += 1
        if len(self.first) < 5:
            self.first.append(f"{what}: got {got!r:.200} want {want!r:.200}")
        return False


#: the measured operation list runs in this many consecutive rounds
ROUNDS = 10
#: a round during which the host took more than this share of the
#: guest's CPU time (CPU steal) is left out of the figures ...
STEAL_LIMIT = 0.03
#: ... unless fewer rounds than this are left: then the figures come
#: from this many rounds, those with the least steal
MIN_ROUNDS = 5


class Ops:
    """Runs each operation of a fixed list, timing it and counting
    attempts and failures. An operation that raises is counted failed,
    its traceback goes to stderr, and the run continues.

    :meth:`measure` runs the list in ``ROUNDS`` consecutive rounds and
    records each round's busy time and the CPU steal during it. The
    figures (:meth:`samples`, :meth:`rate`) come from the counted
    rounds: those whose steal stayed within ``STEAL_LIMIT`` of the
    guest's CPU time, and at least the ``MIN_ROUNDS`` with the least
    steal."""

    def __init__(self):
        #: kind -> [(round, seconds)]; round -1 is outside measure()
        self.lat: dict[str, list[tuple[int, float]]] = {}
        self.attempted = 0
        self.failed = 0
        self.round = -1
        #: per round: (items, busy seconds, steal seconds)
        self.rounds: list[tuple[int, float, float]] = []
        self.counted: set[int] = set()

    def run(self, kind: str, fn, *args):
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*args)
        except Exception:
            self.failed += 1
            if self.failed <= 3:
                traceback.print_exc(file=sys.stderr)
            return None
        self.record(kind, time.perf_counter() - t0)
        return out

    def record(self, kind: str, seconds: float) -> None:
        self.lat.setdefault(kind, []).append((self.round, seconds))

    def measure(self, items: list, step, check=None) -> None:
        """``step(item)`` for every item, in rounds; ``check(item)``, if
        given, runs after each step outside the busy time."""
        n = len(items)
        for r in range(ROUNDS):
            self.round = r
            busy = steal = 0.0
            part = items[r * n // ROUNDS:(r + 1) * n // ROUNDS]
            for item in part:
                t0, s0 = time.perf_counter(), cpu_steal_s()
                step(item)
                busy += time.perf_counter() - t0
                steal += cpu_steal_s() - s0
                if check is not None:
                    check(item)
            self.rounds.append((len(part), busy, steal))
        self.round = -1
        cpus = ncpu()
        share = [steal / (busy * cpus) if busy else 0.0 for _n, busy, steal in self.rounds]
        least = sorted(range(ROUNDS), key=share.__getitem__)[:MIN_ROUNDS]
        self.counted = {r for r in range(ROUNDS) if share[r] <= STEAL_LIMIT} | set(least)

    def samples(self, kind: str) -> list[float]:
        return [dt for r, dt in self.lat.get(kind, ()) if r in self.counted]

    def rate(self) -> float:
        """Items per busy second over the counted rounds."""
        done = [self.rounds[r] for r in self.counted]
        return sum(n for n, _b, _s in done) / sum(b for _n, b, _s in done)


def p50_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1e3 if xs else 0.0


_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value in ms, percentile, n): the highest percentile of the ladder
    with at least ten samples above it (nearest-rank); (0, 0, n) when
    there are too few samples for any."""
    n = len(xs)
    s = sorted(xs)
    for p in _LADDER:
        k = max(math.ceil(p / 100 * n), 1)
        if n - k >= 10:
            return s[k - 1] * 1e3, p, n
    return 0.0, 0.0, n
