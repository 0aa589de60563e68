"""Shared pieces of the benchmark: the session, statistics, job counting
and the result every workload returns.

A workload module exposes ``run(ctx, spark) -> Result``. ``Context``
carries the command-line arguments, the process start time and the scratch
directory; ``Result`` carries what ``run.py`` prints.
"""

from __future__ import annotations

import itertools
import os
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

#: Seconds a run may keep measuring past ``--seconds`` to reach its
#: minimum round count; with the set-up and warm-up this keeps a run well
#: inside the three-minute limit.
MAX_OVERRUN_S = 40.0
#: A round during which the hypervisor ran other guests for more than this
#: share of the VM's CPU time is repeated: in the runs that set this, such
#: rounds ran 15-40% slow while clean rounds of the same run did not.
STEAL_MAX = 0.05
SPARE_ROUNDS = 1
#: Rounds of a traced run, two untraced and two traced.
TRACED_ROUNDS = 4


@dataclass
class Context:
    seed: int
    seconds: float
    trace: bool
    work_dir: str
    t_start: float  # perf_counter() at process start
    t_session_up: float = 0.0  # perf_counter() once the session is up


@dataclass
class Result:
    end_to_end: dict[str, float]
    per_layer: dict[str, float]
    attempted: int
    failed: int
    checks: list[tuple[str, bool]] = field(default_factory=list)


class Tally:
    """Operations attempted and failed in one run. An operation that
    raises, or a check that fails, counts as failed. Thread-safe: the
    batch warm-up calls ``op`` from a thread pool."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool]] = []
        self._lock = threading.Lock()

    def _count(self, failed: bool) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += int(failed)

    def op(self, fn):
        try:
            out = fn()
        except Exception as exc:  # a failed operation is a result, not a crash
            self._count(True)
            print(f"operation failed: {exc!r}"[:2000], file=sys.stderr)
            return None
        self._count(False)
        return out

    def check(self, name: str, ok: bool) -> None:
        self._count(not ok)
        self.checks.append((name, bool(ok)))
        if not ok:
            print(f"check failed: {name}", file=sys.stderr)


def start_session():
    """The engine session exactly as ``bench.py`` builds it: the package
    factory's defaults plus the one periodic-GC override, on four local
    cores. Scratch files of the JVM and the Python workers go under the
    benchmark's work directory, which the caller has put in ``TMPDIR`` /
    ``SPARK_LOCAL_DIRS``."""
    from cours_datalake_dwh_td_kafka_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master="local[4]",
        extra_conf={"spark.cleaner.periodicGC.interval": "30min"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits when its stdin
    pipe closes), so no process outlives the run."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Jobs:
    """Counts Spark jobs per labelled call through job groups and the
    status tracker (works with the UI off). Only used in traced runs."""

    _groups = itertools.count(1)  # group names are unique per process

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    def run(self, fn):
        """Run ``fn`` under a fresh job group; return (result, jobs)."""
        group = f"perfbench-{next(self._groups)}"
        self.sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            self.sc.setJobGroup("", "")
        return out, len(self.sc.statusTracker().getJobIdsForGroup(group))


def timed(fn):
    """(result, seconds) of one call."""
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def quartiles(xs) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(xs) < 2:
        v = median(xs)
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def _steal() -> float:
    """CPU seconds the hypervisor ran other guests on this VM's CPUs
    (``/proc/stat``; 0 where the field is missing)."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def measure_rounds(ctx: Context, min_rounds: int, one_round) -> list:
    """Call ``one_round(i, traced)`` until ``ctx.seconds`` have passed and
    ``min_rounds`` rounds ran clean, i.e. while the hypervisor stole at
    most ``STEAL_MAX`` of the VM's CPU time. A stolen round is repeated,
    at most ``SPARE_ROUNDS`` times a run, and left out when enough clean
    rounds remain. A traced run instead runs ``TRACED_ROUNDS`` rounds,
    untraced, traced, traced, untraced (a linear warm-up trend cancels in
    the traced-minus-untraced overhead), and keeps every round. Returns
    the kept results in order."""
    if ctx.trace:
        min_rounds = TRACED_ROUNDS
    out, shares = [], []
    ncpu = os.cpu_count() or 1
    t0 = time.perf_counter()
    while True:
        t, st0 = time.perf_counter(), _steal()
        out.append(one_round(len(out), ctx.trace and len(out) % 4 in (1, 2)))
        wall = time.perf_counter() - t
        shares.append((_steal() - st0) / (ncpu * wall))
        print(f"round {len(out)}: {wall:.3f}s, host steal {shares[-1]:.1%}",
              file=sys.stderr)
        elapsed = time.perf_counter() - t0
        clean = sum(s <= STEAL_MAX for s in shares)
        if elapsed >= ctx.seconds and len(out) >= min_rounds and (
            ctx.trace or clean >= min_rounds or len(out) >= min_rounds + SPARE_ROUNDS
        ):
            break
        if elapsed >= ctx.seconds + MAX_OVERRUN_S:
            break
    if ctx.trace or len(out) == min_rounds:
        return out
    keep = sorted(range(len(out)), key=lambda i: shares[i])[:max(min_rounds, clean)]
    print(f"kept rounds {sorted(i + 1 for i in keep)}", file=sys.stderr)
    return [out[i] for i in sorted(keep)]


def report_spread(name: str, xs) -> None:
    """Log a measured series' quartiles beside its median (stderr)."""
    q1, q2, q3 = quartiles(xs)
    spread = (q3 - q1) / q2 if q2 else 0.0
    print(
        f"{name}: n={len(xs)} median={q2:.4f} q1={q1:.4f} q3={q3:.4f} "
        f"iqr/median={spread:.3f}",
        file=sys.stderr,
    )


def setup_seconds(ctx: Context, input_times) -> float:
    """``setup_s``: process start until the session is up, plus the
    median of the repeated input preparations."""
    report_spread("setup.inputs_s", input_times)
    return (ctx.t_session_up - ctx.t_start) + median(input_times)
