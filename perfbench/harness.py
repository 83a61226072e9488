"""Shared pieces of the workloads: the run context, engine set-up,
percentiles and the run stamp."""

from __future__ import annotations

import math
import os
import subprocess
import time
from dataclasses import dataclass, field
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
MAX_CPUS = 8


@dataclass
class Ctx:
    """One run's settings, counters, gate outcome, report notes and
    per-layer readings."""

    seed: int
    seconds: float
    trace: bool
    cpus: int
    work: Path
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    notes: list[str] = field(default_factory=list)
    setup_s: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)

    def gate(self, ok: bool, what: str) -> None:
        """Record a correctness check; a failed one fails the run."""
        self.notes.append(f"gate {'ok' if ok else 'FAILED'}: {what}")
        self.correct = self.correct and ok


def cpu_count() -> int:
    return min(len(os.sched_getaffinity(0)), MAX_CPUS)


def setup(ctx: Ctx):
    """Bring up a session and load the registry, once, cold: the run's
    process has imported nothing of the engine or its dependencies yet,
    so the set-up pays the JVM launch and the first import of pandas,
    pyarrow and the rest, as every real process does. ``ctx.setup_s``
    is the time from the first engine import to the loaded registry."""
    t0 = time.perf_counter()
    from bitcoinminingetl_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=ctx.cpus)
    t1 = time.perf_counter()
    from bitcoinminingetl_spark.registry import load_all

    registry = load_all()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    ctx.setup_s = t2 - t0
    ctx.layers["session.get_spark_s"] = t1 - t0
    ctx.layers["registry.load_all_s"] = t2 - t1
    return spark, registry


def stop_engine() -> None:
    """Stop the session and wait for the JVM that PySpark launched."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-th percentile (q in 0..100): a
    Beta((n+1)p, (n+1)(1-p))-weighted mean of all order statistics. With
    the few dozen samples a run holds, a single order statistic (nearest
    rank) swings with whichever query happens to land at the cut."""
    x = sorted(values)
    n, p = len(x), q / 100.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    steps = 64
    weights = []
    for i in range(n):  # midpoint rule for the Beta mass over [i/n, (i+1)/n]
        ts = ((i + (k + 0.5) / steps) / n for k in range(steps))
        weights.append(sum(math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_beta) for t in ts))
    return sum(w * v for w, v in zip(weights, x)) / sum(weights)


def run_stamp(ctx: Ctx, workload: str, size: str) -> dict:
    commit, dirty = "none", None
    if (REPO / ".git").exists():
        try:
            commit = subprocess.run(["git", "-C", str(REPO), "rev-parse", "HEAD"], capture_output=True,
                                    text=True, check=True).stdout.strip()
            dirty = bool(subprocess.run(["git", "-C", str(REPO), "status", "--porcelain"],
                                        capture_output=True, text=True, check=True).stdout.strip())
        except (OSError, subprocess.CalledProcessError):
            pass
    return {"workload": workload, "seed": ctx.seed, "cpus": ctx.cpus, "size": size,
            "seconds": ctx.seconds, "trace": ctx.trace, "commit": commit, "dirty": dirty}


def retained_heap_mb() -> float:
    """JVM heap still in use after full collections: what caches,
    persisted relations and other live state hold once the timed work
    is done. Collections repeat until the reading settles, so that what
    one queues for Spark's cleaner (unreferenced broadcasts, shuffles)
    is gone too."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    last = None
    for _ in range(6):
        jvm.java.lang.System.gc()
        used = heap.getHeapMemoryUsage().getUsed() / 2**20
        if last is not None and abs(used - last) < 1.0:
            break
        last = used
        time.sleep(0.3)
    return used

