"""Benchmark entry point.

    python3 perfbench/run.py --workload llm_corpus --seed 1 --seconds 8 --trace 0

Runs one workload against the engine in the checkout this file sits in,
checks its outputs, and prints a report followed by one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run. Exits 1 when a correctness gate fails. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
END_TO_END = {"setup_s": "s", "pass_s": "s", "latency_p50_ms": "ms",
              "latency_p95_ms": "ms", "retained_heap_mb": "MB"}

# Every traced run reports all of these; a layer a workload does not
# exercise reads 0 there.
PER_LAYER = {
    "session.get_spark_s": "s", "registry.load_all_s": "s",
    "catalog.calls": "count", "catalog.s": "s",
    "operators.build_s": "s", "operators.build_share": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "exec.s": "s", "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.peak_memory_bytes": "bytes", "exec.broadcast_rows": "count", "exec.python_rows": "count",
    "cache.builds": "count", "cache.hits": "count", "cache.build_s": "s",
    "dedup.planted_recall": "ratio", "dedup.output_pairs": "count",
    "sources.backlog_files": "count", "sources.files_per_batch": "count",
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
    "etl.rows_in": "count", "etl.rows_routed": "count", "etl.route_ratio": "ratio",
    "sink.write_s": "s", "sink.files": "count", "sink.bytes": "bytes",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.trigger_ms": "ms",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "bench.warm_s": "s", "bench.traced_pass_s": "s", "bench.trace_overhead_s": "s",
    "bench.generator_lag_ms": "ms", "peak_rss_mb": "MB",
}


def _environment(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and put the
    checkout on the Python workers' import path: Arrow/pandas operators
    pickle engine functions by module name, so a worker that cannot
    import ``bitcoinminingetl_spark`` fails every such query."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    sys.path.insert(0, str(REPO))
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # quoted twice, for PySpark's shlex split of the submit arguments and
    # Spark's own split of extraJavaOptions: the checkout's path may hold
    # spaces
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f'spark.driver.extraJavaOptions="-Djava.io.tmpdir={tmp}"',
        "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}", "pyspark-shell",
    ])


def _cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of this machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("llm_corpus", "refpipe_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    ticks0 = _cpu_ticks()
    work = REPO / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _environment(work)
    try:
        import bitcoinminingetl_spark  # fails before any work when the engine is absent

        if Path(bitcoinminingetl_spark.__file__).resolve().parent != REPO / "bitcoinminingetl_spark":
            raise SystemExit(f"engine imported from {bitcoinminingetl_spark.__file__}, not from {REPO}")

        sys.path.insert(0, str(BENCH))
        from harness import Ctx, cpu_count, setup, stop_engine

        ctx = Ctx(seed=args.seed, seconds=args.seconds, trace=bool(args.trace), cpus=cpu_count(), work=work)
        try:
            # set-up comes first, so that it imports the engine and its
            # dependencies cold
            spark, registry = setup(ctx)
            import batch
            import stream

            workload = {"llm_corpus": batch.llm_corpus, "refpipe_stream": stream.refpipe_stream}[args.workload]
            stamp, e2e = workload(ctx, spark, registry)
        finally:
            stop_engine()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e["setup_s"] = ctx.setup_s

    print("stamp " + json.dumps(stamp))
    # a virtual machine's host can take its CPUs away (steal): a run with
    # a large share reads slow on every time metric, whatever the engine did
    total, steal = (b - a for a, b in zip(ticks0, _cpu_ticks()))
    print(f"host steal {steal / max(1, total):.1%} of CPU time during the run")
    for note in ctx.notes:
        print(note)
    print(f"failed_frac {ctx.failed / max(1, ctx.attempted):.4f} ({ctx.failed}/{ctx.attempted})")
    if ctx.trace:
        metrics = {k: {"value": float(ctx.layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    for k, v in metrics.items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": ctx.correct, "attempted": ctx.attempted, "failed": ctx.failed,
                      "metrics": metrics}))
    return 0 if ctx.correct else 1


if __name__ == "__main__":
    sys.exit(main())
