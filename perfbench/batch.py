"""The batch workload, ``llm_corpus``: the dedup, similarity, corpus and
MLlib operators over a seeded corpus with planted near-duplicates.

A closed loop with one client: the next query is built by its
registered function (``QuerySpec.fn``) and collected only after the
previous one finished. The rows are collected through the DataFrame's
own QueryExecution, so the executed plan's SQL metrics stay readable
afterwards.

``WARM_PASSES`` untimed passes come first. A timed window then holds
at least ``MIN_PASSES`` passes over the queries, and more while one
more pass still fits in ``--seconds``. A traced run makes exactly four
passes, see ``TRACED_PASSES``. Peak memory is sampled from the warm-up
to the end of the last timed one; the correctness gates run after that.
"""

from __future__ import annotations

import hashlib
import json
import statistics
import time

from bitcoinminingetl_spark.functions.cache import unpersist_all

import gen
import spans
from harness import Ctx, jvm_pid, percentile, retained_heap_mb, run_stamp
from rss import PeakRss

# Five of the 61 registered queries of operators/dedup, similarity,
# corpus_ops and mllib_ops, fixed here so that the workload does not
# shift when the registry changes: each module is represented, the two
# embedding queries share one persist-once relation (normed embeddings),
# and the corpus is large enough that execution, shuffles and the index
# builds dominate construction.
LLM_DOCS = 2000
LLM_QUERIES = ("q_ann_brp_mllib", "q_dedup_containment", "q_dedup_minhash_lsh", "q_knn_join", "q_mix_epochs")
# After one warm pass the JIT is still compiling: the next pass ran
# 15-40 % slower than the one after it, by an amount that varied from
# run to run. After two, the passes level out.
WARM_PASSES = 2
MIN_PASSES = 2
# A traced run makes four passes and traces the first and the last;
# around the middle two, untraced, linear warm-up drift cancels.
TRACED_PASSES = (0, 3)
RECALL_QUERY = "q_dedup_minhash_lsh"
# Planted near-duplicate recall of RECALL_QUERY is a fixed number per
# seed (399 planted pairs, one pair = 0.0025). Over seeds 0-399 at the
# commit that defined this benchmark it read 0.932-0.995, mean 0.969, sd
# 0.011: the floor is the lowest reading less about one pair. A kernel
# change must not trade recall away for speed.
RECALL_FLOOR = 0.93


def _one_pass(ctx: Ctx, spark, registry, sf_dir: str, tracer=None) -> dict:
    """Build and collect each query once, always in ``LLM_QUERIES``
    order: queries that share a persist-once relation leave its build to
    the first of them, and a changing order would move that cost between
    queries from run to run."""
    lat, results, frames, failed = {}, {}, [], 0
    t0 = time.perf_counter()
    for name in LLM_QUERIES:
        q0 = time.perf_counter()
        try:
            fn = registry[name].fn
            if tracer is None:
                results[name] = fn(spark, sf_dir).collect()
            else:
                with tracer.span("operators.build", op=name):
                    df = fn(spark, sf_dir)
                with tracer.span("exec", op=name):
                    results[name] = df.collect()
                frames.append(df)
        except Exception as exc:  # noqa: BLE001 — a failed query is counted, the loop goes on
            failed += 1
            msg = str(exc).strip().splitlines()
            ctx.notes.append(f"failed {name}: {msg[0][:200] if msg else type(exc).__name__}")
            continue
        lat[name] = (time.perf_counter() - q0) * 1000.0
    return {"wall": time.perf_counter() - t0, "lat": lat, "results": results, "frames": frames,
            "failed": failed}


def _timed_passes(ctx: Ctx, spark, registry, sf_dir: str) -> list[dict]:
    """Run the timed passes, each with the persist-once caches emptied
    first, so that it builds its indexes cold, as a new corpus version
    would. After each pass, outside its wall time, its results are
    reduced to per-query hashes; only the last pass keeps its rows."""
    tracer = spans.Tracer() if ctx.trace else None
    passes: list[dict] = []
    start = time.perf_counter()
    while True:
        unpersist_all()
        traced = ctx.trace and len(passes) in TRACED_PASSES
        restore = spans.install(tracer) if traced else None
        try:
            res = _one_pass(ctx, spark, registry, sf_dir, tracer if traced else None)
        finally:
            if restore is not None:
                restore()
        res["traced"] = traced
        res["hashes"] = {n: _result_hash(rows) for n, rows in res["results"].items()}
        if passes:
            del passes[-1]["results"]
        passes.append(res)
        ctx.attempted += len(LLM_QUERIES)
        ctx.failed += res["failed"]
        if ctx.trace:
            if len(passes) == TRACED_PASSES[-1] + 1:
                break
        elif len(passes) >= MIN_PASSES and time.perf_counter() - start + res["wall"] > ctx.seconds:
            break
    ctx.notes.append(f"pass walls {[round(p['wall'], 3) for p in passes]}")
    if tracer is not None:
        _layer_metrics(ctx, tracer, passes)
    return passes


def _e2e(ctx: Ctx, passes: list[dict]) -> dict:
    untraced = [p for p in passes if not p["traced"]]
    lat = [x for p in untraced for x in p["lat"].values()]
    per_query = {n: statistics.mean(p["lat"][n] for p in untraced if n in p["lat"]) for n in untraced[0]["lat"]}
    slowest = sorted(per_query.items(), key=lambda kv: -kv[1])[:3]
    ctx.notes.append("slowest queries " + ", ".join(f"{n} {ms:.0f} ms" for n, ms in slowest))
    return {"pass_s": statistics.median(p["wall"] for p in untraced),
            "latency_p50_ms": percentile(lat, 50), "latency_p95_ms": percentile(lat, 95)}


def _layer_metrics(ctx: Ctx, tracer, passes: list[dict]) -> None:
    traced = [p for p in passes if p["traced"]]
    n = len(traced)
    pass_s = statistics.mean(p["wall"] for p in traced)
    untraced_s = statistics.mean(p["wall"] for p in passes[TRACED_PASSES[0]:] if not p["traced"])
    exec_m: dict[str, float] = {}
    peak = 0.0
    for p in traced:
        for df in p["frames"]:
            m = spans.query_metrics(df)
            peak = max(peak, m.pop("peak_memory_bytes"))
            for k, v in m.items():
                exec_m[k] = exec_m.get(k, 0.0) + v / n
    build_s = tracer.total("operators.build") / n
    L = ctx.layers
    L["operators.build_s"] = build_s
    L["operators.build_share"] = build_s / pass_s
    L["exec.s"] = tracer.total("exec") / n
    L["catalog.calls"] = tracer.counts["catalog.calls"] / n
    L["catalog.s"] = tracer.total("catalog") / n
    L["cache.builds"] = tracer.counts["cache.builds"] / n
    L["cache.hits"] = tracer.counts["cache.hits"] / n
    L["cache.build_s"] = tracer.total("cache") / n
    for phase in ("analysis_s", "optimization_s", "planning_s"):
        L[f"catalyst.{phase}"] = exec_m.get(phase, 0.0)
    for k in ("shuffle_write_bytes", "spill_bytes", "broadcast_rows", "python_rows"):
        L[f"exec.{k}"] = exec_m.get(k, 0.0)
    L["exec.peak_memory_bytes"] = peak
    L["bench.traced_pass_s"] = pass_s
    L["bench.trace_overhead_s"] = pass_s - untraced_s
    tracer.write(ctx.work.parent / f"trace-{ctx.work.name}.json")


def _result_hash(rows) -> str:
    from bitcoinminingetl_spark.oracle_check import canon

    canon_rows = sorted((tuple(canon(v) for v in r) for r in rows), key=repr)
    return hashlib.sha256(repr(canon_rows).encode()).hexdigest()


def llm_corpus(ctx: Ctx, spark, registry):
    corpus = ctx.work / "corpus"
    corpus.mkdir(parents=True)
    planted = set(gen.corpus(corpus, ctx.seed, LLM_DOCS))

    with PeakRss(jvm_pid()) as mem:
        # untimed warm passes: code generation, the JIT, the Python
        # workers and the JVM heap are warm when the timed passes start
        t0 = time.perf_counter()
        for _ in range(WARM_PASSES):
            unpersist_all()
            _one_pass(ctx, spark, registry, str(corpus))
        ctx.layers["bench.warm_s"] = time.perf_counter() - t0
        passes = _timed_passes(ctx, spark, registry, str(corpus))
    ctx.layers["peak_rss_mb"] = mem.peak_mb
    # the last pass's persist-once relations are still held here
    heap_mb = retained_heap_mb()

    unstable = sorted(n for n in LLM_QUERIES if len({p["hashes"].get(n) for p in passes}) != 1)
    ctx.gate(not unstable, f"result hashes equal across cold passes {unstable}")
    digest = json.dumps(passes[0]["hashes"], sort_keys=True).encode()
    ctx.notes.append("result hash " + hashlib.sha256(digest).hexdigest()[:16])
    pairs = {(int(a), int(b)) for a, b, *_ in passes[-1]["results"].get(RECALL_QUERY, [])}
    recall = len(pairs & planted) / len(planted)
    ctx.layers["dedup.planted_recall"] = recall
    ctx.layers["dedup.output_pairs"] = float(len(pairs))
    ctx.gate(recall >= RECALL_FLOOR, f"{RECALL_QUERY} planted recall {recall:.4f} >= {RECALL_FLOOR}")
    e2e = {**_e2e(ctx, passes), "retained_heap_mb": heap_mb}
    return run_stamp(ctx, "llm_corpus", f"docs={LLM_DOCS} queries={len(LLM_QUERIES)}"), e2e
