"""The ``refpipe_stream`` workload: the reference pipeline as a
Structured Streaming query.

    text file stream -> etl.parse_payloads -> (kind, server_ts, value)
      -> streaming.pipeline.windowed_averages_with_fallback
      -> foreachBatch sources.sink.append_parquet   (avg_info)

Backfill: a landed backlog is drained with ``availableNow`` on fresh
copies, at least three times and for a third of ``--seconds``. Live: an open
loop for two thirds of ``--seconds``; a separate generator process lands
one payload file per ``LIVE_INTERVAL_S`` on a fixed wall-clock schedule
whatever the engine does, while the query runs on a processing-time
trigger below its drain capacity. A file's latency runs from its
scheduled landing time to the commit of the micro-batch that consumed
it, read from the checkpoint's source and commit logs. A traced run
drains the backlog four times, traced / untraced / untraced / traced.
Peak memory is sampled from the warm drain to the end of the live
phase; the correctness gates run after that.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import gen
import spans
from harness import Ctx, jvm_pid, percentile, retained_heap_mb, run_stamp
from rss import PeakRss

BACKLOG_WINDOWS = 80
MAX_FILES_PER_TRIGGER = 40
MIN_DRAINS = 3
# about 0.5k rows/s: half the drain capacity of a loaded host, so that
# the live query keeps up, and latency measures a trigger's fixed cost
# rather than a growing queue
LIVE_INTERVAL_S = 0.12
LIVE_TRIGGER = "1 second"
# a file landing this much later than scheduled makes its reading invalid
LAG_LIMIT_MS = 100.0
# micro-batch phases in execution order
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _start(spark, src: Path, out: Path, ckpt: Path, trigger: str | None, tracer=None):
    from pyspark.sql import functions as F

    from bitcoinminingetl_spark import etl
    from bitcoinminingetl_spark.sources import sink
    from bitcoinminingetl_spark.streaming import pipeline

    raw = spark.readStream.option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER).text(str(src))
    parsed = etl.parse_payloads(raw, json_col="value")
    if tracer is not None:
        parsed = parsed.observe("etl", F.count(F.lit(1)).alias("rows_routed"))
    events = parsed.select(
        F.col("kind").alias("event_type"),
        F.col("server_ts").alias("ts"),
        F.when(F.col("kind") == "price", F.col("usd")).otherwise(F.col("hashrate")).cast("double").alias("value"),
    )
    averages = pipeline.windowed_averages_with_fallback(events)

    def write_batch(batch_df, batch_id):
        t0 = time.perf_counter()
        sink.append_parquet(batch_df.withColumn("batch_id", F.lit(batch_id)), str(out))
        if tracer is not None:
            tracer.add("sink.write", t0, time.perf_counter(), op=f"batch-{batch_id}")

    writer = (averages.writeStream.outputMode("append").foreachBatch(write_batch)
              .option("checkpointLocation", str(ckpt)))
    writer = writer.trigger(availableNow=True) if trigger is None else writer.trigger(processingTime=trigger)
    return writer.start()


def _progress(query) -> list[dict]:
    return [json.loads(p.json()) for p in query._jsq.recentProgress()]


def _stage(files: list[Path], dst: Path) -> None:
    """Copy a backlog with strictly increasing modification times, so the
    file source consumes it in event-time order."""
    dst.mkdir(parents=True)
    base = time.time() - len(files) - 60
    for i, f in enumerate(files):
        shutil.copy(f, dst / f.name)
        os.utime(dst / f.name, (base + i, base + i))


def _backfill(ctx: Ctx, spark, files: list[Path], tag: str, tracer=None) -> dict:
    run = ctx.work / f"backfill-{tag}"
    _stage(files, run / "in")
    t0 = time.perf_counter()
    q = _start(spark, run / "in", run / "out", run / "ckpt", None, tracer)
    q.awaitTermination()
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"backfill query failed: {q.exception()}")
    return {"wall": wall, "dir": run, "progress": _progress(q)}


def _consumed(ckpt: Path) -> dict[str, int]:
    """file name -> id of the micro-batch that read it, from the source log."""
    out: dict[str, int] = {}
    log = ckpt / "sources" / "0"
    for f in log.iterdir() if log.exists() else ():
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines()[1:]:
            entry = json.loads(line)
            out[Path(entry["path"]).name] = int(entry["batchId"])
    return out


def _live(ctx: Ctx, spark, files: list[Path]) -> dict:
    run = ctx.work / "live"
    staged = run / "staged"
    staged.mkdir(parents=True)
    for f in files:
        shutil.copy(f, staged / f.name)
    (run / "in").mkdir()
    q = _start(spark, run / "in", run / "out", run / "ckpt", LIVE_TRIGGER)
    t0 = time.time() + 1.0
    log = run / "landed.json"
    subprocess.run([sys.executable, str(Path(gen.__file__)), "land", str(staged), str(run / "in"),
                    repr(t0), repr(LIVE_INTERVAL_S), str(log)], check=True, timeout=120)
    deadline = time.time() + 60
    consumed = {}
    while time.time() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"live query failed: {q.exception()}")
        committed = {int(p.name) for p in (run / "ckpt" / "commits").glob("[0-9]*")}
        consumed = {f: b for f, b in _consumed(run / "ckpt").items() if b in committed}
        if len(consumed) == len(files):
            break
        time.sleep(0.2)
    q.stop()
    if len(consumed) != len(files):
        raise RuntimeError(f"live query consumed {len(consumed)} of {len(files)} files")
    landed = {name: (due, at) for name, due, at in json.loads(log.read_text())}
    commit_at = {b: (run / "ckpt" / "commits" / str(b)).stat().st_mtime for b in set(consumed.values())}
    latency = [(commit_at[consumed[n]] - due) * 1000.0 for n, (due, _) in landed.items()]
    lag = [(at - due) * 1000.0 for due, at in landed.values()]
    return {"dir": run, "latency": latency, "lag": lag, "landed": landed, "consumed": consumed,
            "progress": _progress(q)}


def _expected(files: list[Path]) -> dict:
    """The emitted rows recomputed in DuckDB from the landed payloads:
    price routing precedence, 5-minute windows per kind, and the
    previous-window fallback for an empty-or-zero average."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        """
        WITH p AS (
          SELECT * FROM read_json($files, format='newline_delimited', columns={
            'spider_ts': 'BIGINT',
            'price_data': 'STRUCT("USD" BIGINT, "time" BIGINT)',
            'hash_rate_data': 'STRUCT("currentHashrate" DOUBLE, "currentDifficulty" DOUBLE)'})
        ), routed AS (
          SELECT CASE WHEN price_data IS NOT NULL THEN 'price' ELSE 'hashrate' END AS kind,
                 CASE WHEN price_data IS NOT NULL THEN price_data."time" ELSE spider_ts END AS ts,
                 CASE WHEN price_data IS NOT NULL THEN price_data."USD"::DOUBLE
                      ELSE hash_rate_data."currentHashrate" END AS value
          FROM p WHERE price_data IS NOT NULL OR hash_rate_data IS NOT NULL
        )
        SELECT kind, ts // 300 * 300 AS w, avg(value), count(*) FROM routed
        GROUP BY ALL ORDER BY kind, w
        """,
        {"files": [str(f) for f in files]},
    ).fetchall()
    con.close()
    out, prev = {}, {}
    for kind, w, avg, n in rows:
        falsy = avg is None or avg == 0.0
        out[(kind, w)] = (prev.get(kind) if falsy else avg, n, falsy)
        if not falsy:
            prev[kind] = avg
    return out


def _emitted(out_dir: Path) -> dict:
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT event_type, epoch(window_start)::BIGINT, avg_value, n, used_fallback "
        "FROM read_parquet($p)", {"p": str(out_dir / "*.parquet")}).fetchall()
    con.close()
    out = {}
    for kind, w, avg, n, fb in rows:
        if (kind, w) in out:
            raise ValueError(f"window emitted twice: {kind} {w}")
        out[(kind, w)] = (avg, n, fb)
    return out


def _same(a: dict, b: dict) -> bool:
    if a.keys() != b.keys():
        return False
    for k, (avg_a, n_a, fb_a) in a.items():
        avg_b, n_b, fb_b = b[k]
        if (n_a, fb_a) != (n_b, fb_b) or (avg_a is None) != (avg_b is None):
            return False
        if avg_a is not None and abs(avg_a - avg_b) > 1e-9 * max(1.0, abs(avg_b)):
            return False
    return True


def _check(ctx: Ctx, what: str, files: list[Path], out_dir: Path) -> None:
    try:
        ok = _same(_emitted(out_dir), _expected(files))
    except Exception as exc:  # noqa: BLE001 — an unreadable output fails the gate
        ctx.notes.append(f"{what}: {exc}")
        ok = False
    ctx.gate(ok, f"{what} avg_info equals the DuckDB recomputation")


def _median(progress: list[dict], phase: str) -> float:
    vals = [p["durationMs"].get(phase, 0) for p in progress if p.get("durationMs")]
    return float(statistics.median(vals)) if vals else 0.0


def _stream_layers(ctx: Ctx, tracer, traced: list[dict], live: dict, untraced_wall: float) -> None:
    """Throughput-side layers per traced backlog drain; fixed per-batch
    costs and source lag from the live phase's micro-batches."""
    L, n = ctx.layers, len(traced)
    progress = [p for d in traced for p in d["progress"] if p["numInputRows"] > 0]
    L["etl.rows_in"] = sum(p["numInputRows"] for p in progress) / n
    L["etl.rows_routed"] = sum(p.get("observedMetrics", {}).get("etl", {}).get("rows_routed", 0)
                               for p in progress) / n
    L["etl.route_ratio"] = L["etl.rows_routed"] / max(1.0, L["etl.rows_in"])
    outputs = [f for d in traced for f in (d["dir"] / "out").glob("*.parquet")]
    L["sink.files"] = len(outputs) / n
    L["sink.bytes"] = sum(f.stat().st_size for f in outputs) / n
    L["sink.write_s"] = tracer.total("sink.write") / n
    traced_wall = statistics.mean(d["wall"] for d in traced)
    L["bench.traced_pass_s"] = traced_wall
    L["bench.trace_overhead_s"] = traced_wall - untraced_wall

    batches = [p for p in live["progress"] if p["numInputRows"] > 0]
    per_batch: dict[int, int] = {}
    for b in live["consumed"].values():
        per_batch[b] = per_batch.get(b, 0) + 1
    L["sources.files_per_batch"] = statistics.mean(per_batch.values())
    L["sources.backlog_files"] = float(_max_backlog(live, batches))
    L["sources.latest_offset_ms"] = _median(batches, "latestOffset")
    L["sources.get_batch_ms"] = _median(batches, "getBatch")
    L["streaming.batches"] = float(len(per_batch))
    for name, phase in (("add_batch_ms", "addBatch"), ("query_planning_ms", "queryPlanning"),
                        ("wal_commit_ms", "walCommit"), ("commit_offsets_ms", "commitOffsets"),
                        ("trigger_ms", "triggerExecution")):
        L[f"streaming.{name}"] = _median(batches, phase)
    state = batches[-1].get("stateOperators") or [{}]
    L["streaming.state_rows"] = float(state[0].get("numRowsTotal", 0))
    L["streaming.state_bytes"] = float(state[0].get("memoryUsedBytes", 0))
    for p in [p for d in traced for p in d["progress"]] + live["progress"]:
        _trigger_spans(ctx, tracer, p)
    tracer.write(ctx.work.parent / f"trace-{ctx.work.name}.json")


def _trigger_spans(ctx: Ctx, tracer, progress: dict) -> None:
    """One span per micro-batch trigger with its durationMs phases as
    children, laid end to end from the trigger start (Spark reports each
    phase's duration, not its start). Checks that the phases fit in the
    trigger."""
    import datetime as dt

    d = progress.get("durationMs", {})
    trigger_ms = d.get("triggerExecution", 0)
    if sum(d.get(k, 0) for k in PHASES) > trigger_ms:
        ctx.gate(False, f"batch {progress['batchId']}: durationMs phases exceed triggerExecution {d}")
    wall = dt.datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()
    start = wall - (time.time() - time.perf_counter())
    op = f"{progress['runId']}:{progress['batchId']}"
    trigger = tracer.add("streaming.trigger", start, start + trigger_ms / 1000.0, op=op)
    for phase in PHASES:
        end = start + d.get(phase, 0) / 1000.0
        tracer.add(f"streaming.{phase}", start, end, op=op, parent=trigger)
        start = end


def _max_backlog(live: dict, batches: list[dict]) -> int:
    """Most files landed but not yet consumed when a live trigger started."""
    import datetime as dt

    landed_at = sorted(at for _, at in live["landed"].values())
    consumed_before: dict[int, int] = {}
    for b in live["consumed"].values():
        consumed_before[b] = consumed_before.get(b, 0) + 1
    worst = 0
    for p in batches:
        start = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        landed = sum(1 for t in landed_at if t <= start)
        done = sum(n for b, n in consumed_before.items() if b < p["batchId"])
        worst = max(worst, landed - done)
    return worst


def refpipe_stream(ctx: Ctx, spark, _registry):
    n_live = int(ctx.seconds * 2 / 3 / LIVE_INTERVAL_S)
    files = gen.payloads(ctx.work / "payloads", ctx.seed, BACKLOG_WINDOWS + n_live)
    backlog, live_files = files[:BACKLOG_WINDOWS], files[BACKLOG_WINDOWS:]
    rows = sum(1 for f in backlog for _ in f.open())
    tracer = spans.Tracer() if ctx.trace else None

    with PeakRss(jvm_pid()) as mem:
        # untimed warm drain of the same backlog: Python workers, code
        # generation and the JIT are warm when the timed drains start
        t0 = time.perf_counter()
        _backfill(ctx, spark, backlog, "warm")
        ctx.layers["bench.warm_s"] = time.perf_counter() - t0

        drains, start = [], time.perf_counter()
        while True:
            traced = ctx.trace and len(drains) in (0, 3)
            drains.append(_backfill(ctx, spark, backlog, str(len(drains)), tracer if traced else None))
            drains[-1]["traced"] = traced
            ctx.attempted += len(backlog)
            if ctx.trace:
                if len(drains) == 4:
                    break
            elif len(drains) >= MIN_DRAINS and time.perf_counter() - start + drains[-1]["wall"] > ctx.seconds / 3:
                break

        ctx.attempted += len(live_files)
        live = _live(ctx, spark, live_files)
    ctx.layers["peak_rss_mb"] = mem.peak_mb
    heap_mb = retained_heap_mb()

    _check(ctx, "backfill", backlog, drains[0]["dir"] / "out")
    _check(ctx, "live", live_files, live["dir"] / "out")
    late = sum(1 for lag in live["lag"] if lag > LAG_LIMIT_MS)
    ctx.failed += late
    if late:
        ctx.notes.append(f"{late} live files landed more than {LAG_LIMIT_MS} ms late; their readings do not count")
    ok_lat = [lat for lat, lag in zip(live["latency"], live["lag"]) if lag <= LAG_LIMIT_MS]
    ctx.layers["bench.generator_lag_ms"] = max(live["lag"])
    walls = [d["wall"] for d in drains if not d["traced"]]
    if tracer is not None:
        _stream_layers(ctx, tracer, [d for d in drains if d["traced"]], live, statistics.mean(walls))

    pass_s = statistics.median(walls)
    ctx.notes.append(f"drain walls {[round(d['wall'], 3) for d in drains]} rows {rows} "
                     f"drain_rows_per_s {rows / pass_s:.1f}")
    ctx.notes.append(f"live files {len(live_files)} latency samples {len(ok_lat)}")
    e2e = {"pass_s": pass_s, "latency_p50_ms": percentile(ok_lat, 50),
           "latency_p95_ms": percentile(ok_lat, 95), "retained_heap_mb": heap_mb}
    size = f"backlog={BACKLOG_WINDOWS} files live={n_live} files every {LIVE_INTERVAL_S}s"
    return run_stamp(ctx, "refpipe_stream", size), e2e
