"""``stream_candles``: the streaming gold job over landing tick files.

Each round lands ``ROUND_FILES`` seeded tick files in the source
directory and drains them with ``incremental_candles_stream``
(``availableNow``, ``maxFilesPerTrigger=1``, so one file per
micro-batch) into the day-partitioned gold table, which goes through
``sinks.upsert.upsert_partitioned``. Rounds repeat until the run time
is spent. A seeded share of files carries late ticks for earlier days,
which makes a batch rewrite an older day partition as well as the
current one.
"""

from __future__ import annotations

import os
import time
from datetime import datetime

import pyarrow.parquet as pq

import gen
from common import hd_quantile, log, tail, timed

MAX_FILES = 120
ROUND_FILES = 4
WARMUP_ROUNDS = 1
TICKS_PER_FILE = 2000
LATE_SHARE = 0.25
T0 = datetime(2024, 3, 1)


def stage(seed: int, root: str) -> str:
    """Write every tick file the run may land into a pending directory."""
    pending = os.path.join(root, "pending")
    os.makedirs(pending)
    for i, tbl in enumerate(gen.tick_files(seed, MAX_FILES, TICKS_PER_FILE,
                                           LATE_SHARE, T0)):
        pq.write_table(tbl, os.path.join(pending, f"ticks-{i:05d}.parquet"))
    return pending


def land(pending: str, source: str, n: int) -> int:
    """Move the next ``n`` pending files into the source directory, each
    by an atomic rename, in order. Returns how many were landed."""
    names = sorted(os.listdir(pending))[:n]
    for name in names:
        os.replace(os.path.join(pending, name), os.path.join(source, name))
    return len(names)


def install_tracing(tracer) -> None:
    from options_data_pipeline_spark.streaming import candles

    tracer.wrap(candles, "candles_apply_batch", "streaming.apply_batch")
    tracer.wrap(candles, "candles_rebuild_frame", "streaming.rebuild_frame")
    tracer.wrap(candles, "upsert_partitioned", "sinks.upsert_partitioned", target_arg=1)


def drain(spark, source: str, gold: str, ckpt: str) -> tuple[list[dict], float]:
    """Run the stream until it has consumed every landed file.
    Returns (progress of each micro-batch, wall seconds)."""
    from options_data_pipeline_spark.streaming import candles

    t0 = time.perf_counter()
    q = candles.incremental_candles_stream(
        spark, source, gold, ckpt, available_now=True, max_files_per_trigger=1
    )
    try:
        q.awaitTermination(120)
    finally:
        if q.isActive:
            q.stop()
    wall = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    return batches, wall


def run(ctx) -> dict:
    import oracle

    spark = ctx.spark
    root = os.path.join(ctx.workdir, "stream")
    pending, stage_s = timed(stage, ctx.seed, root)
    source = os.path.join(root, "source")
    gold = os.path.join(root, "gold")
    ckpt = os.path.join(root, "checkpoint")
    os.makedirs(source)
    landed = 0
    t_warm = time.perf_counter()
    for _ in range(WARMUP_ROUNDS):
        landed += land(pending, source, ROUND_FILES)
        drain(spark, source, gold, ckpt)
    warm_s = time.perf_counter() - t_warm
    log(f"stream_candles: staging {stage_s:.2f}s, warm-up {warm_s:.2f}s")

    samples, kinds, traced, progress = [], [], [], []
    rows = 0
    drain_wall = 0.0
    attempted = failed = 0
    ctx.mark_setup()
    t_loop = time.perf_counter()
    rounds = 0
    while landed < MAX_FILES and (time.perf_counter() - t_loop < ctx.window()
                                  or (ctx.tracer is not None and rounds < 2)):
        is_traced = ctx.traced_op(rounds)
        rounds += 1
        if is_traced:
            install_tracing(ctx.tracer)
        n = land(pending, source, ROUND_FILES)
        landed += n
        attempted += n
        try:
            if is_traced:
                ctx.tracer.op_id = f"round-{rounds}"
                with ctx.tracer.span("stream.drain"):
                    batches, wall = drain(spark, source, gold, ckpt)
                ctx.tracer.read_spark_counts()
            else:
                batches, wall = drain(spark, source, gold, ckpt)
        except Exception as exc:  # noqa: BLE001 — a failed drain is counted
            failed += n
            log(f"drain failed: {type(exc).__name__}: {exc}")
            continue
        finally:
            if is_traced:
                ctx.tracer.unwrap_all()
        failed += max(0, n - len(batches))
        drain_wall += wall
        for b in batches:
            samples.append(b["durationMs"]["triggerExecution"] / 1000.0)
            kinds.append("batch")
            traced.append(is_traced)
            rows += b["numInputRows"]
            progress.append(b)
        log(f"drain of {n} files: {len(batches)} batches in {wall:.2f}s")

    mismatches = oracle.check_stream(gold, source)
    for m in mismatches:
        log(f"stream_candles gate: {m}")
    p50 = hd_quantile(samples, 0.5)
    tl, label = tail(samples)
    log(f"stream_candles: batch_p50_s={p50:.3f} batch_tail_s={tl:.3f} ({label}), "
        f"stream_rows_per_s={rows / drain_wall:.1f}, {len(samples)} batches")
    return {
        "attempted": attempted + 1, "failed": failed + len(mismatches),
        "ok": not mismatches and failed == 0,
        "op_p50_s": p50, "op_tail_s": tl, "work_per_s": rows / drain_wall,
        "samples": samples, "kinds": kinds, "traced": traced, "progress": progress,
    }
