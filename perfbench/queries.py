"""``gold_queries``: the reference-core registry queries, read-only.

Closed loop, one client. The timed loop runs whole passes: each pass
runs the fifteen queries in a seed-shuffled order, so every run measures
the same mix, and a further pass starts only when it is expected to end
within the run time (a traced run makes at least two, so that every
query is seen traced and untraced); a query is its registry function call (plan build,
including any eager prework) followed by execution into Spark's
``noop`` sink. The ``events`` table comes from the seed. One untimed
pass first fills the ``load_table`` cache and the ``operators.artifacts``
store, so both are warm for every timed query. That pass, like the
correctness gate after the timed loop, runs the queries on ``nproc``
client threads to keep the run short; the timed loop has one client.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
from common import hd_quantile, log, nproc, tail, timed

CORE = (
    "hourly_candles", "daily_sessions", "weekly_sessions", "monthly_sessions",
    "candle_resample", "realized_vol", "gap_scan", "watermark_probe",
    "option_chain_ohlc", "put_call_ratio", "iv_smile", "max_pain",
    "bs_greeks", "implied_vol", "pnl_explain",
)
EVENT_ROWS = 10_000


def install_tracing(tracer) -> None:
    """Wrap ``load_table`` where each plans module looks it up."""
    import sys

    from options_data_pipeline_spark.sources import tables

    original = tables.load_table
    for name, mod in list(sys.modules.items()):
        if name.startswith("options_data_pipeline_spark.plans.") and \
                getattr(mod, "load_table", None) is original:
            tracer.wrap(mod, "load_table", "sources.load_table")


def run_query(spark, fn, sf_dir: str, tracer=None) -> tuple[float, float]:
    """(build seconds, execute seconds) of one query."""
    if tracer is None:
        df, build = timed(fn, spark, sf_dir)
        _, exe = timed(df.write.format("noop").mode("overwrite").save)
        return build, exe
    with tracer.span("plans.build") as b:
        df = fn(spark, sf_dir)
    with tracer.span("plans.exec") as e:
        df.write.format("noop").mode("overwrite").save()
    return b["end"] - b["start"], e["end"] - e["start"]


def run(ctx) -> dict:
    import oracle
    from options_data_pipeline_spark.plans import registry

    spark = ctx.spark
    fns = registry.queries()
    sf_dir = os.path.join(ctx.workdir, "gold")
    os.makedirs(sf_dir)
    _, stage_s = timed(gen.write_events, ctx.seed, EVENT_ROWS,
                       os.path.join(sf_dir, "events.parquet"))
    rng = np.random.default_rng(ctx.seed + 505)
    t_warm = time.perf_counter()
    with ThreadPoolExecutor(nproc()) as pool:
        for f in [pool.submit(run_query, spark, fns[n], sf_dir) for n in CORE]:
            f.result()
    warm_s = time.perf_counter() - t_warm
    log(f"gold_queries: staging {stage_s:.2f}s, warm-up {warm_s:.2f}s")

    samples, kinds, traced = [], [], []
    attempted = failed = 0
    ctx.mark_setup()
    t_loop = time.perf_counter()
    passes, last_pass = 0, 0.0
    min_passes = 1 if ctx.tracer is None else 2
    while passes < min_passes or \
            time.perf_counter() - t_loop + last_pass <= ctx.window():
        t_pass = time.perf_counter()
        for name in rng.permutation(CORE):
            tracer = ctx.tracer if ctx.traced_op(attempted) else None
            attempted += 1
            try:
                if tracer is not None:
                    install_tracing(tracer)
                    tracer.op_id = f"q{attempted}-{name}"
                    with tracer.span("gold.query", query=name):
                        build, exe = run_query(spark, fns[name], sf_dir, tracer)
                    tracer.unwrap_all()
                    tracer.read_spark_counts()
                else:
                    build, exe = run_query(spark, fns[name], sf_dir)
            except Exception as exc:  # noqa: BLE001 — a failed query is counted
                failed += 1
                log(f"query {name} failed: {type(exc).__name__}: {exc}")
                if tracer is not None:
                    tracer.unwrap_all()
                continue
            samples.append(build + exe)
            kinds.append(str(name))
            traced.append(tracer is not None)
        passes += 1
        last_pass = time.perf_counter() - t_pass
    wall = time.perf_counter() - t_loop

    mismatches = oracle.check_queries(spark, list(CORE), sf_dir)
    for m in mismatches:
        log(f"gold_queries gate: {m}")
    p50 = hd_quantile(samples, 0.5)
    tl, label = tail(samples)
    log(f"gold_queries: query_p50_s={p50:.3f} query_tail_s={tl:.3f} ({label}), "
        f"queries_per_min={60 * len(samples) / wall:.1f}, {len(samples)} queries "
        f"in {wall:.1f}s")
    return {
        "attempted": attempted + len(CORE), "failed": failed + len(mismatches),
        "ok": not mismatches and failed == 0,
        "op_p50_s": p50, "op_tail_s": tl, "work_per_s": len(samples) / wall,
        "samples": samples, "kinds": kinds, "traced": traced,
    }
