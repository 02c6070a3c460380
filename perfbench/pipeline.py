"""``pipeline_replay``: the scheduled collector -> aggregator pipeline,
replayed against a seeded fake exchange on a simulated clock.

Closed loop, one scheduler. The simulated clock steps 6 hours per tick
(05:00, 11:00, 17:00, 23:00 UTC). Every tick syncs the spot candles
(``incremental_sync`` -> ``merge_upsert``), appends new option trades
(``insert_if_absent``) and rolls them into hourly option OHLC
(``option_ohlc_job``). The 11:00 tick also repairs candle gaps and runs
the daily sessions; on Fridays it runs the weekly sessions and on the
last Friday of the month the monthly sessions, as the reference
schedules them. The timed ticks start at 05:00 on a month's last
Friday, so every run meets the same mix of ticks: a light tick, then
the 11:00 close that runs every job. A run goes on at least through
that close, however long its window.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta

import numpy as np

import gen
from common import hd_quantile, log, tail, timed

STEP = timedelta(hours=6)
HISTORY_DAYS = 40
MAX_TICKS = 40
OHLC_HOURS_BACK = 8
REPAIR_WINDOW = timedelta(days=7)


def schedule(seed: int) -> tuple[datetime, list[datetime]]:
    """(bootstrap tick, timed tick times). The month comes from the seed.
    The bootstrap is the Thursday 23:00 before the month's last Friday;
    the pre-loaded history ends there and the timed ticks follow it."""
    month = int(np.random.default_rng(seed).integers(2, 12))
    boot = gen.last_friday(2024, month) - timedelta(hours=1)
    return boot, [boot + (i + 1) * STEP for i in range(MAX_TICKS)]


class Pipeline:
    """The collector/aggregator deployment: tables, sources and the
    per-tick schedule. Every package call goes through a module
    attribute, so a traced run can wrap it."""

    def __init__(self, spark, root: str, market: gen.Market, seed: int) -> None:
        from options_data_pipeline_spark.sources import rest

        self.spark, self.market = spark, market
        self.candles = os.path.join(root, "ohlc_1h")
        self.trades = os.path.join(root, "option_trades")
        self.ohlc = os.path.join(root, "option_ohlc_hourly")
        self.daily = os.path.join(root, "daily_sessions")
        self.weekly = os.path.join(root, "weekly_sessions")
        self.monthly = os.path.join(root, "monthly_sessions")
        self.klines_tx = gen.KlinesTransport(market, seed)
        self.repair_tx = gen.KlinesTransport(market, seed, drop_share=0.0)
        self.trades_tx = gen.TradesTransport(market, seed)
        self.klines = rest.KlinesSource(transport=self.klines_tx, limit=500)
        self.repair_klines = rest.KlinesSource(transport=self.repair_tx, limit=500)
        self.trade_src = rest.OptionTradesSource(
            transport=self.trades_tx, batch_size=200, retries=3
        )
        self.rows_fetched = 0
        self.history_until = market.t0
        self.ran: list[tuple[datetime, list[str]]] = []

    def counters(self) -> tuple[int, int, int]:
        """(exchange requests, transient errors retried, rows fetched)."""
        requests = sum(tx.requests for tx in
                       (self.klines_tx, self.repair_tx, self.trades_tx))
        return requests, self.trades_tx.errors, self.rows_fetched

    def set_clock(self, now: datetime) -> None:
        ms = gen.to_ms(now)
        for tx in (self.klines_tx, self.repair_tx, self.trades_tx):
            tx.now_ms = ms

    def _fetcher(self, src):
        def fetch_range(start: datetime, end: datetime):
            rows = []
            for sym in gen.SYMBOLS:
                lo, hi = gen.to_ms(start), gen.to_ms(end)
                while True:
                    page = src.fetch(sym, lo, hi)
                    rows.extend(page)
                    if len(page) < src.limit:
                        break
                    lo = gen.to_ms(page[-1]["open_time"]) + 1
            self.rows_fetched += len(rows)
            return src.to_df(self.spark, rows)

        return fetch_range

    def hourly(self):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(self.candles).select(
            F.col("symbol").alias("instrument"),
            F.col("open_time").alias("bucket_ts"),
            "open", "high", "low", "close",
        )

    def parsed_trades(self):
        from pyspark.sql import functions as F

        from options_data_pipeline_spark.sources import rest

        raw = (
            self.spark.read.parquet(self.trades)
            .withColumnRenamed("ts", "timestamp")
            .withColumn("trade_seq", F.col("trade_id").cast("long"))
        )
        return rest.with_parsed_instrument(raw)

    def due(self, now: datetime, bootstrap: bool = False) -> list[str]:
        jobs = ["sync", "trades", "option_ohlc"]
        if bootstrap:
            jobs += ["repair", "daily", "weekly", "monthly"]
        elif now.hour == 11:
            jobs += ["repair", "daily"]
            if now.weekday() == 4:
                jobs.append("weekly")
                if now.date() == gen.last_friday(now.year, now.month).date():
                    jobs.append("monthly")
        return jobs

    def tick(self, now: datetime, bootstrap: bool = False) -> list[str]:
        """Run every job due at ``now``. The bootstrap tick runs every
        job once and builds the aggregate tables from the whole
        pre-loaded history (the jobs' own cold start)."""
        from options_data_pipeline_spark.jobs import aggregation as agg
        from options_data_pipeline_spark.jobs import incremental as inc
        from options_data_pipeline_spark.sinks import upsert

        spark = self.spark
        self.set_clock(now)
        due = self.due(now, bootstrap)
        inc.incremental_sync(
            spark, self._fetcher(self.klines), self.candles,
            keys=["symbol", "open_time"], ts_col="open_time",
            lookback=timedelta(hours=2), now=now,
        )
        wm = inc.high_watermark(spark, self.trades, "ts")
        rows = self.trade_src.fetch_range(gen.to_ms(wm) - gen.HOUR_MS, gen.to_ms(now))
        self.rows_fetched += len(rows)
        upsert.insert_if_absent(
            spark, self.trades, self.trade_src.to_df(spark, rows), keys=["trade_id"]
        )
        hours_back = OHLC_HOURS_BACK
        if bootstrap:
            hours_back = int((now - self.market.t0).total_seconds() // 3600) + 1
        agg.option_ohlc_job(spark, self.parsed_trades(), self.ohlc,
                            hours_back=hours_back, now=now)
        if "repair" in due:
            inc.repair_gaps(
                spark, self.candles, self._fetcher(self.repair_klines),
                keys=["symbol", "open_time"], series_keys=["symbol"],
                ts_col="open_time", min_gap_minutes=60.0,
                window=REPAIR_WINDOW, now=now,
            )
        if "daily" in due:
            agg.daily_sessions_job(spark, self.hourly(), self.daily, now=now)
        if "weekly" in due:
            agg.weekly_sessions_job(spark, spark.read.parquet(self.daily),
                                    self.weekly, now=now)
        if "monthly" in due:
            agg.monthly_sessions_job(spark, spark.read.parquet(self.daily),
                                     self.monthly, now=now)
        self.ran.append((now, due))
        return due


def stage(seed: int, root: str) -> tuple[gen.Market, datetime, list[datetime]]:
    """Generate the market and pre-load the bronze history."""
    boot, ticks = schedule(seed)
    t0 = (boot - timedelta(days=HISTORY_DAYS)).replace(hour=0)
    market = gen.Market(seed, t0, ticks[-1] + STEP)
    gen.write_history(market, boot, os.path.join(root, "ohlc_1h"),
                      os.path.join(root, "option_trades"))
    return market, boot, ticks


def install_tracing(tracer) -> None:
    """Wrap every package entry point this workload reaches."""
    from options_data_pipeline_spark.jobs import aggregation as agg
    from options_data_pipeline_spark.jobs import incremental as inc
    from options_data_pipeline_spark.sinks import upsert
    from options_data_pipeline_spark.sources import rest

    for mod in (inc, agg):
        tracer.wrap(mod, "high_watermark", "jobs.high_watermark")
        tracer.wrap(mod, "merge_upsert", "sinks.merge_upsert", target_arg=1)
    for name in ("incremental_sync", "repair_gaps"):
        tracer.wrap(inc, name, f"jobs.{name}")
    for name in ("option_ohlc_job", "option_ohlc_stats", "daily_sessions_job",
                 "weekly_sessions_job", "monthly_sessions_job"):
        tracer.wrap(agg, name, f"jobs.{name}")
    tracer.wrap(upsert, "insert_if_absent", "sinks.insert_if_absent", target_arg=1)
    tracer.wrap(rest.KlinesSource, "fetch", "sources.fetch")
    tracer.wrap(rest.KlinesSource, "to_df", "sources.to_df")
    tracer.wrap(rest.OptionTradesSource, "fetch_range", "sources.fetch")
    tracer.wrap(rest.OptionTradesSource, "to_df", "sources.to_df")


def done(kinds: list[str], traced: list[bool], ctx) -> bool:
    """Whether the timed loop has seen the ticks every run must measure:
    the weekly and monthly close (traced, in a traced run) and, in a
    traced run, the light tick both traced and untraced, which the
    tracing overhead compares."""
    closes = [t for k, t in zip(kinds, traced) if "monthly" in k]
    if ctx.tracer is None:
        return bool(closes)
    light = [t for k, t in zip(kinds, traced) if "daily" not in k]
    return any(closes) and any(light) and not all(light)


def run(ctx) -> dict:
    import oracle

    spark = ctx.spark
    root = os.path.join(ctx.workdir, "pipeline")
    (market, boot, ticks), stage_s = timed(stage, ctx.seed, root)
    pipe = Pipeline(spark, root, market, ctx.seed)
    pipe.history_until = boot
    _, warm_s = timed(pipe.tick, boot, bootstrap=True)
    log(f"pipeline: staging {stage_s:.2f}s, bootstrap tick {warm_s:.2f}s")

    samples, kinds, traced, counts = [], [], [], []
    attempted = failed = 0
    ctx.mark_setup()
    t_loop = time.perf_counter()
    last_now = boot
    for i, now in enumerate(ticks):
        if time.perf_counter() - t_loop >= ctx.window() and (
                failed or done(kinds, traced, ctx)):
            break
        is_traced = ctx.traced_op(i)
        if is_traced:
            install_tracing(ctx.tracer)
        attempted += 1
        c0 = pipe.counters()
        t0 = time.perf_counter()
        try:
            if is_traced:
                ctx.tracer.op_id = f"tick-{i}"
                with ctx.tracer.span("pipeline.tick", now=str(now)) as rec:
                    due = pipe.tick(now)
                rec["attrs"]["kind"] = "+".join(due)
            else:
                due = pipe.tick(now)
        except Exception as exc:  # noqa: BLE001 — a failed tick is counted
            failed += 1
            log(f"tick {now} failed: {type(exc).__name__}: {exc}")
            continue
        finally:
            if is_traced:
                ctx.tracer.unwrap_all()
        dt = time.perf_counter() - t0
        if is_traced:
            ctx.tracer.read_spark_counts()
        samples.append(dt)
        counts.append([b - a for a, b in zip(c0, pipe.counters())])
        kinds.append("+".join(due))
        traced.append(is_traced)
        last_now = now
        log(f"tick {now:%a %m-%d %H:%M} {dt:.3f}s {'+'.join(due)}")
    wall = time.perf_counter() - t_loop

    mismatches = oracle.check_pipeline(pipe, last_now)
    for m in mismatches:
        log(f"pipeline gate: {m}")
    p50 = hd_quantile(samples, 0.5)
    tl, label = tail(samples)
    log(f"pipeline: tick_p50_s={p50:.3f} tick_tail_s={tl:.3f} ({label}), "
        f"{len(samples)} ticks in {wall:.1f}s")
    return {
        "attempted": attempted + 3, "failed": failed + len(mismatches),
        "ok": not mismatches and failed == 0,
        "op_p50_s": p50, "op_tail_s": tl,
        "work_per_s": len(samples) * STEP.total_seconds() / 3600 / wall,
        "samples": samples, "kinds": kinds, "traced": traced,
        "tick_counts": counts,
    }
