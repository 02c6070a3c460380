"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Checks, from the repository root:

1. the generators: the same seed gives the same inputs, two seeds give
   different ones;
2. each correctness gate passes on the program's real output and flags
   a deliberately corrupted copy of it; the pipeline gate also flags
   candles left missing when gap repair is disabled;
3. every workload prints every end-to-end metric of ``BENCHMARK.json``
   with its unit and installs no tracing wrapper when untraced; with
   ``--trace 1`` it prints every per-layer metric, reports the layers it
   exercises above 0 and records their spans.

Exits non-zero when any check fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402

sys.path.insert(1, common.ROOT)

FAILURES: list[str] = []


def check(ok: bool, what: str) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        FAILURES.append(what)


def check_generators(workdir: str) -> None:
    import numpy as np
    import pyarrow.parquet as pq

    import gen
    import pipeline

    t0, t1 = datetime(2024, 5, 1), datetime(2024, 5, 3)
    a, b, c = gen.Market(1, t0, t1), gen.Market(1, t0, t1), gen.Market(2, t0, t1)
    check(all(np.array_equal(a.prices[s], b.prices[s]) for s in gen.SYMBOLS)
          and np.array_equal(a.trades["price"], b.trades["price"]),
          "market: same seed, same minute path and trades")
    check(not np.array_equal(a.prices["BTCUSDT"], c.prices["BTCUSDT"])
          and not np.array_equal(a.trades["timestamp"][:50], c.trades["timestamp"][:50]),
          "market: two seeds, different minute paths and trades")
    check(len({pipeline.schedule(s)[0] for s in range(1, 11)}) > 1,
          "pipeline: seeds pick different months")
    paths = [os.path.join(workdir, f"events-{s}.parquet") for s in (1, 1, 2)]
    for s, p in zip((1, 1, 2), paths):
        gen.write_events(s, 500, p)
    e = [pq.read_table(p) for p in paths]
    check(e[0].equals(e[1]) and not e[0].equals(e[2]), "events: seed decides the table")
    f1 = gen.tick_files(1, 6, 50, 0.5, t0)
    f2 = gen.tick_files(2, 6, 50, 0.5, t0)
    check(not all(x.equals(y) for x, y in zip(f1, f2)), "tick files: seed decides the files")


def replay(spark, root: str):
    """A pipeline after its bootstrap and first (light) tick, with an
    exchange that drops a candle from every response it can. Returns it
    with the time of the next tick, the close that runs the repair."""
    import pipeline

    market, boot, ticks = pipeline.stage(3, root)
    pipe = pipeline.Pipeline(spark, root, market, 3)
    pipe.history_until = boot
    pipe.klines_tx.drop_share = 1.0
    pipe.tick(boot, bootstrap=True)
    pipe.tick(ticks[0])
    assert "repair" in pipe.due(ticks[1])
    return pipe, ticks[1]


def check_gates(spark, workdir: str) -> None:
    import gen
    import oracle
    import queries
    import stream

    # pipeline: with repair disabled, candles the exchange dropped before
    # the close stay missing and the gate must say so
    from options_data_pipeline_spark.jobs import incremental

    def no_repair(*_args, **_kwargs):
        return {"gaps_found": 0, "rows_repaired": 0}

    pipe, close = replay(spark, os.path.join(workdir, "pipe-norepair"))
    real_repair = incremental.repair_gaps
    incremental.repair_gaps = no_repair
    try:
        pipe.tick(close)
    finally:
        incremental.repair_gaps = real_repair
    dropped = [(s, h) for s in gen.SYMBOLS
               for h in range(gen.to_ms(pipe.history_until), gen.to_ms(close), gen.HOUR_MS)
               if (s, h) not in pipe.klines_tx.delivered]
    out = oracle.check_pipeline(pipe, close)
    check(bool(dropped) and any(m.startswith("ohlc_1h:") for m in out),
          f"pipeline gate flags candles left missing when repair is disabled: {out}")

    # pipeline: the same replay with repair, then the gate on real and
    # corrupted tables
    pipe, close = replay(spark, os.path.join(workdir, "pipe"))
    pipe.tick(close)
    check(oracle.check_pipeline(pipe, close) == [], "pipeline gate passes")
    for attr in ("candles", "ohlc", "daily"):
        bad = os.path.join(workdir, f"corrupt-{attr}")
        oracle.corrupt_copy(getattr(pipe, attr), bad)
        good = getattr(pipe, attr)
        setattr(pipe, attr, bad)
        out = oracle.check_pipeline(pipe, close)
        setattr(pipe, attr, good)
        check(len(out) == 1, f"pipeline gate flags a corrupted {attr} table: {out}")

    # stream: one drain of two files
    sroot = os.path.join(workdir, "stream")
    pending = stream.stage(3, sroot)
    source, gold = os.path.join(sroot, "source"), os.path.join(sroot, "gold")
    os.makedirs(source)
    stream.land(pending, source, 2)
    batches, _ = stream.drain(spark, source, gold, os.path.join(sroot, "ckpt"))
    check(len(batches) == 2, "stream: one micro-batch per landed file")
    check(oracle.check_stream(gold, source) == [], "stream gate passes")
    bad = os.path.join(workdir, "corrupt-gold")
    oracle.corrupt_copy(gold, bad)
    check(len(oracle.check_stream(bad, source)) == 1, "stream gate flags a corrupted gold table")

    # gold queries: one query against its oracle, then a changed value
    from options_data_pipeline_spark.plans import registry

    sf = os.path.join(workdir, "gold")
    os.makedirs(sf)
    gen.write_events(3, 2000, os.path.join(sf, "events.parquet"))
    name = queries.CORE[0]
    check(oracle.check_queries(spark, [name], sf) == [], f"query gate passes on {name}")
    spdf = registry.queries()[name](spark, sf).toPandas()
    opdf = spdf.copy()
    col = next(c for c in opdf.columns if opdf[c].dtype.kind == "f")
    opdf.loc[0, col] = opdf.loc[0, col] + 1.0
    check(oracle.frames_match(spdf, spdf.copy()) and not oracle.frames_match(spdf, opdf),
          "query gate flags a changed value")


def run_cli(workload: str, trace: int) -> tuple[dict | None, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", str(trace)],
        cwd=common.ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]), p.stderr
    except (IndexError, ValueError):
        return None, p.stderr


# per workload: the per-layer metrics the README maps to it, which a
# traced run must report above 0 (``sources.retries`` may rightly be 0
# on a tick and ``trace.overhead_s`` can be negative, so neither is
# here), and the spans it must record
EXERCISED = {
    "pipeline_replay": (
        ["sources.fetch_s", "sources.to_df_s", "sources.requests",
         "sources.rows_fetched", "jobs.spark_jobs_per_tick",
         "jobs.spark_tasks_per_tick", "sinks.merge_upsert_s",
         "sinks.insert_if_absent_s", "sinks.files_written",
         "sinks.bytes_written_per_input_byte",
         "sinks.rows_rewritten_per_row_upserted",
         "sinks.bytes_stored_per_input_byte"]
        + [f"jobs.{j}{sfx}" for j in ("incremental_sync", "option_ohlc_job",
                                       "option_ohlc_stats", "high_watermark",
                                       "daily_sessions_job", "weekly_sessions_job",
                                       "monthly_sessions_job", "repair_gaps")
           for sfx in ("_s", "_self_s")],
        ["pipeline.tick", "sources.fetch", "sources.to_df", "jobs.incremental_sync",
         "jobs.option_ohlc_job", "jobs.option_ohlc_stats", "jobs.high_watermark",
         "jobs.daily_sessions_job", "jobs.weekly_sessions_job",
         "jobs.monthly_sessions_job", "jobs.repair_gaps", "sinks.merge_upsert",
         "sinks.insert_if_absent"],
    ),
    "gold_queries": (
        ["sources.load_table_s", "plans.build_s", "plans.exec_s",
         "plans.spark_jobs_per_query", "plans.shuffle_bytes_per_query"],
        ["gold.query", "plans.build", "plans.exec", "sources.load_table"],
    ),
    "stream_candles": (
        ["sinks.upsert_partitioned_s", "sinks.partitions_rewritten_per_batch",
         "sinks.files_written", "streaming.batches", "streaming.rows_per_batch",
         "streaming.add_batch_s", "streaming.wal_commit_s",
         "streaming.rebuild_frame_s"],
        ["stream.drain", "streaming.apply_batch", "streaming.rebuild_frame",
         "sinks.upsert_partitioned"],
    ),
}


def span_counts(workload: str) -> dict[str, int]:
    path = os.path.join(common.WORK_ROOT, f"spans-{workload}.jsonl")
    counts: dict[str, int] = {}
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                name = json.loads(line)["name"]
                counts[name] = counts.get(name, 0) + 1
    return counts


def check_cli() -> None:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for w in bench["workloads"]:
        name = w["name"]
        res, err = run_cli(name, 0)
        got = {k: v["unit"] for k, v in (res or {}).get("metrics", {}).items()}
        check(res is not None and res["correct"] and got == e2e,
              f"{name}: prints every end-to-end metric with its unit")
        check(all(v["value"] > 0 for v in (res or {}).get("metrics", {}).values()),
              f"{name}: every end-to-end metric is above 0")
        check("tracing wrappers installed: 0; left in place: 0" in err,
              f"{name}: the untraced run installs no wrappers")

        path = os.path.join(common.WORK_ROOT, f"spans-{name}.jsonl")
        if os.path.exists(path):
            os.remove(path)
        res, err = run_cli(name, 1)
        metrics = (res or {}).get("metrics", {})
        got = {k: v["unit"] for k, v in metrics.items()}
        check(res is not None and res["correct"] and got == layers,
              f"{name}: the traced run prints every per-layer metric with its unit")
        must, spans = EXERCISED[name]
        zero = [k for k in ["session.start_s", "trace.bookkeeping_s", *must]
                if metrics.get(k, {}).get("value", 0) <= 0]
        check(res is not None and not zero,
              f"{name}: the traced run measures its own layers (0 or missing: {zero})")
        counts = span_counts(name)
        missing = [sp for sp in spans if counts.get(sp, 0) == 0]
        check(not missing, f"{name}: the traced run records its spans (none of: {missing})")
        check("tracing wrappers installed: 0;" not in err and "left in place: 0" in err,
              f"{name}: the traced run installs wrappers and removes them")


def main() -> int:
    workdir = common.make_workdir("selftest")
    try:
        check_generators(workdir)
        spark = common.start_spark(workdir)
        try:
            check_gates(spark, workdir)
        finally:
            common.stop_spark(spark)
        check_cli()
    finally:
        common.remove_workdir(workdir)
    print(f"{len(FAILURES)} failed" if FAILURES else "all checks passed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
