"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``pipeline_replay``, ``gold_queries``, ``stream_candles``
(see README.md in this directory). Run from the repository root. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Progress and
the human-readable summary go to standard error. The exit code is 0
only when every operation succeeded and the correctness gate passed.

With ``--trace 1`` the run measures for twice ``--seconds`` and traces
every second operation (tick, query or drain), installing the tracing
wrappers before it and removing them after; the tracing overhead is the
traced minus the untraced median time of operations of the same kind. Spans are written to ``.perfbench_work/spans-<workload>.jsonl``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
from common import log, median  # noqa: E402

sys.path.insert(1, common.ROOT)

WORKLOADS = ("pipeline_replay", "gold_queries", "stream_candles")

END_TO_END = {
    "setup_s": "s", "peak_rss_mb": "MB",
    "op_p50_s": "s", "op_tail_s": "s", "work_per_s": "1/s",
}
# workload-specific names of op_p50_s / op_tail_s / work_per_s per workload
ALIASES = {
    "pipeline_replay": ("tick_p50_s", "tick_tail_s", "sim_hours_per_s"),
    "gold_queries": ("query_p50_s", "query_tail_s", "queries_per_s"),
    "stream_candles": ("batch_p50_s", "batch_tail_s", "stream_rows_per_s"),
}

JOB_SPANS = ("incremental_sync", "option_ohlc_job", "option_ohlc_stats",
             "high_watermark", "daily_sessions_job", "weekly_sessions_job",
             "monthly_sessions_job", "repair_gaps")
PER_LAYER = {
    "session.start_s": "s",
    "sources.fetch_s": "s", "sources.to_df_s": "s", "sources.requests": "count",
    "sources.retries": "count", "sources.rows_fetched": "count",
    "sources.load_table_s": "s",
    **{f"jobs.{j}{sfx}": "s" for j in JOB_SPANS for sfx in ("_s", "_self_s")},
    "jobs.spark_jobs_per_tick": "count", "jobs.spark_tasks_per_tick": "count",
    "sinks.merge_upsert_s": "s", "sinks.insert_if_absent_s": "s",
    "sinks.files_written": "count", "sinks.bytes_written_per_input_byte": "ratio",
    "sinks.rows_rewritten_per_row_upserted": "ratio",
    "sinks.bytes_stored_per_input_byte": "ratio",
    "sinks.upsert_partitioned_s": "s", "sinks.partitions_rewritten_per_batch": "count",
    "streaming.batches": "count", "streaming.rows_per_batch": "count",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.rebuild_frame_s": "s",
    "plans.build_s": "s", "plans.exec_s": "s",
    "plans.spark_jobs_per_query": "count", "plans.shuffle_bytes_per_query": "bytes",
    "trace.overhead_s": "s", "trace.bookkeeping_s": "s",
}
SINKS = ("sinks.merge_upsert", "sinks.insert_if_absent", "sinks.upsert_partitioned")


class Context:
    def __init__(self, args, workdir: str) -> None:
        self.seed, self.seconds, self.workdir = args.seed, args.seconds, workdir
        self.spark = None
        self.tracer = None
        self.session_s = self.setup_s = 0.0

    def mark_setup(self) -> None:
        """Record the set-up time: process start to this call, made just
        before the first timed operation."""
        self.setup_s = time.perf_counter() - T_START

    def window(self) -> float:
        """Seconds of timed work: twice the run time when tracing, so
        the untraced and the traced operations each fill one."""
        return self.seconds * (2 if self.tracer is not None else 1)

    def traced_op(self, index: int) -> bool:
        """Whether operation ``index`` of the timed loop is traced."""
        return self.tracer is not None and index % 2 == 1


def _durations(tracer, name: str, key: str = "incl_s") -> list[float]:
    return [s[key] for s in tracer.by_name(name)]


def _overhead(res: dict) -> float:
    """Traced minus untraced median op time, per kind of op (the same
    query, or the same set of due jobs), then the median over kinds."""
    diffs = []
    for kind in set(res["kinds"]):
        on = [t for t, k, tr in zip(res["samples"], res["kinds"], res["traced"])
              if k == kind and tr]
        off = [t for t, k, tr in zip(res["samples"], res["kinds"], res["traced"])
               if k == kind and not tr]
        if on and off:
            diffs.append(median(on) - median(off))
    return median(diffs)


def layer_metrics(ctx, res: dict) -> dict:
    tr = ctx.tracer
    tr.finish()
    m = {name: 0.0 for name in PER_LAYER}
    m["session.start_s"] = ctx.session_s
    m["sources.fetch_s"] = median(_durations(tr, "sources.fetch"))
    m["sources.to_df_s"] = median(_durations(tr, "sources.to_df"))
    m["sources.load_table_s"] = median(_durations(tr, "sources.load_table"))
    for j in JOB_SPANS:
        m[f"jobs.{j}_s"] = median(_durations(tr, f"jobs.{j}"))
        m[f"jobs.{j}_self_s"] = median(_durations(tr, f"jobs.{j}", "self_s"))
    ticks = tr.by_name("pipeline.tick")
    if ticks:
        # counts of the most common kind of tick (the light one): an exact
        # count that does not change with how many ticks fit in the window
        common_kind = max(set(res["kinds"]), key=res["kinds"].count)
        same = [t for t in ticks if t["attrs"]["kind"] == common_kind] or ticks
        m["jobs.spark_jobs_per_tick"] = median([t["spark_incl"]["jobs"] for t in same])
        m["jobs.spark_tasks_per_tick"] = median([t["spark_incl"]["tasks"] for t in same])
        counts = [c for c, t in zip(res["tick_counts"], res["traced"]) if t]
        for i, name in enumerate(("requests", "retries", "rows_fetched")):
            m[f"sources.{name}"] = median([c[i] for c in counts])
    m["sinks.merge_upsert_s"] = median(_durations(tr, "sinks.merge_upsert"))
    m["sinks.insert_if_absent_s"] = median(_durations(tr, "sinks.insert_if_absent"))
    m["sinks.upsert_partitioned_s"] = median(_durations(tr, "sinks.upsert_partitioned"))
    sink_calls = [s for name in SINKS for s in tr.by_name(name)]
    if sink_calls:
        written = rows_in = bytes_in = rewritten = 0
        last = {}
        for s in sink_calls:
            a = s["attrs"]
            r = a.get("result", {})
            batch = r.get("inserted", 0) + r.get("updated", 0) + r.get("skipped", 0)
            per_row = a["table_uncompressed"] / max(a["table_rows"], 1)
            written += a["bytes_written"]
            rewritten += a["rows_written"]
            rows_in += batch
            bytes_in += batch * per_row
            last[s["name"], a["target"]] = a
        m["sinks.files_written"] = median([s["attrs"]["files_written"] for s in sink_calls])
        m["sinks.bytes_written_per_input_byte"] = written / max(bytes_in, 1.0)
        m["sinks.rows_rewritten_per_row_upserted"] = rewritten / max(rows_in, 1)
        finals = list(last.values())
        m["sinks.bytes_stored_per_input_byte"] = (
            sum(a["table_bytes"] for a in finals)
            / max(sum(a["table_uncompressed"] for a in finals), 1)
        )
    parts = [s["attrs"]["partitions_written"] for s in tr.by_name("sinks.upsert_partitioned")]
    m["sinks.partitions_rewritten_per_batch"] = sum(parts) / max(len(parts), 1)
    progress = [p for p, t in zip(res.get("progress", []), res["traced"]) if t]
    if progress:
        m["streaming.batches"] = float(len(progress))
        m["streaming.rows_per_batch"] = median([p["numInputRows"] for p in progress])
        m["streaming.add_batch_s"] = median(
            [p["durationMs"].get("addBatch", 0) / 1000.0 for p in progress])
        m["streaming.wal_commit_s"] = median(
            [p["durationMs"].get("walCommit", 0) / 1000.0 for p in progress])
    m["streaming.rebuild_frame_s"] = median(_durations(tr, "streaming.rebuild_frame"))
    m["plans.build_s"] = median(_durations(tr, "plans.build"))
    m["plans.exec_s"] = median(_durations(tr, "plans.exec"))
    queries = tr.by_name("gold.query")
    if queries:
        m["plans.spark_jobs_per_query"] = median([q["spark_incl"]["jobs"] for q in queries])
        m["plans.shuffle_bytes_per_query"] = median(
            [q["spark_incl"]["shuffle_bytes"] for q in queries])
    n_traced = max(sum(res["traced"]), 1)
    m["trace.overhead_s"] = _overhead(res)
    m["trace.bookkeeping_s"] = tr.bookkeeping_s() / n_traced
    return m


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        import options_data_pipeline_spark  # noqa: F401
        import tests._compare  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the package under test from {common.ROOT}: {exc}")
        return 2

    import pipeline
    import queries
    import stream
    workload = {"pipeline_replay": pipeline, "gold_queries": queries,
                "stream_candles": stream}[args.workload]

    workdir = common.make_workdir(args.workload)
    ctx = Context(args, workdir)
    try:
        ctx.spark = common.start_spark(workdir)
        ctx.session_s = time.perf_counter() - T_START
        if args.trace:
            from spans import Tracer
            ctx.tracer = Tracer(ctx.spark)
        res = workload.run(ctx)
        peak = common.jvm_peak_rss_mb(ctx.spark)
        if ctx.tracer is not None:
            metrics = layer_metrics(ctx, res)
            ctx.tracer.dump(os.path.join(common.WORK_ROOT,
                                         f"spans-{args.workload}.jsonl"))
            out = {k: (v, PER_LAYER[k]) for k, v in metrics.items()}
        else:
            values = {**res, "setup_s": ctx.setup_s, "peak_rss_mb": peak}
            out = {k: (values[k], u) for k, u in END_TO_END.items()}
        names = ALIASES[args.workload]
        log(f"{args.workload} seed={args.seed}: setup_s={ctx.setup_s:.3f} "
            f"peak_rss_mb={peak:.1f} {names[0]}={res['op_p50_s']:.4f} "
            f"{names[1]}={res['op_tail_s']:.4f} {names[2]}={res['work_per_s']:.3f} "
            f"failed_op_ratio={res['failed'] / res['attempted']:.4f}")
        if ctx.tracer is not None:
            for k, (v, u) in out.items():
                log(f"  {k} = {v:.6g} {u}")
        from spans import installed_wrappers
        wraps = ctx.tracer.wraps if ctx.tracer is not None else 0
        log(f"tracing wrappers installed: {wraps}; "
            f"left in place: {len(installed_wrappers())}")
    finally:
        if ctx.spark is not None:
            common.stop_spark(ctx.spark)
        common.remove_workdir(workdir)
    common.emit(res["ok"], res["attempted"], res["failed"], out)
    return 0 if res["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
