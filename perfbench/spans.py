"""Spans around the benchmark's calls into the package's layers.

A ``Tracer`` records one span per call: name, start, end, parent and
the id of the operation (tick, query or micro-batch) it belongs to.
Spans are kept in memory and written once at the end.

Spark is lazy, so a span's wall time alone says little about where the
work happened. Each span therefore runs under its own Spark job group
(``SparkContext.setJobGroup``); after each operation the tracer reads
the jobs, tasks and shuffle bytes of every group from the status
tracker and status store, outside any timed interval.

Calls the benchmark makes directly are traced with ``Tracer.span``.
Calls the package makes internally (a job calling a sink) are traced
by ``Tracer.wrap``, which replaces the module attribute the caller
looks up. The untraced run constructs no ``Tracer`` and wraps nothing.

Work the tracer itself does inside a span (listing a sink's directory
before and after the call) is recorded as bookkeeping and taken out of
the inclusive and self times of every enclosing span.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


def table_files(path: str) -> dict[str, int]:
    """{relative path: bytes} of a table directory's data files."""
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(".parquet"):
                continue
            full = os.path.join(root, n)
            out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def table_delta(path: str, before: dict[str, int]) -> dict:
    """What a sink call did to a table: files and bytes it wrote, rows in
    those files, partitions they landed in, and the table's stored and
    uncompressed bytes afterwards (from the parquet footers)."""
    import pyarrow.parquet as pq

    after = table_files(path)
    new = [f for f, size in after.items() if before.get(f) != size]
    stored = uncompressed = rows = 0
    new_rows = 0
    for f in after:
        md = pq.read_metadata(os.path.join(path, f))
        u = sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
        uncompressed += u
        rows += md.num_rows
        if f in new:
            new_rows += md.num_rows
        stored += after[f]
    return {
        "files_written": len(new),
        "bytes_written": sum(after[f] for f in new),
        "rows_written": new_rows,
        "partitions_written": len({os.path.dirname(f) for f in new}),
        "table_bytes": stored,
        "table_rows": rows,
        "table_uncompressed": uncompressed,
    }


def installed_wrappers() -> list[str]:
    """Names of package functions currently replaced by a tracing
    wrapper, found by scanning the loaded package modules and classes."""
    import sys

    found = []
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("options_data_pipeline_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            owners = [(attr, val)]
            if isinstance(val, type):
                owners += [(f"{attr}.{a}", v) for a, v in vars(val).items()]
            found += [f"{mod_name}.{a}" for a, v in owners
                      if hasattr(v, "perfbench_span")]
    return sorted(set(found))


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._local = threading.local()
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []
        self._unread: list[dict] = []
        self.wraps = 0

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {
            "id": next(self._ids), "name": name, "op": self.op_id,
            "parent": parent["id"] if parent else None,
            "group": f"pb-{len(self.spans)}", "bk": 0.0, "attrs": attrs,
        }
        self.spans.append(rec)
        self._unread.append(rec)
        stack.append(rec)
        prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                self.sc.getLocalProperty("spark.job.description"))
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self.sc.setLocalProperty("spark.job.description", prev[1])

    def wrap(self, module, attr: str, name: str, target_arg: int | None = None) -> None:
        """Trace every call made through ``module.attr``.

        ``target_arg`` names the positional argument holding a table
        path: the directory is listed before and after the call, and
        what the call wrote is recorded on the span."""
        original = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            path = args[target_arg] if target_arg is not None else None
            before = table_files(path) if path else None
            t1 = time.perf_counter()
            with tracer.span(name) as rec:
                out = original(*args, **kwargs)
            t2 = time.perf_counter()
            if path:
                rec["attrs"].update(table_delta(path, before), target=path)
            if isinstance(out, dict):
                rec["attrs"]["result"] = {
                    k: v for k, v in out.items() if isinstance(v, int)
                }
            elif isinstance(out, list):
                rec["attrs"]["rows"] = len(out)
            rec["bk"] = (t1 - t0) + (time.perf_counter() - t2)
            return out

        traced.__wrapped__ = original
        traced.perfbench_span = name
        setattr(module, attr, traced)
        self._patched.append((module, attr, original))
        self.wraps += 1

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def read_spark_counts(self) -> None:
        """Attach Spark job/stage/task/shuffle counts to spans not yet
        read. Call between operations, outside any timed interval."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self._unread:
            jobs = tasks = stages = shuffle = 0
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    stages += 1
                    tasks += sd.numTasks()
                    shuffle += sd.shuffleWriteBytes()
            rec["spark"] = {"jobs": jobs, "stages": stages, "tasks": tasks,
                            "shuffle_bytes": shuffle}
        self._unread.clear()

    # -- reporting --------------------------------------------------------
    def _children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        return kids

    def finish(self) -> None:
        """Compute each span's inclusive time, self time and inclusive
        Spark counts, with the tracer's own bookkeeping taken out."""
        kids = self._children()
        for s in reversed(self.spans):  # children are recorded after parents
            cs = kids.get(s["id"], [])
            dur = s["end"] - s["start"]
            bk_inside = sum(c["bk"] + c["bk_inside"] for c in cs)
            s["bk_inside"] = bk_inside
            s["incl_s"] = dur - bk_inside
            s["self_s"] = s["incl_s"] - sum(c["incl_s"] for c in cs)
            incl = dict(s.get("spark", {}))
            for c in cs:
                for k, v in c["spark_incl"].items():
                    incl[k] = incl.get(k, 0) + v
            s["spark_incl"] = incl

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def bookkeeping_s(self) -> float:
        return sum(s["bk"] for s in self.spans)
