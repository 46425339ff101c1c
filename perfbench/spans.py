"""Spans and Spark counters for the traced run.

The benchmark wraps each call into a program module in `Tracer.call` (or
`Tracer.span`). Untraced, those are plain calls. Traced, every call records a
span (name, start, end, parent, op id) in memory; spans are written out once,
when the run ends. Each op also gets its own Spark job group, so the jobs,
stages and tasks it launched are counted from the status tracker.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

_CODEGEN = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
_CODEGEN_METRICS = "org.apache.spark.metrics.source.CodegenMetrics"


class JvmCounters:
    """Codegen compiles, codegen compile time and GC time of the driver JVM."""

    def __init__(self, spark):
        self.jvm = spark._jvm

    def read(self) -> tuple[int, float, float]:
        compiles = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        compile_ns = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
        gc_ms = sum(
            max(0, g.getCollectionTime())
            for g in self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        return int(compiles), compile_ns / 1e9, gc_ms / 1e3


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None
        self.ops: list[dict] = []
        self.load_jobs: list[int] = []
        self._collect_s = 0.0
        self._jvm = JvmCounters(spark) if enabled else None
        self._group = None
        self.overhead_s = 0.0  # time spent in job-group and counter bookkeeping

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        """fn(*args, **kwargs) inside a span named `name`."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(name):
            return fn(*args, **kwargs)

    def rows(self, name: str, build):
        """Build a DataFrame with `build()` and collect it, in one span:
        Spark plans are lazy, so an operator's cost shows only when its
        result is materialized."""
        if not self.enabled:
            return build().collect()
        with self.span(name):
            df = build()
            t0 = time.perf_counter()
            out = df.collect()
            self._collect_s += time.perf_counter() - t0
            return out

    def load_table(self, load_table, spark, data_dir: str, name: str):
        """`sources.tables.load_table` in its own span and job group, so the
        Spark jobs the read launches while the frame is built are counted."""
        if not self.enabled:
            return load_table(spark, data_dir, name)
        sc = self.spark.sparkContext
        group = f"load-{len(self.spans)}"
        t0 = time.perf_counter()
        sc.setJobGroup(group, "load_table")
        self.overhead_s += time.perf_counter() - t0
        try:
            with self.span("sources.tables.load_table"):
                df = load_table(spark, data_dir, name)
        finally:
            t0 = time.perf_counter()
            if self._group is not None:
                sc.setJobGroup(self._group, "op")
            self.load_jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            self.overhead_s += time.perf_counter() - t0
        return df

    # -------------------------------------------------------------- ops

    @contextmanager
    def op(self, name: str, phase: str):
        """One benchmark operation: a job group for its Spark work and a
        top-level span; counters are read before and after."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        t_book = time.perf_counter()
        self.op_id = len(self.ops)
        self._group = f"op-{self.op_id}"
        sc.setJobGroup(self._group, name)
        before = self._jvm.read()
        self._collect_s = 0.0
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_book
        try:
            with self.span(f"op.{name}"):
                yield
        finally:
            wall = time.perf_counter() - t0
            t_book = time.perf_counter()
            after = self._jvm.read()
            tracker = sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(self._group)
            stages = tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                for s in info.stageIds:
                    stages += 1
                    sinfo = tracker.getStageInfo(s)
                    tasks += sinfo.numTasks if sinfo is not None else 0
            self.ops.append(
                {
                    "name": name,
                    "phase": phase,
                    "wall_s": wall,
                    "collect_s": self._collect_s,
                    "jobs": len(jobs),
                    "stages": stages,
                    "tasks": tasks,
                    "codegen_compiles": after[0] - before[0],
                    "codegen_compile_s": after[1] - before[1],
                    "gc_s": after[2] - before[2],
                }
            )
            self.op_id = None
            self._group = None
            sc.setJobGroup("none", "between ops")
            self.overhead_s += time.perf_counter() - t_book

    # ---------------------------------------------------------- summary

    def median_s(self, name: str) -> float:
        """Median duration of the spans called `name`; 0.0 when none ran."""
        d = [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]
        return statistics.median(d) if d else 0.0

    def self_time_by_layer(self) -> dict[str, float]:
        """Sum of span self time (duration minus time covered by child
        spans) per layer, the layer being the span name up to its last dot."""
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child_s):
            if s["end"] is None:
                continue
            layer = s["name"].rsplit(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - c
        return out

    def op_totals(self, phase: str) -> dict[str, float]:
        rows = [o for o in self.ops if o["phase"] == phase]
        keys = ("wall_s", "collect_s", "jobs", "stages", "tasks", "codegen_compiles", "codegen_compile_s", "gc_s")
        tot = {k: float(sum(o[k] for o in rows)) for k in keys}
        tot["n"] = float(len(rows))
        return tot

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops}, f)
