"""The closed loop shared by the workloads.

A workload supplies `setup()`, `round(i)` (the ops of round i, parameters
drawn from the workload seed) and `finish()` (checks after the loop). Each
op is one call a single client makes and waits for; its check runs after
the clock stops, so checks cost no measured time. An op that raises or
fails its check counts as failed.
"""

from __future__ import annotations

import sys
import time
import traceback
from contextlib import nullcontext
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

from spans import Tracer


@dataclass
class Op:
    cls: str  # "read" or "write"
    name: str
    run: Callable[[], object]
    check: Callable[[object], bool]


@dataclass
class Ctx:
    """What every workload gets: the session, its input and scratch
    directories, the seeded generator and the tracer."""

    spark: object
    data_dir: str
    root: str
    rng: np.random.Generator
    tr: Tracer

    def load(self, name: str):
        from mcp_synaptic_spark.sources.tables import load_table

        return self.tr.load_table(load_table, self.spark, self.data_dir, name)


@dataclass
class Tally:
    times: dict = field(default_factory=lambda: {"read": [], "write": []})
    attempted: int = 0
    failed: int = 0

    def add(self, op: Op, seconds: float, ok: bool) -> None:
        self.attempted += 1
        if ok:
            self.times[op.cls].append(seconds)
        else:
            self.failed += 1

    def rates(self) -> dict[str, float]:
        r, w = self.times["read"], self.times["write"]
        both = r + w
        return {
            "ops_per_s": len(both) / sum(both) if both else 0.0,
            "read_ops_per_s": len(r) / sum(r) if r else 0.0,
            "write_ops_per_s": len(w) / sum(w) if w else 0.0,
        }


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of this machine's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def run_ops(ops: list[Op], tally: Tally, tr: Tracer, traced: bool) -> None:
    for op in ops:
        out, ok = None, True
        with tr.op(op.name, "loop") if traced else nullcontext():
            s0 = cpu_ticks()
            t0 = time.perf_counter()
            try:
                out = op.run()
            except Exception:
                ok = False
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
            s1 = cpu_ticks()
        steal = (s1[0] - s0[0]) / max(1, s1[1] - s0[1])
        if ok:
            try:
                ok = bool(op.check(out))
            except Exception:
                ok = False
                traceback.print_exc(file=sys.stderr)
            if not ok:
                print(f"check failed: {op.name}", file=sys.stderr)
        print(f"op {op.cls} {op.name} {dt:.3f} s steal {steal:.3f} {'ok' if ok else 'FAILED'}", file=sys.stderr)
        tally.add(op, dt, ok)

