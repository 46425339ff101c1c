"""The durable memory store on `state.txn.TxnTable`, the second half of the
memory_session workload.

Set-up creates the table from the 100,000 derived memories, with zone maps on
`expires_at`, under this run's own root. Each round commits a copy-on-write
upsert batch, a merge-on-read upsert batch, a compaction, a delete by key and
an expiry sweep at a clock that advances through the events window; reads
are get, list and stats through `operators.memory` over `TxnTable.read()`,
one of them at a past version. A plain dict of the same op sequence is the
expected state.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import oracle
from harness import Ctx, Op

BATCH = 40
TYPES = ("ephemeral", "short_term", "long_term", "permanent")
CLOCK_START = dt.datetime(2024, 1, 2)
CLOCK_STEP = dt.timedelta(hours=20)


class MemoryStore:
    def __init__(self, ctx: Ctx, derived):
        """`derived` is the expected derived state (oracle.memories)."""
        self.ctx = ctx
        self.path = os.path.join(ctx.root, "memstore")
        self.keys = derived["key"].to_numpy()
        # key -> (data, memory_type, created_at, expires_at)
        self.source = {
            k: (d, t, c, oracle.plain(e))
            for k, d, t, c, e in zip(
                derived["key"], derived["data"], derived["memory_type"], derived["created_at"], derived["expires_at"]
            )
        }
        self.model = dict(self.source)
        self.sizes: dict[int, int] = {}  # committed version -> row count
        self.version = -1
        self.clock = CLOCK_START + dt.timedelta(hours=int(ctx.rng.integers(0, 48)))
        self.table = None
        self.write_bytes = 0
        self.changed_rows = 0

    def memories(self):
        from mcp_synaptic_spark.sources.memories import memories_from_events

        return self.ctx.tr.call("sources.memories.memories_from_events", memories_from_events, self.ctx.load("events"))

    def setup(self) -> None:
        from mcp_synaptic_spark.state.txn import TxnTable

        self.table = self.ctx.tr.call(
            "state.txn.create", TxnTable.create, self.ctx.spark, self.path, self.memories(), stat_cols=("expires_at",)
        )
        self._committed(0)
        self.row_bytes = self.data_bytes() / len(self.model)

    # ------------------------------------------------------------- helpers

    def _committed(self, version: int) -> None:
        self.version = version
        self.sizes[version] = len(self.model)

    def data_bytes(self) -> int:
        total = 0
        for d, _, files in os.walk(self.path):
            if os.path.basename(d) == "_txn":
                continue
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total

    def read(self, version=None):
        return self.ctx.tr.call("state.txn.read", self.table.read, version)

    def write(self, name: str, fn, *args, **kwargs):
        """A table write, with the bytes it added to the data directories."""
        before = self.data_bytes() if self.ctx.tr.enabled else 0
        out = self.ctx.tr.call(f"state.txn.{name}", fn, *args, **kwargs)
        if self.ctx.tr.enabled:
            self.write_bytes += self.data_bytes() - before
        return out

    def rows(self, fn_name: str, build):
        return self.ctx.tr.rows(f"operators.memory.{fn_name}", build)

    def now(self):
        from pyspark.sql import functions as F

        return F.lit(self.clock)

    def live(self):
        return {k: v for k, v in self.model.items() if v[3] is None or v[3] > self.clock}

    # --------------------------------------------------------------- round

    def round(self, i: int) -> list[Op]:
        from pyspark.sql import functions as F

        from mcp_synaptic_spark.operators import memory as M
        from mcp_synaptic_spark.state.txn import expired_skipper

        rng = self.ctx.rng
        ops: list[Op] = []

        def upsert(mode: str) -> dict[str, str]:
            keys = sorted(str(k) for k in rng.choice(self.keys, BATCH, replace=False))
            data = json.dumps({"round": i, "mode": mode, "n": int(rng.integers(1_000_000))})

            def run():
                updates = (
                    self.memories()
                    .where(F.col("key").isin(keys))
                    .withColumn("data", F.lit(data))
                    .withColumn("updated_at", self.now())
                )
                return self.write(f"upsert_{mode}", self.table.upsert, updates, mode=mode)

            def check(version):
                for k in keys:
                    self.model[k] = (data,) + self.source[k][1:]
                self.changed_rows += len(keys)
                ok = version == self.version + 1
                self._committed(version)
                return ok

            ops.append(Op("write", f"store_upsert_{mode}", run, check))
            return {k: data for k in keys}

        # read-after-write on every key of both batches (the later batch
        # wins a key both drew)
        written = upsert("cow")
        written.update(upsert("mor"))
        keys = sorted(written)

        def get():
            return self.rows(
                "memory_list",
                lambda: M.memory_list(self.read(), self.now(), keys=keys, include_expired=True, limit=len(keys)),
            )

        ops.append(Op("read", "store_get", get, lambda out: {r["key"]: r["data"] for r in out} == written))

        def compact_check(version):
            ok = version == self.version + 1
            self._committed(version)
            return ok

        ops.append(Op("write", "store_compact", lambda: self.write("compact", self.table.compact), compact_check))

        mtype = str(rng.choice(TYPES))
        offset = int(rng.integers(0, 40))

        def list_check(out):
            sel = [(v[2], k) for k, v in self.live().items() if v[1] == mtype]
            return [r["key"] for r in out] == [k for _, k in sorted(sel)[offset : offset + 10]]

        ops.append(
            Op(
                "read",
                "store_list",
                lambda: self.rows(
                    "memory_list",
                    lambda: M.memory_list(self.read(), self.now(), memory_types=[mtype], limit=10, offset=offset),
                ),
                list_check,
            )
        )

        doomed = sorted(str(k) for k in rng.choice(self.keys, 3, replace=False))

        def delete_check(res):
            version, n = res
            want = sum(1 for k in doomed if k in self.model)
            for k in doomed:
                self.model.pop(k, None)
            self.changed_rows += n
            ok = n == want and version == (self.version + 1 if want else self.version)
            self._committed(version)
            return ok

        ops.append(
            Op(
                "write",
                "store_delete",
                lambda: self.write("delete_where", self.table.delete_where, F.col("key").isin(doomed)),
                delete_check,
            )
        )

        def sweep():
            self.clock += CLOCK_STEP
            cond = F.col("expires_at").isNotNull() & (F.col("expires_at") <= self.now())
            return self.write("delete_where", self.table.delete_where, cond, skip_dir=expired_skipper("expires_at", self.clock))

        def sweep_check(res):
            version, n = res
            gone = [k for k, v in self.model.items() if v[3] is not None and v[3] <= self.clock]
            for k in gone:
                del self.model[k]
            self.changed_rows += n
            ok = n == len(gone) and version == (self.version + 1 if gone else self.version)
            self._committed(version)
            return ok

        ops.append(Op("write", "store_expiry_sweep", sweep, sweep_check))

        def stats_check(out):
            n_expired = sum(1 for v in self.model.values() if v[3] is not None and v[3] <= self.clock)
            return out[0]["total_memories"] == len(self.model) and out[0]["expired_memories"] == n_expired

        ops.append(
            Op(
                "read",
                "store_stats",
                lambda: self.rows("memory_stats", lambda: M.memory_stats(self.read(), self.now())),
                stats_check,
            )
        )
        past = int(rng.integers(0, self.version + 1)) if self.version > 0 else 0

        def past_run():
            return self.rows("memory_stats", lambda: M.memory_stats(self.read(past), self.now()))

        ops.append(Op("read", "store_stats_past_version", past_run, lambda out: out[0]["total_memories"] == self.sizes[past]))
        return ops

    # -------------------------------------------------------------- finish

    def finish(self) -> bool:
        """Final row count against the model."""
        return self.read().count() == len(self.model)

    def layer_metrics(self) -> dict[str, float]:
        log = os.path.join(self.path, "_txn")
        commits = sorted(f for f in os.listdir(log) if f[:6].isdigit() and f.endswith(".json") and "checkpoint" not in f)
        with open(os.path.join(log, commits[-1])) as f:
            live = json.load(f)["live"]
        size = 0
        for d, _, files in os.walk(self.path):
            size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return {
            "state.txn.live_dirs": float(len(live)),
            "state.txn.log_files": float(len(os.listdir(log))),
            "state.txn.bytes_on_disk": float(size),
            "state.txn.write_amplification": self.write_bytes / (self.changed_rows * self.row_bytes)
            if self.changed_rows
            else 0.0,
        }
