"""memory_session: an agent's memory tools, on the derived state and on the
durable store.

Derived-state ops load `events` through `sources.tables.load_table` and
derive the 100,000 memories with `sources.memories.memories_from_events`, as
the graded queries do, then run one `operators.memory` tool and collect its
rows. Their writes are evaluated on the derived state and collect only the
rows they affect; nothing persists between them. The durable-store ops of
`memory_store.MemoryStore` run in the same round.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import oracle
from harness import Ctx, Op
from memory_store import MemoryStore

TYPES = ("ephemeral", "short_term", "long_term", "permanent")
WINDOW_START = dt.datetime(2024, 1, 1)
WINDOW_DAYS = 30


class MemorySession:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.model = oracle.memories(os.path.join(ctx.data_dir, "events.parquet"))
        self.keys = self.model["key"].to_numpy()
        self.store = MemoryStore(ctx, self.model)

    # ------------------------------------------------------------ helpers

    def memories(self):
        from mcp_synaptic_spark.sources.memories import memories_from_events

        return self.ctx.tr.call("sources.memories.memories_from_events", memories_from_events, self.ctx.load("events"))

    def rows(self, fn_name: str, build):
        return self.ctx.tr.rows(f"operators.memory.{fn_name}", build)

    def key(self) -> str:
        return str(self.keys[int(self.ctx.rng.integers(0, len(self.keys)))])

    def some_keys(self, n: int) -> list[str]:
        return [str(k) for k in self.ctx.rng.choice(self.keys, n, replace=False)]

    def instant(self) -> dt.datetime:
        """A seeded instant inside the events window, whole seconds."""
        return WINDOW_START + dt.timedelta(seconds=int(self.ctx.rng.integers(86_400, (WINDOW_DAYS - 1) * 86_400)))

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from mcp_synaptic_spark.operators import memory as M

        self.store.setup()
        # warm-up: one untimed scan of the derived state, so the first timed
        # op does not also pay the first compile of the derivation's plan
        self.ctx.tr.call("warmup", lambda: M.memory_stats(self.memories(), F.lit(WINDOW_START)).collect())

    # --------------------------------------------------------------- round

    def round(self, i: int) -> list[Op]:
        from pyspark.sql import functions as F

        from mcp_synaptic_spark.operators import memory as M

        rng, m = self.ctx.rng, self.model
        ops: list[Op] = []

        # -- reads
        key = self.key() if rng.random() < 0.8 else f"mem-missing-{int(rng.integers(1_000_000))}"
        now = self.instant()
        ops.append(
            Op(
                "read",
                "memory_exists",
                lambda key=key, now=now: self.rows("memory_exists", lambda: M.memory_exists(self.memories(), key, F.lit(now))),
                lambda out, key=key, now=now: [r["key"] for r in out]
                == ([key] if key in m.index and oracle.live_mask(m.loc[[key]], now)[0] else []),
            )
        )

        types = sorted(rng.choice(TYPES, int(rng.integers(1, 3)), replace=False).tolist())
        bucket = str(int(rng.integers(0, 3)))
        lo = self.instant()
        hi = lo + dt.timedelta(days=int(rng.integers(4, 12)))
        filters = {"memory_types": types, "tags": {"bucket": bucket}, "created_after": F.lit(lo), "created_before": F.lit(hi)}
        pick = (m["memory_type"].isin(types) & (m["bucket"] == bucket) & (m["created_at"] > lo) & (m["created_at"] < hi)).to_numpy()
        now, offset = self.instant(), int(rng.integers(0, 60))
        ops.append(
            Op(
                "read",
                "memory_list",
                lambda now=now, offset=offset: self.rows(
                    "memory_list", lambda: M.memory_list(self.memories(), F.lit(now), limit=10, offset=offset, **filters)
                ),
                lambda out, now=now, offset=offset: [r["key"] for r in out]
                == oracle.page(m[pick & oracle.live_mask(m, now)], 10, offset),
            )
        )

        now = self.instant()
        ops.append(
            Op(
                "read",
                "memory_stats",
                lambda now=now: self.rows("memory_stats", lambda: M.memory_stats(self.memories(), F.lit(now))),
                lambda out, now=now: self._check_stats(out[0], now),
            )
        )
        ops.append(
            Op(
                "read",
                "memory_stats_by_type",
                lambda: self.rows("memory_stats_by_type", lambda: M.memory_stats_by_type(self.memories())),
                lambda out: {r["memory_type"]: r["cnt"] for r in out} == m["memory_type"].value_counts().to_dict(),
            )
        )
        now = self.instant()
        ops.append(
            Op(
                "read",
                "expired_count",
                lambda now=now: self.rows("expired_count", lambda: M.expired_count(self.memories(), F.lit(now))),
                lambda out, now=now: int(out[0]["expired_count"] or 0) == int(oracle.expired_mask(m, now).sum()),
            )
        )
        # -- writes, each evaluated on the derived state
        keys, now = self.some_keys(3), self.instant()
        ops.append(
            Op(
                "write",
                "memory_touch",
                lambda keys=keys, now=now: self.rows(
                    "memory_touch",
                    lambda: M.memory_touch(self.memories(), keys, F.lit(now)).where(F.col("key").isin(keys)),
                ),
                lambda out, keys=keys, now=now: self._check_touch(out, keys, now),
            )
        )
        key, now = self.key(), self.instant()
        data = json.dumps({"note": int(rng.integers(1_000_000))})
        tag = str(int(rng.integers(0, 100)))
        ttl = int(rng.integers(60, 86_400))
        ops.append(
            Op(
                "write",
                "memory_update",
                lambda key=key, now=now, data=data, tag=tag, ttl=ttl: self.rows(
                    "memory_update",
                    lambda: M.memory_update(
                        self.memories(), key, F.lit(now), data=data, tags={"bucket": tag, "agent": "bench"}, extend_ttl=ttl
                    ).where(F.col("key") == key),
                ),
                lambda out, key=key, now=now, data=data, tag=tag, ttl=ttl: self._check_update(out, key, now, data, tag, ttl),
            )
        )
        key, other = self.some_keys(2)
        ops.append(
            Op(
                "write",
                "memory_delete",
                lambda key=key, other=other: self.rows(
                    "memory_delete",
                    lambda: M.memory_delete(self.memories(), key).where(F.col("key").isin([key, other])),
                ),
                lambda out, other=other: [r["key"] for r in out] == [other],
            )
        )
        keys, now = self.some_keys(20), self.instant()
        data = json.dumps({"upserted": int(rng.integers(1_000_000))})

        def upsert(keys=keys, now=now, data=data):
            def build():
                mem = self.memories()
                updates = (
                    mem.where(F.col("key").isin(keys))
                    .withColumn("data", F.lit(data))
                    .withColumn("updated_at", F.lit(now))
                )
                return M.upsert_by_key(mem, updates).where(F.col("key").isin(keys))

            return self.rows("upsert_by_key", build)

        ops.append(
            Op(
                "write",
                "upsert_by_key",
                upsert,
                lambda out, keys=keys, now=now, data=data: sorted(r["key"] for r in out) == sorted(keys)
                and all(r["data"] == data and r["updated_at"] == now for r in out),
            )
        )
        log = []
        for k in self.some_keys(8):
            created = m.at[k, "created_at"]
            for _ in range(int(rng.integers(1, 4))):
                # reads from two hours after creation (past the widest seeded
                # last-access offset) up to two days later
                log.append((k, created + dt.timedelta(seconds=7200 + int(rng.integers(0, 2 * 86_400)))))

        def access(log=log):
            keys = sorted({k for k, _ in log})
            values = ", ".join(f"('{k}', TIMESTAMP '{t.isoformat(sep=' ')}')" for k, t in log)

            def build():
                acc = self.ctx.spark.sql(f"SELECT * FROM VALUES {values} AS t(key, ts)")
                return M.apply_access_log(self.memories(), acc).where(F.col("key").isin(keys))

            return self.rows("apply_access_log", build)

        ops.append(Op("write", "apply_access_log", access, lambda out, log=log: self._check_access(out, log)))
        return ops + self.store.round(i)

    def finish(self) -> bool:
        return self.store.finish()

    def layer_metrics(self) -> dict[str, float]:
        return self.store.layer_metrics()

    # -------------------------------------------------------------- checks

    def _check_stats(self, r, now) -> bool:
        m = self.model
        ttl = m["ttl_seconds"].dropna().astype(float)
        return (
            r["total_memories"] == len(m)
            and r["expired_memories"] == int(oracle.expired_mask(m, now).sum())
            and abs(r["avg_ttl_seconds"] - round(float(ttl.mean()), 6)) <= 1e-6
            and r["oldest_memory"] == m["created_at"].min()
            and r["newest_memory"] == m["created_at"].max()
            and r["max_access_count"] == int(m["access_count"].max())
            and r["total_size_bytes"] == sum(len(d.encode()) for d in m["data"])
        )

    def _row(self, key: str) -> dict:
        return oracle.row(self.model, key)

    def _check_touch(self, out, keys, now) -> bool:
        want = {}
        for k in keys:
            row = self._row(k)
            if row["expires_at"] is not None and row["expires_at"] <= now:
                continue  # an expired hit is removed, never revived
            exp = row["expires_at"]
            if row["expiration_policy"] == "sliding" and row["ttl_seconds"] is not None and row["ttl_seconds"] > 0:
                exp = now + dt.timedelta(seconds=int(row["ttl_seconds"]))
            want[k] = (row["access_count"] + 1, now, exp)
        got = {r["key"]: (r["access_count"], r["last_accessed_at"], r["expires_at"]) for r in out}
        return got == want

    def _check_update(self, out, key, now, data, tag, ttl) -> bool:
        row = self._row(key)
        exp = oracle.expiry(row["expiration_policy"], ttl, row["created_at"], row["last_accessed_at"])
        return len(out) == 1 and (
            out[0]["data"],
            out[0]["updated_at"],
            dict(out[0]["tags"]),
            out[0]["ttl_seconds"],
            out[0]["expires_at"],
        ) == (data, now, {"src": "events", "bucket": tag, "agent": "bench"}, ttl, exp)

    def _check_access(self, out, log) -> bool:
        want = {}
        for k in sorted({k for k, _ in log}):
            after = oracle.replay_access(self._row(k), [t for kk, t in log if kk == k])
            if after is not None:
                want[k] = (int(after["access_count"]), after["last_accessed_at"], after["expires_at"])
        got = {r["key"]: (r["access_count"], r["last_accessed_at"], r["expires_at"]) for r in out}
        return got == want
