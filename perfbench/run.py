"""Agent-session benchmark: one closed-loop, single-client run of a workload.

    python3 perfbench/run.py --workload memory_session --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The program is imported from that checkout
and its inputs are generated under a fresh run root inside it
(`.perfbench_tmp/`), removed at exit. The last line of standard output is
one JSON object: `correct`, `attempted`, `failed` and `metrics`, the
end-to-end metrics with `--trace 0` and the per-layer metrics with
`--trace 1`. See perfbench/README.md.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # a run leaves the checkout as it found it

import argparse
import json
import os
import shlex
import shutil
import signal
import tempfile
import time
import uuid
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TMP_DIR = ".perfbench_tmp"
OUT_DIR = ".perfbench_out"
WORKLOADS = ("memory_session", "rag_session")
SELF_TIME_LAYERS = (
    "sources.tables",
    "sources.memories",
    "sources.embedders",
    "operators.memory",
    "operators.rag",
    "operators.documents",
    "operators.bm25_index",
    "operators.similarity",
    "state.txn",
)
# The driver heap is pinned: under the program's default (70% of the
# machine's memory) the JVM collects rarely and its peak RSS follows GC
# timing, not the workload; ten memory_session runs on a 4-vCPU VM read a
# peak_rss_mb quartile spread of 0.30 of the median, against 0.11-0.16 at 2g.
DRIVER_MEMORY = "2g"


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")


def tree_snapshot(root: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file under the checkout, except the
    benchmark's own scratch and output directories."""
    skip = {TMP_DIR, OUT_DIR, ".bench_build", ".git"}
    snap = {}
    for d, dirs, files in os.walk(root):
        if d == root:
            dirs[:] = [x for x in dirs if x not in skip]
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            snap[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return snap


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Summed VmHWM of this process and its children (the JVM and the
    Python workers it forked)."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def isolate(run_root: str) -> None:
    """Environment for the session and its children, set before the JVM
    starts: cores pinned to this machine, and every scratch path under the
    run root."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_root, sub), exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')} -XX:-UsePerfData"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": os.path.join(run_root, "local"),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "TMPDIR": os.path.join(run_root, "tmp"),
            "TZ": "UTC",
            "SPARK_LAUNCHER_OPTS": java_opts,  # the JVM that spark-submit starts to build the command
            "PYTHONDONTWRITEBYTECODE": "1",
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf",
                    shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
                    "--conf",
                    shlex.quote(f"spark.sql.warehouse.dir={os.path.join(run_root, 'warehouse')}"),
                    "--conf",
                    "spark.ui.showConsoleProgress=false",
                    "pyspark-shell",
                ]
            ),
        }
    )
    time.tzset()
    tempfile.tempdir = os.path.join(run_root, "tmp")


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for every child to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)


def make_workload(name: str, ctx):
    if name == "memory_session":
        from memory_session import MemorySession

        return MemorySession(ctx)
    from rag_session import RagSession

    return RagSession(ctx)


def per_layer(tr, wl, tally, session_s) -> dict[str, float]:
    names = [
        "sources.tables.load_table",
        *(f"operators.memory.{n}" for n in ("memory_exists", "memory_list", "memory_stats", "memory_stats_by_type", "expired_count")),
        *(f"operators.memory.{n}" for n in ("memory_touch", "memory_update", "memory_delete", "upsert_by_key", "apply_access_log")),
        *(f"state.txn.{n}" for n in ("create", "read", "upsert_cow", "upsert_mor", "delete_where", "compact")),
        "operators.rag.rag_search",
        "operators.rag.find_similar",
        "operators.retrieval.hybrid_search_rrf",
        "operators.documents.document_get",
        "operators.documents.document_add",
        *(f"operators.bm25_index.{n}" for n in ("bm25_index_write", "bm25_search_indexed", "bm25_index_append")),
        *(
            f"operators.similarity.{n}"
            for n in ("mllib_lsh_index_write", "mllib_lsh_topk_indexed", "mllib_lsh_index_append")
        ),
        "sources.embedders.hash_embedder",
    ]
    out = {"session.start_s": session_s}
    out.update({f"{n}_s": tr.median_s(n) for n in names})
    out["sources.tables.load_table_jobs"] = float(sum(tr.load_jobs) / len(tr.load_jobs)) if tr.load_jobs else 0.0
    # the probe includes its index load
    out["operators.similarity.mllib_lsh_topk_indexed_s"] += tr.median_s("operators.similarity.mllib_lsh_index_load")
    layer_fields = {
        "state.txn.live_dirs": 0.0,
        "state.txn.log_files": 0.0,
        "state.txn.write_amplification": 0.0,
        "state.txn.bytes_on_disk": 0.0,
        "operators.similarity.mllib_lsh_recall_at_10": 0.0,
        "index.files_on_disk": 0.0,
        "index.bytes_on_disk": 0.0,
    }
    if hasattr(wl, "layer_metrics"):
        layer_fields.update(wl.layer_metrics())
    out.update(layer_fields)
    loop, setup = tr.op_totals("loop"), tr.op_totals("setup")
    n = max(loop["n"], 1.0)
    out.update(
        {
            "spark.jobs_per_op": loop["jobs"] / n,
            "spark.stages_per_op": loop["stages"] / n,
            "spark.tasks_per_op": loop["tasks"] / n,
            "spark.op_build_s": (loop["wall_s"] - loop["collect_s"]) / n,
            "spark.op_collect_s": loop["collect_s"] / n,
            "spark.codegen_compiles_setup": setup["codegen_compiles"],
            "spark.codegen_compile_setup_s": setup["codegen_compile_s"],
            "spark.codegen_compiles_loop": loop["codegen_compiles"],
            "spark.codegen_compile_loop_s": loop["codegen_compile_s"],
            "jvm.gc_setup_s": setup["gc_s"],
            "jvm.gc_s": loop["gc_s"],
        }
    )
    self_time = tr.self_time_by_layer()
    for layer in SELF_TIME_LAYERS:
        out[f"self_s.{layer}"] = self_time.get(layer, 0.0)
    # the untraced figure is ops_per_s of the untraced runs; the tracer's own
    # bookkeeping per op is what separates the two
    out["trace.ops_per_s"] = tally.rates()["ops_per_s"]
    out["trace.overhead_per_op_s"] = tr.overhead_s / n
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "mcp_synaptic_spark")):
        print(f"no mcp_synaptic_spark package under {ROOT}: run from a checkout of the program", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # time spent in the benchmark's own work before the first op (the tree
    # snapshot, writing the inputs, the expected-state model) is not the
    # program's, so set-up leaves it out
    t_own = time.perf_counter()
    before = tree_snapshot(ROOT)
    own_s = time.perf_counter() - t_own
    run_root = os.path.join(ROOT, TMP_DIR, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    isolate(run_root)
    spark = None
    try:
        import numpy as np

        import datagen
        from harness import Ctx, Tally, run_ops
        from spans import Tracer

        data_dir = os.path.join(run_root, "data")
        t_own = time.perf_counter()
        datagen.write_tables(data_dir, datagen.TABLES_OF[args.workload])
        own_s += time.perf_counter() - t_own

        from mcp_synaptic_spark.session import get_spark

        t_session = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_session

        traced = bool(args.trace)
        tr = Tracer(spark, traced)
        ctx = Ctx(spark, data_dir, run_root, np.random.default_rng(args.seed), tr)
        t_model = time.perf_counter()
        wl = make_workload(args.workload, ctx)
        t_setup = time.perf_counter()
        own_s += t_setup - t_model
        with tr.op("setup", "setup") if traced else nullcontext():
            wl.setup()
        setup_s = process_age_s() - own_s
        print(
            f"set-up {setup_s:.2f} s: session {session_s:.2f} s, workload set-up "
            f"{time.perf_counter() - t_setup:.2f} s; left out: snapshot, inputs and expected-state model {own_s:.2f} s",
            file=sys.stderr,
        )

        # closed loop: whole rounds until --seconds of loop time have passed
        tally = Tally()
        t0, i = time.perf_counter(), 0
        while i == 0 or time.perf_counter() - t0 < args.seconds:
            run_ops(wl.round(i), tally, tr, traced)
            i += 1
        print(f"loop: {i} rounds in {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        correct = wl.finish()
        rss = peak_rss_mb()
        if traced:
            metrics = per_layer(tr, wl, tally, session_s)
            os.makedirs(os.path.join(ROOT, OUT_DIR), exist_ok=True)
            tr.dump(os.path.join(ROOT, OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json"))
            units = {k: _unit(k) for k in metrics}
        else:
            metrics = {"setup_s": setup_s, **tally.rates(), "peak_rss_mb": rss}
            units = {"setup_s": "s", "ops_per_s": "1/s", "read_ops_per_s": "1/s", "write_ops_per_s": "1/s", "peak_rss_mb": "MB"}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, TMP_DIR))
        except OSError:
            pass

    changed = sorted(set(before.items()) ^ set(tree_snapshot(ROOT).items()))
    if changed:
        print(f"the run changed the checkout: {[p for p, _ in changed][:10]}", file=sys.stderr)
        correct = False
    result = {
        "correct": bool(correct),
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _unit(name: str) -> str:
    if name.endswith("ops_per_s"):
        return "1/s"
    if name.endswith("_s") or name.startswith("self_s."):
        return "s"
    if name.endswith("bytes_on_disk"):
        return "bytes"
    if "recall" in name or "amplification" in name:
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
