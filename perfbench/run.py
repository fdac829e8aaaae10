"""Benchmark of the tsaug_spark engine: one seeded workload per run.

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 14 --trace 0

Run from the root of a checkout.  With ``--trace 0`` the workload runs
untraced and the last line of stdout is a JSON object with the end-to-end
metrics; with ``--trace 1`` operations alternate between untraced and
traced, and the JSON holds the per-layer metrics instead.  Everything the
run writes lives under ``.perfbench/`` in the checkout and is removed at
exit.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

from spans import (Tracer, children, descendants, patched, reduce_event_log,
                   self_time, totals_for)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("refresh", "serve")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="operation time to measure: whole ops that fit, "
                        "at least one")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ------------------------------------------------------------ host context

def git_sha(root: str) -> "str | None":
    """HEAD of the checkout, read from .git without running git."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
    except OSError:
        return None
    if not ref.startswith("ref: "):
        return ref
    name = ref[5:]
    try:
        with open(os.path.join(root, ".git", name)) as fh:
            return fh.read().strip()
    except OSError:
        pass
    try:
        with open(os.path.join(root, ".git", "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + name):
                    return line.split()[0]
    except OSError:
        pass
    return None


def cpu_control_s(reps: int = 5) -> float:
    """Median wall of a fixed single-threaded loop, half NumPy and half
    interpreted Python: a host-speed reference taken before the workload,
    so drift between runs shows."""
    import numpy as np

    a = np.arange(50_000)
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        x = 0
        for _ in range(1000):
            x += int((a * 3 + 1).sum() % 97)
        for i in range(300_000):
            x = (x * 31 + i) % 1_000_003
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def steal_jiffies() -> "tuple[int, int]":
    """(steal, total) CPU jiffies of the host so far, from /proc/stat:
    time the hypervisor gave this machine's CPUs to someone else."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def host_context() -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_sha": git_sha(ROOT),
        "cpu_control_s": cpu_control_s(),
    }


# ----------------------------------------------------------------- session

def start_session(work: str, cores: int, event_log: "str | None"):
    from tsaug_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work}",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": event_log,
        })
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _import_engine(it):
    import tsaug_spark.codec.gorilla  # noqa: F401
    import tsaug_spark.plans.pack  # noqa: F401

    yield from it


def warm_workers(spark, cores: int) -> None:
    """Start one Python worker per core and import the engine in it: a
    worker without the package on its path fails here, in set-up."""
    spark.range(0, cores, 1, cores).mapInPandas(_import_engine, "id long").count()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ----------------------------------------------------------------- metrics

def layer_metrics(traced_ops, untraced_walls, groups, run) -> dict:
    """Per-layer metrics of the traced ops, per op unless stated."""
    spans = [s for op in traced_ops for s in op["spans"]]
    n = len(traced_ops)
    kids = children(spans)

    def named(prefix):
        return [s for s in spans if s.name.startswith(prefix)]

    def ids(ss):
        return descendants({s.id for s in ss}, spans)

    ckpt = named("checkpoint.")
    writes = [s for s in ckpt if s.name != "checkpoint.query_series"]
    commits = [s for s in named("tables.") if s.name != "tables.read"]
    merges = named("streaming.merge_batch")
    streams = named("streaming.run_stream_ingest_once")
    commit_t = totals_for(ids(commits), groups)
    rollup_t = totals_for(ids(writes + streams) - ids(commits), groups)
    all_t = totals_for({s.id for s in spans}, groups)
    ckpt_jobs = totals_for(ids(ckpt), groups).jobs
    py = all_t.python
    growth = sum(op["growth"] for op in traced_ops)
    top = sum(s.dur for s in spans if s.parent is None)
    traced_walls = [op["wall"] for op in traced_ops]
    return {
        "session.start_s": (run["session_s"], "s"),
        "datagen.s": (run["datagen_s"], "s"),
        "checkpoint.spark_jobs": (ckpt_jobs / len(ckpt) if ckpt else 0, "count"),
        "checkpoint.self_s": (sum(self_time(s, kids) for s in ckpt) / n, "s"),
        "tables.commits": (len(commits) / n, "count"),
        "tables.commit_s": (sum(s.dur for s in commits) / n, "s"),
        "tables.bytes_written": (commit_t.output_bytes / n, "B"),
        "tables.bytes_reread": (commit_t.input_bytes / n, "B"),
        "tables.write_amp": (
            commit_t.output_bytes / growth if commits and growth > 0 else 0,
            "ratio"),
        "codec.encode_python_s": (
            py[("codec.encode", "time to run Python workers")] / n, "s"),
        "codec.decode_python_s": (
            py[("codec.decode", "time to run Python workers")] / n, "s"),
        "codec.bytes_per_point": (run["chunk_bytes_per_point"], "B/point"),
        "rollup.jvm_cpu_s": (rollup_t.cpu_s / n, "s"),
        "rollup.input_bytes": (rollup_t.input_bytes / n, "B"),
        "rollup.shuffle_bytes": (rollup_t.shuffle_write_bytes / n, "B"),
        "gapfill.s": (sum(s.dur for s in named("gapfill.")) / n, "s"),
        "pack.python_s": (py[("pack", "time to run Python workers")] / n, "s"),
        "pack.arrow_bytes": (
            (py[("pack", "data sent to Python workers")]
             + py[("pack", "data returned from Python workers")]) / n, "B"),
        "pack.python_start_s": (
            py[("pack", "time to start Python workers")] / n, "s"),
        "stream.batches": (len(merges) / n, "count"),
        "stream.merge_s": (sum(s.dur for s in merges) / n, "s"),
        "stream.rollup_s": (sum(self_time(s, kids) for s in streams) / n, "s"),
        "spark.gc_s": (all_t.gc_s / n, "s"),
        "spark.spill_bytes": (all_t.spill_bytes / n, "B"),
        "trace.coverage": (top / sum(traced_walls), "ratio"),
        "trace.overhead_s": (
            statistics.median(traced_walls) - statistics.median(untraced_walls)
            if untraced_walls else 0.0, "s"),
    }


def verdicts(fn, infos: list) -> list:
    """``fn(infos)``, one verdict per op; every op fails if it raises."""
    try:
        return fn(infos)
    except Exception:
        traceback.print_exc()
        return [False] * len(infos)


def measure(wl, tracer, args):
    """Run whole ops while the next one, at the median op wall so far, is
    expected to end within ``args.seconds`` (at least one op runs).  Each
    op is checked outside its timing: right after it, or, for a workload
    that defers its checks, all together after the last op.  With
    tracing, ops alternate untraced and traced.  Returns (ops, traced
    ops, untraced baseline walls)."""
    from workloads import store_growth, store_points

    ops, traced_ops, untraced_walls = [], [], []
    measured = 0.0
    while True:
        traced = bool(args.trace) and len(ops) % 2 == 1
        wl.prepare()
        first_span = len(tracer.spans)
        points_before = {
            d: store_points(d) for d in wl.stores()} if traced else {}
        tracer.enabled = traced
        t = time.perf_counter()
        try:
            with patched(tracer) if traced else nullcontext():
                info = wl.op()
            ok = True
        except Exception:  # a failed op is counted, and the loop goes on
            traceback.print_exc()
            info, ok = {}, False
        wall = time.perf_counter() - t
        tracer.enabled = False
        measured += wall
        if ok and not wl.defer_checks:
            (ok,) = verdicts(wl.check_ops, [info])
        ops.append({"wall": wall, "ok": ok, "info": info})
        if traced:
            traced_ops.append({
                "wall": wall,
                "spans": tracer.spans[first_span:],
                "growth": sum(store_growth(d, points_before[d])
                              for d in wl.stores()),
            })
        elif args.trace:
            untraced_walls.append(wall)
        next_end = measured + statistics.median(o["wall"] for o in ops)
        enough = next_end > args.seconds and (
            not args.trace or (traced_ops and untraced_walls))
        if enough or wl.exhausted():
            break

    if wl.defer_checks:
        done = [o for o in ops if o["ok"]]
        for o, ok in zip(done, verdicts(wl.check_ops,
                                        [o["info"] for o in done])):
            o["ok"] = ok
    for k, o in enumerate(ops):
        if not o["ok"]:
            print(f"perfbench: op {k} failed", file=sys.stderr)
    return ops, traced_ops, untraced_walls


# -------------------------------------------------------------------- main

def run(args) -> int:
    sys.path.insert(0, ROOT)
    import importlib.util

    if importlib.util.find_spec("tsaug_spark") is None:
        print(f"perfbench: no tsaug_spark package under {ROOT}; run from "
              "the root of a checkout", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(work)
    # Python workers import the engine from the checkout, never from an
    # installed copy; shuffle and spill files stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")

    host = host_context()
    print("host " + json.dumps(host, sort_keys=True))

    from workloads import WORKLOADS, Context, chunk_bytes_per_point, make, \
        store_bytes, store_points

    cores = WORKLOADS[args.workload].task_cpus(host["nproc"])

    spark = None
    try:
        event_log = os.path.join(work, "eventlog") if args.trace else None
        t0 = time.perf_counter()
        spark = start_session(work, cores, event_log)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext)
        ctx = Context(spark, work, args.seed, tracer)
        t = time.perf_counter()
        ctx.generate()
        datagen_s = time.perf_counter() - t
        t = time.perf_counter()
        warm_workers(spark, cores)
        warm_s = time.perf_counter() - t
        wl = make(args.workload, ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0
        print(f"setup {setup_s:.2f} s: session {session_s:.2f}  datagen "
              f"{datagen_s:.2f}  workers {warm_s:.2f}  store "
              f"{wl.build_s:.2f}  warm-up ops {wl.warmup_s:.2f}")

        steal0 = steal_jiffies()
        ops, traced_ops, untraced_walls = measure(wl, tracer, args)
        steal1 = steal_jiffies()
        steal = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
        failed = sum(not o["ok"] for o in ops)
        store = wl.dir
        run_info = {
            "session_s": session_s,
            "datagen_s": datagen_s,
            "chunk_bytes_per_point": chunk_bytes_per_point(store),
        }
        walls = [o["wall"] for o in ops]
        points = store_points(store)
        e2e = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(walls), "s"),
            "stored_bytes_per_point": (
                store_bytes(store) / max(points, 1), "B/point"),
        }
        report = dict(e2e)
        report["error_rate"] = (failed / len(ops), "failed/attempted")
        report.update(wl.report(ops))
        stop_session(spark)
        spark = None

        print(f"workload {args.workload}  seed {args.seed}  "
              f"correct {failed == 0}  ops {len(ops)}  failed {failed}  "
              f"turns {ctx.n_turns}  cores {cores}  "
              f"cpu steal during ops {steal:.1%}")
        print("  op walls (s): " + " ".join(f"{w:.3f}" for w in walls))
        for name, (value, unit) in report.items():
            print(f"  {name:<28} {value:>14.6g} {unit}")
        metrics = e2e
        if args.trace:
            groups = reduce_event_log(_event_log_file(event_log))
            metrics = layer_metrics(traced_ops, untraced_walls,
                                    groups, run_info)
            print_layers(args.workload, metrics)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still using it
            pass


LAYERS = [
    ("session, datagen", ("session.start_s", "datagen.s")),
    ("sources.checkpoint", ("checkpoint.spark_jobs", "checkpoint.self_s")),
    ("sources.tables", ("tables.commits", "tables.commit_s",
                        "tables.bytes_written", "tables.bytes_reread",
                        "tables.write_amp")),
    ("codec", ("codec.encode_python_s", "codec.decode_python_s",
               "codec.bytes_per_point")),
    ("plans.rollup", ("rollup.jvm_cpu_s", "rollup.input_bytes",
                      "rollup.shuffle_bytes")),
    ("plans.gapfill", ("gapfill.s",)),
    ("plans.pack + operators", ("pack.python_s", "pack.arrow_bytes",
                                "pack.python_start_s")),
    ("streaming", ("stream.batches", "stream.merge_s", "stream.rollup_s")),
    ("spark (all spans)", ("spark.gc_s", "spark.spill_bytes")),
    ("tracing", ("trace.coverage", "trace.overhead_s")),
]


def print_layers(workload: str, metrics: dict) -> None:
    print(f"layers of {workload} (per traced op unless the unit says)")
    for layer, names in LAYERS:
        for name in names:
            value, unit = metrics[name]
            print(f"  {layer:<24} {name:<24} {value:>14.6g} {unit}")
    cov = metrics["trace.coverage"][0]
    print(f"  span coverage of traced op wall: {cov:.1%} "
          f"({'meets' if cov >= 0.9 else 'BELOW'} the 90% target)")


def _event_log_file(d: str) -> str:
    (name,) = [n for n in os.listdir(d) if not n.startswith(".")]
    return os.path.join(d, name)


if __name__ == "__main__":
    sys.exit(run(parse_args(sys.argv[1:])))
