"""Backup-lifecycle and curation benchmark.

    python3 perfbench/run.py --workload backup --seed 1 --seconds 10 --trace 0

Runs one workload of ``workloads.py`` against the package in the
checkout that holds this directory, on one Spark driver with
``local[<cores>]``, as a closed loop with a single caller. Inputs are
generated from ``--seed`` under ``.bench_work/`` in the checkout, which
is removed at exit; a result file with every counter is kept under
``.bench_work/results/``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics when
``--trace 0`` and the per-layer counters when ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

from spans import Tracer
from workloads import WORKLOADS, Ctx

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "blog_snapshotbackup_azuredatalake_spark"
DRIVER_MEM = "4g"  # fits a 15 GiB box; the session factory defaults to 16g
SETUPS = 3  # set-up repetitions; setup_s is their median

SM = "operators.snapshot_manager"
CURATION_LAYERS = {
    "operators.dedup": ("dedup_exact", "dedup_minhash", "dedup_embedding"),
    "operators.graph": ("dedup_cluster_cc", "graph_pagerank"),
    "operators.similarity": ("ann_topk_bruteforce", "emb_truncation_audit",
                             "emb_binary_hamming", "emb_quantize_sq8"),
    "operators.curation": ("corpus_decontaminate_semantic",),
}
# The per-layer counters a traced run prints (the result file has all,
# with absolute seconds). Printed times are shares: a layer function a
# workload never calls reads 0, and a share bounds what speeding that
# function up can save on that workload.
LAYER_COUNTERS = {
    "session.get_session": ("s",),
    f"{SM}.snapshot": ("calls", "share", "driver_share", "jobs", "stages",
                       "tasks", "cpu_busy", "cores_busy",
                       "shuffle_write_bytes", "store_bytes_written"),
    f"{SM}.verify": ("share", "driver_share", "jobs", "stages", "cpu_busy",
                     "shuffle_write_bytes"),
    f"{SM}.restore": ("calls", "share", "driver_share", "jobs", "stages",
                      "tasks", "cpu_busy", "cores_busy",
                      "shuffle_write_bytes"),
    f"{SM}.commit_delta": ("calls", "share", "driver_share", "jobs",
                           "store_bytes_written"),
    f"{SM}.rebase": ("share", "driver_share", "jobs", "stages", "cpu_busy",
                     "shuffle_write_bytes", "store_bytes_written"),
    f"{SM}.purge": ("share",),
    f"{SM}.compact": ("share", "jobs"),
    f"{SM}.vacuum": ("share", "jobs"),
    "operators.txnlog.commit": ("calls", "share"),
    "operators.txnlog.state": ("calls", "share"),
    "operators.txnlog.history": ("share",),
    "sources.sinks.compact_files": ("share", "jobs", "store_bytes_written"),
    "sources.sinks.verify_copy": ("share", "jobs"),
    "streaming.incremental.incremental_sync": (
        "share", "jobs", "addBatch_share", "walCommit_share",
        "queryPlanning_share", "commitOffsets_share"),
    **{
        f"{layer}.{key}": ("share", "jobs", "cpu_busy", "cores_busy")
        for layer, keys in CURATION_LAYERS.items()
        for key in keys
    },
}
EXTRA_COUNTERS = (
    (f"{SM}.store.space_amp", "ratio"),
    (f"{SM}.store.written_bytes_per_changed_row", "bytes/row"),
    ("trace.run_s", "s"),
    ("driver.peak_rss_mb", "MB"),
)
UNITS = {"calls": "count", "jobs": "count", "stages": "count",
         "tasks": "count", "s": "s"}


def unit(counter: str) -> str:
    if counter in UNITS:
        return UNITS[counter]
    return "bytes" if "bytes" in counter else "ratio"


def per_layer_names() -> list[tuple[str, str]]:
    names = [
        (f"{fn}.{c}", unit(c))
        for fn, counters in LAYER_COUNTERS.items()
        for c in counters
    ]
    return names + list(EXTRA_COUNTERS)


def configure(work: str, cores: int) -> None:
    """Environment for the driver: core count, driver memory, and every
    temp, spill and warehouse dir inside the work dir."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}/derby"
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": f"{work}/spark-local",
            "TMPDIR": tmp,
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(
                [
                    "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
                    "--conf", "spark.ui.showConsoleProgress=false",
                    "--driver-java-options", shlex.quote(java_opts),
                    "pyspark-shell",
                ]
            ),
        }
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def tree_peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) over this process and all
    its descendants (the JVM and its Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                pass
    tree, frontier = set(), [os.getpid()]
    while frontier:
        pid = frontier.pop()
        tree.add(pid)
        frontier += [c for c, p in parent.items() if p == pid]
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def warm_up(spark, path: str) -> None:
    """One small action over an input, so set-up ends with a session
    that has read parquet, hashed rows and shuffled."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    cols = [F.col(c).cast("string") for c in df.columns]
    df.select(F.md5(F.concat_ws("|", *cols)).alias("h")).groupBy(
        F.substring("h", 1, 1)
    ).count().collect()


def stop() -> None:
    """Stop Spark, if it started, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def run(args, work: str, cores: int) -> dict:
    sys.path.insert(0, ROOT)
    from blog_snapshotbackup_azuredatalake_spark import session

    setup_s, session_s, spark = [], [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = session.get_session("perfbench")
            session_s.append(time.perf_counter() - t0)
            spark.sparkContext.setLogLevel("ERROR")
            ctx = Ctx(spark, work)
            wl = WORKLOADS[args.workload](ctx)
            sizes = wl.setup(args.seed)
            warm_up(spark, wl.warm_path())
            setup_s.append(time.perf_counter() - t0)

        if args.trace:
            ctx.tracer = Tracer(spark, cores)
            ctx.tracer.install()
        passes = []
        t_start = time.perf_counter()
        while not passes or time.perf_counter() - t_start < args.seconds:
            first = len(ctx.calls)
            wl.run_pass()
            passes.append(sum(d for _, d in ctx.calls[first:]))
        peak_mb = tree_peak_rss_mb()
        layers = ctx.tracer.layers(passes) if args.trace else {}
        if args.trace:
            ctx.tracer.uninstall()
    finally:
        stop()

    by_call: dict[str, list[float]] = {}
    for name, d in ctx.calls:
        by_call.setdefault(name, []).append(d)
    extra = wl.extra()
    end_to_end = {
        "setup_s": (statistics.median(setup_s), "s"),
        "run_s": (statistics.median(passes), "s"),
    }
    layers["session.get_session"] = {"s": statistics.median(session_s)}
    per_layer = {}
    for name, u in per_layer_names():
        fn, counter = name.rsplit(".", 1)
        if fn == "trace":
            value = statistics.median(passes)
        elif fn == "driver":
            value = peak_mb
        elif fn == f"{SM}.store":
            value = extra.get(counter, 0.0)
        else:
            value = layers.get(fn, {}).get(counter, 0)
        per_layer[name] = (value, u)
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "settings": {
            "SPARK_GRAFT_CPUS": cores,
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "seconds": args.seconds,
        },
        "inputs": sizes,
        "setup_s": setup_s,
        "session_s": session_s,
        "pass_s": passes,
        "calls": {
            n: {"count": len(v), "median_s": statistics.median(v)}
            for n, v in sorted(by_call.items())
        },
        "extra": {**extra, "peak_rss_mb": peak_mb},
        "end_to_end": {k: v[0] for k, v in end_to_end.items()},
        "layers": layers,
        "attempted": len(ctx.calls),
        "failed": ctx.failed,
    }
    shown = per_layer if args.trace else end_to_end
    result["line"] = {
        "correct": ctx.failed == 0,
        "attempted": len(ctx.calls),
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [
        p for p in (f"{PACKAGE}/__init__.py", "__spark_entry__.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"error: {', '.join(missing)} not found under {ROOT}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure(work, cores)
    try:
        result = run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{base}/results", exist_ok=True)
    out = f"{base}/results/{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result["line"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
