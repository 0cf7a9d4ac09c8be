"""Per-layer tracing for the benchmark.

A ``Tracer`` keeps one span per public call (name, start, end, parent)
in memory. Calls made by the workload are wrapped where they are
issued; calls the package makes internally (a snapshot's log commit,
a rebase's restore, a compaction's checksum) are wrapped by patching
the layer's module attributes for the length of the traced run.

When a top-level span ends, the tracer drains Spark's listener bus and
reads the status store for the jobs started inside it. Jobs are
attributed by job-id range (the scheduler's next job id at span start
and end), not by job group: streaming queries overwrite the job group.
A ``StreamingQueryListener`` adds the ``durationMs`` phases of every
micro-batch to the enclosing ``incremental_sync`` span.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager

# layer function name -> (module path, attribute path) patched when traced
PATCHED = {
    "operators.snapshot_manager.snapshot": ("operators.snapshot_manager", "SnapshotManager.snapshot"),
    "operators.snapshot_manager.verify": ("operators.snapshot_manager", "SnapshotManager.verify"),
    "operators.snapshot_manager.restore": ("operators.snapshot_manager", "SnapshotManager.restore"),
    "operators.snapshot_manager.commit_delta": ("operators.snapshot_manager", "SnapshotManager.commit_delta"),
    "operators.snapshot_manager.rebase": ("operators.snapshot_manager", "SnapshotManager.rebase"),
    "operators.snapshot_manager.purge": ("operators.snapshot_manager", "SnapshotManager.purge"),
    "operators.snapshot_manager.compact": ("operators.snapshot_manager", "SnapshotManager.compact"),
    "operators.snapshot_manager.vacuum": ("operators.snapshot_manager", "SnapshotManager.vacuum"),
    "operators.txnlog.commit": ("operators.txnlog", "TransactionLog.commit"),
    "operators.txnlog.state": ("operators.txnlog", "TransactionLog.state"),
    "operators.txnlog.history": ("operators.txnlog", "TransactionLog.history"),
    "sources.sinks.compact_files": ("sources.sinks", "compact_files"),
    "sources.sinks.verify_copy": ("sources.sinks", "verify_copy"),
    "streaming.incremental.incremental_sync": ("streaming.incremental", "incremental_sync"),
}
PACKAGE = "blog_snapshotbackup_azuredatalake_spark"
PHASES = ("addBatch", "walCommit", "queryPlanning", "commitOffsets")


def tree_bytes(root: str | None) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every file under ``root``."""
    out: dict[str, tuple[int, int]] = {}
    if not root or not os.path.isdir(root):
        return out
    for dp, _, fs in os.walk(root):
        for f in fs:
            st = os.stat(os.path.join(dp, f))
            out[os.path.join(dp, f)] = (st.st_size, st.st_mtime_ns)
    return out


def written_bytes(before: dict, after: dict) -> int:
    """Bytes in files that are new or changed between two listings."""
    return sum(v[0] for p, v in after.items() if before.get(p) != v)


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.cores = cores
        self.store_root: str | None = None
        self.paused = False  # checks and warm-up run untraced
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._progress: list[dict] = []
        self._undo: list[tuple[object, str, object]] = []
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        jvm = sc._jvm
        self._jvm = jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper.registerModule(scala_mod)

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "name": name,
            "parent": parent["id"] if parent else None,
            "id": len(self.spans),
            "job_lo": self._sc.dagScheduler().nextJobId(),
            "files_before": tree_bytes(self.store_root),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        sp["start"] = time.time()
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            sp["job_hi"] = self._sc.dagScheduler().nextJobId()
            sp["store_bytes_written"] = written_bytes(
                sp.pop("files_before"), tree_bytes(self.store_root)
            )
            if not self._stack:
                self._collect(sp)

    def current(self) -> str | None:
        return self._stack[-1]["name"] if self._stack else None

    def wrap(self, name: str, fn):
        """``fn`` with a span, unless tracing is paused or the caller
        already opened a span of the same name around it."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.paused or self.current() == name:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- patching ------------------------------------------------------------
    def install(self) -> None:
        import importlib

        from pyspark.sql.streaming import StreamingQueryListener

        for name, (mod_path, attr) in PATCHED.items():
            owner = importlib.import_module(f"{PACKAGE}.{mod_path}")
            *outer, leaf = attr.split(".")
            for part in outer:
                owner = getattr(owner, part)
            orig = getattr(owner, leaf)
            self._undo.append((owner, leaf, orig))
            setattr(owner, leaf, self.wrap(name, orig))

        progress = self._progress

        class Phases(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                progress.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Phases()
        self.spark.streams.addListener(self._listener)

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._undo):
            setattr(owner, leaf, orig)
        self._undo.clear()
        self.spark.streams.removeListener(self._listener)

    # -- status store --------------------------------------------------------
    def _json(self, items) -> list[dict]:
        lst = self._jvm.java.util.ArrayList()
        for it in items:
            lst.add(it)
        return json.loads(self._mapper.writeValueAsString(lst))

    def _collect(self, top: dict) -> None:
        """Read jobs and stages of a finished top-level span and give
        every span in its subtree the counters of its job-id range."""
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        ids = range(top["job_lo"], top["job_hi"])
        jobs = self._json(store.job(j) for j in ids)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            try:
                stages.append(store.lastStageAttempt(sid))
            except Exception:  # a stage that was never submitted
                pass
        stage_rows = self._json(stages)
        stage_of = {s["stageId"]: s for s in stage_rows}
        subtree = [s for s in self.spans if s["id"] >= top["id"]]
        for sp in subtree:
            own = [j for j in jobs if sp["job_lo"] <= j["jobId"] < sp["job_hi"]]
            ran = {
                sid: stage_of[sid]
                for j in own
                for sid in j["stageIds"]
                if sid in stage_of and stage_of[sid]["status"] == "COMPLETE"
            }.values()
            s = sp["end"] - sp["start"]
            sp["counters"] = {
                "s": s,
                "jobs": len(own),
                "stages": len(ran),
                "tasks": sum(st["numCompleteTasks"] for st in ran),
                "failed_tasks": sum(st["numFailedTasks"] for st in ran),
                "executor_run_s": sum(st["executorRunTime"] for st in ran) / 1e3,
                "executor_cpu_s": sum(st["executorCpuTime"] for st in ran) / 1e9,
                "gc_s": sum(st["jvmGcTime"] for st in ran) / 1e3,
                "shuffle_write_bytes": sum(st["shuffleWriteBytes"] for st in ran),
                "spill_bytes": sum(
                    st["diskBytesSpilled"] + st["memoryBytesSpilled"] for st in ran
                ),
                "store_bytes_written": sp["store_bytes_written"],
                "driver_s": s - _covered(own, sp["start"], sp["end"]),
            }
        if self._progress:
            sync = [
                sp for sp in subtree
                if sp["name"].endswith(".incremental_sync")
            ]
            if sync:
                c = sync[-1]["counters"]
                for p in self._progress:
                    for ph in PHASES:
                        c[f"{ph}_ms"] = c.get(f"{ph}_ms", 0) + p.get(ph, 0)
            self._progress.clear()

    # -- aggregation ---------------------------------------------------------
    def layers(self, passes: list[float]) -> dict[str, dict[str, float]]:
        """Per layer function: counters summed over all spans of that
        name and divided by the number of timed passes, plus ratios:
        ``share`` of the pass wall time, ``driver_share`` of its own
        wall time with no Spark job running, ``cpu_busy`` and
        ``cores_busy`` (executor CPU and run time over wall time times
        cores) and each streaming phase's share of its wall time."""
        children: dict[int, float] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children[sp["parent"]] = children.get(sp["parent"], 0.0) + (
                    sp["end"] - sp["start"]
                )
        out: dict[str, dict[str, float]] = {}
        for sp in self.spans:
            agg = out.setdefault(sp["name"], {"calls": 0})
            agg["calls"] += 1
            c = sp["counters"]
            agg["self_s"] = agg.get("self_s", 0.0) + c["s"] - children.get(
                sp["id"], 0.0
            )
            for k, v in c.items():
                agg[k] = agg.get(k, 0) + v
        for agg in out.values():
            s, busy = agg["s"], agg["s"] * self.cores
            agg["share"] = s / sum(passes)
            agg["driver_share"] = agg["driver_s"] / s if s else 0.0
            agg["cpu_busy"] = agg["executor_cpu_s"] / busy if s else 0.0
            agg["cores_busy"] = agg.pop("executor_run_s") / busy if s else 0.0
            for ph in PHASES:
                if f"{ph}_ms" in agg:
                    agg[f"{ph}_share"] = agg[f"{ph}_ms"] / 1e3 / s
            for k in list(agg):
                if not k.endswith(("share", "busy")):
                    agg[k] = agg[k] / len(passes)
        return out


def _covered(jobs: list[dict], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one job ran."""
    iv = sorted(
        (
            max(j["submissionTime"] / 1e3, start),
            min((j.get("completionTime") or end * 1e3) / 1e3, end),
        )
        for j in jobs
        if j.get("submissionTime")
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
