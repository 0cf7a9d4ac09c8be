"""The benchmark workloads.

Each workload makes its inputs from the seed in ``setup`` and then runs
fixed-size passes in a closed loop: one caller issues each public call
after the previous one returned. ``Ctx.call`` times every public call
the workload issues; output checks run between calls, outside the
timed region, and a failed check counts as a failed call.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from contextlib import contextmanager

import numpy as np

import gen
from spans import tree_bytes, written_bytes

PKG = "blog_snapshotbackup_azuredatalake_spark"
SM = "operators.snapshot_manager"


class Ctx:
    """What a workload needs from the runner: the session, a work dir,
    the tracer (None when untraced) and the call/failure ledger."""

    def __init__(self, spark, work: str, tracer=None):
        self.spark = spark
        self.work = work
        self.tracer = tracer
        self.calls: list[tuple[str, float]] = []
        self.failed = 0

    def call(self, name: str, fn, *args, **kwargs):
        """Run one timed public call; on error name it on stderr, count
        it as failed and return None so the pass can continue."""
        t0 = time.perf_counter()
        try:
            if self.tracer is None:
                out = fn(*args, **kwargs)
            else:
                with self.tracer.span(name):
                    out = fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            out = None
            self.fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
        self.calls.append((name, time.perf_counter() - t0))
        return out

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        print(f"FAILED {name}: {why}", file=sys.stderr, flush=True)

    def check(self, name: str, ok: bool, why: str) -> None:
        if not ok:
            self.fail(name, f"check: {why}")

    @contextmanager
    def untraced(self):
        """Package calls made inside open no spans (output checks)."""
        if self.tracer is None:
            yield
            return
        self.tracer.paused = True
        try:
            yield
        finally:
            self.tracer.paused = False


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def signature(df) -> tuple:
    """Row count plus an order-insensitive checksum of all columns."""
    from pyspark.sql import functions as F

    from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
        row_hash_int,
    )

    h = row_hash_int(*sorted(df.columns))
    row = df.select(h.alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(h)").alias("x")
    ).collect()[0]
    return int(row["n"]), row["x"]


def fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Phase:
    """Store bookkeeping shared by the two phases of the backup
    workload: bytes written by incremental calls, rows they changed,
    and store and source bytes at the end of each pass."""

    def __init__(self, ctx: Ctx, name: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.name = name
        self.incr_bytes = 0
        self.changed_rows = 0
        self.store_bytes: list[int] = []
        self.source_bytes: list[int] = []
        self._expected: dict[str, tuple] = {}

    def new_store(self):
        from blog_snapshotbackup_azuredatalake_spark.operators.snapshot_manager import (
            SnapshotManager,
        )

        self.pass_dir = fresh(f"{self.ctx.work}/pass-{self.name}")
        self.store = f"{self.pass_dir}/store"
        if self.ctx.tracer is not None:
            self.ctx.tracer.store_root = self.store
        return SnapshotManager(self.spark, self.store)

    def incremental(self, name: str, fn, *args, changed: int, **kwargs):
        """A timed call whose store writes count toward bytes written
        per changed row (the listing runs outside the timed region)."""
        before = tree_bytes(self.store)
        out = self.ctx.call(name, fn, *args, **kwargs)
        self.incr_bytes += written_bytes(before, tree_bytes(self.store))
        self.changed_rows += changed
        return out

    def expected(self, path: str, tag: str | None = None) -> tuple:
        """Signature of a generated state (computed once per tag)."""
        tag = tag or path
        if tag not in self._expected:
            self._expected[tag] = signature(self.spark.read.parquet(path))
        return self._expected[tag]

    def restore_checked(
        self, mgr, table: str, snap_id, path: str, tag: str | None = None
    ) -> None:
        """Timed restore forced by a noop write, then an untimed check
        that the restored state equals the generated state."""
        name = f"{SM}.restore"
        if snap_id is None:
            self.ctx.fail(name, "no snapshot to restore")
            return
        before = self.ctx.failed
        self.ctx.call(name, lambda: noop(mgr.restore(table, snap_id)))
        if self.ctx.failed != before:
            return
        with self.ctx.untraced():
            got = signature(mgr.restore(table, snap_id))
            want = self.expected(path, tag)
        self.ctx.check(name, got == want, f"{table}@{snap_id} {got} != {want}")

    def end_pass(self, source_bytes: int) -> None:
        self.store_bytes.append(
            sum(size for size, _ in tree_bytes(self.store).values())
        )
        self.source_bytes.append(source_bytes)


class Cycle(Phase):
    """The reference's loop over the lake: a full snapshot per table,
    then rounds of change set, differential snapshot, verify, restore
    and purge, plus events landed and caught up by incremental sync;
    compaction and vacuum close the pass."""

    ROUNDS = 1
    TABLES = ("orders", "customer", "part", "events")
    KEEP_LAST = 2

    def setup(self, rng: np.random.Generator) -> dict:
        self.inputs = fresh(f"{self.ctx.work}/in-{self.name}")
        self.versions: dict[str, list[str]] = {}
        self.table_changes: dict[str, int] = {}
        sizes = {}
        for t, n in gen.LAKE_ROWS.items():
            kt = gen.KeyedTable(t, rng, n)
            paths = [f"{self.inputs}/lake/{t}/v000.parquet"]
            sizes[t] = {"rows": n, "bytes": gen.write(kt.table, paths[0])}
            u, d = n // 200, n // 400  # 0.5 % updates, 0.25 % deletes
            for r in range(1, self.ROUNDS + 1):
                kt.change(u, d, d)  # and 0.25 % inserts
                paths.append(f"{self.inputs}/lake/{t}/v{r:03d}.parquet")
                gen.write(kt.table, paths[-1])
            self.table_changes[t] = u + 2 * d
            self.versions[t] = paths
        # events: the initial landing, then two new files per round
        self.batches: list[list[str]] = []
        next_id = 0
        for r in range(self.ROUNDS + 1):
            n = gen.EVENT_ROWS if r == 0 else gen.EVENT_BATCH_ROWS
            files = []
            for part in range(2):
                tbl = gen.events_batch(rng, next_id, n // 2)
                next_id += n // 2
                files.append(f"{self.inputs}/events/b{r:03d}/part-{part}.parquet")
                gen.write(tbl, files[-1])
            self.batches.append(files)
        sizes["events"] = {
            "rows": gen.EVENT_ROWS,
            "bytes": sum(os.path.getsize(f) for f in self.batches[0]),
            "rows_per_round": gen.EVENT_BATCH_ROWS,
        }
        return sizes

    def _land(self, r: int) -> int:
        for f in self.batches[r]:
            shutil.copy(f, f"{self.landing}/b{r:03d}-{os.path.basename(f)}")
        return sum(os.path.getsize(f) for f in self.batches[r])

    def _source(self, t: str, r: int):
        path = self.landing if t == "events" else self.versions[t][r]
        return self.spark.read.parquet(path)

    def run_pass(self) -> None:
        from blog_snapshotbackup_azuredatalake_spark.streaming.incremental import (
            incremental_sync,
        )

        ctx = self.ctx
        mgr = self.new_store()
        self.landing = fresh(f"{self.pass_dir}/landing")
        landed_bytes = self._land(0)
        landed_rows = gen.EVENT_ROWS
        sync_dir = f"{self.store}/_sync/events"
        schema = self.spark.read.parquet(self.landing).schema
        keys = gen.KEYS

        def sync(changed: int) -> None:
            self.incremental(
                "streaming.incremental.incremental_sync",
                incremental_sync,
                self.spark,
                self.landing,
                f"{sync_dir}/data",
                f"{sync_dir}/_checkpoint",
                schema,
                changed=changed,
            )
            with ctx.untraced():
                n = self.spark.read.parquet(f"{sync_dir}/data").count()
            ctx.check(
                "streaming.incremental.incremental_sync",
                n == landed_rows,
                f"{n} rows synced, {landed_rows} landed",
            )

        for t in self.TABLES:
            ctx.call(f"{SM}.snapshot", mgr.snapshot, self._source(t, 0), t, keys[t])
        sync(0)
        for r in range(1, self.ROUNDS + 1):
            landed_bytes += self._land(r)
            landed_rows += gen.EVENT_BATCH_ROWS
            for t in self.TABLES:
                changed = (
                    gen.EVENT_BATCH_ROWS if t == "events" else self.table_changes[t]
                )
                src = self._source(t, r)
                sid = self.incremental(
                    f"{SM}.snapshot", mgr.snapshot, src, t, keys[t],
                    changed=changed,
                )
                res = ctx.call(f"{SM}.verify", mgr.verify, src, t, sid)
                ctx.check(f"{SM}.verify", bool(res and res["ok"]), f"{t}: {res}")
                expected = self.landing if t == "events" else self.versions[t][r]
                self.restore_checked(mgr, t, sid, expected, f"{t}@{r}")
                ctx.call(f"{SM}.purge", mgr.purge, t, keep_last=self.KEEP_LAST)
            sync(gen.EVENT_BATCH_ROWS)

        # the newest full snapshot of orders is still the chain base
        stats = ctx.call(f"{SM}.compact", mgr.compact, "orders", 0)
        n0 = gen.LAKE_ROWS["orders"]
        ctx.check(
            f"{SM}.compact",
            bool(stats) and stats["n_rows"] == n0,
            f"{stats} vs {n0} rows",
        )
        # a writer that died before its log commit leaves this dir behind
        orphan = f"{self.store}/orders/snap_999999"
        shutil.copytree(f"{self.store}/orders/snap_000000/manifest", f"{orphan}/data")
        report = ctx.call(f"{SM}.vacuum", mgr.vacuum, min_age_seconds=0)
        deleted = sorted(r["path"] for r in report or [] if r["deleted"])
        ctx.check(
            f"{SM}.vacuum",
            deleted == ["orders/snap_999999"] and not os.path.exists(orphan),
            f"deleted {deleted}",
        )
        source = landed_bytes + sum(
            os.path.getsize(v[-1]) for v in self.versions.values()
        )
        self.end_pass(source)


class Chain(Phase):
    """Many tiny chained writes and deep reads on one table: a full
    snapshot, ``COMMITS`` change batches of 0.1 % of the rows through
    ``commit_delta``, a restore of the head every ``RESTORE_EVERY``
    commits, then ``rebase`` and the transaction log's history and
    state."""

    COMMITS = 8
    RESTORE_EVERY = 4

    def setup(self, rng: np.random.Generator) -> dict:
        self.inputs = fresh(f"{self.ctx.work}/in-{self.name}")
        n = gen.LAKE_ROWS["orders"]
        kt = gen.KeyedTable("orders", rng, n)
        self.base = f"{self.inputs}/orders_v000.parquet"
        gen.write(kt.table, self.base)
        self.batches, self.states = [], {}
        u, d = n // 2000, n // 4000  # 0.05 % updates, 0.025 % deletes
        for i in range(1, self.COMMITS + 1):
            upserts, deleted = kt.change(u, d, d)  # and 0.025 % inserts
            self.batches.append(f"{self.inputs}/batch/b{i:03d}.parquet")
            gen.write(kt.changes_frame(upserts, deleted), self.batches[-1])
            if i % self.RESTORE_EVERY == 0:
                self.states[i] = f"{self.inputs}/state/s{i:03d}.parquet"
                gen.write(kt.table, self.states[i])
        self.batch_rows = u + 2 * d
        return {"orders_changes": {"rows": self.batch_rows,
                                   "commits": self.COMMITS}}

    def run_pass(self) -> None:
        ctx = self.ctx
        mgr = self.new_store()
        key = gen.KEYS["orders"]
        read = self.spark.read.parquet
        ctx.call(f"{SM}.snapshot", mgr.snapshot, read(self.base), "orders", key)
        for i, path in enumerate(self.batches, start=1):
            head = self.incremental(
                f"{SM}.commit_delta", mgr.commit_delta, read(path), "orders",
                key, changed=self.batch_rows,
            )
            if i % self.RESTORE_EVERY == 0:
                self.restore_checked(mgr, "orders", head, self.states[i])
        full = ctx.call(f"{SM}.rebase", mgr.rebase, "orders")
        with ctx.untraced():
            ok = full is not None and signature(
                mgr.restore("orders", full)
            ) == self.expected(self.states[self.COMMITS])
        ctx.check(f"{SM}.rebase", ok, f"rebased snapshot {full} differs")
        history = ctx.call("operators.txnlog.history", mgr.log.history)
        n_commits = self.COMMITS + 2  # full, the deltas, the rebase
        ctx.check(
            "operators.txnlog.history",
            history is not None and len(history) == n_commits,
            f"{len(history or [])} commits, expected {n_commits}",
        )
        state = ctx.call("operators.txnlog.state", mgr.log.state)
        ctx.check(
            "operators.txnlog.state",
            state is not None and len(state) == n_commits,
            f"{len(state or {})} live paths, expected {n_commits}",
        )
        self.end_pass(
            os.path.getsize(self.base) + sum(map(os.path.getsize, self.batches))
        )


class Backup:
    """The backup product, both ways round: the differential cycle over
    the lake, then a chained-delta CDC table on the same layer."""

    def __init__(self, ctx: Ctx):
        self.phases = (Cycle(ctx, "cycle"), Chain(ctx, "chain"))

    def setup(self, seed: int) -> dict:
        rng = np.random.default_rng(seed)
        sizes = {}
        for ph in self.phases:
            sizes.update(ph.setup(rng))
        return sizes

    def warm_path(self) -> str:
        return self.phases[0].versions["customer"][0]

    def run_pass(self) -> None:
        for ph in self.phases:
            ph.run_pass()

    def extra(self) -> dict:
        out = {}
        for ph in self.phases:
            out[f"{ph.name}.space_amp"] = float(
                np.median(np.divide(ph.store_bytes, ph.source_bytes))
            )
            out[f"{ph.name}.written_bytes_per_changed_row"] = (
                ph.incr_bytes / max(1, ph.changed_rows)
            )
        store = sum(sum(ph.store_bytes) for ph in self.phases)
        source = sum(sum(ph.source_bytes) for ph in self.phases)
        out["space_amp"] = store / source
        out["written_bytes_per_changed_row"] = sum(
            ph.incr_bytes for ph in self.phases
        ) / max(1, sum(ph.changed_rows for ph in self.phases))
        return out


# registry keys timed by the curation workload, in pass order
CURATION_KEYS = (
    "dedup_exact",
    "dedup_minhash",
    "dedup_cluster_cc",
    "dedup_embedding",
    "ann_topk_bruteforce",
    "emb_truncation_audit",
    "emb_binary_hamming",
    "emb_quantize_sq8",
    "corpus_decontaminate_semantic",
    "graph_pagerank",
)


def _oracle_norm(rows, cols):
    """The driver-gate normalisation: columns by name, rows null-safe."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(row[i] for i in order) for row in rows]
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))


def _components(con) -> tuple[list[str], list[tuple]]:
    """``dedup_cluster_cc``'s oracle with its recursive reachability
    CTE replaced by union-find over the same star-pair edges, which
    DuckDB still computes: (doc_id, cluster_id, cluster_size,
    is_canonical) for every doc with an edge, cluster_id the smallest
    id in its component."""
    from blog_snapshotbackup_azuredatalake_spark.operators.dedup import (
        sql_star_pair_ctes,
    )

    edges = con.execute(
        f"WITH {sql_star_pair_ctes()} SELECT doc_a, doc_b FROM pairs"
    ).fetchall()
    root: dict[int, int] = {}

    def find(x: int) -> int:
        while root.setdefault(x, x) != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            root[max(ra, rb)] = min(ra, rb)
    label = {x: find(x) for x in list(root)}
    size: dict[int, int] = {}
    for c in label.values():
        size[c] = size.get(c, 0) + 1
    rows = [(d, c, size[c], d == c) for d, c in label.items()]
    return ["doc_id", "cluster_id", "cluster_size", "is_canonical"], rows


class Curation:
    """Registry entries of the dedup, similarity and graph layers over a
    seeded corpus. Every pass starts with the substrate caches empty;
    each entry is one timed call forced by ``collect()``, and its rows
    are then checked against the DuckDB oracle on the same corpus."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self._want: dict[str, tuple | None] = {}

    def setup(self, seed: int) -> dict:
        rng = np.random.default_rng(seed)
        self.corpus = fresh(f"{self.ctx.work}/in")
        sizes = gen.corpus(rng, self.corpus)
        return {
            t: {"rows": gen.CORPUS_ROWS[t], "bytes": b} for t, b in sizes.items()
        }

    def warm_path(self) -> str:
        return f"{self.corpus}/documents.parquet"

    def _oracle(self, key: str) -> tuple | None:
        """Sorted column names and normalised oracle rows for ``key``
        (None: no oracle)."""
        import duckdb

        import __spark_entry__ as entry

        if key not in self._want:
            oracles = entry.oracle_sql()
            con = duckdb.connect()
            for t in gen.CORPUS_ROWS:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.corpus}/{t}.parquet'"
                )
            if key == "dedup_cluster_cc":
                cols, rows = _components(con)
            elif key in oracles:
                cur = con.execute(oracles[key])
                cols, rows = [d[0] for d in cur.description], cur.fetchall()
            else:
                cols, rows = None, None
            con.close()
            self._want[key] = (
                None if rows is None else (sorted(cols), _oracle_norm(rows, cols))
            )
        return self._want[key]

    def run_pass(self) -> None:
        import __spark_entry__ as entry
        from blog_snapshotbackup_azuredatalake_spark.operators import dedup, graph

        dedup.dedup_cache_clear()
        graph.graph_cache_clear()
        queries = entry.queries()
        for key in CURATION_KEYS:
            fn = queries[key]
            name = f"{fn.__module__.removeprefix(PKG + '.')}.{key}"
            cols = []

            def force(fn=fn, cols=cols):
                df = fn(self.spark, self.corpus)
                cols.extend(df.columns)
                return df.collect()

            before = self.ctx.failed
            rows = self.ctx.call(name, force)
            if self.ctx.failed != before:
                continue
            want = self._oracle(key)
            if want is None:  # graph_pagerank: one rank per vector
                n = gen.CORPUS_ROWS["embeddings"]
                self.ctx.check(name, len(rows) == n, f"{len(rows)} rows != {n}")
                continue
            got = (sorted(cols), _oracle_norm([tuple(r) for r in rows], cols))
            self.ctx.check(
                name, got == want,
                f"{len(got[1])} rows differ from the oracle's {len(want[1])}",
            )

    def extra(self) -> dict:
        return {}


WORKLOADS = {
    "backup": Backup,
    "curation": Curation,
}
