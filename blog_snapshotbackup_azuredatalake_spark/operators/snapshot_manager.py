"""SnapshotManager: the materialized backup lifecycle (SURVEY.md §2A).

Where ``operators.snapshot`` exposes the *plans* (manifest/diff/verify as
oracle-checkable queries), this class performs the actual storage
operations the reference's backup scripts do — against any Hadoop-FS
compatible URI (local path in tests, ``abfss://`` on ADLS in production;
Spark's writers are storage-agnostic).

Layout under ``backup_root``::

    <table>/snap_<id>/data/      full rows, or delta rows + _tombstone
    <table>/snap_<id>/manifest/  (key, row_md5) parquet, FULL snapshots only
    <table>/snap_<id>/meta.json  {id, base, kind, key, schema}

``meta.json`` records the table schema at write time, so no store read
infers one. Incremental snapshots are *differential*: each stores
changed+added rows plus tombstones relative to the latest FULL snapshot,
so retention can drop any intermediate delta without breaking later
ones; ``commit_delta`` chains deltas onto the previous snapshot instead.
Restore is one fold for both: one scan of every delta in the chain,
then a key anti-join that keeps, of the base rows and the delta rows,
only those no newer delta supersedes (the newest delta row per key
replaces the base row), plus their union. While the deltas' keys fit a
broadcast the base is streamed, never shuffled, and the job count does
not grow with chain depth. Verify runs the same fold over the base's
manifest. All heavy operations are manifest hash-joins: row payloads
move only when they actually changed.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StructField, StructType

from blog_snapshotbackup_azuredatalake_spark.scratch import scratch_dir
from blog_snapshotbackup_azuredatalake_spark.functions.hashing import row_hash
from blog_snapshotbackup_azuredatalake_spark.operators.txnlog import TransactionLog


class SnapshotManager:
    def __init__(self, spark: SparkSession, backup_root: str):
        self.spark = spark
        self.root = backup_root
        self.log = TransactionLog(backup_root)

    # -- paths ------------------------------------------------------------
    def _dir(self, table: str, snap_id: int) -> str:
        return f"{self.root}/{table}/snap_{snap_id:06d}"

    def _meta_path(self, table: str, snap_id: int) -> str:
        return f"{self._dir(table, snap_id)}/meta.json"

    def snapshot_ids(self, table: str) -> list[int]:
        base = f"{self.root}/{table}"
        if not os.path.isdir(base):
            return []
        return sorted(
            int(d.split("_")[1])
            for d in os.listdir(base)
            if d.startswith("snap_")
        )

    def _read_meta(self, table: str, snap_id: int) -> dict:
        with open(self._meta_path(table, snap_id)) as f:
            return json.load(f)

    def _publish(self, op: str, table: str, meta: dict, **add) -> int:
        """Write the snapshot's meta.json, then commit its 'add' to the
        transaction log — the log commit is the atomic publish point."""
        sid = meta["id"]
        os.makedirs(self._dir(table, sid), exist_ok=True)
        with open(self._meta_path(table, sid), "w") as f:
            json.dump(meta, f)
        self.log.commit(
            op,
            [
                {
                    "add": {
                        "path": f"{table}/snap_{sid:06d}",
                        "table": table,
                        "snap_id": sid,
                        "kind": meta["kind"],
                        **add,
                    }
                }
            ],
        )
        return sid

    # -- manifest ---------------------------------------------------------
    @staticmethod
    def _manifest(df: DataFrame, key: str) -> DataFrame:
        cols = sorted(df.columns)
        return df.select(
            F.col(key).alias("key"), row_hash(*cols).alias("row_md5")
        )

    def _read_manifest(self, table: str, meta: dict) -> DataFrame:
        """A full snapshot's stored manifest, typed from its meta.json."""
        key_type = StructType.fromJson(meta["schema"])[meta["key"]].dataType
        return self.spark.read.schema(
            f"key {key_type.simpleString()}, row_md5 string"
        ).parquet(f"{self._dir(table, meta['id'])}/manifest")

    # -- chain fold (restore, verify, rebase) ------------------------------
    def _chain(self, table: str, snap_id: int) -> list[tuple[str, dict]]:
        """(table, meta) of every snapshot the state at `snap_id` is
        built from, base full snapshot first; shallow clones resolve
        through their pointer."""
        chain = []
        cur: int | None = snap_id
        while cur is not None:
            meta = self._read_meta(table, cur)
            if meta["kind"] == "clone":
                table, cur = meta["src_table"], meta["src_snap"]
                continue
            chain.append((table, meta))
            cur = meta["base"]
        return chain[::-1]

    def _fold(
        self, table: str, snap_id: int, manifest: bool = False
    ) -> tuple[DataFrame, str]:
        """The table state at `snap_id` — its rows, or with `manifest`
        its (key, row_md5) manifest — and the key column. Reads the base
        full snapshot, and every delta of the chain in ONE scan with the
        schema meta.json recorded. A base or delta row survives unless a
        newer delta holds its key (one key anti-join against the deltas'
        (key, depth) pairs); the base survivors and the live delta rows
        are the union. No window, no schema inference: while the delta
        keys fit a broadcast, nothing shuffles and the job count is the
        same at any chain depth. Keys must be unique within a table
        state."""
        chain = self._chain(table, snap_id)
        (base_table, base), deltas = chain[0], chain[1:]
        key = base["key"]
        if manifest:
            state, state_key = self._read_manifest(base_table, base), "key"
        else:
            state = self.spark.read.schema(
                StructType.fromJson(base["schema"])
            ).parquet(f"{self._dir(base_table, base['id'])}/data")
            state_key = key
        if not deltas:
            return state, key
        # chain position of the snapshot a row was read from (base: -1);
        # the base's depth is per-row, not a literal, so the anti-join
        # keeps one condition and both union sides share one broadcast
        dirs = [f"{t}/snap_{m['id']:06d}" for t, m in chain]
        depth = F.create_map(
            *(F.lit(v) for i, d in enumerate(dirs, -1) for v in (d, i))
        )[
            # .../<table>/snap_<id>/<data|manifest>/<file> -> <table>/snap_<id>
            F.substring_index(
                F.substring_index(F.col("_metadata.file_path"), "/", -4),
                "/",
                2,
            )
        ]
        head = StructType.fromJson(chain[-1][1]["schema"])
        tomb = StructField("_tombstone", BooleanType())
        rows = (
            self.spark.read.schema(StructType(head.fields + [tomb]))
            .parquet(*(f"{self.root}/{d}/data" for d in dirs[1:]))
            .withColumn("_depth", depth)
        )
        newer = rows.select(
            F.col(key).alias("_k"), F.col("_depth").alias("_d")
        )
        if manifest:
            rows = rows.select(
                F.col(key).alias("key"),
                row_hash(*sorted(head.fieldNames())).alias("row_md5"),
                "_tombstone",
                "_depth",
            )
        state = state.withColumns(
            {"_tombstone": F.lit(False), "_depth": depth}
        ).unionByName(rows)
        superseded = (F.col(state_key) == F.col("_k")) & (
            F.col("_d") > F.col("_depth")
        )
        return (
            state.join(newer, superseded, "left_anti")
            .filter(~F.col("_tombstone"))
            .drop("_tombstone", "_depth"),
            key,
        )

    # -- snapshot ---------------------------------------------------------
    def snapshot(
        self, df: DataFrame, table: str, key: str, force_full: bool = False
    ) -> int:
        """Write the next snapshot: full copy if none exists (or
        ``force_full`` starts a fresh differential chain), else a delta
        against the latest FULL snapshot's manifest. Each snapshot is
        also recorded as one atomic commit in the transaction log."""
        ids = self.snapshot_ids(table)
        snap_id = (ids[-1] + 1) if ids else 0
        d = self._dir(table, snap_id)
        meta = {
            "id": snap_id,
            "base": None,
            "kind": "full",
            "key": key,
            "schema": df.schema.jsonValue(),
        }
        if not ids or force_full:
            df.write.mode("errorifexists").parquet(f"{d}/data")
            self._manifest(df, key).write.parquet(f"{d}/manifest")
        else:
            metas = (self._read_meta(table, i) for i in ids)
            base = [m for m in metas if m["kind"] == "full"][-1]
            prev = self._read_manifest(table, base)
            cur = self._manifest(df, key)
            # changed+added rows: manifest anti-join, then semi-join the
            # payload — only rows that differ are read out of the source
            changed_keys = cur.join(prev, ["key", "row_md5"], "left_anti")
            delta = df.join(
                changed_keys.select("key").withColumnRenamed("key", key),
                key,
                "left_semi",
            ).withColumn("_tombstone", F.lit(False))
            removed = (
                prev.join(cur, "key", "left_anti")
                .select(F.col("key").alias(key))
                .withColumn("_tombstone", F.lit(True))
            )
            # align schemas: tombstones carry only the key
            for c in df.columns:
                if c != key:
                    removed = removed.withColumn(
                        c, F.lit(None).cast(dict(df.dtypes)[c])
                    )
            delta.unionByName(removed.select(delta.columns)).write.parquet(
                f"{d}/data"
            )
            meta.update(base=base["id"], kind="incremental")
        return self._publish("snapshot", table, meta)

    # -- delta commit (the O(|changes|) CDC-apply path) --------------------
    def commit_delta(self, changes: DataFrame, table: str, key: str) -> int:
        """Commit a pre-computed change batch as a CHAINED delta
        snapshot: data written ∝ |changes|; the current table state is
        never read, joined, or rewritten. ``changes`` must carry the
        full table schema plus a boolean ``_tombstone`` column
        (tombstone rows may leave non-key columns null). Unlike the
        differential ``snapshot()`` path — which diffs full table
        STATES and so costs O(|table|) per call — the delta's base is
        the PREVIOUS snapshot (full or delta), so ``restore`` folds the
        whole chain newest-version-per-key and ``rebase`` compacts long
        chains back to one full snapshot. No manifest is stored: only
        full snapshots keep one, and ``verify`` folds the chain's deltas
        over it."""
        ids = self.snapshot_ids(table)
        if not ids:
            raise ValueError("commit_delta needs an existing base snapshot")
        snap_id = ids[-1] + 1
        changes.write.mode("errorifexists").parquet(
            f"{self._dir(table, snap_id)}/data"
        )
        schema = StructType(
            [f for f in changes.schema.fields if f.name != "_tombstone"]
        )
        meta = {
            "id": snap_id,
            "base": ids[-1],
            "kind": "delta",
            "key": key,
            "schema": schema.jsonValue(),
        }
        return self._publish("snapshot", table, meta)

    def rebase(self, table: str) -> int:
        """Compact the head delta chain into a fresh FULL snapshot (the
        manager form of ``snap_chain_rebase``): restore the head once
        and write it as a new full, so later restores are
        single-snapshot reads and ``purge`` can drop the old chain.
        Cost: one O(|table|) fold — scheduled periodically, it
        amortizes over the many O(|changes|) ``commit_delta`` calls in
        between (the Delta Lake checkpoint/compaction pattern)."""
        df, key = self._fold(table, self.snapshot_ids(table)[-1])
        return self.snapshot(df, table, key, force_full=True)

    # -- clone ------------------------------------------------------------
    def clone(self, table: str, snap_id: int, new_table: str) -> int:
        """Delta-style SHALLOW CLONE: publish `new_table`'s snapshot 0
        as a POINTER to (table, snap_id) — one meta.json written, zero
        data or manifest bytes copied or moved. Restore resolves
        through the pointer; the clone is an independent logical table
        for reads (dev/test forks, blue-green promotion, a restore
        rehearsal against production data) at metadata cost. The clone
        is its own log commit, so vacuum treats the clone dir as live,
        and the pointed-at data stays live through the SOURCE table's
        own log entry — deleting the source snapshot while clones point
        at it is the same referential hazard Delta documents for
        shallow clones."""
        self._read_meta(table, snap_id)  # must exist
        ids = self.snapshot_ids(new_table)
        meta = {
            "id": (ids[-1] + 1) if ids else 0,
            "base": None,
            "kind": "clone",
            "src_table": table,
            "src_snap": snap_id,
        }
        return self._publish(
            "clone", new_table, meta, src=f"{table}/snap_{snap_id:06d}"
        )

    # -- restore ----------------------------------------------------------
    def restore(self, table: str, snap_id: int) -> DataFrame:
        """Materialize the table state at `snap_id`: the chain's deltas
        folded onto the base full snapshot, newest version per key
        winning (keys are unique within a table state); shallow clones
        resolve through their pointer first. The plan holds one read of
        the base and one of all deltas, whatever the chain depth."""
        return self._fold(table, snap_id)[0]

    # -- verify -----------------------------------------------------------
    def verify(self, df: DataFrame, table: str, snap_id: int) -> dict:
        """Compare live data against a snapshot via manifests: returns
        counts of matching / changed / missing / extra keys. The
        snapshot side is the base's stored manifest with the chain's
        deltas folded over it. Shuffles only (key, hash) pairs."""
        snap, key = self._fold(table, snap_id, manifest=True)
        live = self._manifest(df, key)
        j = live.alias("l").join(
            snap.alias("s"), F.col("l.key") == F.col("s.key"), "full_outer"
        )
        agg = j.agg(
            F.sum(
                (F.col("l.row_md5") == F.col("s.row_md5")).cast("long")
            ).alias("matching"),
            F.sum(
                (
                    F.col("l.row_md5").isNotNull()
                    & F.col("s.row_md5").isNotNull()
                    & (F.col("l.row_md5") != F.col("s.row_md5"))
                ).cast("long")
            ).alias("changed"),
            F.sum(F.col("l.key").isNull().cast("long")).alias("missing_live"),
            F.sum(F.col("s.key").isNull().cast("long")).alias("extra_live"),
        ).collect()[0]
        out = agg.asDict()
        out["ok"] = (
            (out["changed"] or 0) == 0
            and (out["missing_live"] or 0) == 0
            and (out["extra_live"] or 0) == 0
        )
        return out

    # -- retention --------------------------------------------------------
    def purge(self, table: str, keep_last: int) -> list[int]:
        """Delete snapshots beyond the newest `keep_last`, never removing
        a full snapshot an incremental still depends on."""
        import shutil

        ids = self.snapshot_ids(table)
        keep = set(ids[-keep_last:]) if keep_last else set(ids)
        # walk dependency chains of kept snapshots
        for sid in list(keep):
            cur = self._read_meta(table, sid)["base"]
            while cur is not None:
                keep.add(cur)
                cur = self._read_meta(table, cur)["base"]
        purged = [i for i in ids if i not in keep]
        for sid in purged:
            shutil.rmtree(self._dir(table, sid))
        if purged:
            self.log.commit(
                "purge",
                [
                    {
                        "remove": {
                            "path": f"{table}/snap_{sid:06d}",
                            "table": table,
                            "snap_id": sid,
                        }
                    }
                    for sid in purged
                ],
            )
        return purged

    # -- housekeeping ------------------------------------------------------
    def compact(
        self, table: str, snap_id: int, target_rows_per_file: int = 1_000_000
    ) -> dict:
        """Compact a snapshot's data files (checksummed rewrite + atomic
        swap via sinks.compact_files) and record it as a 'compact'
        commit — the log then explains why the file set changed without
        any add/remove of snapshots."""
        from blog_snapshotbackup_azuredatalake_spark.sources.sinks import (
            compact_files,
        )

        stats = compact_files(
            self.spark,
            f"{self._dir(table, snap_id)}/data",
            target_rows_per_file,
        )
        self.log.commit(
            "compact",
            [
                {
                    "compact": {
                        "path": f"{table}/snap_{snap_id:06d}",
                        "files_before": stats["files_before"],
                        "files_after": stats["files_after"],
                    }
                }
            ],
        )
        return stats

    # -- vacuum -----------------------------------------------------------
    VACUUM_MIN_AGE_SECONDS = 3600.0

    def vacuum(
        self,
        dry_run: bool = False,
        min_age_seconds: float = VACUUM_MIN_AGE_SECONDS,
    ) -> list[dict]:
        """Delta-style VACUUM: delete snapshot directories present on
        storage but absent from the transaction log's live set — the
        debris a writer leaves when it dies between the data write and
        the log commit (the log commit is the atomic publish point, so
        an uncommitted directory is garbage by definition).

        An unlisted directory younger than `min_age_seconds` (newest
        file mtime) is reported as 'recent' and NOT deleted: snapshot()
        writes data/manifest/meta BEFORE its log commit, so a vacuum
        racing an in-flight writer would otherwise delete its
        not-yet-committed directory. Same guard as Delta's VACUUM
        retention threshold; pass 0 only when no writer can be active.

        Listing goes through Spark's binaryFile reader selecting only
        (path, length) — file METADATA, content never read — so the
        scan distributes across executors on a real lake; only one
        (dir, files, bytes) row per snapshot dir reaches the driver.
        The deletion itself is committed to the log as a 'vacuum' op:
        the audit trail explains every disappearance.

        Returns one report dict per snapshot dir: path, files, bytes,
        status ('live' | 'orphan'), deleted."""
        import shutil

        listing = (
            self.spark.read.format("binaryFile")
            .option("recursiveFileLookup", "true")
            .load(self.root)
            .select("path", "length", "modificationTime")
            .filter(~F.col("path").contains("/_txn_log/"))
            .withColumn(
                "snap_dir",
                F.regexp_extract(
                    F.col("path"), r"([^/]+/snap_\d{6})/", 1
                ),
            )
            .filter(F.col("snap_dir") != "")
            .groupBy("snap_dir")
            .agg(
                F.count(F.lit(1)).alias("files"),
                F.sum("length").alias("bytes"),
                F.max("modificationTime").alias("newest_mod"),
            )
            .collect()
        )
        live = set(self.log.state().keys())
        now = time.time()
        report = []
        removed = []
        for r in sorted(listing, key=lambda r: r["snap_dir"]):
            unlisted = r["snap_dir"] not in live
            recent = (
                unlisted
                and r["newest_mod"] is not None
                and now - r["newest_mod"].timestamp() < min_age_seconds
            )
            orphan = unlisted and not recent
            if orphan and not dry_run:
                shutil.rmtree(
                    os.path.join(self.root, r["snap_dir"]), ignore_errors=True
                )
                removed.append(r)
            report.append(
                {
                    "path": r["snap_dir"],
                    "files": r["files"],
                    "bytes": r["bytes"],
                    "status": (
                        "orphan"
                        if orphan
                        else ("recent" if recent else "live")
                    ),
                    "deleted": orphan and not dry_run,
                }
            )
        if removed:
            self.log.commit(
                "vacuum",
                [
                    {
                        "remove": {
                            "path": r["snap_dir"],
                            "files": r["files"],
                            "bytes": r["bytes"],
                        }
                    }
                    for r in removed
                ],
            )
        return report

    # -- log-based time travel --------------------------------------------
    def restore_at_log_version(self, table: str, version: int) -> DataFrame:
        """Restore the newest snapshot of `table` that was live at
        transaction-log `version` — point-in-time recovery keyed by the
        commit history rather than by snapshot id."""
        live = [
            meta
            for meta in self.log.state(as_of=version).values()
            if meta["table"] == table
        ]
        if not live:
            raise ValueError(f"no live snapshot of {table} at v{version}")
        return self.restore(table, max(m["snap_id"] for m in live))


def snap_txn_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the transactional backup lifecycle end-to-end in a scratch
    store — full snapshot, perturbed incremental, forced full (new
    chain), retention purge — and return the commit log joined with
    liveness at HEAD. Deterministic for a given sf dir; rows-only (the
    log is JSON files, not a SQL-visible table)."""

    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _perturbed_orders,
    )
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    # every-10th-key slice: the lifecycle (full → delta → forced full →
    # purge) is what's demonstrated; writing the whole table 3× is not
    keyed = F.col("o_orderkey") % 10 == 0
    orders = load_table(spark, sf_dir, "orders").filter(keyed)
    work = scratch_dir("snap_txn_log_")
    mgr = SnapshotManager(spark, work)
    mgr.snapshot(orders, "orders", "o_orderkey")
    perturbed = _perturbed_orders(spark, sf_dir).filter(keyed)
    mgr.snapshot(perturbed, "orders", "o_orderkey")
    mgr.snapshot(perturbed, "orders", "o_orderkey", force_full=True)
    mgr.purge("orders", keep_last=1)
    live = set(mgr.log.state().keys())
    rows = []
    for h in mgr.log.history():
        _, actions = mgr.log.read_commit(h["version"])
        for a in actions:
            act = "add" if "add" in a else "remove"
            rows.append(
                (
                    h["version"],
                    h["op"],
                    act,
                    a[act]["path"],
                    a[act]["path"] in live,
                )
            )
    return spark.createDataFrame(
        rows, "version int, op string, action string, path string, live boolean"
    )


def snap_txn_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic-concurrency certificate: two writers race on the same
    base version; the log's atomic version claim must let exactly one
    win, raise ``CommitConflict`` for the stale writer, and accept its
    retry only after a re-read — the lost-update protection everything
    else in the store assumes. The emitted history is fully determined
    by the contract, so the oracle is the literal expected log: if the
    conflict were NOT raised (interleaved commit, silent overwrite) the
    row set changes and the driver gate goes red. Metadata-only: the
    'table' here is the commit log itself."""
    from blog_snapshotbackup_azuredatalake_spark.operators.txnlog import (
        CommitConflict,
        TransactionLog,
    )

    work = scratch_dir("txn_conflict_")
    log = TransactionLog(work)
    v0 = log.commit("init", [{"add": {"path": "base"}}])
    log.commit("writer_a", [{"add": {"path": "a1"}}], read_version=v0)
    n_conflicts = 0
    try:
        # writer B still believes v0 is HEAD — must NOT be accepted
        log.commit("writer_b", [{"add": {"path": "b1"}}], read_version=v0)
    except CommitConflict:
        n_conflicts += 1
        log.commit(
            "writer_b_retry",
            [{"add": {"path": "b1"}}],
            read_version=log.latest_version(),
        )
    live = set(log.state().keys())
    rows = [
        (h["version"], h["op"], h["n_add"], n_conflicts)
        for h in log.history()
    ]
    out = spark.createDataFrame(
        rows, "version int, op string, n_add bigint, n_conflicts int"
    )
    return out.withColumn(
        "all_live", F.lit(live == {"base", "a1", "b1"})
    )


_TXN_CONFLICT_SQL = """
SELECT * FROM (VALUES
  (0, 'init', CAST(1 AS BIGINT), 1, TRUE),
  (1, 'writer_a', CAST(1 AS BIGINT), 1, TRUE),
  (2, 'writer_b_retry', CAST(1 AS BIGINT), 1, TRUE)
) AS t(version, op, n_add, n_conflicts, all_live)
"""


def snap_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file GC drill: run a snapshot lifecycle, then simulate the
    two classic failure leftovers — a writer that died after its data
    write but before its log commit, and a stray temp upload — and
    VACUUM them away. The transaction log's live set is the source of
    truth (its commit is the atomic publish point); anything on storage
    it doesn't know about is garbage. Self-certifies: the live
    snapshot restores to the same row count after the vacuum, and the
    vacuum itself lands in the log as an audited commit. Rows-only:
    the store is scratch filesystem state, not a SQL-visible table."""

    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _perturbed_orders,
    )
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    keyed = F.col("o_orderkey") % 10 == 0
    orders = load_table(spark, sf_dir, "orders").filter(keyed)
    work = scratch_dir("snap_vacuum_")
    mgr = SnapshotManager(spark, work)
    mgr.snapshot(orders, "orders", "o_orderkey")
    last = mgr.snapshot(
        _perturbed_orders(spark, sf_dir).filter(keyed), "orders", "o_orderkey"
    )
    expected = mgr.restore("orders", last).count()
    # crashed writer: data landed, log commit never happened
    orders.limit(100).write.parquet(f"{work}/orders/snap_000099/data")
    # stray temp upload inside an otherwise-live table dir
    orders.limit(10).write.parquet(f"{work}/orders/snap_000098/data")

    # min_age 0: this drill's "crashed writer" debris is seconds old by
    # construction; no concurrent writer exists in the scratch store
    report = mgr.vacuum(min_age_seconds=0.0)
    restored = mgr.restore("orders", last).count()
    head, _ = mgr.log.read_commit(mgr.log.latest_version())
    rows = [
        (
            r["path"],
            int(r["files"]),
            r["bytes"] > 0,
            r["status"],
            r["deleted"],
            restored == expected,
            head["op"] == "vacuum",
        )
        for r in report
    ]
    return spark.createDataFrame(
        rows,
        "path string, files int, has_bytes boolean, status string,"
        " deleted boolean, restore_intact boolean, vacuum_logged boolean",
    )


def snap_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow-clone drill: snapshot a table slice, clone it zero-copy,
    perturb-and-snapshot the ORIGINAL further, and certify that (a)
    the clone still restores the exact pre-perturbation state (pointer
    isolation), (b) the clone directory holds metadata only — no data
    or manifest bytes were copied, and (c) vacuum leaves both tables
    intact (the clone is log-live). One row per certificate check;
    rows-only (the store is scratch filesystem state)."""
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _perturbed_orders,
    )
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    keyed = F.col("o_orderkey") % 10 == 0
    orders = load_table(spark, sf_dir, "orders").filter(keyed)
    work = scratch_dir("snap_clone_")
    mgr = SnapshotManager(spark, work)
    src_id = mgr.snapshot(orders, "orders", "o_orderkey")
    n_at_clone = mgr.restore("orders", src_id).count()
    clone_id = mgr.clone("orders", src_id, "orders_dev")

    # source moves on; the clone must not
    mgr.snapshot(
        _perturbed_orders(spark, sf_dir).filter(keyed),
        "orders",
        "o_orderkey",
    )
    clone_dir = mgr._dir("orders_dev", clone_id)
    clone_files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(clone_dir)
        for f in fs
    ]
    vacuum_report = mgr.vacuum()
    checks = [
        # restored AFTER the source advanced — this IS the isolation
        # proof: the pointer resolves to the pinned snapshot, not HEAD
        ("clone_restores_source_state",
         mgr.restore("orders_dev", clone_id).count() == n_at_clone),
        ("clone_is_metadata_only",
         [os.path.basename(p) for p in clone_files] == ["meta.json"]),
        ("source_advanced_past_clone",
         mgr.snapshot_ids("orders")[-1] > src_id),
        ("vacuum_keeps_clone_and_source",
         not any(r["deleted"] for r in vacuum_report)),
        ("clone_commit_logged",
         any(h["op"] == "clone" for h in mgr.log.history())),
    ]
    return spark.createDataFrame(checks, "check string, ok boolean")


def snap_restore_drill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restore drill — the backup-operations staple "a backup you never
    restored is not a backup", as an oracle-gated certificate. Builds a
    real differential chain in a scratch store (full v0, deltas v1/v2
    of the deterministic perturbed days), then restores EVERY version
    and fingerprints the materialized state: row count + 60-bit xor of
    the canonical row hash, plus the delta-chain length the restore
    folded. `checksum_match` compares the restored fingerprint against
    the directly-constructed state's — both computed Spark-side, each a
    two-number aggregate (the 100 TB verify cost is one scan per side,
    shuffling two numbers; nothing row-sized leaves the executors).
    The oracle recomputes count/xor straight from the state SQL, so a
    restore that drops a tombstone or resurrects a deleted key flips
    BOTH the fingerprint columns and the match flag."""
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _hash60,
        _orders_hash_expr,
        _perturbed_orders,
        _perturbed_orders_v2,
    )
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    keyed = F.col("o_orderkey") % 10 == 0
    v0 = load_table(spark, sf_dir, "orders").filter(keyed)
    v1 = _perturbed_orders(spark, sf_dir).filter(keyed)
    v2 = _perturbed_orders_v2(spark, sf_dir).filter(keyed)
    work = scratch_dir("snap_restore_drill_")
    mgr = SnapshotManager(spark, work)
    sids = [mgr.snapshot(v, "orders", "o_orderkey") for v in (v0, v1, v2)]

    def fingerprint(df: DataFrame):
        row = (
            df.select(_hash60(_orders_hash_expr()).alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr("bit_xor(h)").alias("x"),
            )
            .collect()[0]
        )
        return int(row["n"]), int(row["x"])

    rows = []
    for ver, (sid, direct) in enumerate(zip(sids, (v0, v1, v2))):
        rn, rx = fingerprint(mgr.restore("orders", sid))
        dn, dx = fingerprint(direct)
        chain_len = len(mgr._chain("orders", sid))
        rows.append((ver, chain_len, rn, rx, rn == dn and rx == dx))
    return spark.createDataFrame(
        rows,
        "version int, chain_len int, n_rows bigint, xor_checksum bigint,"
        " checksum_match boolean",
    )


def _restore_drill_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.operators.snapshot import (
        _hash60_sql,
        _ORDERS_HASH_SQL,
        _PERTURBED_SQL,
        _PERTURBED_V2_SQL,
    )

    h = _hash60_sql(_ORDERS_HASH_SQL)
    selects = []
    # chain layout by construction: v0 full, v1/v2 deltas against v0
    for ver, (src, chain_len) in enumerate(
        [("orders", 1), ("v1", 2), ("v2", 2)]
    ):
        selects.append(f"""
SELECT {ver} AS version, {chain_len} AS chain_len,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       BIT_XOR({h}) AS xor_checksum,
       TRUE AS checksum_match
FROM {src} WHERE o_orderkey % 10 = 0""")
    return (
        f"WITH v1 AS ({_PERTURBED_SQL}), v2 AS ({_PERTURBED_V2_SQL})\n"
        + "\nUNION ALL\n".join(selects)
    )


QUERIES = {
    "snap_txn_log": snap_txn_log,
    "snap_txn_conflict": snap_txn_conflict,
    "snap_vacuum": snap_vacuum,
    "snap_clone": snap_clone,
    "snap_restore_drill": snap_restore_drill,
}
# the lifecycle ops stay rows-only (their result is filesystem
# metadata); the restore drill's certificate IS SQL-derivable, and the
# conflict drill's history is fully pinned by the concurrency contract
ORACLES: dict[str, str] = {
    "snap_restore_drill": _restore_drill_sql(),
    "snap_txn_conflict": _TXN_CONFLICT_SQL,
}
