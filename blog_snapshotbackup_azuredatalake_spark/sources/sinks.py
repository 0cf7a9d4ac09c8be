"""Bulk-copy sinks — the reference's "DataFrame copy operations over
ADLS" re-expressed as a storage-agnostic writer (local path in tests,
``abfss://`` in production; Spark's writers don't care).

``copy_table`` is the primitive the backup loop uses for the full-copy
leg (SnapshotManager handles the incremental leg): partition layout for
downstream pruning, bounded file sizes so a 100 TB copy lands as
right-sized parquet instead of one file per shuffle partition, and an
optional verification manifest written next to the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from blog_snapshotbackup_azuredatalake_spark.scratch import scratch_dir
from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
    row_hash,
    row_hash_int,
)


def copy_table(
    df: DataFrame,
    target: str,
    partition_by: str | None = None,
    max_records_per_file: int = 1_000_000,
    manifest_key: str | None = None,
) -> dict:
    """Copy `df` to `target` as parquet and return copy stats.

    - `partition_by`: hive-style partition column. The copy repartitions
      on it first so each partition's files are written by the tasks
      that own its rows (no tiny-file explosion when many tasks hold a
      few rows of every partition).
    - `max_records_per_file`: upper bound per output file — the knob
      that keeps file sizes sane at any cluster width.
    - `manifest_key`: when set, also writes a (key, row_md5) manifest
      under `<target>_manifest` for later verify/diff.
    """
    writer_df = df.repartition(partition_by) if partition_by else df
    writer = writer_df.write.mode("errorifexists").option(
        "maxRecordsPerFile", max_records_per_file
    )
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(target)

    if manifest_key is not None:
        cols = sorted(df.columns)
        df.select(
            F.col(manifest_key).alias("key"), row_hash(*cols).alias("row_md5")
        ).write.mode("errorifexists").parquet(f"{target}_manifest")

    spark = df.sparkSession
    written = spark.read.parquet(target)
    return {
        "target": target,
        "n_rows": written.count(),
        "partitioned_by": partition_by,
        "has_manifest": manifest_key is not None,
    }


def compact_files(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> dict:
    """Small-file compaction — the housekeeping pass a long-running
    incremental backup needs, since every sync appends a few files and
    file-count growth eventually dominates listing/open cost. Rewrites
    the dataset with files sized by row count, atomically swapping via a
    staging directory rename.

    Verified safe: the rewrite is checksummed against the original
    before the swap; on mismatch the original is left untouched. The
    original's signature is taken once, before the rewrite, and also
    sizes it; the staging copy is read back with the original's schema."""
    import os
    import shutil

    def count_parquet(p: str) -> int:
        return sum(
            1
            for _, _, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )

    df = spark.read.parquet(path)
    n_before = count_parquet(path)
    staging = f"{path}__compacting"
    before = _signature(df)
    n_rows = before[0]
    n_files = max(1, -(-n_rows // target_rows_per_file))
    df.repartition(n_files).write.mode("errorifexists").parquet(staging)
    after = _signature(spark.read.schema(df.schema).parquet(staging))
    if after != before:  # pragma: no cover
        shutil.rmtree(staging)
        raise RuntimeError(f"compaction checksum mismatch for {path}")
    backup = f"{path}__precompact"
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    return {"path": path, "n_rows": n_rows, "files_before": n_before,
            "files_after": count_parquet(path)}


def copy_table_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = 16,
) -> dict:
    """Copy `df` as a BUCKETED parquet table (hash-bucketed and sorted
    by `key`). This is the layout that makes the recurring backup joins
    — manifest diff, anti-join sync, verify — ZERO-shuffle: two tables
    bucketed on the same key with the same bucket count sort-merge-join
    without any Exchange, so a daily 100 TB diff reads both sides
    bucket-by-bucket and never materializes a shuffle. The write itself
    costs one clustering pass (same as the join's shuffle would), but
    it's paid ONCE at copy time instead of on every downstream join.

    Uses the session catalog (`saveAsTable`) because bucket metadata
    lives in the table catalog, not in the files; pair with a database
    whose LOCATION is the backup root."""
    (
        df.write.mode("errorifexists")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )
    spark = df.sparkSession
    return {
        "table": table,
        "n_rows": spark.table(table).count(),
        "bucketed_by": key,
        "n_buckets": n_buckets,
    }


def verify_copy(
    spark: SparkSession, source: DataFrame, target: str
) -> bool:
    """Cheap full verify of a copy: count + order-insensitive checksum
    over all columns on both sides (two scans, four numbers shuffled)."""
    target_df = spark.read.parquet(target).select(*source.columns)
    return _signature(source) == _signature(target_df)


def _signature(df: DataFrame) -> tuple:
    """(rows, bit_xor, min, max) of the row hash over all columns."""
    h = row_hash_int(*sorted(df.columns))
    row = (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(h)").alias("x"),
            F.min("h").alias("mn"),
            F.max("h").alias("mx"),
        )
        .collect()[0]
    )
    return tuple(row)


def snap_copy_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core loop as one driver-visible entry: bulk-copy
    orders to a scratch backup partitioned by order month with bounded
    file sizes and a verification manifest, verify the copy
    (count + order-insensitive checksum both sides), and report
    per-partition row counts off the COPY with the verification
    verdict. Rows-only: the operator's effect is files on disk."""
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "order_month",
        F.trunc(F.col("o_orderdate").cast("date"), "month").cast("string"),
    )
    work = scratch_dir("copy_roundtrip_")
    target = f"{work}/orders_backup"
    copy_table(
        orders,
        target,
        partition_by="order_month",
        max_records_per_file=50_000,
        manifest_key="o_orderkey",
    )
    ok = verify_copy(spark, orders, target)
    return (
        spark.read.parquet(target)
        .groupBy("order_month")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("verified", F.lit(ok))
        .orderBy("order_month")
    )


PRUNE_DAY_LO = 19732  # 2024-01-10, days since epoch
PRUNE_DAY_HI = 19741  # 2024-01-19 inclusive — a 10-day restore window


def snap_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruning certificate: write events day-partitioned (the
    layout `copy_table` documents as the point of partitioning), read
    back a 10-day restore window, and emit the pruning evidence AS
    DATA — day-partitions on disk, rows and days inside the window, and
    whether the physical scan carries the window as PartitionFilters
    (directory-level pruning planned, not a post-scan filter; checked
    against the executed plan text, the diag_plan_audit technique). The
    oracle recomputes the logical side from the same day rule and pins
    `partition_filters_pushed` TRUE — if Spark ever stopped pruning
    (filter not pushed, layout broken), the driver gate goes red. Day =
    epoch-nanos div 86 400e9, an integer rule both engines share
    (SURVEY §4). (`inputFiles()` is NOT the right observer here — it
    lists the relation's files ignoring filters, measured.)"""
    import io
    from contextlib import redirect_stdout

    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    events = load_table(spark, sf_dir, "events").select(
        F.expr("ts div 86400000000000").alias("day"),
        F.expr("ts div 1000").alias("ts_us"),
        "event_id",
    )
    target = f"{scratch_dir('prune_')}/events_by_day"
    events.write.partitionBy("day").mode("overwrite").parquet(target)
    back = spark.read.parquet(target)
    filtered = back.filter(
        (F.col("day") >= PRUNE_DAY_LO) & (F.col("day") <= PRUNE_DAY_HI)
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    pruned = (
        "PartitionFilters" in plan
        and f"(day#" in plan
        and str(PRUNE_DAY_LO) in plan
        and str(PRUNE_DAY_HI) in plan
    )
    stats = filtered.agg(
        F.count(F.lit(1)).alias("rows_read"),
        F.count_distinct("day").alias("days_with_rows"),
    )
    total_days = back.select(
        F.count_distinct("day").alias("partitions_total")
    )
    return stats.crossJoin(total_days).select(
        "partitions_total",
        "days_with_rows",
        "rows_read",
        F.lit(bool(pruned)).alias("partition_filters_pushed"),
    )


_PARTITION_PRUNE_SQL = f"""
WITH days AS (
  SELECT epoch_ns(ts) // 86400000000000 AS day FROM events
), win AS (
  SELECT day FROM days
  WHERE day BETWEEN {PRUNE_DAY_LO} AND {PRUNE_DAY_HI}
)
SELECT (SELECT COUNT(DISTINCT day) FROM days) AS partitions_total,
       (SELECT COUNT(DISTINCT day) FROM win) AS days_with_rows,
       (SELECT COUNT(*) FROM win) AS rows_read,
       TRUE AS partition_filters_pushed
"""


_RT_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
_RT_SCHEMA = (
    "c_custkey bigint, c_name string, c_nationkey int, "
    "c_acctbal double, c_mktsegment string"
)


def snap_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interchange-format round-trip certificate: export `customer` to
    CSV (header) and JSON-lines, read each back with an EXPLICIT schema
    (inference on a 100 TB export is a full extra scan — and a schema
    drift landmine), and emit per-format (row count, order-insensitive
    bit_xor content checksum). The oracle computes the same two numbers
    straight from the parquet source — so a lossy hop (float repr
    truncation, quoting damage, type coercion) mismatches the driver
    gate rather than silently corrupting the export. The checksum
    stages are count+xor aggregates: four numbers cross the wire per
    format, never the data."""
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    src = load_table(spark, sf_dir, "customer").select(*_RT_COLS)
    work = scratch_dir("fmt_roundtrip_")
    src.write.option("header", True).mode("overwrite").csv(f"{work}/csv")
    src.write.mode("overwrite").json(f"{work}/jsonl")
    back = {
        "csv": spark.read.schema(_RT_SCHEMA)
        .option("header", True)
        .csv(f"{work}/csv"),
        "jsonl": spark.read.schema(_RT_SCHEMA).json(f"{work}/jsonl"),
    }

    def cert(fmt: str, df: DataFrame) -> DataFrame:
        return (
            df.select(row_hash_int(*_RT_COLS).alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.expr("bit_xor(h)").alias("xor_checksum"),
            )
            .select(F.lit(fmt).alias("fmt"), "n_rows", "xor_checksum")
        )

    return cert("csv", back["csv"]).unionByName(cert("jsonl", back["jsonl"]))


def _format_roundtrip_sql() -> str:
    from blog_snapshotbackup_azuredatalake_spark.functions.hashing import (
        sql_row_hash,
    )

    h = f"cast(concat('0x', substr({sql_row_hash(_RT_COLS)}, 1, 15)) as bigint)"
    return f"""
WITH base AS (
  SELECT COUNT(*) AS n_rows, bit_xor(h) AS xor_checksum
  FROM (SELECT {h} AS h FROM customer)
)
SELECT 'csv' AS fmt, n_rows, xor_checksum FROM base
UNION ALL
SELECT 'jsonl' AS fmt, n_rows, xor_checksum FROM base
"""


_SE_MOD = 5  # v2 batch = orders with o_orderkey ≡ 0 (mod this)
_SE_SCORE_MOD = 97  # deterministic new-column payload


def snap_merge_schema_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution certificate: a v2 batch lands with a NEW column
    (`o_risk_score`) next to v1 files that lack it; the lake read must
    merge footers (`mergeSchema`) and surface v1 rows with NULLs — the
    append-a-column migration every long-lived table goes through.
    Emits the one-row proof: total rows, v1/v2 row split by new-column
    presence, merged field count, and the decimal-exact payload sum of
    the new column. The oracle recomputes all five from the source
    table and the two integer batch rules — a silent merge failure
    (dropped column, misaligned rows, zero-filled NULLs) cannot pass.
    mergeSchema is a footer-level merge: cost ∝ #files at planning
    time, no data rewrite — exactly why it is the right evolution path
    at 100 TB (rewriting history for a new column is not)."""
    from blog_snapshotbackup_azuredatalake_spark.sources.catalog import (
        load_table,
    )

    base_cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    orders = load_table(spark, sf_dir, "orders").select(*base_cols)
    work = scratch_dir("schema_evolve_")
    tgt = f"{work}/orders_evolving"
    orders.write.parquet(tgt)
    v2 = orders.filter(F.col("o_orderkey") % _SE_MOD == 0).withColumn(
        "o_risk_score", (F.col("o_orderkey") % _SE_SCORE_MOD).cast("int")
    )
    v2.write.mode("append").parquet(tgt)
    merged = spark.read.option("mergeSchema", "true").parquet(tgt)
    n_fields = len(merged.columns)
    return merged.groupBy().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_risk_score").alias("n_v2_rows"),
        F.sum(F.col("o_risk_score").isNull().cast("long")).alias(
            "n_v1_rows"
        ),
        F.coalesce(F.sum("o_risk_score"), F.lit(0)).alias("score_sum"),
    ).select(
        "n_rows",
        "n_v1_rows",
        "n_v2_rows",
        "score_sum",
        F.lit(n_fields).cast("int").alias("n_fields"),
    )


_SCHEMA_EVOLVE_SQL = f"""
WITH v2 AS (
  SELECT o_orderkey % {_SE_SCORE_MOD} AS o_risk_score
  FROM orders WHERE o_orderkey % {_SE_MOD} = 0
)
SELECT (SELECT COUNT(*) FROM orders) + (SELECT COUNT(*) FROM v2) AS n_rows,
       (SELECT COUNT(*) FROM orders) AS n_v1_rows,
       (SELECT COUNT(*) FROM v2) AS n_v2_rows,
       (SELECT CAST(COALESCE(SUM(o_risk_score), 0) AS BIGINT) FROM v2)
         AS score_sum,
       4 AS n_fields
"""


QUERIES = {
    "snap_copy_roundtrip": snap_copy_roundtrip,
    "snap_partitioned_prune": snap_partitioned_prune,
    "snap_format_roundtrip": snap_format_roundtrip,
    "snap_merge_schema_evolve": snap_merge_schema_evolve,
}
ORACLES: dict[str, str] = {
    # snap_copy_roundtrip rows-only: writes files, then reports on them
    "snap_partitioned_prune": _PARTITION_PRUNE_SQL,
    "snap_format_roundtrip": _format_roundtrip_sql(),
    "snap_merge_schema_evolve": _SCHEMA_EVOLVE_SQL,
}
