"""Catalog DDL + scale-aware physical layout writers (SURVEY.md §2.1 S6/S8/
S10/S12, §7.1 M5).

The reference's DDL executor creates schema + 5 tables idempotently
(includes.py:39-59). Our equivalent targets the Spark catalog; the layout
helpers encode the 100 TB conventions:

- write_partitioned: week/date-partitioned parquet so incremental loads and
  hwm predicates prune partitions (dynamic partition overwrite touches only
  the weeks in the batch);
- write_bucketed: pre-shuffled bucket layout on the join key so repeated
  fact<->fact joins and MERGEs skip the exchange entirely;
- register_table: CREATE TABLE IF NOT EXISTS over existing parquet dirs;
- publish / write_stage + promote / recover / read_or_none: the staged,
  rename-swapped table commit every batch and streaming writer goes
  through (the .stage/.bak crash protocol lives only here).
"""

from __future__ import annotations

import math
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def create_schema(spark: SparkSession, name: str = "mylo") -> None:
    """Idempotent database creation (reference sql_queries.py:1)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """Partitioned parquet write; with dynamic=True an overwrite only
    replaces the partitions present in ``df`` (safe incremental re-loads)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    if dynamic:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 32,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Bucketed managed table: co-locates rows by join key at write time so
    later equi-joins/aggregations on that key need no shuffle."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def register_table(
    spark: SparkSession, name: str, parquet_path: str
) -> None:
    """CREATE TABLE IF NOT EXISTS over an existing parquet directory —
    schema-on-read from footers, idempotent (reference DDL semantics)."""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} USING parquet LOCATION '{parquet_path}'"
    )


def recover(path: str) -> None:
    """Crash-recovery preamble, REQUIRED before any read of ``path``:
    if a previous publish crashed between its two renames (table renamed to
    .bak, stage never promoted), the table path is missing and .bak holds
    the only copy — restore it FIRST, then clean leftovers. Reading the
    table before this restore would treat it as absent and silently rebuild
    from the current batch alone, dropping all previously merged history."""
    stage, backup = path + ".stage", path + ".bak"
    if not os.path.exists(path) and os.path.exists(backup):
        os.rename(backup, path)
    for leftover in (stage, backup):
        if os.path.exists(leftover):
            shutil.rmtree(leftover)


def write_stage(df: DataFrame, path: str) -> str:
    """Materialize fully into the staging dir (runs the Spark job) and
    return it; the table itself is untouched until :func:`promote`, so a
    caller can gate on the job's results and drop the stage instead."""
    recover(path)
    stage = path + ".stage"
    df.write.mode("overwrite").parquet(stage)
    return stage


def promote(path: str) -> None:
    """Atomic swap: table -> .bak, stage -> table, drop .bak."""
    stage, backup = path + ".stage", path + ".bak"
    if os.path.exists(path):
        os.rename(path, backup)
    os.rename(stage, path)
    if os.path.exists(backup):
        shutil.rmtree(backup)


def publish(df: DataFrame, path: str) -> None:
    """The engine's single commit point for a table: stage fully, then
    promote by directory rename (atomic on a POSIX filesystem). A crash at
    any point leaves the old table or the new one, never a half-written
    directory, and :func:`recover` restores the torn-swap window. For a
    table format or an object store, replace this with its transactional
    commit (a manifest-pointer swap)."""
    write_stage(df, path)
    promote(path)


def read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """The published table at ``path`` after crash recovery, or None when
    it has never been published."""
    recover(path)
    return spark.read.parquet(path) if os.path.exists(path) else None


def compact(
    spark: SparkSession,
    path: str,
    target_bytes_per_file: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files. Streaming sinks and per-batch
    incremental merges accumulate thousands of tiny files; at 100 TB the
    scan cost is dominated by file-open overhead and the NameNode/listing
    pressure, so periodic compaction to ~128 MB files is part of the
    engine's storage contract (same reason maxPartitionBytes is 128 MB:
    one task per file). Returns the new file count. The rewrite goes
    through :func:`publish` like every other table write."""
    # recover before sizing and reading: a crash inside an earlier
    # publish can leave the table at .bak only
    recover(path)
    total = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_bytes_per_file))
    publish(spark.read.parquet(path).repartition(n_files), path)
    return n_files


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the columnar alternative where the surrounding stack is
    Hive/ORC-native. Same pushdown/pruning contract as parquet: ORC scans
    support predicate pushdown and column pruning in Spark, so layout
    guidance (128 MB files, partition columns) carries over unchanged."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
