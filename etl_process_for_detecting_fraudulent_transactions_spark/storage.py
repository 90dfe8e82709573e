"""Thin parquet-backed store for the two persistent tables.

Only ``DWH_DIM_TERMINALS_HIST`` (rewritten per load) and ``REP_FRAUD``
(append-only accumulation) survive across runs (SURVEY §1.1); everything else
is per-run lineage. Parquet is the default backend; the interface is the
seam where a Delta/Iceberg writer would slot in for MERGE-style upserts at
billion-key dimension scale.

``overwrite_swap`` exists because Spark cannot safely overwrite a parquet
directory that feeds the plan being written: we materialize to a temp dir,
then swap directories. On HDFS/S3 the same pattern holds (write-new +
atomic pointer/rename). The swap never leaves the table absent: the old
directory is renamed aside to ``<name>.__old__`` before the new one takes
its place and is deleted only after; if a crash strands it there, the next
``read`` or ``overwrite_swap`` moves it back. ``compact_small_files``
publishes through the same two renames.

``append`` ``rebalance``s its output by the partition columns, so each day's
mart slice is one file per partition at daily-batch size (the scan
partitions of a small input would otherwise each write a file), while AQE
still splits a large output by data volume. ``overwrite_swap`` adds no
exchange of its own: the SCD2 history it rewrites already comes out of a
key exchange, which AQE coalesces to one partition (one file) at dimension
size and splits by advisory size at scale.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .sources.local import local_frame


class ParquetStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.isdir(self.path(name))

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        _restore(self.path(name))
        if not self.exists(name):
            if schema is None:
                raise FileNotFoundError(self.path(name))
            return local_frame(self.spark, [], schema)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path(name))

    def append(self, df: DataFrame, name: str, partition_by: list[str] | None = None) -> None:
        w = df.hint("rebalance", *(partition_by or [])).write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def overwrite_swap(self, df: DataFrame, name: str) -> None:
        """Safe overwrite even when ``df`` reads from the target path."""
        final = self.path(name)
        _restore(final)
        tmp = final + ".__tmp__"
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        _publish(tmp, final)


def _restore(final: str) -> None:
    """Put back a directory that a crashed ``_publish`` left renamed aside."""
    if not os.path.isdir(final) and os.path.isdir(final + ".__old__"):
        os.replace(final + ".__old__", final)


def _publish(tmp: str, final: str) -> None:
    """Move the fully written ``tmp`` into ``final``'s place. The live
    directory is renamed aside, not deleted, until the new one is in place,
    so a crash between the two renames leaves it for ``_restore``."""
    old = final + ".__old__"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(final):
        os.replace(final, old)
    os.replace(tmp, final)
    shutil.rmtree(old, ignore_errors=True)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    n_buckets: int,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) managed table.

    Bucketing pre-shuffles the data ONCE at write time: any later equi-join
    or aggregation on ``bucket_key`` between tables bucketed the same way
    runs with NO exchange (and, when sorted, no sort) — at 100 TB this turns
    the nightly fact-to-fact join from the dominant shuffle into a zip of
    co-located files. See tests/test_bucketing.py for the plan-level proof.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_key)
    if sort:
        w = w.sortBy(bucket_key)
    w.saveAsTable(table)


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
) -> dict:
    """Small-file compaction for an append-accumulated parquet directory —
    the maintenance op every long-lived mart needs (REP_FRAUD here appends
    per daily batch; a year of loads is 365+ tiny files per partition, and
    at 100 TB the NameNode/listing and per-file open costs dominate scans
    long before the data does).

    Strategy: measure the dataset's on-disk bytes from the filesystem (not
    from optimizer stats, which reflect pre-filter estimates), rewrite to
    ceil(bytes / target_file_bytes) files, then swap directories through
    ``overwrite_swap``'s rename-aside publish, so readers never see a
    half-compacted dir and a crash between the renames loses nothing.

    Unpartitioned layouts compact with ``coalesce`` (no shuffle — tasks
    just concatenate input splits); Hive-partitioned layouts must shuffle
    on the partition columns so each output task writes whole partition
    directories (one file per live partition value) instead of every task
    appending a sliver to every partition.
    Returns {"files_before", "files_after", "bytes"} for observability.
    """
    import math

    path = path.rstrip("/")
    _restore(path)
    before = 0
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                before += 1
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path + ".__compact__"
    shutil.rmtree(tmp, ignore_errors=True)
    if partition_by:
        writer = (
            df.repartition(n_files, *[df[c] for c in partition_by])
            .write.mode("overwrite")
            .partitionBy(*partition_by)
        )
    else:
        writer = df.coalesce(n_files).write.mode("overwrite")
    writer.parquet(tmp)
    _publish(tmp, path)
    after = sum(
        1
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    return {"files_before": before, "files_after": after, "bytes": total}


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present in
    ``df``, leaving all sibling partitions untouched — the daily-restatement
    write (re-run one day of a year-partitioned mart without rewriting or
    even listing the other 364 days; at 100 TB a static overwrite here is
    the difference between minutes and a full-table rewrite).

    Spark's native ``partitionOverwriteMode=dynamic`` does exactly this at
    the committer level. The mode is passed as a PER-WRITE DataFrameWriter
    option — never a session-conf mutation: a conf flip is time-scoped, not
    writer-scoped, so a concurrent writer in the same session (e.g. a
    streaming foreachBatch body) would silently pick up dynamic semantics
    during the window and leave stale sibling partitions behind on what it
    believed was a full-table overwrite.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Schema-evolution read: merge the parquet footers of every file so
    columns added by later appends surface (as NULL for older files).

    ``mergeSchema`` costs a footer read per file — which is why it is an
    explicit maintenance-read here and not the store default: at 100 TB the
    footer sweep is a real listing cost, and steady-state readers should
    pin an explicit schema instead (``ParquetStore.read(schema=...)``)."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def read_resilient(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """Corrupt-file-tolerant maintenance read: skip unreadable parquet files
    instead of failing the scan.

    A long-lived 100-TB mart accumulates the occasional torn file (killed
    writer, partial upload) and ONE bad footer must not take down a repair
    job whose purpose is to read everything else. ``ignoreCorruptFiles`` is
    passed as a PER-READ option (the `overwrite_partitions` discipline —
    never a session-conf flip, which would silently let every concurrent
    reader treat corruption as skippable). Schema is REQUIRED: inference
    reads footers, which is exactly what corrupt files break.

    Steady-state reads should NOT use this — silently skipping data is a
    repair-mode semantic; the default scan's hard failure is the correct
    production behavior.
    """
    return (
        spark.read.schema(schema)
        .option("ignoreCorruptFiles", "true")
        .parquet(path)
    )
