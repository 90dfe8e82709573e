"""Small-file compaction (storage.compact_small_files): fewer files, same
rows/values, atomic swap, partition layout preserved."""

import os

import pytest
from pyspark.sql import functions as F

from etl_process_for_detecting_fraudulent_transactions_spark import storage
from etl_process_for_detecting_fraudulent_transactions_spark.storage import (
    ParquetStore,
    compact_small_files,
)


def _parquet_files(path):
    return [
        os.path.join(r, f)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def test_compaction_preserves_rows_and_reduces_files(spark, tmp_path):
    path = str(tmp_path / "flat")
    # simulate 20 tiny append batches
    for i in range(20):
        spark.range(i * 100, (i + 1) * 100).withColumn(
            "v", F.col("id") * 2
        ).write.mode("append").parquet(path)
    before_rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert len(_parquet_files(path)) >= 20

    stats = compact_small_files(spark, path)
    assert stats["files_before"] >= 20
    assert stats["files_after"] < stats["files_before"]
    assert len(_parquet_files(path)) == stats["files_after"]
    after_rows = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after_rows == before_rows


def test_compaction_keeps_hive_partitions(spark, tmp_path):
    path = str(tmp_path / "parted")
    for i in range(6):
        (
            spark.range(i * 50, (i + 1) * 50)
            .withColumn("day", (F.col("id") % 3).cast("int"))
            .write.mode("append")
            .partitionBy("day")
            .parquet(path)
        )
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    n_before = len(_parquet_files(path))

    stats = compact_small_files(spark, path, partition_by=["day"])
    assert stats["files_after"] < n_before
    # layout check: every file still lives under a day=N directory
    for f in _parquet_files(path):
        assert "/day=" in f, f
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before


def test_compaction_crash_between_renames_keeps_previous_rows(spark, tmp_path, monkeypatch):
    """Compaction publishes through the store's rename-aside swap: a crash
    between its two renames strands the live mart under ``<name>.__old__``,
    and the next read puts it back instead of finding the table gone."""
    store = ParquetStore(spark, str(tmp_path))
    for i in range(4):
        batch = spark.range(i * 10, (i + 1) * 10).withColumn("day", (F.col("id") % 2).cast("int"))
        store.append(batch, "mart", partition_by=["day"])
    before = sorted(tuple(r) for r in store.read("mart").collect())

    real_replace = os.replace
    calls = []

    def crash_on_second_rename(src, dst):
        calls.append((src, dst))
        if len(calls) == 2:
            raise OSError("crash between the renames")
        real_replace(src, dst)

    monkeypatch.setattr(storage.os, "replace", crash_on_second_rename)
    with pytest.raises(OSError, match="crash between the renames"):
        compact_small_files(spark, store.path("mart"), partition_by=["day"])
    monkeypatch.setattr(storage.os, "replace", real_replace)

    assert not os.path.isdir(store.path("mart"))
    assert sorted(tuple(r) for r in store.read("mart").collect()) == before

    # and the next compaction over the restored mart goes through
    compact_small_files(spark, store.path("mart"), partition_by=["day"])
    assert sorted(tuple(r) for r in store.read("mart").collect()) == before
    assert sorted(os.listdir(tmp_path)) == ["mart"]


def test_overwrite_partitions_touches_only_written_days(spark, tmp_path):
    """Dynamic partition overwrite: rewriting day 2 (+ a new day 3) must
    leave day 1's files and rows byte-identical, replace day 2 wholesale,
    and add day 3 — the daily-restatement contract."""
    import os

    from etl_process_for_detecting_fraudulent_transactions_spark.storage import overwrite_partitions

    path = str(tmp_path / "mart")
    base = spark.createDataFrame(
        [(1, "d1", 10), (2, "d1", 11), (3, "d2", 20), (4, "d2", 21)],
        "id int, day string, v int",
    )
    base.write.partitionBy("day").parquet(path)
    d1_files = sorted(os.listdir(f"{path}/day=d1"))

    restate = spark.createDataFrame(
        [(5, "d2", 99), (6, "d3", 30)], "id int, day string, v int"
    )
    overwrite_partitions(restate, path, ["day"])

    assert sorted(os.listdir(f"{path}/day=d1")) == d1_files
    got = {(r.id, r.day, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "d1", 10), (2, "d1", 11), (5, "d2", 99), (6, "d3", 30)}
    # conf restored to the safer static default
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") != "dynamic"


def test_read_evolved_merges_appended_column(spark, tmp_path):
    """A column added by a later append surfaces via mergeSchema with NULLs
    for pre-evolution files; a plain read of the same dir may drop it."""
    from etl_process_for_detecting_fraudulent_transactions_spark.storage import read_evolved

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id int, x string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 7.5)], "id int, x string, score double"
    ).write.mode("append").parquet(path)

    df = read_evolved(spark, path)
    assert set(df.columns) == {"id", "x", "score"}
    rows = {r.id: r.score for r in df.collect()}
    assert rows[1] is None and rows[2] == 7.5


def test_read_resilient_skips_torn_file(spark, tmp_path):
    """A truncated parquet file fails the default scan but is skipped by
    the repair-mode read; intact rows all survive."""
    import glob
    import os

    import pytest

    from etl_process_for_detecting_fraudulent_transactions_spark.storage import read_resilient

    path = str(tmp_path / "mart")
    spark.range(100).selectExpr("id AS v").repartition(4).write.parquet(path)
    victim = sorted(glob.glob(f"{path}/part-*.parquet"))[0]
    keep = spark.read.parquet(path)
    schema = keep.schema
    lost = (
        spark.read.parquet(victim).count()
    )
    with open(victim, "r+b") as fh:  # tear the footer off
        fh.truncate(os.path.getsize(victim) // 2)

    with pytest.raises(Exception):
        spark.read.parquet(path).count()  # default scan fails hard
    got = read_resilient(spark, path, schema)
    assert got.count() == 100 - lost
    assert set(r.v for r in got.collect()) <= set(range(100))
