"""ParquetStore's directory swap never leaves a table missing.

``overwrite_swap`` renames the live directory aside, moves the new one into
place and only then deletes the old one. A crash between the two renames
strands the previous version under ``<name>.__old__``; the next ``read``
must put it back rather than report an empty table. The swap writes the
frame as planned, adding no exchange of its own.
"""

import os

import pytest

from etl_process_for_detecting_fraudulent_transactions_spark import storage
from etl_process_for_detecting_fraudulent_transactions_spark.storage import ParquetStore

SCHEMA = "terminal_id string, terminal_city string"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_swap_crash_between_renames_keeps_previous_table(spark, tmp_path, monkeypatch):
    store = ParquetStore(spark, str(tmp_path))
    before = [("T1", "A"), ("T2", "B")]
    store.overwrite_swap(spark.createDataFrame(before, SCHEMA), "hist")

    real_replace = os.replace
    calls = []

    def crash_on_second_rename(src, dst):
        calls.append((src, dst))
        if len(calls) == 2:
            raise OSError("crash between the renames")
        real_replace(src, dst)

    monkeypatch.setattr(storage.os, "replace", crash_on_second_rename)
    with pytest.raises(OSError, match="crash between the renames"):
        store.overwrite_swap(spark.createDataFrame([("T1", "C")], SCHEMA), "hist")
    monkeypatch.setattr(storage.os, "replace", real_replace)

    # the crash left the live directory renamed aside and the new one unpublished
    assert not os.path.isdir(store.path("hist"))
    assert os.path.isdir(store.path("hist") + ".__old__")
    assert _rows(store.read("hist", spark.createDataFrame([], SCHEMA).schema)) == before
    assert not os.path.isdir(store.path("hist") + ".__old__")

    # and the next swap over the restored table goes through
    after = [("T3", "C")]
    store.overwrite_swap(spark.createDataFrame(after, SCHEMA), "hist")
    assert _rows(store.read("hist")) == after
    assert sorted(os.listdir(tmp_path)) == ["hist"]


def test_swap_after_a_crash_replaces_the_stranded_table(spark, tmp_path):
    """A swap that starts while the previous version is stranded aside
    publishes the new version and leaves no stray directory behind."""
    store = ParquetStore(spark, str(tmp_path))
    store.overwrite_swap(spark.createDataFrame([("T1", "A")], SCHEMA), "hist")
    os.replace(store.path("hist"), store.path("hist") + ".__old__")

    store.overwrite_swap(spark.createDataFrame([("T2", "B")], SCHEMA), "hist")
    assert _rows(store.read("hist")) == [("T2", "B")]
    assert sorted(os.listdir(tmp_path)) == ["hist"]


def test_swap_write_adds_no_exchange(spark, tmp_path, monkeypatch):
    """``overwrite_swap`` writes the frame's own plan: no rebalance or
    round-robin exchange is added on top of it."""
    src = str(tmp_path / "src")
    spark.createDataFrame([("T%d" % i, "A") for i in range(20)], SCHEMA).repartition(4).write.parquet(src)
    store = ParquetStore(spark, str(tmp_path / "store"))

    writers = []
    frame_type = type(spark.range(1))
    real_write = frame_type.write
    monkeypatch.setattr(frame_type, "write", property(lambda df: writers.append(df) or real_write.fget(df)))
    store.overwrite_swap(spark.read.parquet(src), "hist")
    monkeypatch.setattr(frame_type, "write", real_write)

    assert len(writers) == 1
    plan = writers[0]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "REBALANCE" not in plan.upper() and "RoundRobinPartitioning" not in plan, plan
