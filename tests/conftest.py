import datetime as dt
import importlib.util
import os
import shutil
import sys
from collections import Counter

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

REFDATA = "/root/reference/sql_project-master/data"
SEED_DUMP = "/root/reference/sql_project-master/ddl_dml.sql"
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
PERFBENCH = os.path.join(REPO, "perfbench")


def perfbench_module(name: str):
    """``perfbench/<name>.py`` (the corpus generator or the oracles), imported
    by path under a ``perfbench_`` name so it cannot shadow other modules."""
    key = f"perfbench_{name}"
    if key not in sys.modules:
        spec = importlib.util.spec_from_file_location(key, os.path.join(PERFBENCH, f"{name}.py"))
        module = importlib.util.module_from_spec(spec)
        sys.modules[key] = module  # dataclasses resolve annotations through sys.modules
        spec.loader.exec_module(module)
    return sys.modules[key]


def stage_day(corpus, day: dt.date, data_dir: str) -> None:
    """Copy one day's input triplet into a landing directory (run_day
    archives what it consumes, so it never reads the corpus in place)."""
    tag = perfbench_module("corpus").ddmmyyyy(day)
    os.makedirs(data_dir, exist_ok=True)
    for name in (f"transactions_{tag}.txt", f"terminals_{tag}.xlsx", f"passport_blacklist_{tag}.xlsx"):
        shutil.copyfile(os.path.join(corpus.data_dir, name), os.path.join(data_dir, name))


def day_run_ts(day: dt.date) -> dt.datetime:
    return dt.datetime.combine(day, dt.time(23, 0))


@pytest.fixture(scope="session")
def fraud_corpus(tmp_path_factory):
    """Generated inputs shaped like the reference's (K=1 block: 50 clients,
    195 cards, 150 terminals, ~15.7k transactions a day), two days long:
    day 2 adds a terminal and changes two addresses."""
    corpus = perfbench_module("corpus")
    c = corpus.new_corpus(str(tmp_path_factory.mktemp("fraud_corpus")), seed=11, k=1)
    for _ in range(2):
        corpus.write_day(c)
    return c


@pytest.fixture(scope="session")
def spark():
    from etl_process_for_detecting_fraudulent_transactions_spark.session import get_spark

    s = get_spark(app_name="fraudmart-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.path.join(TESTDATA, "sf0.001")


@pytest.fixture(scope="session")
def fraud_run(spark, fraud_corpus, tmp_path_factory):
    """Both corpus days through ``run_day``, each inside its own job group.

    Per day: the frame ``run_day`` returns, its collected rows, the terminal
    history it left behind, the frames it wrote (``overwrite_swap`` and
    ``append`` by table name), the Spark jobs the day ran (read-back
    included), the job group ``overwrite_swap`` ran under, the jobs that ran
    outside any group meanwhile, and the parquet files per store directory
    after the day."""
    from etl_process_for_detecting_fraudulent_transactions_spark.plans.pipeline import (
        HIST,
        PipelineState,
        run_day,
    )
    from etl_process_for_detecting_fraudulent_transactions_spark.schemas import DIM_TERMINALS_HIST
    from etl_process_for_detecting_fraudulent_transactions_spark.storage import ParquetStore

    class RecordingStore(ParquetStore):
        def __init__(self, spark, root):
            super().__init__(spark, root)
            self.written = {}

        def append(self, df, name, partition_by=None):
            self.written[name] = df
            super().append(df, name, partition_by)

        def overwrite_swap(self, df, name):
            self.written[name] = df
            self.swap_group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            super().overwrite_swap(df, name)

    def parquet_files(root):
        found = Counter(os.path.relpath(d, root) for d, _dirs, files in os.walk(root)
                        for f in files if f.endswith(".parquet"))
        return dict(found)

    base = tmp_path_factory.mktemp("fraud_run")
    data_dir = str(base / "in" / "data")
    state = PipelineState(store=RecordingStore(spark, str(base / "store")),
                          seed_dump_path=fraud_corpus.seed_path)
    sc = spark.sparkContext
    days = []
    for day in fraud_corpus.dates:
        stage_day(fraud_corpus, day, data_dir)
        group = f"fraud_run:{day:%d%m%Y}"
        ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
        sc.setJobGroup(group, group)
        try:
            report = run_day(spark, state, data_dir, run_ts=day_run_ts(day))
            rows = report.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        ungrouped = sorted(set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped)
        days.append({
            "day": day,
            "report": report,
            "rows": rows,
            "hist": state.store.read(HIST, DIM_TERMINALS_HIST).collect(),
            "written": dict(state.store.written),
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
            "swap_group": state.store.swap_group,
            "ungrouped_jobs": ungrouped,
            "files": parquet_files(state.store.root),
        })
    return days
