"""run_day's dimension-scale inputs are sized local relations.

The seed dims, the xlsx snapshots and a not-yet-written store table are
built on the driver. They must plan as ``LocalRelation`` (real size stats)
rather than an RDD scan of unbounded estimated size, so the planner
broadcasts them: the day's writes then carry no sort-merge join, and a warm
day runs at most 16 Spark jobs instead of 45. Checked on a generated K=1
corpus against the DuckDB rules oracle and the SCD2 replay.
"""

import datetime as dt
import os
import subprocess
import sys
from collections import Counter

from tests.conftest import REPO, day_run_ts, perfbench_module

from etl_process_for_detecting_fraudulent_transactions_spark.plans.ingest import typed_blacklist
from etl_process_for_detecting_fraudulent_transactions_spark.plans.pipeline import HIST, REPORT
from etl_process_for_detecting_fraudulent_transactions_spark.schemas import (
    BLACKLIST_RAW,
    DIM_TERMINALS_HIST,
    TERMINALS_SNAPSHOT,
)
from etl_process_for_detecting_fraudulent_transactions_spark.sources.seed_source import read_seed_dims
from etl_process_for_detecting_fraudulent_transactions_spark.sources.xlsx_source import read_xlsx_df
from etl_process_for_detecting_fraudulent_transactions_spark.storage import ParquetStore


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_driver_side_inputs_plan_as_local_relations(spark, fraud_corpus, tmp_path):
    corpus = perfbench_module("corpus")
    tag = corpus.ddmmyyyy(fraud_corpus.dates[0])
    header_only = str(tmp_path / "header_only.xlsx")
    corpus.write_xlsx(header_only, ["date", "passport"], [])
    frames = {
        **read_seed_dims(spark, fraud_corpus.seed_path),
        "blacklist": typed_blacklist(read_xlsx_df(
            spark, os.path.join(fraud_corpus.data_dir, f"passport_blacklist_{tag}.xlsx"), BLACKLIST_RAW)),
        "snapshot": read_xlsx_df(
            spark, os.path.join(fraud_corpus.data_dir, f"terminals_{tag}.xlsx"), TERMINALS_SNAPSHOT),
        "header_only": read_xlsx_df(spark, header_only, BLACKLIST_RAW),
        "missing_table": ParquetStore(spark, str(tmp_path / "store")).read(HIST, DIM_TERMINALS_HIST),
    }
    for name, df in frames.items():
        plan = _optimized(df)
        assert plan.startswith("LocalRelation"), (name, plan)
        assert "LogicalRDD" not in plan, (name, plan)
    assert frames["header_only"].count() == 0 and frames["missing_table"].count() == 0
    assert frames["cards"].count() == 195 and frames["snapshot"].count() == 150


def test_run_day_writes_plan_no_sort_merge_join(fraud_run):
    """Both days' writes scan no RDD and sort-merge nothing: the mart append
    broadcasts every dim, and the SCD2 rewrite joins nothing at all (one
    keyed window pass over history and snapshot)."""
    for day in fraud_run:
        for name in (HIST, REPORT):
            plan = _physical(day["written"][name])
            assert "SortMergeJoin" not in plan, (day["day"], name, plan)
            assert "Scan ExistingRDD" not in plan, (day["day"], name, plan)
        assert "BroadcastHashJoin" in _physical(day["written"][REPORT]), day["day"]
        assert "Join" not in _physical(day["written"][HIST]), day["day"]


def test_mart_append_is_one_lookup_chain(fraud_run):
    """The day's four rules share one card -> account -> client chain: the
    append plan has exactly one broadcast join per lookup hop, not one per
    rule."""
    for day in fraud_run:
        plan = _physical(day["written"][REPORT])
        for hop in ("card_num", "account_num", "client"):
            assert plan.count(f"BroadcastHashJoin [{hop}#") == 1, (day["day"], hop, plan)


def test_warm_day_job_count(fraud_run):
    """A warm day (SCD2 swap, mart append and read-back) runs at most 16
    Spark jobs; with RDD-scanned dims it ran 45, with the Q1 distinct, the
    Q3 groupBy and one write file per scan partition 25, with a join-based
    SCD2 classify and four lookup chains in the append 21."""
    warm = fraud_run[1]
    assert 0 < warm["jobs"] <= 16, warm["jobs"]


def test_swap_jobs_count_in_callers_job_group(fraud_run):
    """The SCD2 swap runs on a worker thread; its jobs must still carry the
    caller's job group, or they would silently drop out of the day's count."""
    for day in fraud_run:
        assert day["swap_group"] == f"fraud_run:{day['day']:%d%m%Y}", day["swap_group"]
        assert day["ungrouped_jobs"] == [], day["ungrouped_jobs"]


def test_each_write_is_one_file(fraud_run):
    """The history rewrite and each day's mart slice are one parquet file
    apiece at daily-batch size, every day (the history does not inherit
    the scan partitioning of its previous version)."""
    for i, day in enumerate(fraud_run):
        want = {HIST: 1, **{f"{REPORT}/report_date={d}": 1 for d in (x["day"] for x in fraud_run[:i + 1])}}
        assert day["files"] == want, (day["day"], day["files"])


def test_run_day_matches_oracles(fraud_run, fraud_corpus):
    oracle = perfbench_module("oracle")
    scd2 = oracle.Scd2Oracle()
    for day in fraud_run:
        d = day["day"]
        want_hist = scd2.apply(fraud_corpus.snapshots[d], day_run_ts(d))
        want_rows = oracle.rep_fraud_rows(
            fraud_corpus.tx_path(d), d, fraud_corpus.cards(), fraud_corpus.accounts(),
            fraud_corpus.clients(), fraud_corpus.blacklists[d], want_hist,
        )
        got_rows = Counter((r.event_dt, r.passport, r.fio, r.phone, r.event_type) for r in day["rows"])
        assert got_rows == Counter(want_rows), d
        assert Counter(tuple(r) for r in day["hist"]) == Counter(want_hist), d
        # every rule fires on the corpus, so the comparison is not vacuous
        assert {r.event_type for r in day["rows"]} >= {"passport_fraud", "account_fraud", "city_fraud"}


_READ_BLACKLIST = """
import sys
from etl_process_for_detecting_fraudulent_transactions_spark.schemas import BLACKLIST_RAW
from etl_process_for_detecting_fraudulent_transactions_spark.session import get_spark
from etl_process_for_detecting_fraudulent_transactions_spark.sources.xlsx_source import read_xlsx_df

spark = get_spark(app_name="xlsx-tz", master="local[1]", shuffle_partitions=1)
df = read_xlsx_df(spark, sys.argv[1], BLACKLIST_RAW)
for row in df.selectExpr("date_format(date, 'yyyy-MM-dd HH:mm:ss')").collect():
    print("ROW", row[0])
spark.stop()
"""


def test_xlsx_datetimes_are_session_wall_clock(tmp_path):
    """A naive xlsx datetime is stored as that wall-clock time in the session
    time zone (UTC), whatever the driver process's own zone is."""
    path = str(tmp_path / "blacklist.xlsx")
    entries = [dt.datetime(2021, 3, 1, 0, 0), dt.datetime(2021, 3, 2, 13, 45, 30)]
    perfbench_module("corpus").write_xlsx(path, ["date", "passport"], [[e, "1234 567890"] for e in entries])
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    procs = {
        tz: subprocess.Popen([sys.executable, "-c", _READ_BLACKLIST, path], env=dict(env, TZ=tz),
                             stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for tz in ("UTC", "Europe/Moscow")
    }
    got = {}
    for tz, proc in procs.items():
        out, err = proc.communicate(timeout=300)
        assert proc.returncode == 0, err[-2000:]
        got[tz] = sorted(line[4:] for line in out.splitlines() if line.startswith("ROW "))
    assert got["UTC"] == got["Europe/Moscow"] == [f"{e:%Y-%m-%d %H:%M:%S}" for e in entries]
