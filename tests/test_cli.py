"""The python -m CLI (reference `python main.py` parity)."""

import os
from collections import Counter

from etl_process_for_detecting_fraudulent_transactions_spark.__main__ import main
from tests.conftest import SEED_DUMP, day_run_ts, perfbench_module, stage_day


def test_cli_empty_landing_dir_fails(spark, tmp_path):
    (tmp_path / "data").mkdir()
    rc = main(
        ["--data-dir", str(tmp_path / "data"), "--store-dir", str(tmp_path / "store"),
         "--seed-dump", SEED_DUMP, "--show", "0"]
    )
    assert rc == 1


def test_cli_processes_one_day(spark, fraud_corpus, tmp_path):
    """One CLI invocation consumes the first pending day of a generated
    corpus: its inputs are archived and REP_FRAUD holds exactly the rows the
    DuckDB rules oracle expects for that day."""
    oracle = perfbench_module("oracle")
    day = fraud_corpus.dates[0]
    data = tmp_path / "data"
    stage_day(fraud_corpus, day, str(data))
    rc = main(
        ["--data-dir", str(data), "--store-dir", str(tmp_path / "store"),
         "--seed-dump", fraud_corpus.seed_path, "--show", "0"]
    )
    assert rc == 0
    assert os.listdir(data) == []  # the whole triplet was consumed
    assert len(os.listdir(tmp_path / "archive")) == 3
    hist = oracle.Scd2Oracle().apply(fraud_corpus.snapshots[day], day_run_ts(day))
    want = oracle.rep_fraud_rows(fraud_corpus.tx_path(day), day, fraud_corpus.cards(),
                                 fraud_corpus.accounts(), fraud_corpus.clients(),
                                 fraud_corpus.blacklists[day], hist)
    out = spark.read.parquet(str(tmp_path / "store" / "rep_fraud"))
    assert out.count() == len(want) > 0


def test_cli_leaves_the_live_session_settings(spark, tmp_path):
    """main() inside a process that already has a session reuses it as it
    is: get_spark's defaults (32 shuffle partitions) must not overwrite the
    session every later caller shares (conftest's 8)."""
    (tmp_path / "data").mkdir()
    rc = main(["--data-dir", str(tmp_path / "data"), "--store-dir", str(tmp_path / "store"),
               "--seed-dump", SEED_DUMP, "--show", "0"])
    assert rc == 1
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_cli_loop_keeps_every_day(spark, fraud_corpus, tmp_path):
    """--loop consumes both pending days in one process. The CLI stamps the
    wall clock, so both days land in one report_date partition and only
    report_dt tells them apart; the mart must keep both days' hits. The
    days leave no RDD cached behind them."""
    oracle = perfbench_module("oracle")
    data = tmp_path / "data"
    for day in fraud_corpus.dates:
        stage_day(fraud_corpus, day, str(data))

    def cached_rdds():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached_rdds()
    rc = main(
        ["--data-dir", str(data), "--store-dir", str(tmp_path / "store"),
         "--seed-dump", fraud_corpus.seed_path, "--show", "0", "--loop"]
    )
    assert rc == 0
    assert cached_rdds() - before == set()
    assert os.listdir(data) == []
    assert len(os.listdir(tmp_path / "archive")) == 6
    scd2 = oracle.Scd2Oracle()
    want = Counter()
    for day in fraud_corpus.dates:
        hist = scd2.apply(fraud_corpus.snapshots[day], day_run_ts(day))
        want.update(oracle.rep_fraud_rows(fraud_corpus.tx_path(day), day, fraud_corpus.cards(),
                                          fraud_corpus.accounts(), fraud_corpus.clients(),
                                          fraud_corpus.blacklists[day], hist))
    out = spark.read.parquet(str(tmp_path / "store" / "rep_fraud")).collect()
    assert Counter((r.event_dt, r.passport, r.fio, r.phone, r.event_type) for r in out) == want
    assert len({r.report_dt for r in out}) == 2


def test_bench_emits_contract_json(tmp_path):
    """bench.py is the driver's headline artifact: it must print exactly one
    JSON line with metric/value/unit/queries/errors/sf even when run on a
    key subset, and a failing query must land in errors, not kill the run."""
    import json
    import subprocess
    import sys

    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=os.path.join(
            os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"), "sf0.001"
        ),
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_KEYS="between_filter,concat_null,groupby_max",
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [l for l in proc.stdout.splitlines() if l.strip().startswith("{")]
    assert len(lines) == 1
    d = json.loads(lines[0])
    assert d["unit"] == "sec" and d["errors"] == {}
    assert set(d["queries"]) == {"between_filter", "concat_null", "groupby_max"}
    assert all(v > 0 for v in d["queries"].values())


def test_cli_query_mode_lists_and_runs():
    """`python -m pkg query` exposes the whole registry from the command
    line: --list prints every key; a key runs it on --sf-dir."""
    import contextlib
    import io

    from etl_process_for_detecting_fraudulent_transactions_spark.__main__ import main
    from etl_process_for_detecting_fraudulent_transactions_spark.queries import (
        all_queries,
    )

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        assert main(["query", "--list"]) == 0
    keys = buf.getvalue().split()
    assert set(keys) == set(all_queries())

    assert main(["query", "not_a_key"]) == 1
