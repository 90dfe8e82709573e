"""Tests of the benchmark's own parts: generator, xlsx writer, oracle, timer.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import csv
import datetime as dt
import filecmp
import os
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import corpus as C  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402
from run import _run_ts  # noqa: E402


def _corpus(root, seed=3, k=1, days=4):
    c = C.new_corpus(str(root), seed, k)
    for _ in range(days):
        C.write_day(c)
    return c


def test_same_seed_gives_identical_files(tmp_path):
    a, b = _corpus(tmp_path / "a", days=2), _corpus(tmp_path / "b", days=2)
    names = sorted(os.listdir(a.data_dir))
    assert len(names) == 6 and names == sorted(os.listdir(b.data_dir))
    match, mismatch, errors = filecmp.cmpfiles(a.data_dir, b.data_dir, names, shallow=False)
    assert not mismatch and not errors
    assert filecmp.cmp(a.seed_path, b.seed_path, shallow=False)
    c = _corpus(tmp_path / "c", seed=4, days=2)
    assert not filecmp.cmp(a.tx_path(a.dates[0]), c.tx_path(c.dates[0]), shallow=False)


@pytest.fixture(scope="module")
def spark():
    from etl_process_for_detecting_fraudulent_transactions_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[1]", shuffle_partitions=1)
    yield s
    s.stop()


def test_xlsx_round_trips_through_reader(tmp_path, spark):
    from etl_process_for_detecting_fraudulent_transactions_spark.schemas import (
        BLACKLIST_RAW,
        TERMINALS_SNAPSHOT,
    )
    from etl_process_for_detecting_fraudulent_transactions_spark.sources.xlsx_source import read_xlsx_df

    c = _corpus(tmp_path, days=2)
    for day in c.dates:
        tag = C.ddmmyyyy(day)
        terms = read_xlsx_df(spark, os.path.join(c.data_dir, f"terminals_{tag}.xlsx"), TERMINALS_SNAPSHOT)
        assert sorted(tuple(r) for r in terms.collect()) == sorted(c.snapshots[day])
        bl = read_xlsx_df(spark, os.path.join(c.data_dir, f"passport_blacklist_{tag}.xlsx"), BLACKLIST_RAW)
        got = sorted(tuple(r) for r in bl.collect())
        assert got == sorted(c.blacklists[day])  # the all-blank rows are dropped
        assert all(isinstance(e, dt.datetime) for e, _ in got)


def _tx(c, day):
    with open(c.tx_path(day), encoding="utf-8") as f:
        return list(csv.DictReader(f, delimiter=";"))


def test_oracle_reproduces_planted_expectations(tmp_path):
    c = _corpus(tmp_path, days=4)
    block = c.blocks[0]
    clients = {r[0]: r for r in block.clients}
    account_owner = {a[0]: a[2] for a in block.accounts}
    card_client = {k[0]: account_owner[k[1]] for k in block.cards}
    card_account = {k[0]: k[1] for k in block.cards}
    scd2 = oracle.Scd2Oracle()
    for i, day in enumerate(c.dates):
        hist = scd2.apply(c.snapshots[day], _run_ts(day))
        rows = oracle.rep_fraud_rows(c.tx_path(day), day, c.cards(), c.accounts(), c.clients(),
                                     c.blacklists[day], hist)
        by_rule = Counter(r[4] for r in rows)
        tx = _tx(c, day)

        # Q1: client 0 expired before the first day; client 1 expires ON day 1
        # (still valid that day); client 2 is blacklisted from day 1 on
        bad = {block.clients[0][0]} | ({block.clients[1][0]} if i >= 2 else set()) \
            | ({block.clients[2][0]} if i >= 1 else set())
        assert by_rule["passport_fraud"] == sum(card_client[t["card_num"]] in bad for t in tx)
        # Q2: account 3 expired before the first day; account 4 expires ON day 2
        dead = {block.accounts[3][0]} | ({block.accounts[4][0]} if i >= 3 else set())
        assert by_rule["account_fraud"] == sum(card_account[t["card_num"]] in dead for t in tx)

        # Q3/Q4: exactly the planted rows (the 74-minute hop is flagged because
        # the compat time filter is vacuous); the counterexamples add nothing
        want = Counter()
        for card, rule, at in c.planted[day]:
            cl = clients[card_client[card]]
            fio = None if cl[3] is None else f"{cl[1]} {cl[2]} {cl[3]}"
            want[(at, cl[5], fio, cl[7], rule)] += 1
        got = Counter(r for r in rows if r[4] in ("city_fraud", "guessing_amount_fraud"))
        assert got == want
        assert by_rule["city_fraud"] == 2 and by_rule["guessing_amount_fraud"] == 1


def test_scd2_oracle_replays_add_change_delete(tmp_path):
    c = _corpus(tmp_path, days=3)
    scd2 = oracle.Scd2Oracle()
    sizes = [len(scd2.apply(c.snapshots[d], _run_ts(d))) for d in c.dates]
    # day 2: one terminal added and two addresses changed (3 opened rows);
    # day 3: that terminal deleted (tombstone) and one address changed (2 opened)
    assert sizes == [150, 153, 155]
    hist = scd2.apply(c.snapshots[c.dates[-1]], _run_ts(c.dates[-1]) + dt.timedelta(days=1))
    assert sum(1 for r in hist if r[6] == 1) == 1


def test_stopwatch_removes_the_stolen_share(monkeypatch):
    ticks = iter([(1000, 50), (1300, 150)])  # 300 busy, 100 stolen: a quarter lost
    monkeypatch.setattr(spans, "cpu_ticks", lambda: next(ticks))
    clock = iter([10.0, 18.0])
    monkeypatch.setattr(spans.time, "perf_counter", lambda: next(clock))
    assert spans.Stopwatch().elapsed() == pytest.approx(8.0 * 0.75 ** 2)
