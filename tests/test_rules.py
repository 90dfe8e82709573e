"""The fraud rules on hand-built inputs, against independent encodings.

Q1 and Q2 run on tiny dims and a CSV built to hit their edge cases, and are
compared with the DuckDB oracle (``perfbench/oracle.py::rep_fraud_rows``).
Q3 is compared with a pure-Python reading of SURVEY §2.9 over random cards,
cities and terminal histories, in all four ``(compat_time_filter,
compat_hist_join)`` combinations; the oracle covers only the compat pair.
``run_day``, which runs all four rules through one lookup chain, must return
exactly the union of the four public rule functions, on the generated corpus
and on a day built from the same dim edge cases.
"""

import datetime as dt
import os
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from tests.conftest import day_run_ts, perfbench_module

from etl_process_for_detecting_fraudulent_transactions_spark.operators.scd2 import HIGH_TS
from etl_process_for_detecting_fraudulent_transactions_spark.plans.ingest import (
    typed_blacklist,
    typed_transactions,
)
from etl_process_for_detecting_fraudulent_transactions_spark.plans.pipeline import HIST, PipelineState, run_day
from etl_process_for_detecting_fraudulent_transactions_spark.plans.rules import (
    account_fraud,
    city_fraud,
    guessing_amount_fraud,
    passport_fraud,
)
from etl_process_for_detecting_fraudulent_transactions_spark.schemas import (
    BLACKLIST_RAW,
    DIM_ACCOUNTS,
    DIM_CARDS,
    DIM_CLIENTS,
    DIM_TERMINALS_HIST,
)
from etl_process_for_detecting_fraudulent_transactions_spark.sources.csv_source import (
    read_transactions_csv,
    split_corrupt,
)
from etl_process_for_detecting_fraudulent_transactions_spark.sources.local import local_frame
from etl_process_for_detecting_fraudulent_transactions_spark.sources.seed_source import read_seed_dims
from etl_process_for_detecting_fraudulent_transactions_spark.sources.xlsx_source import read_xlsx_df
from etl_process_for_detecting_fraudulent_transactions_spark.storage import ParquetStore

RUN_DATE = dt.date(2021, 3, 2)
D0 = dt.date(2021, 1, 1)


def _client(cid, passport, valid_to, last="Ivanov"):
    return (cid, last, "Ivan", "Ivanovich", dt.date(1980, 1, 1), passport, valid_to,
            f"+7 900 {cid}", D0, None)


# one client per edge case; each owns one account and one card
CLIENTS = [
    _client("C1", "1111 000001", None),                       # NULL passport_valid_to
    _client("C2", "2222 000002", RUN_DATE),                   # expires on run_date: still valid
    _client("C3", "3333 000003", dt.date(2021, 3, 1)),        # expired and blacklisted
    _client("C4", "4444 000004", dt.date(2030, 1, 1)),        # blacklisted twice
    _client("C5", None, dt.date(2030, 1, 1)),                 # NULL passport, valid
    _client("C6", None, dt.date(2020, 1, 1)),                 # NULL passport, expired
    _client("C7", "7777 000007", dt.date(2030, 1, 1), None),  # valid; NULL last name
]
ACCOUNTS = [
    ("A1", dt.date(2030, 1, 1), "C1", D0, None),
    ("A2", dt.date(2030, 1, 1), "C2", D0, None),
    ("A3", dt.date(2030, 1, 1), "C3", D0, None),
    ("A4", dt.date(2030, 1, 1), "C4", D0, None),
    ("A5", dt.date(2030, 1, 1), "C5", D0, None),
    ("A6", dt.date(2030, 1, 1), "C6", D0, None),
    ("A7", dt.date(2021, 3, 1), "C7", D0, None),  # expired account
    ("A8", dt.date(2021, 2, 1), "C99", D0, None),  # expired, no such client
    ("A9", None, "C1", D0, None),                  # NULL valid_to: never expired
    ("A10", RUN_DATE, "C2", D0, None),             # expires on run_date: still valid
]
CARDS = [(f"{n:04d} 0000 0000 0000", a, D0, None) for n, a in enumerate(r[0] for r in ACCOUNTS)]
CARDS.append(("9999 0000 0000 0000", "A404", D0, None))  # card without an account
BLACKLIST = [
    (dt.datetime(2021, 2, 1), "3333 000003"),
    (dt.datetime(2021, 2, 1), "4444 000004"),
    (dt.datetime(2021, 3, 1), "4444 000004"),
    (dt.datetime(2021, 3, 1), None),
]


def _write_csv(path, cards):
    lines = ["transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"]
    t0 = dt.datetime.combine(RUN_DATE, dt.time(9, 0))
    n = 0
    for card in cards:
        for i in range(2):
            n += 1
            ts = t0 + dt.timedelta(minutes=7 * n + i)
            lines.append(f"{n};{ts:%Y-%m-%d %H:%M:%S};{100 + n},50;{card[0]};PAYMENT;SUCCESS;T1")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def test_passport_and_account_fraud_edge_cases_match_oracle(spark, tmp_path):
    csv = str(tmp_path / "transactions.txt")
    _write_csv(csv, CARDS)
    tx = typed_transactions(split_corrupt(read_transactions_csv(spark, csv))[0])
    cards = local_frame(spark, CARDS, DIM_CARDS)
    accounts = local_frame(spark, ACCOUNTS, DIM_ACCOUNTS)
    clients = local_frame(spark, CLIENTS, DIM_CLIENTS)
    blacklist = typed_blacklist(local_frame(spark, BLACKLIST, BLACKLIST_RAW))

    got = Counter(
        tuple(r) for df in (passport_fraud(tx, cards, accounts, clients, blacklist, RUN_DATE),
                            account_fraud(tx, cards, accounts, clients, RUN_DATE))
        for r in df.collect()
    )
    oracle = perfbench_module("oracle")
    hist = [("T9", "POS", "A", "addr", dt.datetime(2021, 1, 1), HIGH_TS, 0)]  # the oracle needs one row
    want = Counter(r for r in oracle.rep_fraud_rows(csv, RUN_DATE, CARDS, ACCOUNTS, CLIENTS, BLACKLIST, hist)
                   if r[4] in ("passport_fraud", "account_fraud"))
    assert got == want

    # the cases are live: two transactions per flagged card, one row each
    by_rule = Counter((r[4], r[1]) for r in got.elements())
    assert by_rule == {
        ("passport_fraud", "3333 000003"): 2,
        ("passport_fraud", "4444 000004"): 2,
        ("passport_fraud", None): 2,          # C6
        ("account_fraud", "7777 000007"): 2,  # A7; fio NULL through the NULL last name
        ("account_fraud", None): 2,           # A8, kept without a client
    }
    assert {r[2] for r in got if r[1] == "7777 000007"} == {None}


# --- Q3 -----------------------------------------------------------------------

T0 = dt.datetime(2021, 3, 2, 0, 0, 0)
TERMINALS = ["T0", "T1", "T2", "T3"]  # tx may also name T9, which no history holds
TX_SCHEMA = StructType([StructField("card_num", StringType()), StructField("trans_date", TimestampType()),
                        StructField("terminal", StringType())])


def _minutes(later, earlier):
    secs = (later - earlier).total_seconds()
    return int(secs / 60)  # truncates toward zero, as minutes_between


def _q3(tx, hist, identity, compat_time_filter, compat_hist_join):
    """SURVEY §2.9 Q3: join each transaction to its terminal's city (every
    history version in compat mode, current versions otherwise); keep cards
    with more than one distinct non-NULL city; order by time; flag a row
    whose next row's city differs and passes the time filter; one row per
    card at the latest flagged time."""
    versions = [h for h in hist if compat_hist_join or (h[6] == 0 and h[5] == HIGH_TS)]
    rows = {}
    for card, ts, terminal in tx:
        cities = [h[2] for h in versions if h[0] == terminal] or [None]
        rows.setdefault(card, []).extend((ts, c) for c in cities)
    out = []
    for card, seq in rows.items():
        if len({c for _, c in seq if c is not None}) <= 1:
            continue
        seq.sort(key=lambda r: r[0])
        flagged = []
        for (ts, city), (nts, ncity) in zip(seq, seq[1:]):
            gap = _minutes(ts, nts) if compat_time_filter else _minutes(nts, ts)
            if city is not None and ncity is not None and city != ncity and gap <= 60:
                flagged.append(ts)
        if flagged:
            out.append((max(flagged), *identity.get(card, (None, None, None)), "city_fraud"))
    return Counter(out)


@st.composite
def q3_inputs(draw):
    # a terminal's versions are all NULL-city or all non-NULL: a tie between
    # one city and NULL (two versions of one transaction) would make lead's
    # order, and so the answer, arbitrary
    hist = []
    for t in TERMINALS:
        nullable = draw(st.booleans())
        cities = st.just(None) if nullable else st.sampled_from("ABC")
        n = draw(st.integers(1, 2))
        for v in range(n):
            open_ = v == n - 1
            hist.append((t, "POS", draw(cities), "addr", T0 - dt.timedelta(days=10 - v),
                         HIGH_TS if open_ else T0 - dt.timedelta(days=9 - v, seconds=1),
                         draw(st.sampled_from([0, 1])) if open_ else 0))
    tx = []
    for c in range(draw(st.integers(2, 6))):
        offsets = draw(st.lists(st.integers(0, 4 * 3600), min_size=1, max_size=8, unique=True))
        for off in offsets:
            tx.append((f"card{c}", T0 + dt.timedelta(seconds=off), draw(st.sampled_from(TERMINALS + ["T9"]))))
    return tx, hist


@pytest.fixture(scope="module")
def q3_dims(spark):
    # card0 has no account and card1's account no client: the identity hops are left joins
    cards = [(f"card{c}", None if c == 0 else f"acc{c}", D0, None) for c in range(6)]
    accounts = [(f"acc{c}", None, f"cl{c}", D0, None) for c in range(1, 6)]
    clients = [_client(f"cl{c}", f"P{c}", None) for c in range(2, 6)]
    identity = {f"card{c}": (f"P{c}", "Ivanov Ivan Ivanovich", f"+7 900 cl{c}") for c in range(2, 6)}
    frames = (local_frame(spark, cards, DIM_CARDS), local_frame(spark, accounts, DIM_ACCOUNTS),
              local_frame(spark, clients, DIM_CLIENTS))
    return frames, identity


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(q3_inputs())
def test_city_fraud_matches_python_q3_in_every_mode(spark, q3_dims, inputs):
    tx_rows, hist_rows = inputs
    (cards, accounts, clients), identity = q3_dims
    tx = local_frame(spark, tx_rows, TX_SCHEMA)
    hist = local_frame(spark, hist_rows, DIM_TERMINALS_HIST)
    for compat_time_filter in (True, False):
        for compat_hist_join in (True, False):
            got = Counter(tuple(r) for r in city_fraud(
                tx, hist, cards, accounts, clients,
                compat_time_filter=compat_time_filter, compat_hist_join=compat_hist_join,
            ).collect())
            want = _q3(tx_rows, hist_rows, identity, compat_time_filter, compat_hist_join)
            assert got == want, (compat_time_filter, compat_hist_join)


# --- run_day == the four rules -------------------------------------------------

MODES = [(t, h) for t in (True, False) for h in (True, False)]


@pytest.fixture(scope="module")
def edge_day(tmp_path_factory):
    """One day's input files over the Q1/Q2 edge-case dims plus a duplicate
    card row: each card pays at T1 (city A) then T2 (city B), so Q3 flags
    every card, and A7's card also carries a Q4 guessing chain."""
    corpus = perfbench_module("corpus")
    root = str(tmp_path_factory.mktemp("edge_day"))
    cards = CARDS + [CARDS[2]]  # a duplicate card row (A3, expired and blacklisted passport)
    block = corpus.Block(clients=CLIENTS, accounts=ACCOUNTS, cards=cards, card_city={}, terminals={},
                         by_city={}, mutable=[])
    seed_path = os.path.join(root, "ddl_dml.sql")
    with open(seed_path, "w") as f:
        f.write(corpus._sql_dump(corpus.Corpus(root=root, k=1, seed=0, blocks=[block])))
    tag = corpus.ddmmyyyy(RUN_DATE)
    lines = ["transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"]
    t0 = dt.datetime.combine(RUN_DATE, dt.time(9, 0))
    for n, card in enumerate(CARDS):
        for i, terminal in enumerate(("T1", "T2")):
            ts = t0 + dt.timedelta(minutes=30 * n + 7 * i)
            lines.append(f"{2 * n + i};{ts:%Y-%m-%d %H:%M:%S};{100 + n},50;{card[0]};PAYMENT;SUCCESS;{terminal}")
    chain = [("REJECT", 300), ("REJECT", 200), ("REJECT", 100), ("SUCCESS", 50)]
    for i, (result, amount) in enumerate(chain):
        ts = dt.datetime.combine(RUN_DATE, dt.time(20, 0)) + dt.timedelta(minutes=3 * i)
        lines.append(f"{900 + i};{ts:%Y-%m-%d %H:%M:%S};{amount},00;{CARDS[6][0]};WITHDRAW;{result};T1")
    with open(os.path.join(root, f"transactions_{tag}.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    corpus.write_xlsx(os.path.join(root, f"terminals_{tag}.xlsx"),
                      ["terminal_id", "terminal_type", "terminal_city", "terminal_address"],
                      [["T1", "POS", "A", "a1"], ["T2", "POS", "B", "b1"]])
    corpus.write_xlsx(os.path.join(root, f"passport_blacklist_{tag}.xlsx"), ["date", "passport"],
                      [list(r) for r in BLACKLIST])
    return seed_path, root, [RUN_DATE]


def _four_rules(spark, seed_path, data_dir, day, hist, compat_time_filter, compat_hist_join):
    """The day's rows from the four public rule functions, on the inputs
    ``run_day`` reads and the history it left behind."""
    tag = perfbench_module("corpus").ddmmyyyy(day)
    dims = read_seed_dims(spark, seed_path)
    cards, accounts, clients = dims["cards"], dims["accounts"], dims["clients"]
    tx = typed_transactions(split_corrupt(read_transactions_csv(
        spark, os.path.join(data_dir, f"transactions_{tag}.txt")))[0])
    blacklist = typed_blacklist(read_xlsx_df(
        spark, os.path.join(data_dir, f"passport_blacklist_{tag}.xlsx"), BLACKLIST_RAW))
    frames = (
        passport_fraud(tx, cards, accounts, clients, blacklist, day),
        account_fraud(tx, cards, accounts, clients, day),
        city_fraud(tx, hist, cards, accounts, clients,
                   compat_time_filter=compat_time_filter, compat_hist_join=compat_hist_join),
        guessing_amount_fraud(tx, cards, accounts, clients),
    )
    return Counter(tuple(r) for df in frames for r in df.collect())


@pytest.mark.parametrize("compat_time_filter,compat_hist_join", MODES)
@pytest.mark.parametrize("inputs", ["corpus", "edge_day"])
def test_run_day_equals_the_four_rules(spark, request, tmp_path, inputs, compat_time_filter, compat_hist_join):
    if inputs == "corpus":
        c = request.getfixturevalue("fraud_corpus")
        seed_path, data_dir, days = c.seed_path, c.data_dir, c.dates
    else:
        seed_path, data_dir, days = request.getfixturevalue("edge_day")
    state = PipelineState(store=ParquetStore(spark, str(tmp_path / "store")), seed_dump_path=seed_path,
                          compat_time_filter=compat_time_filter, compat_hist_join=compat_hist_join,
                          archive=False)
    corpus = perfbench_module("corpus")
    for day in days:
        got = Counter(
            (r.event_dt, r.passport, r.fio, r.phone, r.event_type)
            for r in run_day(spark, state, data_dir, run_date=corpus.ddmmyyyy(day), run_ts=day_run_ts(day)).collect()
        )
        want = _four_rules(spark, seed_path, data_dir, day, state.store.read(HIST, DIM_TERMINALS_HIST),
                           compat_time_filter, compat_hist_join)
        assert got == want, (day, got - want, want - got)
        # the comparison is not vacuous: Q1-Q3 fire on every input, Q4 on the edge day
        want_types = {"passport_fraud", "account_fraud", "city_fraud"}
        if inputs == "edge_day":
            want_types.add("guessing_amount_fraud")
        assert {r[4] for r in got} >= want_types
