"""SCD2 property tests (SURVEY.md §5 item 4): random snapshot sequences,
invariants checked on the resulting history:

1. per key, validity intervals partition time — no overlaps;
2. exactly one open (effective_to = HIGH_TS) version per live key; deleted
   keys have exactly one open tombstone (deleted_flg=1);
3. replaying the snapshots reproduces the final current view exactly;
4. langid smoke: trigram language ID classifies obvious samples.

Parity: random snapshot sequences over the three terminal attributes (NULL
values, deletes, re-adds) must equal the independent replay in
``perfbench/oracle.py::Scd2Oracle`` after every load. Inputs the oracle
cannot express (NULL keys, duplicate snapshot keys, a seeded history with
several open rows per key, the NULL-safe diff) are pinned as explicit cases.
"""

import datetime as dt
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import perfbench_module

KEYS = ["T%d" % i for i in range(8)]
ATTR_VALUES = ["a", "b", "c", None]


snapshot_strategy = st.lists(
    st.dictionaries(
        st.sampled_from(KEYS),
        st.tuples(st.sampled_from(ATTR_VALUES[:3]), st.sampled_from(ATTR_VALUES[:3])),
        min_size=0,
        max_size=len(KEYS),
    ),
    min_size=1,
    max_size=4,
)


@pytest.fixture(scope="module")
def scd2_env(spark):
    from etl_process_for_detecting_fraudulent_transactions_spark.operators.scd2 import (
        HIGH_TS,
        current_view,
        scd2_apply_snapshot,
    )

    def apply_all(snapshots):
        hist = spark.createDataFrame(
            [],
            "terminal_id string, terminal_type string, terminal_city string, "
            "effective_from timestamp, effective_to timestamp, deleted_flg int",
        )
        t = dt.datetime(2024, 1, 1, 12, 0, 0)
        for i, snap in enumerate(snapshots):
            sdf = spark.createDataFrame(
                [(k, v[0], v[1]) for k, v in snap.items()],
                "terminal_id string, terminal_type string, terminal_city string",
            )
            hist = scd2_apply_snapshot(
                hist, sdf, run_ts=t + dt.timedelta(days=i),
                attrs=("terminal_type", "terminal_city"),
            ).localCheckpoint(eager=True)
        return hist

    return apply_all, current_view, HIGH_TS


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(snapshots=snapshot_strategy)
def test_scd2_invariants(scd2_env, snapshots):
    apply_all, current_view, HIGH_TS = scd2_env
    hist = apply_all(snapshots)
    rows = hist.collect()

    by_key = {}
    for r in rows:
        by_key.setdefault(r.terminal_id, []).append(r)

    last_snap = snapshots[-1]
    live_keys = set(last_snap)
    seen_keys = set().union(*[set(s) for s in snapshots])

    for key, versions in by_key.items():
        versions.sort(key=lambda r: (r.effective_from, r.effective_to))
        # (1) no interval overlap: each version closes before the next opens
        for v1, v2 in zip(versions, versions[1:]):
            assert v1.effective_to < v2.effective_from, (
                f"{key}: overlapping versions {v1} / {v2}"
            )
        open_rows = [v for v in versions if v.effective_to == HIGH_TS]
        # (2) exactly one open row; tombstone iff key absent from last snapshot
        assert len(open_rows) == 1, f"{key}: {len(open_rows)} open rows"
        if key in live_keys:
            assert open_rows[0].deleted_flg == 0
        else:
            assert open_rows[0].deleted_flg == 1

    # (3) current view == last snapshot
    cur = {
        r.terminal_id: (r.terminal_type, r.terminal_city)
        for r in current_view(hist).collect()
    }
    assert cur == dict(last_snap)
    # every key ever seen has history
    assert set(by_key) == seen_keys


def test_scd2_null_transitions_blind_and_safe(spark):
    """NULL-blind diff (the reference's ``<>``) misses value<->NULL
    transitions and sees a real change; the NULL-safe diff sees all three.
    K1 value->NULL, K2 NULL->value, K3 unchanged NULL, K4 a->b."""
    from etl_process_for_detecting_fraudulent_transactions_spark.operators.scd2 import (
        HIGH_TS,
        scd2_apply_snapshot,
    )

    t0, t1 = dt.datetime(2024, 1, 1, 12), dt.datetime(2024, 1, 2, 12)
    hist = spark.createDataFrame(
        [(k, v, t0, HIGH_TS, 0) for k, v in (("K1", "a"), ("K2", None), ("K3", None), ("K4", "a"))],
        "terminal_id string, terminal_city string, effective_from timestamp, "
        "effective_to timestamp, deleted_flg int",
    )
    snap = spark.createDataFrame(
        [("K1", None), ("K2", "b"), ("K3", None), ("K4", "b")],
        "terminal_id string, terminal_city string",
    )

    def opened(null_safe):
        out = scd2_apply_snapshot(hist, snap, run_ts=t1, attrs=("terminal_city",),
                                  null_safe_diff=null_safe)
        return {(r.terminal_id, r.terminal_city) for r in out.collect()
                if r.effective_from == t1}

    assert opened(False) == {("K4", "b")}
    assert opened(True) == {("K1", None), ("K2", "b"), ("K4", "b")}


PARITY_KEYS = ["T0", "T1", "T2", "T3", "T4"]
ATTRS3 = ("terminal_type", "terminal_city", "terminal_address")
parity_strategy = st.lists(
    st.dictionaries(
        st.sampled_from(PARITY_KEYS),
        st.tuples(*[st.sampled_from(ATTR_VALUES)] * 3),
        min_size=0,
        max_size=len(PARITY_KEYS),
    ),
    min_size=1,
    max_size=5,
)


def _hist_frame(spark, rows):
    from etl_process_for_detecting_fraudulent_transactions_spark.schemas import DIM_TERMINALS_HIST
    from etl_process_for_detecting_fraudulent_transactions_spark.sources.local import local_frame

    return local_frame(spark, rows, DIM_TERMINALS_HIST)


def _snapshot_frame(spark, rows):
    from etl_process_for_detecting_fraudulent_transactions_spark.schemas import TERMINALS_SNAPSHOT
    from etl_process_for_detecting_fraudulent_transactions_spark.sources.local import local_frame

    return local_frame(spark, rows, TERMINALS_SNAPSHOT)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(snapshots=parity_strategy)
def test_scd2_matches_oracle_after_every_load(spark, snapshots):
    from etl_process_for_detecting_fraudulent_transactions_spark.operators.scd2 import scd2_apply_snapshot

    oracle = perfbench_module("oracle").Scd2Oracle()
    hist = _hist_frame(spark, [])
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    for i, snap in enumerate(snapshots):
        rows = [(k, *v) for k, v in snap.items()]
        run_ts = t + dt.timedelta(days=i)
        hist = scd2_apply_snapshot(hist, _snapshot_frame(spark, rows), run_ts=run_ts,
                                   attrs=ATTRS3).localCheckpoint(eager=True)
        got = Counter(tuple(r) for r in hist.collect())
        assert got == Counter(oracle.apply(rows, run_ts)), (i, snapshots)


T0 = dt.datetime(2024, 1, 1, 12, 0, 0)
T1 = dt.datetime(2024, 1, 2, 12, 0, 0)
T2 = dt.datetime(2024, 1, 3, 12, 0, 0)
SEC = dt.timedelta(seconds=1)
HIGH = dt.datetime(2999, 12, 31, 23, 59, 59)

# (history, snapshot, run_ts, null_safe_diff, expected history)
EXPLICIT_CASES = {
    # a NULL key never matches, as with the join's `=`: a NULL-key snapshot
    # row always opens a live row and closes nothing; a NULL-key current row
    # stays open and gains a tombstone on every load
    "null_key": (
        [(None, "POS", "A", "a1", T0, HIGH, 0), (None, "ATM", "B", "b1", T0, HIGH, 1),
         ("T1", "POS", "A", "a", T0, HIGH, 0), ("T2", "POS", "B", "b", T0, HIGH, 0)],
        [(None, "POS", "A", "a1"), ("T1", "POS", "A", "a")],
        T1, False,
        [(None, "POS", "A", "a1", T0, HIGH, 0), (None, "ATM", "B", "b1", T0, HIGH, 1),
         ("T1", "POS", "A", "a", T0, HIGH, 0), ("T2", "POS", "B", "b", T0, T1 - SEC, 0),
         (None, "POS", "A", "a1", T1, HIGH, 0), (None, "POS", "A", "a1", T1, HIGH, 1),
         ("T2", "POS", "B", "b", T1, HIGH, 1)],
    ),
    # duplicate snapshot keys are classified row by row: an unchanged copy
    # opens nothing, a changed copy opens a row, and a new key opens one row
    # per copy
    "duplicate_snapshot_key": (
        [("T1", "POS", "A", "a", T0, HIGH, 0), ("T2", "POS", "B", "b", T0, HIGH, 0)],
        [("T1", "POS", "A", "a"), ("T1", "POS", "C", "c"), ("T2", "POS", "B", "b"),
         ("T2", "POS", "B", "b"), ("T3", "ATM", "D", "d"), ("T3", "ATM", "D", "d")],
        T1, False,
        [("T1", "POS", "A", "a", T0, T1 - SEC, 0), ("T1", "POS", "C", "c", T1, HIGH, 0),
         ("T2", "POS", "B", "b", T0, HIGH, 0),
         ("T3", "ATM", "D", "d", T1, HIGH, 0), ("T3", "ATM", "D", "d", T1, HIGH, 0)],
    ),
    # NULL-safe diff: a re-added key (open tombstone, no current version)
    # opens a live row and closes its tombstone even with identical NULL
    # attributes; NULL -> value is a change, NULL -> NULL is not
    "null_safe_readd": (
        [("T1", "POS", None, "a", T0, T1 - SEC, 0), ("T1", "POS", None, "a", T1, HIGH, 1),
         ("T2", "POS", None, "b", T0, HIGH, 0), ("T3", "POS", None, "c", T0, HIGH, 0)],
        [("T1", "POS", None, "a"), ("T2", "POS", None, "b"), ("T3", "POS", "X", "c")],
        T2, True,
        [("T1", "POS", None, "a", T0, T1 - SEC, 0), ("T1", "POS", None, "a", T1, T2 - SEC, 1),
         ("T2", "POS", None, "b", T0, HIGH, 0), ("T3", "POS", None, "c", T0, T2 - SEC, 0),
         ("T1", "POS", None, "a", T2, HIGH, 0), ("T3", "POS", "X", "c", T2, HIGH, 0)],
    ),
    # closing hits ALL open rows of an affected key whatever their
    # deleted_flg; a snapshot row equal to any one current version of a key
    # with two is unchanged
    "several_open_rows": (
        [("T1", "POS", "A", "a", T0, HIGH, 1), ("T1", "POS", "B", "b", T1, HIGH, 0),
         ("T2", "POS", "A", "a", T0, HIGH, 0), ("T2", "POS", "B", "b", T0, HIGH, 0)],
        [("T1", "POS", "C", "c"), ("T2", "POS", "A", "a")],
        T2, False,
        [("T1", "POS", "A", "a", T0, T2 - SEC, 1), ("T1", "POS", "B", "b", T1, T2 - SEC, 0),
         ("T2", "POS", "A", "a", T0, HIGH, 0), ("T2", "POS", "B", "b", T0, HIGH, 0),
         ("T1", "POS", "C", "c", T2, HIGH, 0)],
    ),
}


@pytest.mark.parametrize("case", sorted(EXPLICIT_CASES))
def test_scd2_explicit_cases(spark, case):
    from etl_process_for_detecting_fraudulent_transactions_spark.operators.scd2 import scd2_apply_snapshot

    hist, snap, run_ts, null_safe, want = EXPLICIT_CASES[case]
    out = scd2_apply_snapshot(_hist_frame(spark, hist), _snapshot_frame(spark, snap), run_ts=run_ts,
                              attrs=ATTRS3, null_safe_diff=null_safe)
    assert Counter(tuple(r) for r in out.collect()) == Counter(want)


def test_langid_smoke(spark):
    from etl_process_for_detecting_fraudulent_transactions_spark.functions.textops import (
        lang_id_ngram,
    )

    samples = [
        ("the quick brown fox and the lazy dog sing of the morning", "en"),
        ("der schnelle braune fuchs und der faule hund singen schön", "de"),
        ("le renard brun rapide et le chien paresseux que la vie", "fr"),
    ]
    df = spark.createDataFrame(samples, "text string, expected string").withColumn(
        "pred", lang_id_ngram("text")
    )
    for r in df.collect():
        assert r.pred == r.expected, f"{r.text!r}: {r.pred} != {r.expected}"
