"""SCD2 property tests (SURVEY.md §5 item 4): random snapshot sequences,
invariants checked on the resulting history:

1. per key, validity intervals partition time — no overlaps;
2. exactly one open (effective_to = HIGH_TS) version per live key; deleted
   keys have exactly one open tombstone (deleted_flg=1);
3. replaying the snapshots reproduces the final current view exactly;
4. langid smoke: trigram language ID classifies obvious samples.
"""

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

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
