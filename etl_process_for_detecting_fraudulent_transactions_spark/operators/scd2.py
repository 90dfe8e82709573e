"""SCD2 snapshot-diff historization as a pure DataFrame rewrite (SURVEY §2.8 X2).

The reference mutates a history table in place — anti-joins for new/deleted
rows, an equi-join with attribute-inequality residual for changed rows, then
two UPDATEs + three INSERTs (py_scripts/data_to_db.py:145-295). Spark has no
in-place UPDATE, and a Spark-first design doesn't want one: the new history
is a deterministic, testable transform of (history, snapshot) with an
injectable ``run_ts``, computed in ONE keyed pass. History and snapshot rows
are unioned and partitioned by the natural key once; per key, a window
collects the current versions and the snapshot's rows, which is everything
needed to classify each row (new or changed, deleted, affected), and one
generator emits each row's output versions: the kept or closed history row,
its tombstone, the opened row. (Round 1 classified with a full outer join,
which Spark runs only as sort-merge; its successor, two anti joins feeding
a semi and an anti join, was 5 dependent jobs on a 150-row dimension.)

Scale notes (100 TB design): dimension history ≪ facts, so a full rewrite per
load is cheap; the pass is one shuffle of history ∪ snapshot by key, whose
output AQE coalesces to one partition at dimension size. For a billion-key
dimension you'd swap the writer for Delta MERGE; the classifier here stays
the same.

Semantics replicated exactly:
- "current" = open (effective_to = HIGH_TS), non-deleted versions
  (the reference's view probes current_timestamp BETWEEN from AND to with
  deleted_flg = 0; with monotone load timestamps these coincide).
- a snapshot row is unchanged when it equals ANY current version of its key
  (the reference's join); each snapshot row is classified on its own, so a
  duplicated key opens one row per changed copy.
- changed-detection uses NULL-blind ``<>`` on each attribute, so NULL↔value
  transitions are missed — faithful to the reference (SURVEY §2.3 J4);
  ``null_safe_diff=True`` gives the fixed behavior.
- a NULL key never matches, as with the reference's ``=``: a NULL-key
  snapshot row always opens a live row, a NULL-key current row is never
  closed and gains a tombstone on every load.
- closing sets effective_to = run_ts - 1s on ALL open rows of affected keys
  (the reference's UPDATE has no deleted_flg filter).
- deleted keys are closed AND re-inserted as an open row with deleted_flg=1
  carrying the last-known attributes.
- new keys are affected too, so a re-added key's open TOMBSTONE gets closed
  (the reference never closes it — data_to_db.py:209-271 only updates
  changed/deleted keys — leaving two open rows per re-added terminal; that
  latent bug is not replicated: hist invariants > bug parity here, and the
  bundled data never re-adds a deleted terminal).
"""

from __future__ import annotations

import datetime as _dt
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HIGH_TS = _dt.datetime(2999, 12, 31, 23, 59, 59)


def current_view(hist: DataFrame, key: str = "terminal_id") -> DataFrame:
    """Open, non-deleted versions — the reference's STG_V_TERMINALS
    (data_to_db.py:158-168) without the wall-clock probe."""
    return hist.filter(
        (F.col("deleted_flg") == 0) & (F.col("effective_to") == F.lit(HIGH_TS))
    )


def scd2_apply_snapshot(
    hist: DataFrame,
    snapshot: DataFrame,
    run_ts: _dt.datetime,
    key: str = "terminal_id",
    attrs: tuple[str, ...] = ("terminal_type", "terminal_city", "terminal_address"),
    null_safe_diff: bool = False,
) -> DataFrame:
    """Return the post-load history for a full snapshot at ``run_ts``.

    ``hist`` may be empty (first load) but must carry the hist schema
    (key, *attrs, effective_from, effective_to, deleted_flg).
    """
    close_ts = run_ts - _dt.timedelta(seconds=1)

    def same(a, b):
        if null_safe_diff:
            eq = [a[x].eqNullSafe(b[x]) for x in attrs]
        else:
            # NULL-blind <>, faithful to the reference's changed-rows join: a
            # NULL on either side never counts as a change
            eq = [~F.coalesce(a[x] != b[x], F.lit(False)) for x in attrs]
        return reduce(lambda p, q: p & q, eq)

    def changed(row):
        return ~F.exists("cur_versions", lambda c: same(row, c))

    def version(**values):
        return F.struct(*[values.get(c, F.col(c)).alias(c) for c in hist.columns])

    snap = F.col("from_snapshot")
    is_open = F.col("effective_to") == F.lit(HIGH_TS)
    is_current = ~snap & is_open & (F.col("deleted_flg") == 0)
    keyed = F.col(key).isNotNull()

    w = Window.partitionBy(key)
    tagged = hist.withColumn("from_snapshot", F.lit(False)).unionByName(
        snapshot.select(key, *attrs).withColumn("from_snapshot", F.lit(True)),
        allowMissingColumns=True,
    ).withColumns({
        "cur_versions": F.collect_list(F.when(is_current, F.struct(*attrs))).over(w),
        "snap_versions": F.collect_list(F.when(snap, F.struct(*attrs))).over(w),
    })

    no_snapshot_row = ~keyed | (F.size("snap_versions") == 0)
    affected = keyed & (
        F.exists("snap_versions", changed)
        | ((F.size("cur_versions") > 0) & (F.size("snap_versions") == 0))
    )
    kept_or_closed = F.when(~snap, version(
        effective_to=F.when(is_open & affected, F.lit(close_ts)).otherwise(F.col("effective_to"))
    ))
    tombstone = F.when(is_current & no_snapshot_row, version(
        effective_from=F.lit(run_ts), effective_to=F.lit(HIGH_TS), deleted_flg=F.lit(1)
    ))
    opened = F.when(snap & (~keyed | changed(F.struct(*attrs))), version(
        effective_from=F.lit(run_ts), effective_to=F.lit(HIGH_TS), deleted_flg=F.lit(0)
    ))
    return tagged.select(F.inline(F.array_compact(F.array(kept_or_closed, tombstone, opened))))
