"""Daily-batch orchestration — the reference's main.py as one function.

``run_day`` mirrors the lifecycle at main.py:1-26: rebuild per-run dims/fact
from the seed dump + day files, historize terminals (SCD2), evaluate the four
fraud rules, append REP_FRAUD, archive consumed files. Per-run tables are
plain lazy DataFrames (the reference's STG_* tables and views are exactly
unexecuted logical plans); only terminals-hist and the report mart persist
(SURVEY §1.1).

Ordering: every input is read before the history is touched (the seed dump
and xlsx files parsed, the CSV resolved), so a missing or malformed file
fails the day with the store unchanged. The SCD2 swap then runs on a worker
thread, inside the caller's job group, while the calling thread plans
everything that never reads the history: the Q1/Q2 candidates, Q4's hits
and the flagged account and client sides. Q3's events are planned on the
swapped history; the day's events then go through ONE card → account →
client lookup chain (``rules.fraud_rows``), and the mart append starts only
after the swap has committed. The raw CSV, cached for the dead-letter
split, is released once the append is done.

Determinism: ``run_ts`` is injected everywhere the reference stamps wall
clock (SCD2 effective_from/to, report_dt) so golden replays are exact.
"""

from __future__ import annotations

import datetime as _dt
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scd2 import scd2_apply_snapshot
from ..schemas import BLACKLIST_RAW, DIM_TERMINALS_HIST, REP_FRAUD, TERMINALS_SNAPSHOT
from ..sources.csv_source import read_transactions_csv, split_corrupt
from ..sources.files import archive_file, ddmmyyyy_to_iso, discover_run_date
from ..sources.seed_source import read_seed_dims
from ..sources.xlsx_source import read_xlsx_df
from ..storage import ParquetStore
from .ingest import typed_blacklist, typed_transactions
from .report import stamp, union_rules
from .rules import (
    city_events,
    flagged_accounts,
    flagged_clients,
    fraud_rows,
    guessing_events,
    transaction_events,
)

HIST = "dwh_dim_terminals_hist"
REPORT = "rep_fraud"


@dataclass
class PipelineState:
    """Persistent-store handle + per-run knobs."""

    store: ParquetStore
    seed_dump_path: str
    compat_time_filter: bool = True
    compat_hist_join: bool = True
    archive: bool = True


def run_day(
    spark: SparkSession,
    state: PipelineState,
    data_dir: str,
    run_date: str | None = None,
    run_ts: _dt.datetime | None = None,
) -> DataFrame:
    """Process one day of incoming files; returns the day's report rows.

    ``run_date``: DDMMYYYY (discovered from the transactions file when None).
    ``run_ts``: the logical load timestamp (wall clock when None).
    """
    date = run_date or discover_run_date(data_dir)
    iso = _dt.date.fromisoformat(ddmmyyyy_to_iso(date))
    ts = run_ts or _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)

    tx_path = os.path.join(data_dir, f"transactions_{date}.txt")
    term_path = os.path.join(data_dir, f"terminals_{date}.xlsx")
    bl_path = os.path.join(data_dir, f"passport_blacklist_{date}.xlsx")

    # per-run rebuild: seed dims + day fact + cumulative blacklist
    dims = read_seed_dims(spark, state.seed_dump_path)
    raw_tx = read_transactions_csv(spark, tx_path)
    blacklist = typed_blacklist(read_xlsx_df(spark, bl_path, BLACKLIST_RAW))

    # SCD2 historization of the terminals snapshot
    snapshot = read_xlsx_df(spark, term_path, TERMINALS_SNAPSHOT)
    new_hist = scd2_apply_snapshot(state.store.read(HIST, DIM_TERMINALS_HIST), snapshot, run_ts=ts)

    transactions = typed_transactions(split_corrupt(raw_tx)[0])
    try:
        with ThreadPoolExecutor(max_workers=1) as pool:
            swap = pool.submit(inheritable_thread_target(spark)(state.store.overwrite_swap), new_hist, HIST)
            events = [transaction_events(transactions), guessing_events(transactions)]
            accounts = flagged_accounts(dims["accounts"], iso)
            clients = flagged_clients(dims["clients"], blacklist, iso)
            swap.result()
        events.append(city_events(
            transactions, state.store.read(HIST, DIM_TERMINALS_HIST),
            compat_time_filter=state.compat_time_filter,
            compat_hist_join=state.compat_hist_join,
        ))
        report = stamp(fraud_rows(union_rules(events), dims["cards"], accounts, clients), ts)
        state.store.append(report, REPORT, partition_by=["report_date"])
    finally:
        raw_tx.unpersist()  # split_corrupt's cache: the frame returned below reads the mart

    if state.archive:
        archive_dir = os.path.join(data_dir, os.pardir, "archive")
        for p in (tx_path, term_path, bl_path):
            if os.path.exists(p):
                archive_file(p, archive_dir)

    # report_date (the stamp's partition column) prunes the read to the
    # day's directory; report_dt alone cannot be mapped to it
    mart = state.store.read(REPORT, REP_FRAUD)
    return mart.filter(
        (F.col("report_date") == F.to_date(F.lit(ts))) & (F.col("report_dt") == F.lit(ts))
    )
