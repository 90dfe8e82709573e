"""Structured Streaming forms of the fraud rules and of a few registry
operators (SURVEY.md §2.11: the reference is a strict daily micro-batch;
this is the streaming path next to batch parity).

Design:
- ``stream_transactions``: file-source stream over a landing directory of
  semicolon-CSV transaction files, typed by the batch ingest
  (``plans.ingest.typed_transactions``), so the fact has one typing
  boundary. ``maxFilesPerTrigger`` gives the daily-file cadence; source
  checkpointing replaces the batch archive step S8.
- Stateless rules need no streaming form: the batch functions in
  ``plans.rules`` (Q1 ``passport_fraud``, Q2 ``account_fraud``) are
  stream-static broadcast joins and a generator, and run unchanged on the
  streaming frame. ``card_sessions``, ``dedup_stream`` and
  ``reject_then_success_join`` likewise run on batch and streaming frames.
- Per-key sequence rules (Q4 ``guessing_amount_stream``, the intended Q3
  ``city_fraud_stream``, and the funnel, EWMA, as-of and drift monitors)
  share one ``applyInPandasWithState`` skeleton, ``_stateful_scan``; each
  supplies only its projection, sort keys, initial state and per-key step.
  Q4's step is ``match_step``, the rep_fraud.py:187-261 matcher.
- ``stream_events_to_mart``, ``near_dup_stream`` and ``ann_probe_stream``
  write through ``foreachBatch``.

Scale notes: state is keyed (card, user or series) and shuffle-partitioned;
watermarks bound the windowed and join state; a processing-time timeout
drops the state of idle keys.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Iterator
from itertools import accumulate

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.casts import int_amount
from ..plans.ingest import typed_transactions
from ..plans.report import stamp
from ..plans.rules import flagged_accounts, flagged_clients, fraud_rows
from ..schemas import TRANSACTIONS_RAW

EVENT_SCHEMA = StructType(
    [
        StructField("card_num", StringType()),
        StructField("event_dt", TimestampType()),
        StructField("event_type", StringType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("results", StringType()),  # '|'-joined last ≤3 oper_results
        StructField("amts", StringType()),     # '|'-joined last ≤3 int amounts
        StructField("ts_us", StringType()),    # '|'-joined last ≤3 unix-micros
    ]
)


def stream_transactions(spark: SparkSession, landing_dir: str, max_files: int = 1) -> DataFrame:
    """File-source stream of incoming transactions, one daily file per
    micro-batch by default, typed exactly as batch (``typed_transactions``:
    an amount that does not parse is NULL, not a failed query)."""
    return typed_transactions(
        spark.readStream.schema(TRANSACTIONS_RAW)
        .option("sep", ";")
        .option("header", True)
        .option("maxFilesPerTrigger", max_files)
        .csv(landing_dir)
    )


def card_sessions(tx: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Gap-based session windows per card: consecutive transactions closer
    than ``gap`` merge into one session (``session_window`` — dynamic-width,
    unlike a fixed sliding window). State is per (card, open
    session); the watermark closes sessions and garbage-collects their
    state, so memory is bounded by concurrently-active cards, not history.
    Works identically on a batch frame (same function, no streaming-only
    fork) — equivalence is asserted in tests/test_streaming.py."""
    return (
        tx.withWatermark("trans_date", watermark)
        .groupBy(F.session_window("trans_date", gap), F.col("card_num"))
        .agg(
            F.count(F.lit(1)).alias("n_tx"),
            F.sum("amt").cast("double").alias("amt_sum"),
        )
        .select(
            "card_num",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_tx",
            "amt_sum",
        )
    )


def dedup_stream(tx: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact deduplication on the event id:
    ``dropDuplicatesWithinWatermark`` keeps per-id state only until the
    watermark passes it, so state is bounded by the dedup horizon instead of
    growing with the stream — the streaming counterpart of the batch
    ``dedup_exact`` gate (re-delivered files, at-least-once upstreams)."""
    return tx.withWatermark("trans_date", watermark).dropDuplicatesWithinWatermark(
        ["trans_id"]
    )


def reject_then_success_join(
    tx: DataFrame, watermark: str = "1 hour", within_minutes: int = 20
) -> DataFrame:
    """Stream-stream self join with an event-time range condition: every
    (REJECT, SUCCESS) pair on the same card where the success lands within
    ``within_minutes`` after the reject — the pairwise precursor of the Q4
    guessing pattern. The watermark plus the time-range bound lets Spark
    GC both sides' join state (a reject older than watermark+range can
    never match a future success). Inner join: results are exactly the
    batch join of the same frames — equivalence asserted in
    tests/test_streaming.py."""
    rejects = (
        tx.filter(F.col("oper_result") == "REJECT")
        .select(
            "card_num",
            F.col("trans_date").alias("reject_ts"),
            F.col("amt").alias("reject_amt"),
        )
        .withWatermark("reject_ts", watermark)
    )
    successes = (
        tx.filter(F.col("oper_result") == "SUCCESS")
        .select(
            F.col("card_num").alias("s_card"),
            F.col("trans_date").alias("success_ts"),
        )
        .withWatermark("success_ts", watermark)
    )
    return rejects.join(
        successes,
        (F.col("card_num") == F.col("s_card"))
        & (F.col("success_ts") > F.col("reject_ts"))
        & (
            F.col("success_ts")
            <= F.col("reject_ts") + F.expr(f"INTERVAL {within_minutes} MINUTES")
        ),
        "inner",
    ).select("card_num", "reject_ts", "reject_amt", "success_ts")


def match_step(
    results: list[str], amts: list[int], ts_us: list[int],
    row_result: str, row_amt: int, row_ts: int,
) -> bool:
    """One step of the Q4 sequence matcher (pure, Spark-free, unit-testable):
    given the rolling last-3 history (oldest→newest), does the incoming row
    complete a fraud pattern? Mutates the history in place (append + trim)."""
    is_fraud = (
        row_result == "SUCCESS"
        and len(results) == 3
        and all(r == "REJECT" for r in results)
        and amts[0] > amts[1] > amts[2] > row_amt
        and (row_ts - ts_us[0]) <= 20 * 60 * 1_000_000
    )
    results.append(row_result)
    amts.append(row_amt)
    ts_us.append(row_ts)
    if len(results) > 3:
        results.pop(0)
        amts.pop(0)
        ts_us.pop(0)
    return is_fraud


_IDLE_MS = 6 * 60 * 60 * 1000  # processing time after which a key's state is dropped


def _stateful_scan(
    frame: DataFrame,
    key: str,
    sort_by: list[str],
    out_schema: StructType,
    state_schema: StructType,
    init: tuple,
    step: Callable[[object, tuple, pd.DataFrame], tuple[tuple, list[tuple]]],
) -> DataFrame:
    """Per-key ordered scan with state across micro-batches
    (``applyInPandasWithState``, append output).

    Per key and micro-batch, the key's rows are stable-sorted by ``sort_by``
    and ``step(key, state, rows)`` returns the new state tuple and a list of
    output tuples in ``out_schema`` order; a key without state starts from
    ``init``. A key idle for ``_IDLE_MS`` of processing time loses its state:
    the timeout call removes it, since updating it there would re-arm the
    timer forever. Cross-batch order comes from the file cadence.
    """
    # nullable Int64: a long output column may hold NULL (an unreached funnel step)
    longs = {f.name: "Int64" for f in out_schema.fields if isinstance(f.dataType, LongType)}

    def scan(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs)).sort_values(sort_by, kind="mergesort")
        new_state, out = step(key[0], state.get if state.exists else init, rows)
        state.update(new_state)
        state.setTimeoutDuration(_IDLE_MS)
        if out:
            yield pd.DataFrame(out, columns=out_schema.fieldNames()).astype(longs)

    return frame.groupBy(key).applyInPandasWithState(
        scan,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def guessing_amount_stream(tx: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Q4 as a stateful streaming operator: a per-card ``match_step`` scan.

    State carries the last 3 (oper_result, int_amount, ts). Emits
    (card_num, event_dt, 'guessing_amount_fraud') rows in append mode.
    """
    filtered = (
        tx.filter(F.col("oper_type").isin("PAYMENT", "WITHDRAW"))
        .withWatermark("trans_date", watermark)
        .select(
            "card_num",
            "trans_date",
            F.unix_micros("trans_date").alias("ts_us"),
            "oper_result",
            int_amount("amt").alias("amt_int"),
        )
    )

    def step(card, st, rows):
        results, amts, ts_us = (s.split("|") if s else [] for s in st)
        amts, ts_us = [int(a) for a in amts], [int(t) for t in ts_us]
        events = [
            (card, r.trans_date, "guessing_amount_fraud")
            for r in rows.itertuples()
            if match_step(results, amts, ts_us, r.oper_result, int(r.amt_int), int(r.ts_us))
        ]
        return ("|".join(results), "|".join(map(str, amts)), "|".join(map(str, ts_us))), events

    return _stateful_scan(filtered, "card_num", ["trans_date"], EVENT_SCHEMA, STATE_SCHEMA,
                          ("", "", ""), step)


def stream_events_to_mart(
    events: DataFrame,
    cards: DataFrame,
    accounts: DataFrame,
    clients: DataFrame,
    store,
    checkpoint_dir: str,
    mart_name: str = "rep_fraud",
):
    """Complete the streaming path into the report mart: per micro-batch,
    enrich matcher events with the card→account→client identity chain (the
    batch rules' own ``fraud_rows``) and append to the hive-partitioned
    REP_FRAUD store via ``foreachBatch``. The matchers emit typed events
    only, so each event yields exactly one report row of its type.

    foreachBatch is the right sink here because the mart write is an
    idempotent-per-batch append of a small enriched frame — full sink
    semantics (exactly-once via checkpoint + batchId) without a custom sink.
    Returns the StreamingQuery.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        enriched = fraud_rows(batch_df, cards, flagged_accounts(accounts), flagged_clients(clients))
        run_ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None, microsecond=0)
        store.append(stamp(enriched, run_ts), mart_name, partition_by=["report_date"])

    return (
        events.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


CITY_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", StringType()),  # last event unix-micros (str for null-safety)
        StructField("last_city", StringType()),
    ]
)


def city_fraud_stream(
    tx_with_city: DataFrame, watermark: str = "2 hours", within_minutes: int = 60
) -> DataFrame:
    """The city rule (SURVEY §2.9 Q3, INTENDED semantics) as a stateful
    streaming operator: per card, emit an event whenever two consecutive
    transactions happen in different cities within ``within_minutes``.

    Input must already carry ``terminal_city`` (broadcast-join the current
    terminal dim in front: the lookup composes the same way as in batch).
    State = last (ts, city) per card — O(1) per key, watermark+timeout bound
    the key set. Batch Q3 reports max(trans_date) per card per day; the
    streaming form naturally reports every boundary as it happens.
    """
    within_us = within_minutes * 60 * 1_000_000
    filtered = tx_with_city.withWatermark("trans_date", watermark).select(
        "card_num",
        "trans_date",
        F.unix_micros("trans_date").alias("ts_us"),
        "terminal_city",
    )

    def step(card, st, rows):
        last_ts, last_city = int(st[0]) if st[0] else None, st[1]
        events = []
        for r in rows.itertuples():
            city, ts = r.terminal_city, int(r.ts_us)
            if last_city is not None and city is not None and city != last_city and ts - last_ts <= within_us:
                events.append((card, r.trans_date, "city_fraud"))
            last_ts, last_city = ts, city
        return ("" if last_ts is None else str(last_ts), last_city), events

    return _stateful_scan(filtered, "card_num", ["trans_date"], EVENT_SCHEMA, CITY_STATE_SCHEMA,
                          ("", None), step)


# -- streaming funnel ---------------------------------------------------------

FUNNEL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("stage", IntegerType()),
        StructField("t_view_us", LongType()),
        StructField("t_click_us", LongType()),
        StructField("t_purchase_us", LongType()),
    ]
)

# 0 = unset; stage advances monotonically so three longs are the whole state
FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("t_view_us", LongType()),
        StructField("t_click_us", LongType()),
        StructField("t_purchase_us", LongType()),
    ]
)


def funnel_stream(
    ev: DataFrame, window_hours: int = 24, watermark: str = "48 hours"
) -> DataFrame:
    """The batch ``funnel_steps`` cascade (queries/extra.py) as a per-user
    stateful streaming operator: state = the three step timestamps, O(1)
    per user; an output row is emitted each time a user's stage ADVANCES.

    Each micro-batch is scanned in event-time order, so the first view
    seen IS the min view. Equivalence with the batch funnel on an ordered
    replay is pinned in tests/test_streaming.py."""
    w_us = window_hours * 3600 * 1_000_000
    event_type = F.col("event_type")
    filtered = (
        ev.filter(event_type.isin("view", "click", "purchase"))
        .withWatermark("ts", watermark)
        .select(
            "user_id",
            "event_type",
            "ts",
            F.unix_micros("ts").alias("ts_us"),
            # equal-timestamp ties scan in FUNNEL-STEP order so a click@T
            # qualifies against a view@T (batch semantics: the window bound
            # is inclusive)
            F.when(event_type == "view", 0).when(event_type == "click", 1).otherwise(2).alias("_step"),
        )
    )

    def step(user, st, rows):
        t_view, t_click, t_purchase = st
        out = []

        def stage() -> int:
            return 3 if t_purchase else 2 if t_click else 1 if t_view else 0

        before = stage()
        for r in rows.itertuples():
            ts = int(r.ts_us)
            if r.event_type == "view" and not t_view:
                t_view = ts
            elif r.event_type == "click" and t_view and not t_click and t_view <= ts <= t_view + w_us:
                t_click = ts
            elif r.event_type == "purchase" and t_click and not t_purchase and t_click <= ts <= t_click + w_us:
                t_purchase = ts
            if stage() > before:
                # OUTPUT uses NULL for steps not yet reached — a 0 sentinel
                # in a LongType timestamp column reads as epoch-1970
                # downstream; 0 stays internal to the (non-nullable) state
                before = stage()
                out.append((user, before, t_view or None, t_click or None, t_purchase or None))
        return (t_view, t_click, t_purchase), out

    return _stateful_scan(filtered, "user_id", ["ts_us", "_step"], FUNNEL_OUT_SCHEMA,
                          FUNNEL_STATE_SCHEMA, (0, 0, 0), step)


# -- streaming incremental near-dup detection ---------------------------------
# The streaming form of queries.dedup.dedup_incremental: a persisted LSH
# index over the historical corpus; each micro-batch of NEW documents band-
# joins against it (plus itself), gets exact-Jaccard verified, and then its
# own signatures append to the index — so later batches see earlier ones and
# the union over batches equals the batch operator's (new×old) ∪ (new×new)
# pair set exactly. Old×old is never touched, which is the entire point of
# the daily-production shape at 100 TB.


def seed_near_dup_index(docs: DataFrame, index_dir: str) -> None:
    """Build the persisted LSH index for ``near_dup_stream``: per-doc shingle
    arrays (the verify side) + banded minhash rows (the candidate side).
    Both derive map-side from one scan of ``docs`` (no shuffle). Layout is
    one ``batch=<id>`` partition directory per write so every later append
    is an idempotent per-batch overwrite."""
    from ..queries.dedup import _doc_shingle_arrays, _minhash_banded

    arr = _doc_shingle_arrays(docs).localCheckpoint(eager=True)
    arr.write.mode("overwrite").parquet(f"{index_dir}/arrays/batch=seed")
    _minhash_banded(arr).write.mode("overwrite").parquet(
        f"{index_dir}/banded/batch=seed"
    )


def _near_dup_process_batch(
    batch_df: DataFrame, batch_id: int, index_dir: str, pairs_dir: str
) -> None:
    """One micro-batch of the near-dup stream — module-level so the retry
    contract is directly testable: rerunning the SAME (batch_df, batch_id)
    must leave pairs and index byte-identical (every write is an overwrite
    of this batch's own partition directory)."""
    from ..queries.dedup import (
        _doc_shingle_arrays,
        _minhash_banded,
        _verify_exact_jaccard,
    )

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    # the index EXCLUDING this batch's own partition: a retried batch
    # (crash after its index write) must see exactly the state its first
    # attempt saw, so its own batch=b<id> rows are filtered out before the
    # partition key is dropped
    own = f"b{batch_id}"
    arr_old = (
        spark.read.parquet(f"{index_dir}/arrays")
        .filter(F.col("batch") != own)
        .select("doc_id", "shs")
    )
    banded_old = (
        spark.read.parquet(f"{index_dir}/banded")
        .filter(F.col("batch") != own)
        .select("doc_id", "band_key")
    )
    # first-write-wins across batches: a doc_id redelivered in a LATER
    # batch is already indexed (and already had its pairs emitted when
    # first seen) — drop it from the batch so the index stays one row per
    # doc and no pair is re-emitted under a new batch id
    arr_new = (
        _doc_shingle_arrays(batch_df)
        .join(arr_old.select("doc_id"), "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    banded_new = _minhash_banded(arr_new).localCheckpoint(eager=True)
    n, o = banded_new.alias("n"), banded_old.alias("o")
    # new×index candidates, normalized to doc_a < doc_b (ids are global;
    # the sides are disjoint by the anti-join above)
    cand_no = n.join(o, F.col("n.band_key") == F.col("o.band_key")).select(
        F.least(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_a"),
        F.greatest(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_b"),
    )
    a, b = banded_new.alias("a"), banded_new.alias("b")
    cand_nn = a.join(
        b,
        (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    cand = cand_no.unionByName(cand_nn).distinct()
    pairs = _verify_exact_jaccard(arr_old.unionByName(arr_new), cand)
    pairs.write.mode("overwrite").parquet(f"{pairs_dir}/batch=b{batch_id}")
    arr_new.write.mode("overwrite").parquet(f"{index_dir}/arrays/batch=b{batch_id}")
    banded_new.write.mode("overwrite").parquet(
        f"{index_dir}/banded/batch=b{batch_id}"
    )


def near_dup_stream(
    docs_stream: DataFrame, index_dir: str, pairs_dir: str, checkpoint_dir: str
):
    """Streaming incremental near-dup detection via ``foreachBatch``.

    Per micro-batch: compute the batch's shingle arrays + band keys map-side
    (the same per-row expressions the batch gates use — streaming-legal by
    construction), band-join against the persisted index AND the batch
    itself, verify candidates with the exact ``array_intersect`` Jaccard,
    write verified pairs, THEN add the batch's arrays/band rows to the
    index so subsequent batches treat it as corpus.

    foreachBatch because the index update is a batch-only write that must
    happen after the pair emit within the same micro-batch — not expressible
    as a pure streaming sink. Delivery semantics, both pinned in
    tests/test_streaming_neardup.py:
    - RETRY (same batch id, incl. crash-after-index-write): every write is
      an OVERWRITE of a ``batch=b<id>`` partition directory and the batch
      reads the index with its OWN partition excluded, so a retry replays
      against exactly the state the first attempt saw and replaces its
      output byte-for-byte.
    - REDELIVERY (same doc in a later batch id): first-write-wins — docs
      already in the index are anti-joined out of the batch, so the index
      keeps one row per doc and previously-emitted pairs are never
      re-emitted (a changed payload under a redelivered id is ignored).
    Returns the StreamingQuery.
    """
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _near_dup_process_batch(batch_df, batch_id, index_dir, pairs_dir)

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# -- streaming ANN serving over the persisted IVF-PQ index ---------------------
# The online half of operators/pq_index.py: the index is built once from the
# corpus; query vectors then ARRIVE as a stream and each micro-batch probes
# the persisted index (coarse-rank -> partition-pruned codes scan -> ADC
# top-k). Because a probe is per-query independent and read-only, streaming
# results are EXACTLY the batch probe of the same queries — pinned in
# tests/test_streaming_ann.py — and retries are idempotent by the same
# per-batch-partition overwrite discipline as near_dup_stream.


def _ann_probe_process_batch(
    batch_df: DataFrame, batch_id: int, index_path: str, results_dir: str
) -> None:
    """One micro-batch of query vectors → top-k rows for this batch's
    partition directory. Module-level so the retry contract is directly
    testable (same batch ⇒ byte-identical overwrite)."""
    from ..operators.pq_index import query_pq_index

    if batch_df.isEmpty():
        return
    res = query_pq_index(
        batch_df.sparkSession, index_path, batch_df, exclude_self=False
    )
    res.write.mode("overwrite").parquet(f"{results_dir}/batch=b{batch_id}")


def ann_probe_stream(
    queries_stream: DataFrame,
    index_path: str,
    results_dir: str,
    checkpoint_dir: str,
):
    """Streaming ANN serving via ``foreachBatch``.

    ``queries_stream``: streaming frame of (query_id, embedding
    array<double>). Each micro-batch coarse-ranks its queries against the
    broadcast centroids, prunes the codes scan to the probed inverted-list
    partitions, ADC-scores, and overwrites its own ``batch=b<id>`` results
    partition (idempotent retry). foreachBatch because the probe needs the
    driver-side probed-list collect for static partition pruning — a
    metadata collect, not data — which a pure streaming plan cannot
    express. The index itself is read-only here; index growth is the
    separate append path (operators/pq_index.py + near_dup_stream show
    both halves of that discipline)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        _ann_probe_process_batch(batch_df, batch_id, index_path, results_dir)

    return (
        queries_stream.writeStream.foreachBatch(process_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# -- online EWMA anomaly detection --------------------------------------------

EWMA_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("event_id", LongType()),
        StructField("x_milli", LongType()),
        StructField("s_prev_milli", LongType()),
    ]
)

# state: (s_milli, n_seen) — two longs per series, O(1) forever
EWMA_STATE_SCHEMA = StructType(
    [StructField("s", LongType()), StructField("n", LongType())]
)


def ewma_stream(ev: DataFrame) -> DataFrame:
    """Online per-event EWMA anomaly detection: the fixed-point recurrence
    of the batch ``ewma_anomaly`` gate (alpha = 3/16, integer millis,
    truncating div — nonnegative operands) run per event over a stream,
    per event_type series, via ``applyInPandasWithState``. State is TWO
    longs (current smoothed value, count); an output row is emitted for
    every event deviating >20% from the running EWMA (the integer
    cross-multiplied |x - s|*5 > s test), carrying the pre-update EWMA so
    consumers can reconstruct the decision.

    Each micro-batch is scanned in (ts, event_id) order. Exact-replay
    equivalence against an independent plain-Python recurrence is pinned
    in tests/test_streaming.py."""
    filtered = (
        ev.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            F.floor(F.col("value") * 1000).cast("bigint").alias("x_milli"),
        )
    )

    def step(series, st, rows):
        s, n = st
        out = []
        for r in rows.itertuples():
            x = int(r.x_milli)
            if n > 0:
                if abs(x - s) * 5 > s:
                    out.append((series, int(r.event_id), x, s))
                s = (3 * x + 13 * s) // 16
            else:
                s = x
            n += 1
        return (s, n), out

    return _stateful_scan(filtered, "event_type", ["ts_us", "event_id"], EWMA_OUT_SCHEMA,
                          EWMA_STATE_SCHEMA, (0, 0), step)


# -- streaming backward as-of enrichment ----------------------------------------
# The streaming form of queries.timeseries.asof_join_nearest: per-user state
# carries only the LATEST click (two longs), each purchase emits enriched
# with it — the classic stream-enrichment shape where the batch op's carry
# window becomes O(1) state. Same semantics as the batch gate: inclusive
# at the same instant, same-(ts) click ties resolve to the max event_id
# (batch sorts by (ts, kind, event_id); the scan replays that order
# inside each micro-batch, and the >=-replace rule makes the max-id click
# win among equal timestamps). Ordered-replay equivalence with the batch
# operator is pinned in tests/test_streaming.py.

ASOF_OUT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("purch_us", LongType()),
        StructField("click_us", LongType()),
        StructField("gap_us", LongType()),
        StructField("click_event_id", LongType()),
    ]
)

# (click_us, click_event_id, has_click). The explicit flag — not a (0, 0)
# sentinel — keeps a click landing at exactly epoch 0 microseconds (or with
# event_id 0 on the tie-break) distinguishable from "no click yet", matching
# the batch asof_join_nearest this operator is pinned against.
ASOF_STATE_SCHEMA = StructType(
    [
        StructField("click_us", LongType()),
        StructField("click_id", LongType()),
        StructField("has_click", BooleanType()),
    ]
)


def asof_stream(ev: DataFrame, watermark: str = "48 hours") -> DataFrame:
    filtered = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .withWatermark("ts", watermark)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            # clicks before purchases at the same instant (kind 0 < 1:
            # inclusive match), event_id ascending so the last same-ts
            # click to apply is the max id — the batch tie-break
            (F.col("event_type") == "purchase").cast("int").alias("_kind"),
        )
    )

    def step(user, st, rows):
        click_us, click_id, has_click = st
        out = []
        for r in rows.itertuples():
            ts, eid = int(r.ts_us), int(r.event_id)
            if r.event_type == "click":
                if not has_click or ts > click_us or (ts == click_us and eid > click_id):
                    click_us, click_id, has_click = ts, eid, True
            elif has_click:
                out.append((eid, user, ts, click_us, ts - click_us, click_id))
        return (click_us, click_id, has_click), out

    return _stateful_scan(filtered, "user_id", ["ts_us", "_kind", "event_id"], ASOF_OUT_SCHEMA,
                          ASOF_STATE_SCHEMA, (0, 0, False), step)


# -- streaming distribution-drift monitor ----------------------------------------
# The online form of queries.stats.ks_two_sample: each event type's VALUE
# distribution is monitored against a fixed reference histogram (shipped to
# executors as a closure constant — it is O(bins), not data). State per key
# is the running per-bin count vector; every micro-batch emits the current
# KS-style drift as the exact integer max cross-difference
# |cum_stream * n_ref - cum_ref * n_stream| over the bin prefix — the same
# arithmetic the batch gate hashes, so the final emission on a full drain
# equals a batch replay bit-for-bit (pinned in tests/test_streaming.py).
# State is bins+1 longs per key, independent of stream length.

DRIFT_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_seen", LongType()),
        StructField("max_cross_diff", LongType()),
        StructField("drift_ppm", LongType()),
    ]
)


def drift_state_schema(nbins: int) -> StructType:
    return StructType(
        [
            StructField("n", LongType()),
            *(StructField(f"b{i}", LongType()) for i in range(nbins)),
        ]
    )


def bin_counts(vs: "np.ndarray", lo: int, width: int, nbins: int) -> "np.ndarray":
    """Histogram a batch of int64 milli-values into nbins edge-clipped bins.

    Vectorized equivalent of the scalar ``min(max((v - lo) // width, 0),
    nbins - 1)`` per-row rule (numpy ``//`` is floor division like Python's,
    so negatives bin identically); one C pass per micro-batch instead of a
    Python row loop. Equivalence with the scalar rule and per-batch
    throughput are pinned in tests/test_streaming.py.
    """
    binned = np.clip((vs - lo) // width, 0, nbins - 1)
    return np.bincount(binned, minlength=nbins)


def drift_stream(
    ev: DataFrame,
    ref_counts: list,
    lo: int,
    width: int,
    watermark: str = "48 hours",
) -> DataFrame:
    nbins = len(ref_counts)
    ref_n = sum(ref_counts)
    ref_cum = list(accumulate(ref_counts))

    filtered = (
        ev.filter(F.col("value").isNotNull())
        .withWatermark("ts", watermark)
        .select(
            "event_type",
            F.floor(F.col("value") * 1000).cast("bigint").alias("v"),
        )
    )

    def step(event_type, st, rows):
        vs = rows["v"].to_numpy(dtype=np.int64)
        n = st[0] + len(vs)
        counts = [c + int(b) for c, b in zip(st[1:], bin_counts(vs, lo, width, nbins))]
        maxd = max(abs(cum * ref_n - rc * n) for cum, rc in zip(accumulate(counts), ref_cum))
        drift_ppm = (maxd * 1_000_000 // (n * ref_n)) if n and ref_n else 0
        return (n, *counts), [(event_type, n, maxd, drift_ppm)]

    # binning is order-free: no sort keys
    return _stateful_scan(filtered, "event_type", [], DRIFT_OUT_SCHEMA, drift_state_schema(nbins),
                          (0,) * (nbins + 1), step)
