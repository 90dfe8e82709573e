"""Physical-plan regression tests: the optimizations the engine's scale
story depends on (SCALING.md) are asserted, not assumed.

Uses the pre-AQE executed plan string (the properties checked — pushed
filters, broadcast strategy, Window-node count, partition pruning — are
decided before adaptive re-planning).
"""

import pytest
from pyspark.sql import functions as F

from etl_process_for_detecting_fraudulent_transactions_spark.queries.relational import (
    window_lag_seq,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_reach_parquet_scan(spark, sf_dir):
    """Predicate pushdown + column pruning: the scan itself carries the
    filter, and reads only the projected columns."""
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_orderpriority), EqualTo(o_orderpriority,1-URGENT)" in plan
    assert "ReadSchema: struct<o_orderkey:bigint,o_orderpriority:string>" in plan


def test_dim_joins_are_broadcast(spark, sf_dir):
    """The 3-hop identity chain broadcasts every dim — the fact side never
    shuffles for a lookup."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.relational import (
        join_3hop_agg,
    )

    plan = _plan(join_3hop_agg(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_lag_sequence_uses_single_window_node(spark, sf_dir):
    """All four lags of the Q4 shape collapse into ONE Window node over one
    card exchange (lagging the materialized column, not the cast
    expression — SURVEY §7 hard-part (4))."""
    plan = _plan(window_lag_seq(spark, sf_dir))
    assert plan.count("Window ") + plan.count("Window[") <= 2  # one logical node
    # exactly one exchange introduced by the window partitioning
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_report_mart_reads_prune_partitions(spark, tmp_path):
    """REP_FRAUD is hive-partitioned by report_date; a date filter prunes
    at the partition level (PartitionFilters), not per-row."""
    import datetime as dt

    from etl_process_for_detecting_fraudulent_transactions_spark.storage import ParquetStore

    store = ParquetStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(dt.datetime(2021, 3, d, 12, 0), f"p{d}", dt.date(2021, 3, d)) for d in (1, 2, 3)],
        "event_dt timestamp, passport string, report_date date",
    )
    store.append(df, "rep_fraud", partition_by=["report_date"])
    got = store.read("rep_fraud").filter(F.col("report_date") == "2021-03-02")
    plan = _plan(got)
    assert "PartitionFilters: [isnotnull(report_date" in plan
    assert got.count() == 1


def test_run_day_read_back_prunes_to_the_day(fraud_run):
    """run_day returns the day's mart rows through a scan pruned to the
    day's report_date directory, so the read-back does not list and scan
    every earlier day's files."""
    day = fraud_run[-1]
    plan = _plan(day["report"])
    pf = plan[plan.index("PartitionFilters: ["):]
    pf = pf[: pf.index("]")]
    assert "isnotnull(report_date" in pf and f"= {day['day'].isoformat()})" in pf, pf


@pytest.fixture(scope="module")
def day_inputs(spark, fraud_corpus, tmp_path_factory):
    """The first corpus day's rule inputs, built as run_day builds them; the
    terminal history is that day's SCD2 load of an empty history, written to
    a store and read back as run_day reads it."""
    import datetime as dt
    import os

    from tests.conftest import perfbench_module

    from etl_process_for_detecting_fraudulent_transactions_spark.operators.scd2 import scd2_apply_snapshot
    from etl_process_for_detecting_fraudulent_transactions_spark.plans.pipeline import HIST
    from etl_process_for_detecting_fraudulent_transactions_spark.plans.ingest import (
        typed_blacklist,
        typed_transactions,
    )
    from etl_process_for_detecting_fraudulent_transactions_spark.schemas import (
        BLACKLIST_RAW,
        DIM_TERMINALS_HIST,
        TERMINALS_SNAPSHOT,
    )
    from etl_process_for_detecting_fraudulent_transactions_spark.sources.csv_source import (
        read_transactions_csv,
        split_corrupt,
    )
    from etl_process_for_detecting_fraudulent_transactions_spark.sources.local import local_frame
    from etl_process_for_detecting_fraudulent_transactions_spark.sources.seed_source import read_seed_dims
    from etl_process_for_detecting_fraudulent_transactions_spark.sources.xlsx_source import read_xlsx_df
    from etl_process_for_detecting_fraudulent_transactions_spark.storage import ParquetStore

    day = fraud_corpus.dates[0]
    tag = perfbench_module("corpus").ddmmyyyy(day)
    xlsx = lambda name, schema: read_xlsx_df(  # noqa: E731
        spark, os.path.join(fraud_corpus.data_dir, f"{name}_{tag}.xlsx"), schema)
    dims = read_seed_dims(spark, fraud_corpus.seed_path)
    snapshot = xlsx("terminals", TERMINALS_SNAPSHOT)
    store = ParquetStore(spark, str(tmp_path_factory.mktemp("day_inputs")))
    store.overwrite_swap(scd2_apply_snapshot(local_frame(spark, [], DIM_TERMINALS_HIST), snapshot,
                                             run_ts=dt.datetime.combine(day, dt.time(23, 0))), HIST)
    return {
        "day": day,
        "transactions": typed_transactions(split_corrupt(read_transactions_csv(spark, fraud_corpus.tx_path(day)))[0]),
        "blacklist": typed_blacklist(xlsx("passport_blacklist", BLACKLIST_RAW)),
        "snapshot": snapshot,
        "hist": store.read(HIST, DIM_TERMINALS_HIST),
        "dims": (dims["cards"], dims["accounts"], dims["clients"]),
    }


def test_scd2_on_a_history_is_one_key_exchange(day_inputs):
    """A load over a stored history is one keyed pass: a single hash
    exchange of history and snapshot on the key, and no join."""
    import datetime as dt

    from etl_process_for_detecting_fraudulent_transactions_spark.operators.scd2 import scd2_apply_snapshot

    run_ts = dt.datetime.combine(day_inputs["day"], dt.time(23, 0)) + dt.timedelta(days=1)
    plan = _plan(scd2_apply_snapshot(day_inputs["hist"], day_inputs["snapshot"], run_ts=run_ts))
    assert plan.count("Exchange hashpartitioning(terminal_id") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_city_fraud_is_one_card_exchange(day_inputs):
    """Q3 counts each card's distinct cities in the same window pass as its
    leads: one hash exchange on card_num, no distinct aggregate, and no
    broadcast of a card set back into the fact."""
    from etl_process_for_detecting_fraudulent_transactions_spark.plans.rules import city_fraud

    plan = _plan(city_fraud(day_inputs["transactions"], day_inputs["hist"], *day_inputs["dims"]))
    assert plan.count("Exchange hashpartitioning(card_num") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "count(distinct" not in plan, plan


def test_passport_fraud_blacklist_is_existence_join(day_inputs):
    """Q1 tests blacklist membership as a broadcast ExistenceJoin: no
    distinct over the blacklist, so no aggregate and no shuffle."""
    from etl_process_for_detecting_fraudulent_transactions_spark.plans.rules import passport_fraud

    plan = _plan(passport_fraud(day_inputs["transactions"], *day_inputs["dims"], day_inputs["blacklist"],
                                day_inputs["day"]))
    assert "ExistenceJoin" in plan, plan
    assert "HashAggregate" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan


def test_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    """ORDER BY + LIMIT compiles to TakeOrderedAndProject (per-partition
    partial top-k), not a full global sort."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.extra import topk_orders

    plan = _plan(topk_orders(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_q19_disjunction_pushes_to_both_scans(spark, sf_dir):
    """Catalyst OR-factoring extracts the per-side prunable parts of the
    OR-of-conjunctions predicate and pushes them into BOTH parquet scans —
    lineitem rows outside every quantity range and part rows outside every
    (brand, size) branch never leave the scan."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.tpch_more import (
        tpch_q19_disjunctive_revenue,
    )

    plan = _plan(tpch_q19_disjunctive_revenue(spark, sf_dir))
    # one pushed OR filter mentioning quantity (lineitem side), one mentioning
    # brand/size (part side)
    assert "PushedFilters: [IsNotNull(l_partkey), Or(" in plan
    assert "Or(Or(And(EqualTo(p_brand,Brand#4)" in plan


def test_q4_exists_compiles_to_semi_join_with_residual(spark, sf_dir):
    """The EXISTS subquery becomes a LeftSemi join carrying the non-equi
    shipdate comparison as a residual — no duplication, no aggregate-dedup."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.tpch_more import (
        tpch_q4_order_priority,
    )

    plan = _plan(tpch_q4_order_priority(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "+ INTERVAL '30' DAY" in plan


def test_q22_scalar_aggregate_broadcasts_one_row(spark, sf_dir):
    """The scalar AVG-gate is a 1-row broadcast nested-loop cross join, and
    the dormancy NOT EXISTS is a broadcast anti join — the customer side
    never shuffles."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.tpch_more import (
        tpch_q22_dormant_customers,
    )

    plan = _plan(tpch_q22_dormant_customers(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_q6_filters_all_reach_lineitem_scan(spark, sf_dir):
    """Q6 is scan-bound by design: date range, discount band and quantity
    cap all appear as data filters on the single parquet scan, and the only
    exchange is the 1-row final aggregate."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.tpch_rest import (
        tpch_q6_forecast_revenue,
    )

    plan = _plan(tpch_q6_forecast_revenue(spark, sf_dir))
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln][0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in scan
    assert plan.count("Exchange") == 1 and "SinglePartition" in plan


def test_q21_self_joins_compile_to_semi_and_anti(spark, sf_dir):
    """The EXISTS / NOT EXISTS pair compiles to a LeftSemi and a LeftAnti
    join, each carrying the supplier-inequality as a residual — no
    aggregate-dedup, no cartesian blowup."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.tpch_rest import (
        tpch_q21_waiting_suppliers,
    )

    plan = _plan(tpch_q21_waiting_suppliers(spark, sf_dir))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert plan.count("NOT (l_suppkey") == 2


def test_stats_gate_reuses_heavy_shuffle_at_runtime(spark, sf_dir):
    """Q11's value-vs-total gate references the per-partkey aggregate twice;
    at runtime AQE must dedupe the heavy subtree (ReusedExchange) so the
    fact-side join+shuffle executes once — the property that makes the
    two-pass scalar-gate pattern viable at 100 TB."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.tpch_rest import (
        tpch_q11_important_parts,
    )

    df = tpch_q11_important_parts(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_stratified_sample_is_shuffle_free(spark, sf_dir):
    """Hash-threshold sampling is a pure scan-side filter/projection: the
    physical plan contains NO exchange at all — the property that makes the
    sampler a single map pass at 100 TB."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.sampling import (
        stratified_sample,
    )

    plan = _plan(stratified_sample(spark, sf_dir))
    assert "Exchange" not in plan
    assert "FileScan parquet" in plan


def test_pit_probe_plan_is_one_broadcast_join(spark, sf_dir):
    """The as-of gate materializes its SCD2 hist fixture (localCheckpoint)
    before probing, so the probe plan is scan + ONE broadcast join — not the
    inlined 19-exchange hist-build subtree the r1 plan audit flagged."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.relational import (
        pit_join_events,
    )

    plan = _plan(pit_join_events(spark, sf_dir))
    assert plan.count("SortMergeJoin") == 0
    assert plan.count("BroadcastHashJoin") >= 1
    assert plan.count("Exchange") <= 2


def test_scd2_gate_is_one_key_exchange_without_joins(spark, sf_dir):
    """The SCD2 gate classifies in one keyed window pass rather than joins:
    after execution the adaptive plan carries no join of any kind (so no
    full outer) and exactly one hash exchange, on the key."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.relational import (
        scd2_snapshot_diff,
    )

    df = scd2_snapshot_diff(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" not in plan, plan
    assert "Join" not in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning(key") == 1, plan
    assert final.count("Exchange hashpartitioning") == 1, plan


def test_runtime_bloom_filter_prunes_fact_side(spark, tmp_path):
    """Row-level runtime filtering (the 100-TB shuffle-join shield): when a
    dim carries a selective non-key filter, Catalyst injects a bloom filter
    built from the dim's join keys as a FACT-side scan predicate, so the
    fact shuffle ships only rows that can possibly match.

    Production thresholds (10MB creation side) never trigger at test scale,
    so they're lowered here — the assertion is the INJECTION MECHANISM
    (BloomFilterMightContain / bloom_filter_agg in the optimized plan), the
    sizing policy stays Spark's own.
    """
    fact_path = f"{tmp_path}/fact.parquet"
    dim_path = f"{tmp_path}/dim.parquet"
    spark.range(0, 100_000).selectExpr("id % 1000 AS k", "id AS v").write.parquet(fact_path)
    spark.range(0, 1000).selectExpr("id AS k", "id % 7 AS attr").write.parquet(dim_path)
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # force the join to shuffle: broadcast joins need no runtime filter
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.read.parquet(fact_path)
        dim = spark.read.parquet(dim_path).filter("attr = 3")  # selective, non-key
        joined = fact.join(dim, "k")
        optimized = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized or "BloomFilterMightContain" in optimized, optimized
        # and the filtered join still returns exactly the expected rows:
        # 143 dim keys with attr=3, each matching 100 fact rows
        assert joined.count() == sum(1 for i in range(1000) if i % 7 == 3) * 100
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    """The bucketed range join must compile to a hash/broadcast EQUI join on
    (user_id, bucket) — never BroadcastNestedLoopJoin/CartesianProduct,
    which is what the raw interval theta join would force."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.extra import (
        range_join_events,
    )

    plan = _plan(range_join_events(spark, sf_dir))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_domain_mix_is_scan_side_filter(spark, sf_dir):
    """domain_mix_sample's corpus side must not shuffle: the per-lang counts
    and 1-row budget broadcast back onto a scan-side filter."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.sampling import (
        domain_mix_sample,
    )

    plan = _plan(domain_mix_sample(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2
    # the only exchanges allowed are for the tiny broadcast inputs
    assert "SortMergeJoin" not in plan


def test_gopher_filter_is_zero_shuffle(spark, sf_dir):
    """gopher_quality_filter is pure per-row Catalyst expressions: no join,
    no Python, and no KEYED shuffle. The one allowed exchange is the r12
    fan_out round-robin repartition that spreads the per-row HOF chains
    when the scan is single-split (scale-adaptive: absent on wide
    inputs)."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.text import (
        gopher_quality_filter,
    )

    plan = _plan(gopher_quality_filter(spark, sf_dir))
    assert plan.count("Exchange") <= 1
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan
    assert "Python" not in plan


def test_substring_dedup_single_scan_two_exchanges(spark, sf_dir):
    """substring_dedup's single-lineage window form: ONE corpus scan, ONE
    gram-key exchange + ONE doc-key exchange — not the 3-scan/6-exchange
    groupBy-join-back shape it replaced."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.text import (
        substring_dedup,
    )

    plan = _plan(substring_dedup(spark, sf_dir))
    # upper bounds, not exact counts: AQE/version changes may legitimately
    # REMOVE an exchange; only more shuffles or a join is a regression
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan


def test_tfidf_topk_is_window_group_limit(spark, sf_dir):
    """tfidf_keywords: df via window count (no vocab broadcast-join
    assumption), and the per-doc top-k must push a PARTIAL WindowGroupLimit
    below the doc exchange (rank-limit pushdown) so only ~K rows per doc
    shuffle."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.text import (
        tfidf_keywords,
    )

    plan = _plan(tfidf_keywords(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 3  # (doc,term), term, doc
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_funnel_is_single_exchange(spark, sf_dir):
    """funnel_steps: the three step windows and the per-user collapse all
    share ONE user_id exchange — no per-stage self-join or re-shuffle."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.extra import (
        funnel_steps,
    )

    plan = _plan(funnel_steps(spark, sf_dir))
    assert plan.count("Exchange ") <= 1
    assert "Join" not in plan


def test_bigram_lm_is_single_scan_two_exchanges(spark, sf_dir):
    """bigram_lm_counts: one corpus scan; one (w1, w2) exchange + one w1
    window exchange — the denominator never re-scans or joins."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.text import (
        bigram_lm_counts,
    )

    plan = _plan(bigram_lm_counts(spark, sf_dir))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan


def test_triangle_close_is_hash_join_not_nested_loop(spark, sf_dir):
    """The oriented triangle census must keep the wedge filter and the
    close as hash equi-joins — a naive either-direction close (an OR of
    two equi-conditions) degenerates into BroadcastNestedLoopJoin, which
    is the difference between O(wedges) and O(wedges x edges)."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.graph import (
        triangle_stats,
    )

    plan = _plan(triangle_stats(spark, sf_dir))
    # exactly one nested-loop is expected: the 1-row summary x 1-row
    # triangle-count scalar crossJoin; the wedge/close joins must hash
    assert plan.count("NestedLoop") <= 1
    assert "CartesianProduct" not in plan


def test_max_concurrent_is_join_free_bucketed_sweep(spark, sf_dir):
    """Distributed sweep line: no join anywhere; the wide shuffle is keyed
    by (event_type, bucket) — NOT by event_type alone, which would
    serialize each type's whole delta stream through one task — and the
    narrow cross-bucket pass adds at most two more small exchanges."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.graph import (
        max_concurrent_events,
    )

    plan = _plan(max_concurrent_events(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 3
    # the wide (per-delta) exchange must carry the bucket key
    assert "hashpartitioning(event_type" in plan and "bucket" in plan


def test_path_trigrams_single_window_node(spark, sf_dir):
    """Both lags share ONE Window node / one per-user exchange; top-k is
    TakeOrderedAndProject, never a global sort."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.graph import (
        event_path_trigrams,
    )

    plan = _plan(event_path_trigrams(spark, sf_dir))
    assert plan.count("Window ") + plan.count("Window[") <= 2
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_inverted_index_bounded_groups_one_exchange(spark, sf_dir):
    """Posting prefix compiles to WindowGroupLimit (map-side partial limit —
    no executor holds an unbounded posting group); both window specs share
    the term-partitioned exchange: ≤ 2 hash exchanges total (tf + term)."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.text import (
        inverted_index,
    )

    plan = _plan(inverted_index(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Join" not in plan


def test_keyword_search_broadcasts_and_topk(spark, sf_dir):
    """Retrieval probe: the per-term df table broadcasts (never sort-merge),
    and top-k is TakeOrderedAndProject, never a global sort."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.text import (
        keyword_search_topk,
    )

    plan = _plan(keyword_search_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_equidepth_histogram_is_single_window(spark, sf_dir):
    """Exact NTILE is one global window (documented single-partition sort at
    test scale; sampled-boundary estimation is the 100-TB path) — no joins,
    no extra wide exchanges."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.stats import (
        equidepth_histogram,
    )

    plan = _plan(equidepth_histogram(spark, sf_dir))
    assert "Join" not in plan
    assert plan.count("Window ") + plan.count("Window[") <= 1


def test_pq_encode_broadcasts_codebook(spark, sf_dir):
    """PQ training/assignment: the tiny codebook side always broadcasts —
    no sort-merge join ever carries the vector table, and no exchange is
    keyed by centroid id."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.similarity import (
        pq_encode,
    )

    plan = _plan(pq_encode(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_pq_adc_codes_never_shuffle_vectors(spark, sf_dir):
    """ADC probe: LUT and codebook broadcast; raw vectors are never
    sort-merge joined; top-k per query is a window over codes only."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.similarity import (
        knn_pq_adc,
    )

    plan = _plan(knn_pq_adc(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_pq_broadcasts_all_small_sides(spark, sf_dir):
    """IVF-PQ composition: coarse centroids, codebook, and LUT all
    broadcast; no sort-merge join anywhere in the pruned-scoring path.

    r13: the gate memoizes the shared scored frame (_ivf_pq_scored_memo),
    so the standalone gate plan is a rank over the checkpointed scored
    RDD — the join pins are asserted on the scored BUILD plan itself,
    and the gate plan is pinned to the cheap rank-only shape."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.similarity import (
        _ivf_pq_scored,
        knn_ivf_pq,
    )

    plan = _plan(_ivf_pq_scored(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    gate_plan = _plan(knn_ivf_pq(spark, sf_dir))
    assert "SortMergeJoin" not in gate_plan


def test_bm25_broadcasts_stats_and_topk(spark, sf_dir):
    """BM25: df and corpus totals broadcast (never a shuffle for the tiny
    stat sides); top-k compiles to TakeOrderedAndProject, not a global
    sort; the corpus scan count stays bounded (tok feeds dl and qtf)."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.text import (
        bm25_topk,
    )

    plan = _plan(bm25_topk(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_kmv_set_ops_sketch_is_group_limited(spark, sf_dir):
    """KMV algebra: the per-cohort rank<=K filter compiles to
    WindowGroupLimit (map tasks emit at most K rows per cohort before the
    shuffle) and nothing downstream sort-merge joins — the pair algebra is
    sketch-sized broadcasts."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.stats import (
        kmv_set_ops,
    )

    plan = _plan(kmv_set_ops(spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_assoc_rules_partial_agg_and_topk(spark, sf_dir):
    """Association rules: the pair count aggregates map-side before its
    exchange (partial_count), and the bounded rule output is
    TakeOrderedAndProject."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.graph import (
        assoc_rules,
    )

    plan = _plan(assoc_rules(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan


def test_gap_islands_single_exchange_no_joins(spark, sf_dir):
    """Gaps-and-islands: hash-partitioning on user_id alone satisfies the
    distinct, the run-id window, and both rollups (subset rule) — one
    exchange total, no join, no iteration."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.timeseries import (
        gap_islands,
    )

    plan = _plan(gap_islands(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "Join" not in plan


def test_session5_gates_single_exchange_no_joins(spark, sf_dir):
    """Session-5 window-family gates each cluster their whole chain on one
    key: at most ONE hash exchange, zero joins. (chi2's extra
    SinglePartition exchange runs over the |langs|x|sources| cell frame —
    structurally tiny — and is allowed.)"""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.stats import (
        auc_mann_whitney,
        decision_stump_train,
    )
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.timeseries import (
        interval_union,
        ohlc_bars,
        twap_daily,
    )

    for fn in (interval_union, ohlc_bars, twap_daily, decision_stump_train,
               auc_mann_whitney):
        plan = _plan(fn(spark, sf_dir))
        assert plan.count("Exchange hashpartitioning") <= 1, fn.__name__
        assert "Join" not in plan, fn.__name__


def test_asof_join_nearest_plan_has_no_join(spark, sf_dir):
    """The backward as-of is the tag-union + carry-window formulation: the
    executed plan must contain NO join operator at all (the whole point of
    the rewrite — a sort-merge interval join is what it replaces) and at
    most the two expected exchanges (click dedupe keys, union carry)."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.timeseries import (
        asof_join_nearest,
    )

    plan = _plan(asof_join_nearest(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_editdist_topk_plan_broadcast_probe_and_group_limit(spark, sf_dir):
    """Bounded probe set must broadcast (never a sort-merge product) and
    the top-3 rank must prune map-side via WindowGroupLimit; the scan side
    must be spread by an explicit-count repartition (AQE would coalesce a
    tiny-by-bytes bare repartition back to ONE task, serializing the DP)."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.text import (
        editdist_topk,
    )

    plan = _plan(editdist_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "REPARTITION_BY_NUM" in plan, plan


def test_phrase_search_plan_is_one_window_no_join(spark, sf_dir):
    """Positional adjacency via lead(): one Window node, zero joins —
    the two-posting pos+1 merge this formulation replaces would show a
    join here."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.text import (
        phrase_search,
    )

    plan = _plan(phrase_search(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1, plan


def test_exact_median_2pass_has_no_fact_scale_sort_before_routing(spark, sf_dir):
    """The histogram route must never global-sort the fact table: no
    SortMergeJoin (all rescan joins broadcast the tiny routing frames) and
    every Sort in the plan is window-local (partitioned)."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.stats import (
        exact_median_2pass,
    )

    plan = _plan(exact_median_2pass(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    # rangepartitioning = a global sort's shuffle; windows sort within
    # hash partitions instead
    assert "rangepartitioning" not in plan.lower(), plan


def test_pca_power_iteration_is_matrix_free(spark, sf_dir):
    """Each round is Q^T(Qv): the plan must contain NO n*d^2 Gram-pair
    generator (no join of the exploded frame with itself — the only joins
    are broadcast v / scalar m) and no sort-merge join anywhere."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.similarity import (
        pca_power_iteration,
    )

    plan = _plan(pca_power_iteration(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan


def test_session_window_builtin_single_exchange(spark, sf_dir):
    """The built-in session aggregation clusters once on the grouping key:
    one exchange, no join."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.timeseries import (
        session_window_builtin,
    )

    plan = _plan(session_window_builtin(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_lift_value_deciles_has_no_unpartitioned_ntile(spark, sf_dir):
    """The round-6 scale variant's reason to exist: no NTILE, and every
    unpartitioned window runs over bounded metadata (the <=1024-bin
    histogram / the 10-row decile table), never the user-scale aggregate.
    The only sort keys allowed outside a partitionBy are bin/decile."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.stats import (
        lift_gains_value_deciles,
    )

    plan = _plan(lift_gains_value_deciles(spark, sf_dir))
    assert "ntile" not in plan.lower(), plan
    # the user-scale rank window is partitioned BY BIN
    assert "windowspecdefinition(bin" in plan, plan
    # no window is specified over (score) without a bin partition
    assert "windowspecdefinition(score" not in plan, plan


def test_asof_forward_uses_running_frame_not_following(spark, sf_dir):
    """Spark's [currentRow, unboundedFollowing] frame re-scans the partition
    remainder per row (O(rows^2) per key — measured 4.5 s vs 0.9 s on this
    gate); the shipped plan must keep the descending RUNNING frame."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.timeseries import (
        asof_join_forward,
    )

    plan = _plan(asof_join_forward(spark, sf_dir))
    assert "unboundedfollowing" not in plan.lower(), plan
    assert "unboundedpreceding$(), currentrow$()" in plan, plan
    # union-window shape: one user_id exchange, no join
    assert "Join" not in plan, plan


def test_ks_two_sample_prefix_sum_is_bucket_partitioned(spark, sf_dir):
    """The distributed prefix sum's load-bearing property: the cumulative
    window over the value support is partitioned BY BUCKET — no global-sort
    window ever sees the full support (the <=1024-row ledger window is the
    only unpartitioned one)."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.stats import (
        ks_two_sample,
    )

    plan = _plan(ks_two_sample(spark, sf_dir))
    assert "windowspecdefinition(bucket" in plan, plan
    # the support-level cumulative must not appear without the bucket key:
    # any windowspec ordered by v alone would read "windowspecdefinition(v"
    assert "windowspecdefinition(v#" not in plan, plan


def test_privacy_gates_are_single_aggregate_no_window_no_join(spark, sf_dir):
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.quality import (
        k_anonymity_profile,
        l_diversity_events,
    )

    for fn in (k_anonymity_profile, l_diversity_events):
        plan = _plan(fn(spark, sf_dir))
        assert "Join" not in plan, plan
        assert "Window" not in plan, plan


def test_equidepth_2pass_has_no_ntile_no_global_sort_window(spark, sf_dir):
    """The 2-pass equi-depth variant exists to remove the NTILE wall: the
    only rank window must be bin-partitioned, and no NTILE appears."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.stats import (
        equidepth_histogram_2pass,
    )

    plan = _plan(equidepth_histogram_2pass(spark, sf_dir))
    assert "ntile" not in plan.lower(), plan
    assert "windowspecdefinition(bin" in plan, plan
    assert "windowspecdefinition(v#" not in plan, plan


def test_tokenizer_fertility_is_one_exchange_scan(spark, sf_dir):
    """tokenizer_fertility's 100-TB contract: per-row expressions feeding
    ONE partial-aggregated groupBy(lang) — one exchange, no join, no
    Python, and a partial_count/partial_sum BEFORE the shuffle so language
    skew is absorbed map-side."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.text import (
        tokenizer_fertility,
    )

    plan = _plan(tokenizer_fertility(spark, sf_dir))
    import re

    assert len(re.findall(r"Exchange (?:hash|range|Single)", plan)) == 1, plan
    assert "Join" not in plan
    assert "Python" not in plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_ann_recall_audit_never_sorts(spark, sf_dir):
    """ann_recall_audit's panel-bounded contract: every audit join
    broadcasts (round-10 review caught the committed PLANS.md row drifting
    from the shipped broadcast plan — this pin makes the property
    machine-enforced, not evidence-file-enforced)."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.similarity import (
        ann_recall_audit,
    )

    plan = _plan(ann_recall_audit(spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
