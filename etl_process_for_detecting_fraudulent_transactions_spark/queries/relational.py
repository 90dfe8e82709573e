"""Relational parity queries (SURVEY.md §2.2-§2.8) over the testdata star
schema, each with a DuckDB oracle.

Cross-engine determinism rules used throughout:
- double aggregates go through ``decimal`` (exact, order-independent) and are
  cast back to double → bit-identical across partitionings and engines;
- minute arithmetic uses exact integer microseconds (``unix_micros`` /
  ``epoch_us``) with ``floor`` before the int cast (DuckDB rounds on
  double→int casts, Spark truncates — floor makes both agree);
- window ordering always carries a unique tiebreaker column.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.scd2 import scd2_apply_snapshot
from ._io import load_table as _t


# -- A: aggregations ---------------------------------------------------------

def pricing_summary(spark, sf_dir):
    """TPC-H Q1 pattern: scan-filter-aggregate with map-side partials; the
    plan is one shuffle on (l_returnflag, l_linestatus) (agg A-family,
    SURVEY §2.4). Decimal-exact sums → double."""
    li = _t(spark, sf_dir, "lineitem")
    d = lambda c: F.col(c).cast("decimal(18,4)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_dt.datetime(1998, 9, 2)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum((d("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - d("l_discount"))).cast("decimal(28,8)"))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(d("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# sum_disc_price's DECIMAL->DOUBLE goes through VARCHAR: DuckDB's direct
# decimal->double cast double-rounds (int128 * 10^-scale) and lands one ulp
# off Spark/Python's correctly-rounded conversion once the scaled integer
# exceeds 2^53 (first observed at sf0.1: ...3560996 vs ...3561); a string
# round-trip parses correctly rounded in both engines.
ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
       CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def groupby_having_countdistinct(spark, sf_dir):
    """A1: group + count(distinct) + HAVING (rep_fraud.py:119-128 shape)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count_distinct("event_type").alias("n_types"),
             F.count(F.lit(1)).alias("n_events"))
        .filter(F.col("n_types") > 2)
    )


ORACLE_HAVING_CD = """
SELECT user_id, COUNT(DISTINCT event_type) AS n_types, COUNT(*) AS n_events
FROM events GROUP BY user_id HAVING COUNT(DISTINCT event_type) > 2
"""


def groupby_max(spark, sf_dir):
    """A2: per-key max (rep_fraud.py:133-149 shape)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.max(F.col("value").cast("decimal(18,6)")).cast("double").alias("max_value"),
    )


ORACLE_GROUPBY_MAX = """
SELECT user_id, MAX(ts) AS last_ts,
       CAST(MAX(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS max_value
FROM events GROUP BY user_id
"""


# -- J: joins ----------------------------------------------------------------

def join_3hop_agg(spark, sf_dir):
    """J1: 3-hop inner equi-join chain with broadcast dims, aggregated per
    region (rep_fraud.py:22-36 shape)."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
        )
    )


ORACLE_JOIN_3HOP = """
SELECT r_name, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def left_join_count(spark, sf_dir):
    """J2: left outer join keeping unmatched left rows (rep_fraud.py:70-72)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "left")
        .select("c_custkey", "c_name", F.coalesce("cnt", F.lit(0)).alias("n_orders"))
    )


ORACLE_LEFT_JOIN = """
SELECT c_custkey, c_name, COALESCE(cnt, 0) AS n_orders
FROM customer LEFT JOIN (
  SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
) o ON c_custkey = o_custkey
"""


def anti_join(spark, sf_dir):
    """J3: anti-join — customers with no orders (data_to_db.py:171-192
    new/deleted-rows pattern)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


ORACLE_ANTI = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def semi_join(spark, sf_dir):
    """P3/J5: semi-join membership test (IN-subquery, rep_fraud.py:20)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(
        o.filter(F.col("o_orderstatus") == "F"), c.c_custkey == o.o_custkey, "semi"
    ).select("c_custkey", "c_name")


ORACLE_SEMI = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
"""


def join_residual_ineq(spark, sf_dir):
    """J4: equi-join with OR-of-inequalities residual (changed-rows pattern,
    data_to_db.py:195-206): same-brand part pairs differing in type or size."""
    p1 = _t(spark, sf_dir, "part").alias("p1")
    p2 = _t(spark, sf_dir, "part").alias("p2")
    pairs = p1.join(
        p2,
        (F.col("p1.p_brand") == F.col("p2.p_brand"))
        & (F.col("p1.p_partkey") < F.col("p2.p_partkey"))
        & (
            (F.col("p1.p_type") != F.col("p2.p_type"))
            | (F.col("p1.p_size") != F.col("p2.p_size"))
        ),
    )
    return pairs.groupBy(F.col("p1.p_brand").alias("p_brand")).agg(
        F.count(F.lit(1)).alias("n_changed_pairs")
    )


ORACLE_RESIDUAL = """
SELECT p1.p_brand AS p_brand, COUNT(*) AS n_changed_pairs
FROM part p1 JOIN part p2
  ON p1.p_brand = p2.p_brand AND p1.p_partkey < p2.p_partkey
 AND (p1.p_type <> p2.p_type OR p1.p_size <> p2.p_size)
GROUP BY p1.p_brand
"""


# -- W: windows --------------------------------------------------------------

def _minutes(a, b):
    """Whole minutes from a to b, exact microsecond arithmetic, floor."""
    return F.floor((F.unix_micros(F.col(b)) - F.unix_micros(F.col(a))) / F.lit(60_000_000)).cast("int")


def window_lead_gap(spark, sf_dir):
    """W1 + P6 + P9: per-user lead() city-fraud shape (rep_fraud.py:133-150):
    consecutive events of different type within 60 minutes."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.select("event_id", "user_id", "ts", "event_type")
        .withColumn("next_ts", F.lead("ts").over(w))
        .withColumn("next_type", F.lead("event_type").over(w))
    )
    return (
        seq.withColumn("gap_min", _minutes("ts", "next_ts"))
        .filter((F.col("event_type") != F.col("next_type")) & (F.col("gap_min") <= 60))
        .select("event_id", "user_id", "event_type", "next_type", "gap_min")
    )


ORACLE_LEAD_GAP = """
WITH seq AS (
  SELECT event_id, user_id, ts, event_type,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_id, user_id, event_type, next_type,
       CAST(FLOOR((epoch_us(next_ts) - epoch_us(ts)) / 60000000) AS INT) AS gap_min
FROM seq
WHERE event_type <> next_type
  AND CAST(FLOOR((epoch_us(next_ts) - epoch_us(ts)) / 60000000) AS INT) <= 60
"""


def window_lag_seq(spark, sf_dir):
    """W2 + P5: guessing-amount shape (rep_fraud.py:187-261) — an event whose
    3 predecessors (per user, time-ordered) have strictly decreasing values,
    the whole chain within a bounded span.

    The reference's rule spans 20 minutes (rep_fraud.py guessing-amount
    rule); the exact-semantics carrier in this repo is plans/rules.py, which
    uses 20 minutes and is golden-replayed. This gate is a SHAPE variant on
    the sparse synthetic events table (an earlier 120-min variant selected 0
    rows at sf<=0.01, making the driver gate vacuous — VERDICT r8 "What's
    wrong"). The span here is 1440 minutes — identical in the oracle below —
    chosen so the gate hashes real rows at every driver sf (156 @ sf0.01,
    ~1.6k @ sf0.1) while the time filter still rejects ~60% of decreasing
    chains. The reference's exact 20-min semantics stay covered by the golden
    Q4 replay (tests/test_golden_replay.py) and the single-Window-node plan
    pin."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v = F.col("value").cast("decimal(18,6)")
    seq = (
        ev.select("event_id", "user_id", "ts", "value")
        .withColumn("v", v)
        # lag the materialized column (not the cast expression) so Catalyst
        # collapses all four lags into ONE Window node over one sort
        .withColumn("lag_v1", F.lag("v", 1).over(w))
        .withColumn("lag_v2", F.lag("v", 2).over(w))
        .withColumn("lag_v3", F.lag("v", 3).over(w))
        .withColumn("lag_ts3", F.lag("ts", 3).over(w))
    )
    return (
        seq.filter(
            (F.col("lag_v3") > F.col("lag_v2"))
            & (F.col("lag_v2") > F.col("lag_v1"))
            & (F.col("lag_v1") > F.col("v"))
            & (_minutes("lag_ts3", "ts") <= 1440)
        )
        .select("event_id", "user_id", F.col("v").cast("double").alias("value_d"))
    )


ORACLE_LAG_SEQ = """
WITH seq AS (
  SELECT event_id, user_id, ts, CAST(value AS DECIMAL(18,6)) AS v,
         LAG(CAST(value AS DECIMAL(18,6)), 1) OVER w AS lag_v1,
         LAG(CAST(value AS DECIMAL(18,6)), 2) OVER w AS lag_v2,
         LAG(CAST(value AS DECIMAL(18,6)), 3) OVER w AS lag_v3,
         LAG(ts, 3) OVER w AS lag_ts3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, CAST(v AS DOUBLE) AS value_d
FROM seq
WHERE lag_v3 > lag_v2 AND lag_v2 > lag_v1 AND lag_v1 > v
  AND CAST(FLOOR((epoch_us(ts) - epoch_us(lag_ts3)) / 60000000) AS INT) <= 1440
"""


# -- P: scalar expressions ---------------------------------------------------

def concat_null(spark, sf_dir):
    """P7: NULL-propagating || concat (rep_fraud.py fio). nullif manufactures
    NULLs so the propagation is actually exercised."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(
            F.col("c_name"), F.lit(" "), F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
        ).alias("label"),
    )


ORACLE_CONCAT = """
SELECT c_custkey, c_name || ' ' || NULLIF(c_mktsegment, 'BUILDING') AS label
FROM customer
"""


def prefix_int_cast(spark, sf_dir):
    """P8: SQLite comma-decimal prefix-cast semantics — parse the integer
    prefix of a '1234,56'-style string (rep_fraud.py:194-197)."""
    li = _t(spark, sf_dir, "lineitem")
    comma_str = F.regexp_replace(
        F.col("l_quantity").cast("decimal(10,2)").cast("string"), r"\.", ","
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        comma_str.alias("amt_str"),
        F.regexp_replace(comma_str, r",.*$", "").cast("int").alias("amt_int"),
    )


ORACLE_PREFIX_INT = """
SELECT l_orderkey, l_linenumber,
       REPLACE(CAST(CAST(l_quantity AS DECIMAL(10,2)) AS VARCHAR), '.', ',') AS amt_str,
       CAST(STR_SPLIT(REPLACE(CAST(CAST(l_quantity AS DECIMAL(10,2)) AS VARCHAR), '.', ','), ',')[1] AS INT) AS amt_int
FROM lineitem
"""


def between_filter(spark, sf_dir):
    """P13 + P4: BETWEEN predicate + IN-list (data_to_db.py:167)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            F.col("o_orderdate").between(
                F.lit(_dt.datetime(1996, 1, 1)), F.lit(_dt.datetime(1997, 1, 1))
            )
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_BETWEEN = """
SELECT o_orderpriority, COUNT(*) AS n FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-01-01'
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
"""


def order_by_report(spark, sf_dir):
    """O1: ordered aggregate report (rep_fraud.py:51). Compare is
    order-insensitive; the sort exercises the operator."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total"))
        .orderBy("o_orderstatus", "o_orderpriority")
    )


ORACLE_ORDER_BY = """
SELECT o_orderstatus, o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM orders GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority
"""


# -- X2: SCD2 ----------------------------------------------------------------

_T1 = _dt.datetime(2024, 1, 1, 12, 0, 0)
_T2 = _dt.datetime(2024, 1, 2, 12, 0, 0)


def _scd2_hist(spark, sf_dir):
    """Two-snapshot SCD2 history with timestamp-typed validity bounds —
    shared by the scd2_snapshot_diff gate (string-formatted) and the
    pit_join_events as-of probe (needs real timestamps).

    snapshot1 = customers with custkey % 10 != 0;
    snapshot2 = customers with custkey % 7 != 0, segment suffixed '_X'
    when custkey % 3 == 0 (the changed set).
    """
    c = _t(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    snap1 = base.filter(F.col("key") % 10 != 0)
    snap2 = base.filter(F.col("key") % 7 != 0).withColumn(
        "segment",
        F.when(F.col("key") % 3 == 0, F.concat(F.col("segment"), F.lit("_X"))).otherwise(
            F.col("segment")
        ),
    )
    # Initial load built directly: applying a snapshot to an EMPTY history
    # classifies every row 'new', so h1 is definitionally all-open rows at
    # t1 — constructing that projection skips a full classify pass (a
    # shuffle by key) that can only ever produce this, and leaves h1 a flat
    # scan+project that the second apply reads once, under its single key
    # exchange, so no localCheckpoint is needed (VERDICT r4 #5: 3.0 s ->
    # ~1.9 s warm at sf0.1; the empty-hist apply path itself stays covered
    # by tests/test_scd2_properties.py).
    from etl_process_for_detecting_fraudulent_transactions_spark.operators.scd2 import HIGH_TS

    h1 = (
        snap1.withColumn("effective_from", F.lit(_T1))
        .withColumn("effective_to", F.lit(HIGH_TS))
        .withColumn("deleted_flg", F.lit(0))
    )
    h2 = scd2_apply_snapshot(h1, snap2, run_ts=_T2, key="key", attrs=("name", "segment"))
    return h2.select("key", "name", "segment", "effective_from", "effective_to", "deleted_flg")


def scd2_snapshot_diff(spark, sf_dir):
    """X2: two-snapshot SCD2 historization via the engine's one-pass keyed
    window classify (operators/scd2.py), deterministic run_ts.

    Gate-only formatting: the sentinel effective_to (2999-12-31) overflows
    pandas' ns datetime range in the driver's comparison harness
    (OutOfBoundsDatetime, VERDICT r1 #2) — emit the validity bounds as
    formatted strings here; HIGH_TS itself is untouched in operators/scd2.py.
    """
    h2 = _scd2_hist(spark, sf_dir)
    return h2.select(
        "key",
        "name",
        "segment",
        F.date_format("effective_from", "yyyy-MM-dd HH:mm:ss").alias("effective_from"),
        F.date_format("effective_to", "yyyy-MM-dd HH:mm:ss").alias("effective_to"),
        "deleted_flg",
    )


# SCD2 hist SQL template: {T}="" yields VARCHAR validity bounds (the gate
# form — pandas-safe past year 2262), {T}="TIMESTAMP " yields real
# timestamps (the pit_join_events as-of probe form).
_SCD2_HIST_SQL_TEMPLATE = """
WITH snap1 AS (
  SELECT c_custkey AS key, c_name AS name, c_mktsegment AS segment
  FROM customer WHERE c_custkey % 10 <> 0
), snap2 AS (
  SELECT c_custkey AS key, c_name AS name,
         CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment || '_X' ELSE c_mktsegment END AS segment
  FROM customer WHERE c_custkey % 7 <> 0
)
-- unchanged (in both, same attrs): open since t1
SELECT s1.key, s1.name, s1.segment,
       {T}'2024-01-01 12:00:00' AS effective_from,
       {T}'2999-12-31 23:59:59' AS effective_to, 0 AS deleted_flg
FROM snap1 s1 JOIN snap2 s2 ON s1.key = s2.key
WHERE s1.name = s2.name AND s1.segment = s2.segment
UNION ALL
-- changed: closed t1 version
SELECT s1.key, s1.name, s1.segment,
       {T}'2024-01-01 12:00:00', {T}'2024-01-02 11:59:59', 0
FROM snap1 s1 JOIN snap2 s2 ON s1.key = s2.key
WHERE s1.name <> s2.name OR s1.segment <> s2.segment
UNION ALL
-- changed: new open version
SELECT s2.key, s2.name, s2.segment,
       {T}'2024-01-02 12:00:00', {T}'2999-12-31 23:59:59', 0
FROM snap1 s1 JOIN snap2 s2 ON s1.key = s2.key
WHERE s1.name <> s2.name OR s1.segment <> s2.segment
UNION ALL
-- new in snap2: open since t2
SELECT s2.key, s2.name, s2.segment,
       {T}'2024-01-02 12:00:00', {T}'2999-12-31 23:59:59', 0
FROM snap2 s2 WHERE NOT EXISTS (SELECT 1 FROM snap1 s1 WHERE s1.key = s2.key)
UNION ALL
-- deleted: closed t1 version
SELECT s1.key, s1.name, s1.segment,
       {T}'2024-01-01 12:00:00', {T}'2024-01-02 11:59:59', 0
FROM snap1 s1 WHERE NOT EXISTS (SELECT 1 FROM snap2 s2 WHERE s2.key = s1.key)
UNION ALL
-- deleted: tombstone open row carrying last-known attrs
SELECT s1.key, s1.name, s1.segment,
       {T}'2024-01-02 12:00:00', {T}'2999-12-31 23:59:59', 1
FROM snap1 s1 WHERE NOT EXISTS (SELECT 1 FROM snap2 s2 WHERE s2.key = s1.key)
"""

ORACLE_SCD2 = _SCD2_HIST_SQL_TEMPLATE.format(T="")
_ORACLE_SCD2_TS = _SCD2_HIST_SQL_TEMPLATE.format(T="TIMESTAMP ")


QUERIES = {
    "pricing_summary": pricing_summary,
    "groupby_having_countdistinct": groupby_having_countdistinct,
    "groupby_max": groupby_max,
    "join_3hop_agg": join_3hop_agg,
    "left_join_count": left_join_count,
    "anti_join": anti_join,
    "semi_join": semi_join,
    "join_residual_ineq": join_residual_ineq,
    "window_lead_gap": window_lead_gap,
    "window_lag_seq": window_lag_seq,
    "concat_null": concat_null,
    "prefix_int_cast": prefix_int_cast,
    "between_filter": between_filter,
    "order_by_report": order_by_report,
    "scd2_snapshot_diff": scd2_snapshot_diff,
}

ORACLES = {
    "pricing_summary": ORACLE_PRICING,
    "groupby_having_countdistinct": ORACLE_HAVING_CD,
    "groupby_max": ORACLE_GROUPBY_MAX,
    "join_3hop_agg": ORACLE_JOIN_3HOP,
    "left_join_count": ORACLE_LEFT_JOIN,
    "anti_join": ORACLE_ANTI,
    "semi_join": ORACLE_SEMI,
    "join_residual_ineq": ORACLE_RESIDUAL,
    "window_lead_gap": ORACLE_LEAD_GAP,
    "window_lag_seq": ORACLE_LAG_SEQ,
    "concat_null": ORACLE_CONCAT,
    "prefix_int_cast": ORACLE_PREFIX_INT,
    "between_filter": ORACLE_BETWEEN,
    "order_by_report": ORACLE_ORDER_BY,
    "scd2_snapshot_diff": ORACLE_SCD2,
}


# -- SQL-text surface + set ops ---------------------------------------------

_SQL_TEXT = """
SELECT n_name, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
GROUP BY n_name
HAVING COUNT(*) > 2
"""


def sql_text_api(spark, sf_dir):
    """The spark.sql() surface: temp views + ANSI SQL text (the reference is
    a SQL-string engine — this gates that our engine accepts the same idiom;
    the oracle runs the IDENTICAL statement)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_SQL_TEXT)


def union_rule_accumulation(spark, sf_dir):
    """X4 report-accumulation shape: two rule-shaped selections UNION ALLed
    with literal event_type tags (main.py:20-23 / rep_fraud INSERT pattern)."""
    o = _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_orderkey").alias("event_key"),
        F.col("o_orderdate").alias("event_dt"),
        F.lit("big_order").alias("event_type"),
    )
    urgent_f = o.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")
    ).select(
        F.col("o_orderkey").alias("event_key"),
        F.col("o_orderdate").alias("event_dt"),
        F.lit("urgent_final").alias("event_type"),
    )
    return big.unionByName(urgent_f)


ORACLE_UNION = """
SELECT o_orderkey AS event_key, o_orderdate AS event_dt, 'big_order' AS event_type
FROM orders WHERE o_totalprice > 400000
UNION ALL
SELECT o_orderkey, o_orderdate, 'urgent_final'
FROM orders WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
"""

QUERIES["sql_text_api"] = sql_text_api
ORACLES["sql_text_api"] = _SQL_TEXT
QUERIES["union_rule_accumulation"] = union_rule_accumulation
ORACLES["union_rule_accumulation"] = ORACLE_UNION


# -- running aggregates / sessionization / rollup ----------------------------

def sessionize(spark, sf_dir):
    """Gap-based sessionization: a >30-minute silence starts a new session.
    lag → new-session flag → running SUM (ROWS UNBOUNDED PRECEDING) builds
    session ids in two window passes over ONE user_id exchange; per-session
    aggregate rides the same partitioning."""
    # Null posture (shared contract with sessionize_2phase and the oracle):
    # rows with NULL user_id or NULL ts are not sessionizable — a null key
    # has no owner and a null ts has no order position (and Spark sorts
    # NULLS FIRST where DuckDB sorts NULLS LAST, so any other posture
    # diverges across engines). Both gates and ORACLE_SESSIONIZE filter
    # them explicitly.
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        ev.select("event_id", "user_id", "ts")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            F.when(
                F.col("prev_ts").isNull()
                | (F.unix_micros("ts") - F.unix_micros("prev_ts") > 30 * 60 * 1_000_000),
                1,
            ).otherwise(0),
        )
        .withColumn("session_seq", F.sum("new_sess").over(wrun))
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


ORACLE_SESSIONIZE = """
WITH s AS (
  SELECT event_id, user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
flagged AS (
  SELECT *, CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 30 * 60 * 1000000
                 THEN 1 ELSE 0 END AS new_sess
  FROM s
),
numbered AS (
  SELECT user_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM numbered GROUP BY user_id, session_seq
"""


def rollup_revenue(spark, sf_dir):
    """ROLLUP: hierarchical subtotals (status → status+priority → grand
    total) in one pass — map-side partials feed all grouping sets."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("revenue"),
        )
    )


ORACLE_ROLLUP = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""

QUERIES["sessionize"] = sessionize
QUERIES["rollup_revenue"] = rollup_revenue
ORACLES["sessionize"] = ORACLE_SESSIONIZE
ORACLES["rollup_revenue"] = ORACLE_ROLLUP


# -- composed fraud-rule shape (Q1 end-to-end analog) ------------------------

def fraud_flag_events(spark, sf_dir):
    """The passport-fraud composition (SURVEY §2.9 Q1) mapped onto the star
    schema: one row per event of an 'invalid' customer — negative balance
    (expired-passport analog) OR nation in a blacklist set (semi join) —
    via the broadcast identity chain, with NULL-propagating label concat."""
    ev = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    blacklist = n.filter(F.col("n_regionkey") == 3).select("n_nationkey")
    flagged_customers = (
        c.join(blacklist.withColumn("_bl", F.lit(1)),
               c.c_nationkey == blacklist.n_nationkey, "left")
        .filter((F.col("c_acctbal") < 0) | F.col("_bl").isNotNull())
        .select(
            "c_custkey",
            F.concat(F.col("c_name"), F.lit(" "), F.col("c_mktsegment")).alias("who"),
        )
    )
    return (
        ev.join(flagged_customers, ev.user_id == flagged_customers.c_custkey)
        .select(
            F.col("event_id").alias("flag_id"),
            F.col("ts").alias("event_dt"),
            "who",
            F.lit("account_flag").alias("event_type"),
        )
    )


ORACLE_FRAUD_FLAG = """
WITH flagged AS (
  SELECT c_custkey, c_name || ' ' || c_mktsegment AS who
  FROM customer
  WHERE c_acctbal < 0
     OR c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 3)
)
SELECT event_id AS flag_id, ts AS event_dt, who, 'account_flag' AS event_type
FROM events JOIN flagged ON user_id = c_custkey
"""

QUERIES["fraud_flag_events"] = fraud_flag_events
ORACLES["fraud_flag_events"] = ORACLE_FRAUD_FLAG


# -- point-in-time (as-of) join over the SCD2 history ------------------------

def pit_join_events(spark, sf_dir):
    """As-of join: each event picks the customer-segment VERSION valid at its
    timestamp from the two-snapshot SCD2 history (operators/asof.py — the
    correct form of the reference's duplicating J6 join). Events on 2024-01-01
    before 12:00 have no valid version yet (inner join drops them); events
    after the day-2 load see the _X segments."""
    from ..operators.asof import point_in_time_join

    # Materialize the SCD2 hist once: its build subtree (a key exchange
    # and window) would otherwise be inlined under the probe (19 exchanges
    # in the r1 plan audit); after the checkpoint the probe plan is scan +
    # broadcast join.
    hist = _scd2_hist(spark, sf_dir).localCheckpoint(eager=True)
    ev = _t(spark, sf_dir, "events")
    facts = ev.select("event_id", "user_id", "ts").filter(
        F.col("ts") < F.lit(_dt.datetime(2024, 1, 20))
    )
    joined = point_in_time_join(
        facts, hist, F.col("user_id") == F.col("key"), fact_time="ts"
    )
    return joined.select("event_id", "user_id", "ts", "segment", "deleted_flg")


ORACLE_PIT = f"""
WITH hist AS ({_ORACLE_SCD2_TS})
SELECT event_id, user_id, ts, segment, deleted_flg
FROM events JOIN hist
  ON user_id = key AND ts >= effective_from AND ts <= effective_to
WHERE ts < TIMESTAMP '2024-01-20'
"""

QUERIES["pit_join_events"] = pit_join_events
ORACLES["pit_join_events"] = ORACLE_PIT


# -- SCD Type 3 (previous-value column) ------------------------------------------

def scd3_update(spark, sf_dir):
    """SCD Type 3 completes the slowly-changing-dimension story (SCD1 seed
    load and SCD2 historization are golden-replayed): instead of version
    rows, each attribute keeps ONE previous-value column. The update is a
    pure full-outer classify-and-project over the same two synthetic
    snapshots the SCD2 gate uses — changed keys carry (new, old), new
    keys (new, NULL), deleted keys keep the old value with a deleted
    flag. One co-keyed join, no history table growth — the trade SCD3
    buys at scale."""
    c = _t(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("key"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    snap1 = base.filter(F.col("key") % 10 != 0)
    snap2 = base.filter(F.col("key") % 7 != 0).withColumn(
        "segment",
        F.when(
            F.col("key") % 3 == 0, F.concat(F.col("segment"), F.lit("_X"))
        ).otherwise(F.col("segment")),
    )
    a = snap1.select(
        F.col("key"), F.col("name").alias("name1"), F.col("segment").alias("seg1")
    )
    b = snap2.select(
        F.col("key"), F.col("name").alias("name2"), F.col("segment").alias("seg2")
    )
    j = a.join(b, "key", "full_outer")
    return j.select(
        "key",
        F.coalesce("name2", "name1").alias("name"),
        F.coalesce("seg2", "seg1").alias("segment"),
        F.when(
            F.col("seg1").isNotNull()
            & F.col("seg2").isNotNull()
            & (F.col("seg1") != F.col("seg2")),
            F.col("seg1"),
        ).alias("prev_segment"),
        F.when(F.col("seg1").isNull(), "I")
        .when(F.col("seg2").isNull(), "D")
        .when(F.col("seg1") != F.col("seg2"), "U")
        .otherwise("N")
        .alias("change_type"),
    )


ORACLE_SCD3 = """
WITH snap1 AS (
  SELECT c_custkey AS key, c_name AS name1, c_mktsegment AS seg1
  FROM customer WHERE c_custkey % 10 <> 0
), snap2 AS (
  SELECT c_custkey AS key, c_name AS name2,
         CASE WHEN c_custkey % 3 = 0 THEN c_mktsegment || '_X'
              ELSE c_mktsegment END AS seg2
  FROM customer WHERE c_custkey % 7 <> 0
)
SELECT key,
       COALESCE(name2, name1) AS name,
       COALESCE(seg2, seg1) AS segment,
       CASE WHEN seg1 IS NOT NULL AND seg2 IS NOT NULL AND seg1 <> seg2
            THEN seg1 END AS prev_segment,
       CASE WHEN seg1 IS NULL THEN 'I'
            WHEN seg2 IS NULL THEN 'D'
            WHEN seg1 <> seg2 THEN 'U'
            ELSE 'N' END AS change_type
FROM snap1 FULL OUTER JOIN snap2 USING (key)
"""

QUERIES["scd3_update"] = scd3_update
ORACLES["scd3_update"] = ORACLE_SCD3


# -- segmented sessionization (the degenerate-key scale path) ----------------------
# sessionize's one structural bound, measured by tools/skew_scale_bench.py:
# its per-user window puts ALL of a user's rows in one task, so a
# degenerate head key (one user owning 56.5% of a 10M-row corpus) runs
# 6.3x slower than uniform keys — and AQE cannot subdivide a window
# partition. This variant is the classic segmented formulation with
# IDENTICAL output (it shares sessionize's oracle):
#   phase 1 — windows partitioned by (user_id, day-bucket): within-bucket
#     lag/flag/running-seq, so the head user's rows spread across as many
#     tasks as they span days;
#   phase 2 — per-(user, bucket) metadata (first/last ts, local session
#     count): a per-user window over BUCKET rows (calendar-bounded),
#     deciding for each bucket whether its first event continues the
#     previous non-empty bucket's last session (gap <= 30 min across the
#     boundary) and prefix-summing the global session offsets;
#   phase 3 — map each event's local seq to the global seq via a
#     (user_id, bucket) equi-join (co-partitioned with phase 1) and run
#     the same per-session aggregate.
# Correct because bucket(ts) is monotone in ts: the ONLY cross-bucket
# adjacency is (last event of previous non-empty bucket, first event of
# this one) — same-ts ties always share a bucket, so within-bucket lag
# covers everything else. Both gates ship: sessionize stays the faster
# plan under real key distributions (one exchange, two window passes);
# this is the shape that survives a pathological key, and the pairing is
# recorded in plan_audit.BASELINE_PAIRS.

def sessionize_2phase(spark, sf_dir):
    GAP_US = 30 * 60 * 1_000_000
    BUCKET_US = 86_400 * 1_000_000
    # Same explicit null posture as sessionize (see its comment): NULL
    # user_id / NULL ts rows are filtered in both gates and the shared
    # oracle, so the inner (user_id, bkt) ledger join here is exact — no
    # null-key row can exist to be dropped by it.
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.expr(f"unix_micros(ts) div {BUCKET_US}").alias("bkt"),
    )
    wloc = Window.partitionBy("user_id", "bkt").orderBy("ts", "event_id")
    wrunloc = wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = (
        ev.withColumn("prev_ts", F.lag("ts").over(wloc))
        .withColumn(
            "new_loc",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.unix_micros("ts") - F.unix_micros("prev_ts")
                    > GAP_US
                ),
                1,
            ).otherwise(0),
        )
        .withColumn("loc_seq", F.sum("new_loc").over(wrunloc))
    )
    # per-(user, bucket) ledger: rows = users x active days, never events
    meta = local.groupBy("user_id", "bkt").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.sum("new_loc").cast("bigint").alias("n_starts"),
    )
    wb = Window.partitionBy("user_id").orderBy("bkt")
    wboff = wb.rowsBetween(Window.unboundedPreceding, -1)
    bridged = meta.withColumn(
        "cont",
        F.when(
            F.unix_micros("first_ts")
            - F.unix_micros(F.lag("last_ts").over(wb))
            <= GAP_US,
            1,
        ).otherwise(0),
    ).select(
        "user_id",
        "bkt",
        "cont",
        F.coalesce(
            F.sum(F.col("n_starts") - F.col("cont")).over(wboff), F.lit(0)
        )
        .cast("bigint")
        .alias("offset"),
    )
    mapped = local.join(bridged, ["user_id", "bkt"]).select(
        "user_id",
        "ts",
        (F.col("offset") + F.col("loc_seq") - F.col("cont"))
        .cast("bigint")
        .alias("session_seq"),
    )
    return mapped.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


QUERIES["sessionize_2phase"] = sessionize_2phase
ORACLES["sessionize_2phase"] = ORACLE_SESSIONIZE
