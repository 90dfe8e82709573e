"""Engine-completeness queries beyond the reference's own operator set
(SURVEY.md §2.6 notes the reference has no LIMIT / set ops / ranking — a
user switching engines still expects them). Same determinism discipline as
``relational.py``: decimal-exact float aggregates, unique window tiebreakers,
identical aliases in Spark plan and DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._io import load_table as _t


def _dsum(col):
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double")


# -- top-k / distinct / set ops ----------------------------------------------

def topk_orders(spark, sf_dir):
    """Global top-k: ORDER BY ... LIMIT pushes a per-partition partial top-k
    (TakeOrderedAndProject) — no full sort, no single-node shuffle of the
    whole table; unique tiebreaker makes the cut deterministic."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


ORACLE_TOPK = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


def distinct_segments(spark, sf_dir):
    """DISTINCT = shuffle-dedup on the projected columns only (column pruning
    keeps the exchange narrow)."""
    c = _t(spark, sf_dir, "customer")
    return c.select("c_mktsegment", "c_nationkey").distinct()


ORACLE_DISTINCT = """
SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
"""


def set_except_customers(spark, sf_dir):
    """EXCEPT (distinct set difference): all custkeys minus those with an
    urgent order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return c.select("c_custkey").subtract(urgent)


ORACLE_EXCEPT = """
SELECT c_custkey FROM customer
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""


def set_intersect_customers(spark, sf_dir):
    """INTERSECT: custkeys having BOTH a finished and an open order."""
    o = _t(spark, sf_dir, "orders")
    f_side = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    p_side = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_side.intersect(p_side)


ORACLE_INTERSECT = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


# -- join-type completeness ---------------------------------------------------

def full_outer_orders(spark, sf_dir):
    """FULL OUTER join with unmatched rows on both sides (customer subset vs
    order-aggregate subset), keys coalesced."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 2 == 0)
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 3 == 0)
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey, "full_outer")
        .select(
            F.coalesce("c_custkey", "o_custkey").alias("custkey"),
            F.coalesce("c_name", F.lit("<none>")).alias("c_name"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


ORACLE_FULL_OUTER = """
SELECT COALESCE(c_custkey, o_custkey) AS custkey,
       COALESCE(c_name, '<none>') AS c_name,
       COALESCE(n_orders, 0) AS n_orders
FROM (SELECT * FROM customer WHERE c_custkey % 2 = 0) c
FULL OUTER JOIN (
  SELECT o_custkey, COUNT(*) AS n_orders FROM orders
  WHERE o_custkey % 3 = 0 GROUP BY o_custkey
) o ON c_custkey = o_custkey
"""


def right_join_orders(spark, sf_dir):
    """RIGHT OUTER join (kept-side = orders): every order row survives even
    when its customer was filtered away."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "right")
        .select(
            "o_orderkey",
            "o_custkey",
            F.coalesce("c_name", F.lit("<none>")).alias("c_name"),
        )
    )


ORACLE_RIGHT_JOIN = """
SELECT o_orderkey, o_custkey, COALESCE(c_name, '<none>') AS c_name
FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
RIGHT JOIN orders ON c_custkey = o_custkey
"""


# -- ranking / cube / pivot / time-series ------------------------------------

def window_rank_topn(spark, sf_dir):
    """Ranking windows (row_number / rank / dense_rank) over one sort; top-3
    orders per status. One Window node → one exchange on o_orderstatus."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("rnk", F.rank().over(w))
        .withColumn("drnk", F.dense_rank().over(w))
        .filter(F.col("rn") <= 3)
    )


ORACLE_RANK = """
SELECT * FROM (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         ROW_NUMBER() OVER w AS rn, RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk
  FROM orders
  WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
) WHERE rn <= 3
"""


def cube_revenue(spark, sf_dir):
    """CUBE: all 4 grouping sets of (status, priority) in one pass;
    grouping_id disambiguates subtotal rows from real NULL groups."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("o_totalprice").alias("revenue"),
            F.grouping_id().alias("gid"),
        )
    )


ORACLE_CUBE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       GROUPING(o_orderstatus, o_orderpriority) AS gid
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def pivot_priority_revenue(spark, sf_dir):
    """Pivot-shape conditional aggregation: one output column per priority
    class, computed as SUM(CASE WHEN ...) partials — a single shuffle, no
    per-category scan."""
    o = _t(spark, sf_dir, "orders")

    def bucket(p, name):
        return (
            F.sum(
                F.when(F.col("o_orderpriority") == p, F.col("o_totalprice"))
                .otherwise(F.lit(0))
                .cast("decimal(18,4)")
            )
            .cast("double")
            .alias(name)
        )

    return o.groupBy("o_orderstatus").agg(
        bucket("1-URGENT", "rev_urgent"),
        bucket("2-HIGH", "rev_high"),
        bucket("5-LOW", "rev_low"),
    )


ORACLE_PIVOT = """
SELECT o_orderstatus,
  CAST(SUM(CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE) AS rev_urgent,
  CAST(SUM(CAST(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE) AS rev_high,
  CAST(SUM(CAST(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE) AS rev_low
FROM orders GROUP BY o_orderstatus
"""


def monthly_revenue(spark, sf_dir):
    """Time-series rollup: date_trunc to month → count + exact sum. The
    truncation is a scalar projection, so partial aggregation still applies."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("month", F.date_trunc("month", F.col("o_orderdate")).cast("date"))
        .groupBy("month")
        .agg(F.count(F.lit(1)).alias("n_orders"), _dsum("o_totalprice").alias("revenue"))
    )


ORACLE_MONTHLY = """
SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM orders GROUP BY 1
"""


# -- scalar strings / conditionals / correlated-aggregate ---------------------

def string_ops(spark, sf_dir):
    """String scalar surface: upper / substring / length / regexp extraction
    (digits of the TPC-H customer name) — all JVM-side Catalyst expressions."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper(F.col("c_mktsegment")).alias("seg_upper"),
        F.substring(F.col("c_name"), 1, 8).alias("name_prefix"),
        F.length(F.col("c_name")).alias("name_len"),
        F.regexp_extract(F.col("c_name"), "([0-9]+)", 1).cast("bigint").alias("name_num"),
    )


ORACLE_STRING_OPS = """
SELECT c_custkey, UPPER(c_mktsegment) AS seg_upper,
       SUBSTRING(c_name, 1, 8) AS name_prefix,
       LENGTH(c_name) AS name_len,
       CAST(REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS BIGINT) AS name_num
FROM customer
"""


def case_when_bands(spark, sf_dir):
    """CASE WHEN banding + aggregate over the derived category."""
    c = _t(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return (
        c.withColumn("band", band)
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), _dsum("c_acctbal").alias("total_bal"))
    )


ORACLE_CASE_BANDS = """
SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS band,
       COUNT(*) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
FROM customer GROUP BY 1
"""


def above_nation_avg(spark, sf_dir):
    """Correlated-aggregate shape (customers above their nation's average
    balance) decorrelated into a broadcast join against the per-nation
    aggregate — the plan Catalyst's own subquery rewrite would target."""
    c = _t(spark, sf_dir, "customer")
    per_nation = c.groupBy("c_nationkey").agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )
    # cross-multiplied compare (bal * n > total) stays in exact decimal
    # arithmetic — no division-rounding divergence between engines
    return (
        c.join(F.broadcast(per_nation), "c_nationkey")
        .filter(
            F.col("c_acctbal").cast("decimal(18,4)") * F.col("n") > F.col("total")
        )
        .select(
            "c_custkey",
            "c_nationkey",
            (F.col("total").cast("double") / F.col("n")).alias("avg_bal"),
        )
    )


ORACLE_ABOVE_AVG = """
WITH per_nation AS (
  SELECT c_nationkey, SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS total, COUNT(*) AS n
  FROM customer GROUP BY c_nationkey
)
SELECT c.c_custkey, c.c_nationkey, CAST(p.total AS DOUBLE) / p.n AS avg_bal
FROM customer c JOIN per_nation p USING (c_nationkey)
WHERE CAST(c.c_acctbal AS DECIMAL(18,4)) * p.n > p.total
"""


# -- classic TPC-H composed shapes (adapted to the testdata columns) ----------

def _revenue():
    d = lambda c: F.col(c).cast("decimal(18,4)")
    return (
        F.sum((d("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - d("l_discount"))).cast("decimal(28,8)"))
        .cast("double")
        .alias("revenue")
    )


_SQL_REVENUE = (
    "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * "
    "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) "
    "AS DECIMAL(28,8))) AS DOUBLE) AS revenue"
)


def tpch_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: segment-filtered customers' unshipped order revenue,
    top 10. Both filters push to the scans; customer broadcasts by the size
    threshold (no forced hint — it is SF-proportional); the single fact-fact
    join shuffles once on orderkey."""
    import datetime as dt

    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < dt.datetime(1998, 3, 15))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > dt.datetime(1998, 3, 15))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(_revenue())
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


ORACLE_TPCH_Q3 = f"""
SELECT l_orderkey, o_orderdate, {_SQL_REVENUE}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def tpch_q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: revenue by nation where customer and supplier share
    the nation, one region, one year. Region/nation carry broadcast hints
    (structurally bounded); supplier/customer broadcast by size threshold
    only (SF-proportional); lineitem shuffles once."""
    import datetime as dt

    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= dt.datetime(1996, 1, 1))
        & (F.col("o_orderdate") < dt.datetime(1997, 1, 1))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_revenue())
    )


ORACLE_TPCH_Q5 = f"""
SELECT n_name, {_SQL_REVENUE}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def tpch_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: top 20 customers by revenue lost to returns in one
    quarter."""
    import datetime as dt

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= dt.datetime(1996, 10, 1))
        & (F.col("o_orderdate") < dt.datetime(1997, 1, 1))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_revenue())
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


ORACLE_TPCH_Q10 = f"""
SELECT c_custkey, c_name, n_name, {_SQL_REVENUE}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


QUERIES = {
    "topk_orders": topk_orders,
    "distinct_segments": distinct_segments,
    "set_except_customers": set_except_customers,
    "set_intersect_customers": set_intersect_customers,
    "full_outer_orders": full_outer_orders,
    "right_join_orders": right_join_orders,
    "window_rank_topn": window_rank_topn,
    "cube_revenue": cube_revenue,
    "pivot_priority_revenue": pivot_priority_revenue,
    "monthly_revenue": monthly_revenue,
    "string_ops": string_ops,
    "case_when_bands": case_when_bands,
    "above_nation_avg": above_nation_avg,
    "tpch_q3_shipping_priority": tpch_q3_shipping_priority,
    "tpch_q5_local_supplier_volume": tpch_q5_local_supplier_volume,
    "tpch_q10_returned_items": tpch_q10_returned_items,
}

ORACLES = {
    "topk_orders": ORACLE_TOPK,
    "distinct_segments": ORACLE_DISTINCT,
    "set_except_customers": ORACLE_EXCEPT,
    "set_intersect_customers": ORACLE_INTERSECT,
    "full_outer_orders": ORACLE_FULL_OUTER,
    "right_join_orders": ORACLE_RIGHT_JOIN,
    "window_rank_topn": ORACLE_RANK,
    "cube_revenue": ORACLE_CUBE,
    "pivot_priority_revenue": ORACLE_PIVOT,
    "monthly_revenue": ORACLE_MONTHLY,
    "string_ops": ORACLE_STRING_OPS,
    "case_when_bands": ORACLE_CASE_BANDS,
    "above_nation_avg": ORACLE_ABOVE_AVG,
    "tpch_q3_shipping_priority": ORACLE_TPCH_Q3,
    "tpch_q5_local_supplier_volume": ORACLE_TPCH_Q5,
    "tpch_q10_returned_items": ORACLE_TPCH_Q10,
}


def window_distribution_funcs(spark, sf_dir):
    """Remaining ranking/distribution window family: ntile bucketing,
    percent_rank ((rank-1)/(n-1), one double division — identical across
    engines), cume_dist, first_value. Deterministic via the unique
    (o_orderdate, o_orderkey) tiebreaker; one exchange, one Window node."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 20 == 0)
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first_value(F.col("o_orderkey")).over(w).alias("first_key"),
    )


ORACLE_WINDOW_DIST = """
SELECT o_orderkey, o_custkey,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       first_value(o_orderkey) OVER w AS first_key
FROM orders
WHERE o_custkey % 20 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""

QUERIES["window_distribution_funcs"] = window_distribution_funcs
ORACLES["window_distribution_funcs"] = ORACLE_WINDOW_DIST


# -- range (interval) join: bucketed equi-join scale path ---------------------
# The custom-operator family Spark lacks natively (SURVEY §2 extension; the
# task's canonical example list: "as-of join, range join, ..."). A naive
# interval join is a theta join — Spark can only Cartesian/BNL it, O(N·M)
# at scale. The standard fix (Databricks range-join optimization, here
# hand-built from DataFrame ops): quantize time into coarse BUCKETS, explode
# each interval over the buckets it spans, tag each point with its single
# bucket, equi-join on (user_id, bucket) — shuffle-partitionable, AQE-skew-
# splittable — then refine with the exact bounds. A point's bucket is
# covered by exactly one of an interval's exploded bucket rows, so the
# refined output needs no dedup. Bucket width tunes candidate volume
# (wider = fewer interval rows, more false candidates); it does not affect
# the result.

RANGE_MOD = 31               # every 31st event anchors an interval
RANGE_HALF_H = 6             # interval = anchor ts ± 6 hours
RANGE_BUCKET_US = 2 * 3600 * 1_000_000  # 2-hour buckets


def range_join_events(spark, sf_dir):
    """Per-user interval join: events within ±6h of an anchor event."""
    e = _t(spark, sf_dir, "events")
    iv = e.filter(F.col("event_id") % RANGE_MOD == 0).select(
        F.col("event_id").alias("interval_id"),
        F.col("user_id"),
        (F.col("ts") - F.expr(f"INTERVAL {RANGE_HALF_H} HOUR")).alias("lo"),
        (F.col("ts") + F.expr(f"INTERVAL {RANGE_HALF_H} HOUR")).alias("hi"),
    )
    ivb = iv.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"unix_micros(lo) DIV {RANGE_BUCKET_US}"),
                F.expr(f"unix_micros(hi) DIV {RANGE_BUCKET_US}"),
            )
        ),
    )
    pts = e.select("event_id", "user_id", "ts").withColumn(
        "bucket", F.expr(f"unix_micros(ts) DIV {RANGE_BUCKET_US}")
    )
    return (
        pts.join(ivb, ["user_id", "bucket"])
        .filter(
            (F.col("ts") >= F.col("lo"))
            & (F.col("ts") <= F.col("hi"))
            & (F.col("event_id") != F.col("interval_id"))
        )
        .select("interval_id", "event_id")
    )


ORACLE_RANGE_JOIN = f"""
WITH iv AS (
  SELECT event_id AS interval_id, user_id,
         ts - INTERVAL {RANGE_HALF_H} HOUR AS lo,
         ts + INTERVAL {RANGE_HALF_H} HOUR AS hi
  FROM events WHERE event_id % {RANGE_MOD} = 0
)
SELECT iv.interval_id, e.event_id
FROM iv JOIN events e
  ON e.user_id = iv.user_id
 AND e.ts >= iv.lo AND e.ts <= iv.hi
 AND e.event_id <> iv.interval_id
"""

QUERIES["range_join_events"] = range_join_events
ORACLES["range_join_events"] = ORACLE_RANGE_JOIN


# -- funnel analysis ----------------------------------------------------------
# Classic product-analytics funnel: per user, the earliest view, the earliest
# click within 24h AFTER that view, the earliest purchase within 24h after
# THAT click (24h splits the synthetic corpus into all three stages:
# 90/35/25 users at sf0.01). Sequential step dependency (t2 depends on t1) is the part a
# naive groupBy can't express; self-joins per step shuffle the fact table
# once per funnel stage.

FUNNEL_WINDOW = "INTERVAL 24 HOURS"


def funnel_steps(spark, sf_dir):
    """Per-user 3-step funnel (view -> click -> purchase, 24h per step) and
    the stage reached.

    Scale shape: ONE shuffle total. All three step columns are unbounded
    min-over-user windows over the SAME partitioning (a cascade of Window
    nodes, no exchange between them), and the final per-user collapse
    groups on the partition key the windows just established — Catalyst
    plans zero additional exchanges for it. Per-user state is three
    timestamps; no step self-joins, no fact re-shuffle per stage."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    step1 = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    ev = ev.withColumn("t_view", step1)
    step2 = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") >= F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr(FUNNEL_WINDOW)),
            F.col("ts"),
        )
    ).over(w)
    ev = ev.withColumn("t_click", step2)
    step3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") >= F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr(FUNNEL_WINDOW)),
            F.col("ts"),
        )
    ).over(w)
    ev = ev.withColumn("t_purchase", step3)
    per_user = ev.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.withColumn(
        "stage",
        F.when(F.col("t_purchase").isNotNull(), F.lit(3))
        .when(F.col("t_click").isNotNull(), F.lit(2))
        .when(F.col("t_view").isNotNull(), F.lit(1))
        .otherwise(F.lit(0)),
    )


ORACLE_FUNNEL = """
WITH s1 AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id) AS t_view
  FROM events
),
s2 AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'click' AND ts >= t_view
                   AND ts <= t_view + INTERVAL 24 HOUR THEN ts END)
           OVER (PARTITION BY user_id) AS t_click
  FROM s1
),
s3 AS (
  SELECT *,
         MIN(CASE WHEN event_type = 'purchase' AND ts >= t_click
                   AND ts <= t_click + INTERVAL 24 HOUR THEN ts END)
           OVER (PARTITION BY user_id) AS t_purchase
  FROM s2
)
SELECT user_id, MAX(t_view) AS t_view, MAX(t_click) AS t_click,
       MAX(t_purchase) AS t_purchase,
       CASE WHEN MAX(t_purchase) IS NOT NULL THEN 3
            WHEN MAX(t_click) IS NOT NULL THEN 2
            WHEN MAX(t_view) IS NOT NULL THEN 1
            ELSE 0 END AS stage
FROM s3
GROUP BY user_id
"""

QUERIES["funnel_steps"] = funnel_steps
ORACLES["funnel_steps"] = ORACLE_FUNNEL


# -- cohort retention ---------------------------------------------------------

def retention_cohorts(spark, sf_dir):
    """Weekly cohort retention: users grouped by the week of their first
    event; for each later week, how many of that cohort were active
    (cohort_week, week_offset, n_users). All-integer counts — exact on
    both engines; date_trunc('week') starts Monday in Spark and DuckDB.
    datediff/7 is always an EXACT integer (difference of two Mondays), so
    the int cast never sees a fraction — important because DuckDB's
    float->INT cast rounds-to-nearest while Spark's truncates; a
    non-multiple-of-7 diff here would diverge at .5 boundaries.

    Scale shape: first-activity week is a min-over-user window (one user
    exchange); per-(user, week) activity collapses with distinct, and the
    cohort matrix is one more map-side-combined groupBy on
    (cohort_week, offset) — no self-join of the fact table against the
    first-activity table."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    )
    w = Window.partitionBy("user_id")
    ev = ev.withColumn("cohort_week", F.min("wk").over(w))
    active = ev.select(
        "user_id",
        "cohort_week",
        (F.datediff("wk", "cohort_week") / 7).cast("int").alias("week_offset"),
    ).distinct()
    return active.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


ORACLE_RETENTION = """
WITH ev AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
),
c AS (
  SELECT user_id, wk,
         MIN(wk) OVER (PARTITION BY user_id) AS cohort_week
  FROM ev
),
active AS (
  SELECT DISTINCT user_id, cohort_week,
         CAST(datediff('day', cohort_week, wk) / 7 AS INT) AS week_offset
  FROM c
)
SELECT cohort_week, week_offset, COUNT(*) AS n_users
FROM active GROUP BY cohort_week, week_offset
"""

QUERIES["retention_cohorts"] = retention_cohorts
ORACLES["retention_cohorts"] = ORACLE_RETENTION


# -- datetime scalar surface ---------------------------------------------------
# Engine-parity sweep of the date/time function family over o_orderdate:
# truncation, clamped month arithmetic, period extraction, day deltas, and
# epoch-day conversion. Every expression is a narrow JVM-side Catalyst
# scalar (no shuffle beyond the sampled scan); cross-engine trap notes:
# Spark dayofweek is Sunday=1 while DuckDB dow is Sunday=0, so the gate
# pins the ISO form (Spark weekday()+1 == DuckDB isodow); both engines
# clamp month-end in add_months/INTERVAL arithmetic.

def datetime_ops(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 0)
    d = F.col("o_orderdate").cast("date")  # stored as TIMESTAMP_NTZ midnight
    return o.select(
        "o_orderkey",
        d.alias("o_orderdate"),
        F.date_trunc("quarter", d).cast("date").alias("qtr_start"),
        F.add_months(d, 3).alias("plus_3mo"),
        F.last_day(d).alias("month_end"),
        (F.weekday(d) + F.lit(1)).alias("isodow"),
        F.quarter(d).alias("qtr"),
        F.year(d).alias("yr"),
        F.datediff(F.lit("1998-08-02").cast("date"), d).alias("days_to_ref"),
        F.unix_date(d).alias("epoch_days"),
    )


ORACLE_DATETIME_OPS = """
WITH o AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d
  FROM orders WHERE o_orderkey % 100 = 0
)
SELECT o_orderkey, d AS o_orderdate,
       CAST(date_trunc('quarter', d) AS DATE) AS qtr_start,
       CAST(d + INTERVAL 3 MONTH AS DATE) AS plus_3mo,
       last_day(d) AS month_end,
       CAST(isodow(d) AS INT) AS isodow,
       CAST(quarter(d) AS INT) AS qtr,
       CAST(year(d) AS INT) AS yr,
       CAST(date_diff('day', d, DATE '1998-08-02') AS INT) AS days_to_ref,
       CAST(d - DATE '1970-01-01' AS INT) AS epoch_days
FROM o
"""

QUERIES["datetime_ops"] = datetime_ops
ORACLES["datetime_ops"] = ORACLE_DATETIME_OPS


# -- regexp scalar surface -----------------------------------------------------
# Pattern-function parity on the part-name text: extraction, global
# replacement, match counting, and predicate matching. Patterns stick to
# character classes + anchors that mean the same thing in Java regex
# (Spark) and RE2 (DuckDB); count/replace are all-occurrence forms.

def regex_ops(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract(F.col("p_name"), "^([a-z]+)", 1).alias("first_word"),
        F.regexp_replace(F.col("p_name"), "[aeiou]", "_").alias("devoweled"),
        F.regexp_count(F.col("p_name"), F.lit("[aeiou]")).alias("n_vowels"),
        F.col("p_name").rlike("^[a-z]+ [a-z]+").alias("two_words"),
    )


ORACLE_REGEX_OPS = """
SELECT p_partkey,
       regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
       regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
       CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS INT) AS n_vowels,
       regexp_matches(p_name, '^[a-z]+ [a-z]+') AS two_words
FROM part
"""

QUERIES["regex_ops"] = regex_ops
ORACLES["regex_ops"] = ORACLE_REGEX_OPS


# -- marketing attribution ----------------------------------------------------
# Last-touch attribution: each purchase credits the user's most recent
# NON-purchase touch (view/click/signup/error all count as touches here)
# within a 7-day lookback; purchases with no in-window touch fall into the
# 'unattributed' bucket. One user-partitioned exchange carries both the
# touch-carry window (last ignore-nulls over preceding rows) and nothing
# else — no self-join of the fact against itself (the naive formulation),
# which is the difference between one shuffle and an O(events x touches)
# join at 100 TB. Revenue sums go through exact decimal (engine-identical),
# timestamp deltas through unix_micros (the module's floor discipline).

ATTRIB_LOOKBACK_US = 7 * 24 * 3600 * 1_000_000


def attribution_last_touch(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    touch_ts = F.when(F.col("event_type") != "purchase", F.col("ts"))
    carried = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("touch_type"),
        F.last(touch_ts, ignorenulls=True).over(w).alias("touch_ts"),
    )
    attributed = carried.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("touch_ts").isNotNull()
            & (
                F.unix_micros("ts") - F.unix_micros("touch_ts")
                <= ATTRIB_LOOKBACK_US
            ),
            F.col("touch_type"),
        )
        .otherwise(F.lit("unattributed"))
        .alias("channel"),
        "value",
    )
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        _dsum("value").alias("revenue"),
    )


ORACLE_ATTRIBUTION = f"""
WITH carried AS (
  SELECT user_id, ts, event_type, value,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_ts
  FROM events WHERE user_id IS NOT NULL
),
attributed AS (
  SELECT CASE WHEN touch_ts IS NOT NULL
               AND epoch_us(ts) - epoch_us(touch_ts) <= {ATTRIB_LOOKBACK_US}
              THEN touch_type ELSE 'unattributed' END AS channel,
         value
  FROM carried WHERE event_type = 'purchase'
)
SELECT channel, COUNT(*) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM attributed GROUP BY channel
"""

QUERIES["attribution_last_touch"] = attribution_last_touch
ORACLES["attribution_last_touch"] = ORACLE_ATTRIBUTION


# -- skyline / Pareto frontier -------------------------------------------------

def pareto_frontier(spark, sf_dir):
    """2-D skyline (Pareto frontier) per order priority: the orders not
    DOMINATED within their group — no other order both cheaper-or-equal
    and newer-or-equal (one strictly). The classic sort-based skyline:
    order by (price asc, date desc, key) and keep a row iff its date
    strictly exceeds the running max date over all PRECEDING rows — a
    1-preceding-bounded window max, no self join (the naive dominance
    query is a quadratic inequality self-join). Exactness: price stays
    DECIMAL, dates compare as timestamps, the unique key breaks ties —
    the same total order in both engines selects the same frontier.

    Scale: implemented as the TWO-PHASE skyline (the partial/final shape
    of a monoid aggregate): phase 1 computes a LOCAL skyline per
    (group, input partition) — local non-dominance is necessary for
    global non-dominance, so survivors are a superset of the answer and
    shrink to ~O(skyline) per partition; phase 2 runs the same sweep over
    only the survivors. With ~5 priority groups, the single-phase window
    serialized the whole fact table through 5 tasks (11.5 s at the
    100x/15M tier); the salted phase-1 window restores full-core
    parallelism (the final result is partitioning-INVARIANT — any
    superset of the skyline filters to the same skyline)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,4)").alias("price"),
        F.col("o_orderdate").alias("odate"),
    )

    def sweep(df, part_cols):
        w = (
            Window.partitionBy(*part_cols)
            .orderBy(F.col("price").asc(), F.col("odate").desc(), F.col("o_orderkey"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            df.withColumn("best_prior", F.max("odate").over(w))
            .filter(F.col("best_prior").isNull() | (F.col("odate") > F.col("best_prior")))
            .drop("best_prior")
        )

    local = sweep(
        o.withColumn("_salt", F.spark_partition_id()), ["o_orderpriority", "_salt"]
    ).drop("_salt")
    return sweep(local, ["o_orderpriority"]).select(
        "o_orderpriority",
        "o_orderkey",
        F.col("price").cast("double").alias("price"),
        "odate",
    )


ORACLE_PARETO = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(o_totalprice AS DECIMAL(18,4)) AS price, o_orderdate AS odate
  FROM orders
), marked AS (
  SELECT *, MAX(odate) OVER (
           PARTITION BY o_orderpriority
           ORDER BY price ASC, odate DESC, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_prior
  FROM o
)
SELECT o_orderpriority, o_orderkey, CAST(price AS DOUBLE) AS price, odate
FROM marked WHERE best_prior IS NULL OR odate > best_prior
"""

QUERIES["pareto_frontier"] = pareto_frontier
ORACLES["pareto_frontier"] = ORACLE_PARETO


# -- NULL-semantics surface ----------------------------------------------------

def null_ops(spark, sf_dir):
    """NULL-handling engine parity: NULLIF blanking, COALESCE defaults, and
    — the cross-engine trap worth pinning — a NULL-SAFE equality join
    (Spark ``<=>`` == DuckDB ``IS NOT DISTINCT FROM``): NULL keys MATCH
    each other instead of dropping, unlike ``=``. The nullable key is made
    RARE (key % 97) because null-safe joins cross-product their null
    groups — the semantics gate documents exactly that hazard. All
    outputs are exact counts/integer sums."""
    c = _t(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_custkey").alias("key"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
        F.when(F.col("c_custkey") % 97 == 0, F.lit(None))
        .otherwise(F.floor("c_acctbal"))
        .cast("bigint")
        .alias("v"),
    )
    a = base.filter(F.col("key") % 2 == 0).select(
        F.col("key").alias("ka"), F.col("v").alias("va")
    )
    b = base.filter(F.col("key") % 3 == 0).select(
        F.col("key").alias("kb"), F.col("v").alias("vb")
    )
    joined = a.join(b, F.col("va").eqNullSafe(F.col("vb")))
    pair_stats = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.col("va").isNull().cast("int")).cast("bigint").alias("n_null_pairs"),
    )
    base_stats = base.agg(
        F.sum(F.col("seg").isNull().cast("int")).cast("bigint").alias("n_blanked"),
        F.sum(F.coalesce(F.col("v"), F.lit(-1))).cast("bigint").alias("coalesce_sum"),
        F.count("v").cast("bigint").alias("n_v_nonnull"),
    )
    return pair_stats.crossJoin(base_stats)


ORACLE_NULL_OPS = """
WITH base AS (
  SELECT c_custkey AS key,
         NULLIF(c_mktsegment, 'BUILDING') AS seg,
         CAST(CASE WHEN c_custkey % 97 = 0 THEN NULL
                   ELSE FLOOR(c_acctbal) END AS BIGINT) AS v
  FROM customer
), a AS (SELECT key AS ka, v AS va FROM base WHERE key % 2 = 0),
b AS (SELECT key AS kb, v AS vb FROM base WHERE key % 3 = 0),
joined AS (SELECT * FROM a JOIN b ON va IS NOT DISTINCT FROM vb),
pair_stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN va IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_pairs
  FROM joined
), base_stats AS (
  SELECT CAST(SUM(CASE WHEN seg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_blanked,
         CAST(SUM(COALESCE(v, -1)) AS BIGINT) AS coalesce_sum,
         CAST(COUNT(v) AS BIGINT) AS n_v_nonnull
  FROM base
)
SELECT * FROM pair_stats CROSS JOIN base_stats
"""

QUERIES["null_ops"] = null_ops
ORACLES["null_ops"] = ORACLE_NULL_OPS


# -- salted skew join, identity-gated ------------------------------------------

def salted_join_agg(spark, sf_dir):
    """The explicit skew-salting operator (operators/skew.py) driven
    through the driver's oracle: events fact-joined to the customer dim
    with the hottest user keys salted 8 ways, then rolled up per nation —
    the AGGREGATE is salt-invariant, so the output must equal the plain
    SQL join bit-for-bit. This gates the operator's identity contract
    (salting redistributes work, never changes results) on real data;
    tests/test_bucketing.py holds the unit pins. Hot keys here are a
    deterministic residue class (every 10th user) standing in for the
    data_skew_profile nomination at scale; value sums ride exact decimal
    and cast to double once."""
    from etl_process_for_detecting_fraudulent_transactions_spark.operators.skew import (
        salted_join,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    hot = ev.select("user_id").distinct().filter(F.col("user_id") % 10 == 0)
    joined = salted_join(ev, cust, "user_id", hot_keys=hot, n_salts=8)
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
        .cast("bigint")
        .alias("value_milli"),
    )


ORACLE_SALTED_JOIN = """
SELECT c.c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(SUM(CAST(FLOOR(e.value * 1000) AS BIGINT)) AS BIGINT)
         AS value_milli
FROM events e
JOIN (SELECT c_custkey AS user_id, c_nationkey FROM customer) c
  USING (user_id)
WHERE e.user_id IS NOT NULL
GROUP BY c.c_nationkey
"""

QUERIES["salted_join_agg"] = salted_join_agg
ORACLES["salted_join_agg"] = ORACLE_SALTED_JOIN


# -- linear multi-touch attribution ------------------------------------------------

def attribution_linear(spark, sf_dir):
    """Linear (equal-split) multi-touch attribution: every non-purchase
    touch within the 7-day lookback of a purchase shares the purchase's
    revenue equally. The per-touch credit is the exact truncating integral
    division value_milli * 10^6 div n_touches (nonneg operands: floor ==
    truncate in both engines), so channel totals hash exactly; the
    dropped remainder is < n_touches micro-units per purchase, auditable
    from the emitted purchase counts. Pair generation is a user-keyed
    equi-join with a range residual — per-user touch volume is
    session-bounded, the same contract as the last-touch gate; the bucketed
    interval strategy in range_join_events is the swap-in if a workload
    breaks that bound."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.expr("unix_micros(ts)").alias("p_us"),
        F.floor(F.col("value") * 1000).cast("bigint").alias("value_milli"),
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.expr("unix_micros(ts)").alias("t_us"),
    )
    pairs = purchases.join(touches, "user_id").filter(
        (F.col("t_us") <= F.col("p_us"))
        & (F.col("p_us") - F.col("t_us") <= ATTRIB_LOOKBACK_US)
    )
    w = Window.partitionBy("p_id")
    credited = pairs.select(
        "channel",
        "p_id",
        F.expr(
            "CAST(value_milli * 1000000 div COUNT(*) OVER (PARTITION BY p_id)"
            " AS BIGINT)"
        ).alias("credit_micro"),
        F.count(F.lit(1)).over(w).alias("n_touches"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_touchpoints"),
        F.countDistinct("p_id").cast("bigint").alias("n_purchases"),
        F.sum("credit_micro").cast("bigint").alias("credit_micro_sum"),
    )


ORACLE_ATTRIB_LINEAR = f"""
WITH p AS (
  SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us,
         CAST(FLOOR(value * 1000) AS BIGINT) AS value_milli
  FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'
), t AS (
  SELECT user_id, event_type AS channel, epoch_us(ts) AS t_us
  FROM events WHERE user_id IS NOT NULL AND event_type <> 'purchase'
), pairs AS (
  SELECT t.channel, p.p_id, p.value_milli
  FROM p JOIN t USING (user_id)
  WHERE t.t_us <= p.p_us AND p.p_us - t.t_us <= {ATTRIB_LOOKBACK_US}
), credited AS (
  SELECT channel, p_id,
         CAST(value_milli * 1000000
              // COUNT(*) OVER (PARTITION BY p_id) AS BIGINT) AS credit_micro
  FROM pairs
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_touchpoints,
       CAST(COUNT(DISTINCT p_id) AS BIGINT) AS n_purchases,
       CAST(SUM(credit_micro) AS BIGINT) AS credit_micro_sum
FROM credited GROUP BY channel
"""

QUERIES["attribution_linear"] = attribution_linear
ORACLES["attribution_linear"] = ORACLE_ATTRIB_LINEAR


# -- day-over-day audience overlap (Jaccard) ---------------------------------------
# The churn-vs-stickiness companion to retention_cohorts (weekly, anchored
# at first activity): for each consecutive day pair (d, d+1), the Jaccard
# similarity of the two days' ACTIVE USER sets — |A ∩ B| / |A ∪ B| with
# the union by inclusion-exclusion, all integer, ppm-scaled with
# truncating division. Scale shape: one distinct over (day, user) (single
# key shuffle, partial map-side), the intersection via an equi-join of
# that distinct set against itself shifted by one day (user+day keyed —
# co-partitioned key shuffle, never a cross join), and the day-pair spine
# is the per-day count table joined to itself shifted — calendar-bounded.
# Only day pairs where BOTH days have activity emit (inner spine); a pair
# with zero overlap emits 0 via the left join + coalesce. inter*1e6 <=
# 1e17 for 1e11 daily actives — inside int64 with room.

def cohort_overlap_jaccard(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    counts = du.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_day")
    )
    nxt = du.select(F.date_sub("day", 1).alias("day"), "user_id")
    inter = du.join(nxt, ["day", "user_id"]).groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("ni")
    )
    spine = counts.join(
        counts.select(
            F.date_sub("day", 1).alias("day"), F.col("n_day").alias("n_next")
        ),
        "day",
    )
    return (
        spine.join(inter, "day", "left")
        .select(
            "day",
            "n_day",
            "n_next",
            F.coalesce("ni", F.lit(0)).cast("bigint").alias("n_inter"),
        )
        .select(
            "day",
            "n_day",
            "n_next",
            "n_inter",
            F.expr(
                "CAST(n_inter * 1000000"
                " div (n_day + n_next - n_inter) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


ORACLE_COHORT_OVERLAP = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
  FROM events WHERE user_id IS NOT NULL
), counts AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_day FROM du GROUP BY day
), inter AS (
  SELECT a.day, CAST(COUNT(*) AS BIGINT) AS ni
  FROM du a JOIN du b ON b.user_id = a.user_id AND b.day = a.day + 1
  GROUP BY a.day
), spine AS (
  SELECT c1.day, c1.n_day, c2.n_day AS n_next
  FROM counts c1 JOIN counts c2 ON c2.day = c1.day + 1
)
SELECT s.day, s.n_day, s.n_next,
       CAST(COALESCE(i.ni, 0) AS BIGINT) AS n_inter,
       CAST(COALESCE(i.ni, 0) * 1000000
            // (s.n_day + s.n_next - COALESCE(i.ni, 0)) AS BIGINT)
         AS jaccard_ppm
FROM spine s LEFT JOIN inter i ON i.day = s.day
"""

QUERIES["cohort_overlap_jaccard"] = cohort_overlap_jaccard
ORACLES["cohort_overlap_jaccard"] = ORACLE_COHORT_OVERLAP
