"""Data-quality / integrity profiling — the validation pass an ETL engine
runs before trusting a load (the reference's implicit contract: its seed
dump and file loads assume PK uniqueness and intact FKs; this makes those
assumptions checkable at scale).

One gate query returns a small (check_name, n_bad) table covering:
primary-key duplication, FK orphans in both fact directions, null/blank
attribute counts, and domain violations. Each check is an independent
aggregate/anti-join; the union output is bounded by the number of checks,
never by data size.

Scale notes (100 TB): every check is either a map-side aggregate (null /
domain counts — one scan, no shuffle beyond the 1-row reduce) or a single
key shuffle (PK dup via groupBy, FK orphan via anti join on the key). The
checks are independent subtrees, so Spark schedules them concurrently
inside one job; nothing collects to the driver."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._io import load_table as _t


def _one(name, df_count):
    return df_count.select(F.lit(name).alias("check_name"),
                           F.col("n").cast("bigint").alias("n_bad"))


def integrity_checks(spark, sf_dir):
    """Seven integrity checks over the star schema, returned as
    (check_name, n_bad) rows. All pass-counts are exact; a healthy load
    yields n_bad = 0 for the PK/FK rows (the null/domain profiling rows
    report whatever the data contains)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    ev = _t(spark, sf_dir, "events")

    pk_dup_orders = _one(
        "pk_dup_orders",
        o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.count(F.lit(1)).alias("n")),
    )
    # composite PK on the fact
    pk_dup_lineitem = _one(
        "pk_dup_lineitem",
        li.groupBy("l_orderkey", "l_linenumber").agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(F.count(F.lit(1)).alias("n")),
    )
    fk_orphan_lineitem = _one(
        "fk_orphan_lineitem_orders",
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n")),
    )
    fk_orphan_orders = _one(
        "fk_orphan_orders_customer",
        o.join(c.select("c_custkey"), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n")),
    )
    null_props_events = _one(
        "null_props_events",
        ev.agg(F.sum(F.when(F.col("props").isNull(), 1).otherwise(0)).alias("n")),
    )
    neg_qty_lineitem = _one(
        "domain_nonpositive_qty_lineitem",
        li.agg(F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("n")),
    )
    bad_discount = _one(
        "domain_discount_out_of_range",
        li.agg(
            F.sum(
                F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1)
                .otherwise(0)
            ).alias("n")
        ),
    )
    out = pk_dup_orders
    for part in (
        pk_dup_lineitem,
        fk_orphan_lineitem,
        fk_orphan_orders,
        null_props_events,
        neg_qty_lineitem,
        bad_discount,
    ):
        out = out.unionByName(part)
    return out


ORACLE_INTEGRITY = """
SELECT 'pk_dup_orders' AS check_name,
       (SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders
         GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS n_bad
UNION ALL
SELECT 'pk_dup_lineitem',
       (SELECT COUNT(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem
         GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1))
UNION ALL
SELECT 'fk_orphan_lineitem_orders',
       (SELECT COUNT(*) FROM lineitem WHERE l_orderkey NOT IN
         (SELECT o_orderkey FROM orders))
UNION ALL
SELECT 'fk_orphan_orders_customer',
       (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
         (SELECT c_custkey FROM customer))
UNION ALL
SELECT 'null_props_events',
       (SELECT CAST(COALESCE(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM events)
UNION ALL
SELECT 'domain_nonpositive_qty_lineitem',
       (SELECT CAST(COALESCE(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM lineitem)
UNION ALL
SELECT 'domain_discount_out_of_range',
       (SELECT CAST(COALESCE(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
        FROM lineitem)
"""


QUERIES = {"integrity_checks": integrity_checks}
ORACLES = {"integrity_checks": ORACLE_INTEGRITY}


# -- join-key skew profiling --------------------------------------------------
# The measurement that DECIDES the skew strategy (operators/skew.py
# salted_join, AQE skew splitting): per join column — row count, distinct
# keys, the hottest key's row count and share. Run it before sizing salts.

_SKEW_COLS = (
    ("orders", "o_custkey"),
    ("lineitem", "l_partkey"),
    ("events", "user_id"),
)


def data_skew_profile(spark, sf_dir):
    """Per join column: n_rows, n_distinct keys, top key count + share.

    Only the max group COUNT is emitted, never the arg-max key — ties on
    the count would make the key engine/partitioning-dependent. Each
    column costs one map-side-combined groupBy collapsed to a 1-row
    aggregate; the union of the tiny per-column rows is driver-free."""
    outs = []
    for table, col in _SKEW_COLS:
        per_key = (
            _t(spark, sf_dir, table)
            .groupBy(F.col(col).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        outs.append(
            per_key.agg(
                F.lit(f"{table}.{col}").alias("table_col"),
                F.sum("c").alias("n_rows"),
                F.count(F.lit(1)).alias("n_distinct"),
                F.max("c").alias("top_count"),
                (F.max("c").cast("double") / F.sum("c")).alias("top_share"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    # an EMPTY table yields one all-null global-agg row on the Spark side
    # but zero rows from the oracle's GROUP BY — drop it so both agree
    return res.filter(F.col("n_rows").isNotNull())


ORACLE_SKEW_PROFILE = """
WITH p AS (
  SELECT 'orders.o_custkey' AS table_col, COUNT(*) AS c
  FROM orders GROUP BY o_custkey
),
q AS (
  SELECT 'lineitem.l_partkey' AS table_col, COUNT(*) AS c
  FROM lineitem GROUP BY l_partkey
),
r AS (
  SELECT 'events.user_id' AS table_col, COUNT(*) AS c
  FROM events GROUP BY user_id
),
u AS (
  SELECT * FROM p UNION ALL SELECT * FROM q UNION ALL SELECT * FROM r
)
SELECT table_col,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       COUNT(*) AS n_distinct,
       CAST(MAX(c) AS BIGINT) AS top_count,
       CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_share
FROM u GROUP BY table_col
"""

QUERIES["data_skew_profile"] = data_skew_profile
ORACLES["data_skew_profile"] = ORACLE_SKEW_PROFILE


# -- ANALYZE-style column profile ------------------------------------------------

_PROFILE_COLS = (
    # (name, canonical-string expression — ints cast directly, the double
    # through DECIMAL(18,4) so both engines render identical digits, the
    # timestamp through an explicit format)
    ("o_orderkey", "CAST(o_orderkey AS STRING)"),
    ("o_custkey", "CAST(o_custkey AS STRING)"),
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority"),
    ("o_totalprice", "CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS STRING)"),
    ("o_orderdate", "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss')"),
)


def column_profile(spark, sf_dir):
    """The ANALYZE/profiling surface: per-column row/null/distinct counts,
    min/max, and average rendered length over the orders table — the
    stats every optimizer and data-quality dashboard starts from. Values
    canonicalize to strings FIRST (ints directly, the double through
    DECIMAL(18,4), the timestamp through an explicit format) so min/max
    and lengths are engine-identical; avg_len stays an exact integer sum
    plus one division.

    Deliberately ONE AGGREGATE PER COLUMN, unioned: each branch's parquet
    scan prunes to exactly its column, so six narrow scans cost the I/O
    of one wide scan — while the "single pass" alternative (all six
    countDistincts in one agg) compiles to a 6x-row Expand shuffle and
    measured 3x SLOWER at the 10x tier (5.1 s vs 1.6 s). Columnar
    formats change which shape "one scan" means."""
    o = _t(spark, sf_dir, "orders")
    canon = o.selectExpr(
        *[f"{expr} AS {name}" for name, expr in _PROFILE_COLS]
    )
    profiles = []
    for name, _ in _PROFILE_COLS:
        profiles.append(
            canon.select(name).agg(
                F.lit(name).alias("col_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(F.col(name).isNull().cast("int"))
                .cast("bigint")
                .alias("n_nulls"),
                F.countDistinct(name).cast("bigint").alias("n_distinct"),
                F.min(name).alias("min_val"),
                F.max(name).alias("max_val"),
                (
                    F.sum(F.length(name).cast("bigint"))
                    / F.count(name)
                ).alias("avg_len"),
            )
        )
    out = profiles[0]
    for pr in profiles[1:]:
        out = out.unionByName(pr)
    return out


def _profile_branch_sql(name: str, expr: str) -> str:
    duck = (
        expr.replace("AS STRING", "AS VARCHAR")
        .replace("date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss')",
                 "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')")
    )
    return f"""SELECT '{name}' AS col_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
       MIN(v) AS min_val, MAX(v) AS max_val,
       CAST(SUM(length(v)) AS BIGINT) / COUNT(v) AS avg_len
FROM (SELECT {duck} AS v FROM orders)"""


ORACLE_PROFILE = "\nUNION ALL\n".join(
    _profile_branch_sql(name, expr) for name, expr in _PROFILE_COLS
)

QUERIES["column_profile"] = column_profile
ORACLES["column_profile"] = ORACLE_PROFILE


# -- k-anonymity audit -----------------------------------------------------------
# The privacy gate a training-data release pipeline runs before shipping a
# corpus: group rows into equivalence classes by their quasi-identifier
# tuple (lang, source, n_chars bucketed to 100) and report how identifiable
# the worst class is. k = the SMALLEST class size (a class of 1 is a
# unique, re-identifiable record); rows_at_risk counts everything in
# classes below the k=5 release threshold. One fact-scale groupBy + one
# tiny aggregate — map-side combinable, no window, no join.

def k_anonymity_profile(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    classes = docs.groupBy(
        "lang", "source", F.expr("n_chars DIV 100").alias("size_bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.min("c").cast("bigint").alias("k_anonymity"),
        F.sum(F.when(F.col("c") < 5, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("rows_at_risk"),
        F.sum(F.when(F.col("c") < 5, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_at_risk"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("unique_records"),
    )


ORACLE_K_ANON = """
WITH classes AS (
  SELECT lang, source, n_chars // 100 AS size_bucket,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2, 3
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(MIN(c) AS BIGINT) AS k_anonymity,
       CAST(SUM(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS rows_at_risk,
       CAST(SUM(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_at_risk,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS unique_records
FROM classes
"""

QUERIES["k_anonymity_profile"] = k_anonymity_profile
ORACLES["k_anonymity_profile"] = ORACLE_K_ANON


# -- l-diversity audit -----------------------------------------------------------
# k-anonymity's companion: a class can be large yet still leak if every
# member shares the same SENSITIVE value. Quasi-identifier = (event_type,
# hour-of-day); sensitive attribute = user_id; l = the smallest
# per-class count of DISTINCT sensitive values. Distinct-inside-groupBy
# is one exchange (partial distinct map-side); the summary is a second,
# tiny aggregate.

def l_diversity_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    classes = ev.groupBy(
        "event_type", F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.countDistinct("user_id").cast("bigint").alias("l"),
    )
    return classes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("c").cast("bigint").alias("n_rows"),
        F.min("l").cast("bigint").alias("l_diversity"),
        F.sum(F.when(F.col("l") < 3, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("rows_at_risk"),
        F.sum(F.when(F.col("l") < 3, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_at_risk"),
    )


ORACLE_L_DIV = """
WITH classes AS (
  SELECT event_type, EXTRACT(hour FROM ts) AS hod,
         CAST(COUNT(*) AS BIGINT) AS c,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS l
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(MIN(l) AS BIGINT) AS l_diversity,
       CAST(SUM(CASE WHEN l < 3 THEN c ELSE 0 END) AS BIGINT) AS rows_at_risk,
       CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_at_risk
FROM classes
"""

QUERIES["l_diversity_events"] = l_diversity_events
ORACLES["l_diversity_events"] = ORACLE_L_DIV


# -- t-closeness audit -------------------------------------------------------------
# Completes the k-anonymity / l-diversity privacy triad: a class can be
# large AND diverse yet still leak if its sensitive-attribute DISTRIBUTION
# deviates from the corpus-wide one. Classes = calendar day; ordered
# sensitive attribute = event_type (lexical order); t(class) = the EMD
# between the class and global distributions = (1/(m-1)) * SUM_i
# |Pcum_class(i) - Pcum_global(i)| over the m sensitive values. Exact
# integer form: per class c, SUM_i |cumc_i*N - cumg_i*n_c| ppm-scaled over
# (m-1)*n_c*N, all cross-products in DECIMAL(38,0) (cumc*N ~ 1e24 at the
# 100-TB posture). Scale shape: ONE fact-scale groupBy(day, event_type);
# everything after runs on the dense day x type grid (calendar x domain
# bounded — the grid is built by cross-joining the two broadcast distinct
# lists so zero-count cells exist), with cumulative windows of m rows per
# class and one <=m-row global ledger. greatest(m-1, 1) guards the m=1
# division exactly: with one sensitive value every numerator term is
# |n_c*N - N*n_c| = 0, so the guard never changes a value. NULL day/type
# rows are excluded up front: the cumulative windows ORDER BY event_type,
# and Spark sorts NULLS FIRST where DuckDB sorts NULLS LAST — filtering
# (a no-op on this corpus) keeps the engines aligned on any input.

def t_closeness_profile(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    cell = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    days = cell.select("day").distinct()
    types = cell.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("g")
    )
    tot = types.agg(
        F.sum("g").cast("bigint").alias("big_n"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    wg = Window.orderBy("event_type").rowsBetween(
        Window.unboundedPreceding, 0
    )  # <=m rows — bounded metadata
    gcum = types.select(
        "event_type", F.sum("g").over(wg).cast("bigint").alias("cumg")
    )
    grid = (
        days.crossJoin(F.broadcast(types.select("event_type")))
        .join(cell, ["day", "event_type"], "left")
        .select("day", "event_type", F.coalesce("c", F.lit(0)).alias("c0"))
    )
    wclass = Window.partitionBy("day")
    wccum = Window.partitionBy("day").orderBy("event_type").rowsBetween(
        Window.unboundedPreceding, 0
    )  # m rows per class
    dec = "decimal(38,0)"
    terms = (
        grid.select(
            "day",
            F.sum("c0").over(wclass).cast("bigint").alias("n_c"),
            F.sum("c0").over(wccum).cast("bigint").alias("cumc"),
            "event_type",
        )
        .join(F.broadcast(gcum), "event_type")
        .join(F.broadcast(tot))
        .select(
            "day",
            "n_c",
            "m",
            "big_n",
            F.abs(
                F.col("cumc").cast(dec) * F.col("big_n")
                - F.col("cumg").cast(dec) * F.col("n_c")
            ).alias("term"),
        )
    )
    per_class = terms.groupBy("day", "n_c", "m", "big_n").agg(
        F.sum("term").alias("t_num")
    ).select(
        "day",
        "n_c",
        F.expr(
            "CAST(t_num * 1000000 div (greatest(m - 1, 1)"
            " * CAST(n_c AS DECIMAL(38,0)) * big_n) AS BIGINT)"
        ).alias("t_ppm"),
    )
    return per_class.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.max("t_ppm").cast("bigint").alias("max_t_ppm"),
        F.sum(F.when(F.col("t_ppm") > 200000, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_at_risk"),
        F.sum(F.when(F.col("t_ppm") > 200000, F.col("n_c")).otherwise(0))
        .cast("bigint")
        .alias("rows_at_risk"),
    )


ORACLE_T_CLOSE = """
WITH cell AS (
  SELECT CAST(ts AS DATE) AS day, event_type,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
), types AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS g FROM cell GROUP BY 1
), tot AS (
  SELECT CAST(SUM(g) AS BIGINT) AS big_n,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM types
), gcum AS (
  SELECT event_type,
         CAST(SUM(g) OVER (ORDER BY event_type ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cumg
  FROM types
), grid AS (
  SELECT d.day, t.event_type, COALESCE(c.c, 0) AS c0
  FROM (SELECT DISTINCT day FROM cell) d
  CROSS JOIN (SELECT event_type FROM types) t
  LEFT JOIN cell c ON c.day = d.day AND c.event_type = t.event_type
), terms AS (
  SELECT g.day,
         CAST(SUM(c0) OVER (PARTITION BY g.day) AS BIGINT) AS n_c,
         ABS(CAST(SUM(c0) OVER (PARTITION BY g.day ORDER BY g.event_type
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS HUGEINT) * tot.big_n
             - CAST(gc.cumg AS HUGEINT) * SUM(c0) OVER (PARTITION BY g.day))
           AS term,
         tot.m, tot.big_n
  FROM grid g
  JOIN gcum gc ON gc.event_type = g.event_type
  CROSS JOIN tot
), per_class AS (
  SELECT day, n_c,
         CAST(SUM(term) * 1000000
              // (GREATEST(m - 1, 1) * CAST(n_c AS HUGEINT) * big_n)
           AS BIGINT) AS t_ppm
  FROM terms GROUP BY day, n_c, m, big_n
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(MAX(t_ppm) AS BIGINT) AS max_t_ppm,
       CAST(SUM(CASE WHEN t_ppm > 200000 THEN 1 ELSE 0 END) AS BIGINT)
         AS classes_at_risk,
       CAST(SUM(CASE WHEN t_ppm > 200000 THEN n_c ELSE 0 END) AS BIGINT)
         AS rows_at_risk
FROM per_class
"""

QUERIES["t_closeness_profile"] = t_closeness_profile
ORACLES["t_closeness_profile"] = ORACLE_T_CLOSE
