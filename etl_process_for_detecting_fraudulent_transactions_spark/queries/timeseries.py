"""Time-series resampling operators: calendar spine generation, gap
detection and forward-fill — the "hypertable gap-fill" family that Spark
has no built-in operator for, composed from sequence/explode + a bounded
running ``last(ignorenulls)`` window (no UDF anywhere).

Determinism: revenue stays DECIMAL through the aggregate AND the window
fill, cast to double once at the end; the gap flag is an int in both
engines. The spine is generated from fixed literal bounds so the output
set is a pure function of the data.

Scale notes (100 TB): the spine is (groups x days) — calendar-bounded,
i.e. structurally tiny no matter the fact size, so it broadcasts. The
daily aggregate is the one fact-scale shuffle; the forward-fill window
partitions by series key, so fill parallelism equals series cardinality
and no global sort exists. This is the composition-over-custom-operator
answer: sequence+explode+left join+last(ignorenulls) gives hypertable
``time_bucket_gapfill``/``locf`` semantics with plain Catalyst operators.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ._io import load_table as _t

_SPINE_START = "1995-01-01 00:00:00"
_SPINE_END = "1995-03-31 00:00:00"


def resample_ffill(spark, sf_dir):
    """Daily order revenue per priority over a fixed 90-day window,
    resampled onto a dense calendar spine: days with no orders appear with
    the last observed value carried forward (LOCF) and ``was_gap = 1``.
    Leading days before a series' first observation stay NULL (nothing to
    carry), exactly as in the SQL oracle."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_SPINE_START).cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit(_SPINE_END).cast("timestamp"))
    )
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.date_trunc("day", "o_orderdate").alias("day"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev"))

    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(_SPINE_START).cast("timestamp"),
                F.lit(_SPINE_END).cast("timestamp"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    prios = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio")
    ).distinct()
    spine = prios.crossJoin(F.broadcast(days))

    w = (
        Window.partitionBy("prio")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        spine.join(daily, ["prio", "day"], "left")
        .withColumn("was_gap", F.when(F.col("rev").isNull(), 1).otherwise(0))
        .withColumn("rev_filled", F.last("rev", ignorenulls=True).over(w))
    )
    return filled.select(
        "prio",
        "day",
        F.col("rev_filled").cast("double").alias("revenue"),
        "was_gap",
    )


ORACLE_RESAMPLE_FFILL = f"""
WITH days AS (
  SELECT gs AS day
  FROM generate_series(TIMESTAMP '{_SPINE_START}', TIMESTAMP '{_SPINE_END}',
                       INTERVAL 1 DAY) t(gs)
), prios AS (
  SELECT DISTINCT o_orderpriority AS prio FROM orders
), daily AS (
  SELECT o_orderpriority AS prio, date_trunc('day', o_orderdate) AS day,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{_SPINE_START}'
    AND o_orderdate <= TIMESTAMP '{_SPINE_END}'
  GROUP BY 1, 2
)
SELECT prio, day,
       CAST(last_value(rev IGNORE NULLS) OVER (
         PARTITION BY prio ORDER BY day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS revenue,
       CASE WHEN rev IS NULL THEN 1 ELSE 0 END AS was_gap
FROM prios
CROSS JOIN days
LEFT JOIN daily USING (prio, day)
"""


def hopping_window_stats(spark, sf_dir):
    """Overlapping (hopping) time windows in BATCH mode via ``F.window``:
    2-hour windows sliding every hour over the events stream table — each
    event contributes to exactly two windows. Gated against a SQL oracle
    that expands each event into its two epoch-aligned window starts. The window
    assignment is a scan-side projection (generator of 2 rows per event);
    the one shuffle is the final (window, type) aggregate."""
    # null posture (round-8 audit): F.window drops NULL-ts rows implicitly;
    # the filter makes the contract explicit and the oracle mirrors it
    ev = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


ORACLE_HOPPING_WINDOW = """
WITH e AS (
  SELECT event_type, value,
         unnest([date_trunc('hour', ts),
                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS window_start
  FROM events WHERE ts IS NOT NULL
)
SELECT window_start, window_start + INTERVAL 2 HOUR AS window_end,
       event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
FROM e
GROUP BY window_start, event_type
"""


def gap_islands(spark, sf_dir):
    """Gaps-and-islands: per-user runs of CONSECUTIVE activity days over the
    events table (the retention/streak shape every analytics engine is asked
    for). The island key is the classic ``day - row_number() days`` trick —
    constant within a consecutive run, distinct across runs — so no self
    join and no iteration. All four stages (distinct day set, run-id
    window, streak rollup, per-user rollup) cluster on ``user_id``, and
    hash-partitioning on user_id alone satisfies every one of their
    clustering requirements (subset rule) — so the explicit repartition
    below is the ONLY exchange in the plan (4 without it: distinct keys
    on (user_id, day) and each stage re-shuffles). Every output is an
    exact integer (day counts), so the gate hashes identically across
    engines."""
    ev = _t(spark, sf_dir, "events")
    days = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .repartition("user_id")
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    runs = days.withColumn(
        "island", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = runs.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.sum("streak_len").cast("bigint").alias("active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
        F.max("streak_len").cast("bigint").alias("longest_streak"),
    )


ORACLE_GAP_ISLANDS = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), runs AS (
  SELECT user_id,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS island
  FROM days
), streaks AS (
  SELECT user_id, island, COUNT(*) AS streak_len
  FROM runs GROUP BY user_id, island
)
SELECT user_id,
       CAST(SUM(streak_len) AS BIGINT) AS active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(streak_len) AS BIGINT) AS longest_streak
FROM streaks GROUP BY user_id
"""


QUERIES = {
    "resample_ffill": resample_ffill,
    "hopping_window_stats": hopping_window_stats,
    "gap_islands": gap_islands,
}
ORACLES = {
    "resample_ffill": ORACLE_RESAMPLE_FFILL,
    "hopping_window_stats": ORACLE_HOPPING_WINDOW,
    "gap_islands": ORACLE_GAP_ISLANDS,
}


# -- fixed-point EWMA anomaly scan --------------------------------------------
# The one time-series shape a Catalyst window CANNOT express: a per-series
# SEQUENTIAL recurrence (s_i depends on s_{i-1}, not on a frame of input
# rows). This is the documented use case for grouped applyInPandas: the
# recurrence runs as an Arrow-batched per-group kernel. Exactness comes
# from fixed-point integers — x is the daily value total in millis,
# alpha = 3/16, s_i = (3*x_i + 13*s_{i-1}) intdiv 16 — so Spark's Python
# kernel and DuckDB's RECURSIVE CTE replay the identical integer sequence
# (all operands nonnegative: floor == truncate in every engine).
#
# Scale: the recurrence depth is CALENDAR days — scale-free — and the
# fact-scale work (the daily aggregate) is one ordinary shuffle, so the
# sequential part never grows with data volume. For genuinely long series,
# float EWMA is an associative affine scan (compose (a,b) of s -> a*s + b
# per segment); the truncating fixed-point form trades that associativity
# for bit-exact replay, the right trade while depth is calendar-bounded.

_EWMA_OUT_SCHEMA = (
    "event_type string, n_days bigint, ewma_final_milli bigint, "
    "n_anomalies bigint"
)


def ewma_anomaly(spark, sf_dir):
    import pandas as pd

    # null-robustness audit (round 8): NULL event_type breaks the oracle's
    # recursive equi-join (the null group would replay only its first day)
    # and NULL ts forms an engine-ordering-dependent day group — both
    # excluded, mirrored in the oracle
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )

    def _scan(key, pdf):
        xs = pdf.sort_values("day")["x"].tolist()
        s, anom = xs[0], 0
        for x in xs[1:]:
            if abs(x - s) * 5 > s:
                anom += 1
            s = (3 * x + 13 * s) // 16
        return pd.DataFrame(
            [
                {
                    "event_type": key[0],
                    "n_days": len(xs),
                    "ewma_final_milli": s,
                    "n_anomalies": anom,
                }
            ]
        )

    return daily.groupBy("event_type").applyInPandas(_scan, _EWMA_OUT_SCHEMA)


ORACLE_EWMA = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2
), seq AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
), rec AS (
  SELECT event_type, rn, x AS s, CAST(0 AS BIGINT) AS anom
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT seq.event_type, seq.rn,
         (3 * seq.x + 13 * rec.s) // 16,
         rec.anom + CASE WHEN ABS(seq.x - rec.s) * 5 > rec.s
                         THEN 1 ELSE 0 END
  FROM rec JOIN seq
    ON seq.event_type = rec.event_type AND seq.rn = rec.rn + 1
)
SELECT event_type,
       CAST(MAX(rn) AS BIGINT) AS n_days,
       arg_max(s, rn) AS ewma_final_milli,
       CAST(MAX(anom) AS BIGINT) AS n_anomalies
FROM rec GROUP BY event_type
"""

QUERIES["ewma_anomaly"] = ewma_anomaly
ORACLES["ewma_anomaly"] = ORACLE_EWMA


# -- OHLC bars ----------------------------------------------------------------

def ohlc_bars(spark, sf_dir):
    """Candlestick (open/high/low/close) bars per (event_type, day) — the
    financial/TSDB downsampling rollup. Open/close are the values at the
    first/last event of the bar under the unique (ts, event_id) order, so
    the pick is deterministic in both engines; doubles are SELECTED (never
    summed), and the volume column goes through exact decimal — everything
    hashes bit-for-bit. One exchange: the row_number windows and the final
    aggregate all cluster on (event_type, day)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("day"), "ts", "event_id", "value"
    )
    w = Window.partitionBy("event_type", "day")
    wa = w.orderBy("ts", "event_id")
    wd = w.orderBy(F.col("ts").desc(), F.col("event_id").desc())
    marked = ev.select(
        "event_type",
        "day",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return marked.groupBy("event_type", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("volume"),
    )


ORACLE_OHLC = """
WITH marked AS (
  SELECT event_type, CAST(ts AS DATE) AS day, value,
         row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, day,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS volume
FROM marked GROUP BY event_type, day
"""


# -- time-weighted average --------------------------------------------------

def twap_daily(spark, sf_dir):
    """Time-weighted average value per (event_type, day) — each observation
    weighted by its holding interval to the NEXT event of the same series
    that day (the last observation carries no interval and drops out, as
    in the oracle). Exactness: values scale to integer millis, intervals
    are integer microseconds, and the weighted sum accumulates in
    DECIMAL(38,0) (the bigint products reach ~5e16 and sum past 2^63) —
    ONE division at the end. The oracle routes its HUGEINT sum through
    VARCHAR before the double cast: wsum exceeds 2^53, where DuckDB's
    native hugeint->double can double-round 1 ulp off Spark's
    correctly-rounded BigInteger conversion (the round-3 audit class). One exchange: lead window and aggregate share
    the (event_type, day) clustering."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        F.floor(F.col("value") * 1000).cast("bigint").alias("x_milli"),
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    iv = ev.select(
        "event_type",
        "day",
        "x_milli",
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("dur_us"),
    ).filter(F.col("dur_us").isNotNull())
    return iv.groupBy("event_type", "day").agg(
        F.sum(F.col("x_milli").cast("decimal(38,0)") * F.col("dur_us"))
        .cast("decimal(38,0)")
        .alias("wsum"),
        F.sum("dur_us").cast("bigint").alias("total_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
    ).select(
        "event_type",
        "day",
        (F.col("wsum").cast("double") / (F.col("total_us") * 1000)).alias("twap"),
        "total_us",
        "n_intervals",
    )


ORACLE_TWAP = """
WITH iv AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(FLOOR(value * 1000) AS BIGINT) AS x_milli,
         epoch_us(lead(ts) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                 ORDER BY ts, event_id)) - epoch_us(ts)
           AS dur_us
  FROM events
)
SELECT event_type, day,
       -- VARCHAR-routed cast: DuckDB's HUGEINT->DOUBLE is a multiply-add
       -- that can double-round past 2^53 (wsum ~2.4e16 at sf0.1); string
       -- parse is correctly rounded in both engines (the round-3 decimal
       -- audit recipe), matching Spark's BigInteger.doubleValue().
       CAST(CAST(SUM(CAST(x_milli AS HUGEINT) * dur_us) AS VARCHAR) AS DOUBLE)
         / (CAST(SUM(dur_us) AS BIGINT) * 1000) AS twap,
       CAST(SUM(dur_us) AS BIGINT) AS total_us,
       CAST(COUNT(*) AS BIGINT) AS n_intervals
FROM iv WHERE dur_us IS NOT NULL
GROUP BY event_type, day
"""

QUERIES["ohlc_bars"] = ohlc_bars
ORACLES["ohlc_bars"] = ORACLE_OHLC
QUERIES["twap_daily"] = twap_daily
ORACLES["twap_daily"] = ORACLE_TWAP


# -- interval union (overlap merge) -------------------------------------------

def interval_union(spark, sf_dir):
    """Merge overlapping intervals per user and measure covered time — the
    classic sweep-line union (billing/busy-time/uptime analytics). Each
    event spans [ts, ts + value seconds]; an interval starts a NEW island
    iff its start exceeds the running max end of every earlier interval
    (a 1-preceding-bounded cumulative max window), island ids are the
    running sum of those flags, and covered time sums the per-island
    spans. Everything is integer microseconds under the unique
    (start, event_id) total order, so both engines produce the identical
    merge. All stages cluster on user_id — the gap_islands subset-rule
    shape — so the explicit repartition is the plan's only exchange."""
    # null posture (round-8 audit): a NULL ts has no interval and a NULL
    # user_id no sweep partition the oracle would agree on — excluded
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    )
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("start_us"),
        (
            F.unix_micros("ts")
            + F.floor("value").cast("bigint") * 1_000_000
        ).alias("end_us"),
    ).repartition("user_id")
    w = Window.partitionBy("user_id").orderBy("start_us", "event_id")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = iv.select(
        "user_id",
        "event_id",
        "start_us",
        "end_us",
        F.when(
            F.col("start_us") > F.coalesce(F.max("end_us").over(wprev), F.lit(-1)),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    ).withColumn("island", F.sum("new_island").over(wcum))
    islands = marked.groupBy("user_id", "island").agg(
        F.min("start_us").alias("i_start"),
        F.max("end_us").alias("i_end"),
        F.count(F.lit(1)).alias("i_n"),
    )
    return islands.groupBy("user_id").agg(
        F.sum("i_n").cast("bigint").alias("n_intervals"),
        F.count(F.lit(1)).cast("bigint").alias("n_merged"),
        F.sum(F.col("i_end") - F.col("i_start")).cast("bigint").alias("covered_us"),
        F.max("i_end").cast("bigint").alias("last_end_us"),
    )


ORACLE_INTERVAL_UNION = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(ts) AS start_us,
         epoch_us(ts) + CAST(FLOOR(value) AS BIGINT) * 1000000 AS end_us
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
), marked AS (
  SELECT user_id, event_id, start_us, end_us,
         CASE WHEN start_us > COALESCE(
                MAX(end_us) OVER (PARTITION BY user_id
                                  ORDER BY start_us, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), islanded AS (
  SELECT user_id, start_us, end_us,
         SUM(new_island) OVER (PARTITION BY user_id
                               ORDER BY start_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
), islands AS (
  SELECT user_id, island, MIN(start_us) AS i_start, MAX(end_us) AS i_end,
         COUNT(*) AS i_n
  FROM islanded GROUP BY user_id, island
)
SELECT user_id,
       CAST(SUM(i_n) AS BIGINT) AS n_intervals,
       CAST(COUNT(*) AS BIGINT) AS n_merged,
       CAST(SUM(i_end - i_start) AS BIGINT) AS covered_us,
       CAST(MAX(i_end) AS BIGINT) AS last_end_us
FROM islands GROUP BY user_id
"""

QUERIES["interval_union"] = interval_union
ORACLES["interval_union"] = ORACLE_INTERVAL_UNION


def resample_interpolate(spark, sf_dir):
    """Linear-interpolation gap fill — the companion to ``resample_ffill``'s
    LOCF: a missing day takes prev + (next - prev) * (gap position / gap
    length) between its nearest observed neighbors; leading/trailing gaps
    (no neighbor on one side) stay NULL. Neighbor values/days come from
    bounded ``last/first(ignorenulls)`` windows over the dense spine; the
    interpolation expression is written IDENTICALLY in both engines (one
    int/int division, one multiply, one add on correctly-rounded doubles),
    so results hash bit-for-bit. Same scale shape as resample_ffill: the
    spine is calendar-bounded, the daily aggregate is the only fact-scale
    shuffle, fill windows parallelize per series."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(_SPINE_START).cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit(_SPINE_END).cast("timestamp"))
    )
    daily = o.groupBy(
        F.col("o_orderpriority").alias("prio"),
        F.date_trunc("day", "o_orderdate").alias("day"),
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("rev")
    )
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(_SPINE_START).cast("timestamp"),
                F.lit(_SPINE_END).cast("timestamp"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    prios = (
        _t(spark, sf_dir, "orders")
        .select(F.col("o_orderpriority").alias("prio"))
        .distinct()
    )
    spine = prios.crossJoin(F.broadcast(days))

    wb = (
        Window.partitionBy("prio")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Next-neighbor lookup as the DESC-order running frame, not
    # [currentRow, unboundedFollowing]: Spark evaluates a following frame
    # by rescanning the partition remainder per row — O(rows²) per key
    # (the asof_join_forward lesson, round 6). Identical output: "first
    # non-null at-or-after" == "last seen scanning from the end".
    wf = (
        Window.partitionBy("prio")
        .orderBy(F.col("day").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    g = (
        spine.join(daily, ["prio", "day"], "left")
        .withColumn("prev_v", F.last("rev", ignorenulls=True).over(wb))
        .withColumn(
            "prev_day",
            F.last(
                F.when(F.col("rev").isNotNull(), F.col("day")), ignorenulls=True
            ).over(wb),
        )
        .withColumn("next_v", F.last("rev", ignorenulls=True).over(wf))
        .withColumn(
            "next_day",
            F.last(
                F.when(F.col("rev").isNotNull(), F.col("day")), ignorenulls=True
            ).over(wf),
        )
    )
    interp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * (
        F.datediff("day", "prev_day") / F.datediff("next_day", "prev_day")
    )
    return g.select(
        "prio",
        "day",
        F.when(F.col("rev").isNotNull(), F.col("rev"))
        .otherwise(interp)
        .alias("revenue"),
        F.when(F.col("rev").isNull(), 1).otherwise(0).alias("was_gap"),
    )


ORACLE_RESAMPLE_INTERP = f"""
WITH days AS (
  SELECT gs AS day
  FROM generate_series(TIMESTAMP '{_SPINE_START}', TIMESTAMP '{_SPINE_END}',
                       INTERVAL 1 DAY) t(gs)
), prios AS (
  SELECT DISTINCT o_orderpriority AS prio FROM orders
), daily AS (
  SELECT o_orderpriority AS prio, date_trunc('day', o_orderdate) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{_SPINE_START}'
    AND o_orderdate <= TIMESTAMP '{_SPINE_END}'
  GROUP BY 1, 2
), g AS (
  SELECT prio, day, rev,
         last_value(rev IGNORE NULLS) OVER (
           PARTITION BY prio ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(CASE WHEN rev IS NOT NULL THEN day END IGNORE NULLS) OVER (
           PARTITION BY prio ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_day,
         first_value(rev IGNORE NULLS) OVER (
           PARTITION BY prio ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN rev IS NOT NULL THEN day END IGNORE NULLS) OVER (
           PARTITION BY prio ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_day
  FROM prios CROSS JOIN days LEFT JOIN daily USING (prio, day)
)
SELECT prio, day,
       CASE WHEN rev IS NOT NULL THEN rev
            ELSE prev_v + (next_v - prev_v)
                 * (CAST(date_diff('day', prev_day, day) AS INT)
                    / CAST(date_diff('day', prev_day, next_day) AS INT))
       END AS revenue,
       CASE WHEN rev IS NULL THEN 1 ELSE 0 END AS was_gap
FROM g
"""

QUERIES["resample_interpolate"] = resample_interpolate
ORACLES["resample_interpolate"] = ORACLE_RESAMPLE_INTERP


# -- CUSUM change-point detection ----------------------------------------------

_CUSUM_OUT = (
    "event_type string, n_days bigint, mu_milli bigint, "
    "n_alarms bigint, max_cusum bigint, final_cusum bigint"
)


def cusum_anomaly(spark, sf_dir):
    """One-sided CUSUM change detection per series — the sequential
    companion to ``ewma_anomaly`` (same grouped-applyInPandas /
    recursive-CTE-oracle recipe): s_i = max(0, s_{i-1} + x_i - mu - k)
    over the daily integer-milli series, with target mu = the series'
    own mean daily total (floor), slack k = mu/20, alarm when s exceeds
    h = mu/2. Every operand is a nonnegative-floored integer, so Spark's
    Python kernel and DuckDB's recursive CTE replay the identical
    sequence. Two passes over a calendar-bounded series: the daily
    aggregate (fact-scale, one shuffle) and the scale-free recurrence."""
    import pandas as pd

    # null posture: see ewma_anomaly (same recursive-oracle contract)
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    wt = Window.partitionBy("event_type")
    withmu = daily.withColumn("sum_x", F.sum("x").over(wt)).withColumn(
        "cnt", F.count(F.lit(1)).over(wt)
    ).selectExpr(
        "event_type", "day", "x",
        # exact integral division — a double-divide + cast would round vs
        # truncate differently across engines
        "CAST(sum_x div cnt AS BIGINT) AS mu",
    )

    def _scan(key, pdf):
        pdf = pdf.sort_values("day")
        mu = int(pdf["mu"].iloc[0])
        k, h = mu // 20, mu // 2
        s = alarms = mx = 0
        for x in pdf["x"]:
            s = max(0, s + int(x) - mu - k)
            if s > h:
                alarms += 1
            mx = max(mx, s)
        return pd.DataFrame(
            [
                {
                    "event_type": key[0],
                    "n_days": len(pdf),
                    "mu_milli": mu,
                    "n_alarms": alarms,
                    "max_cusum": mx,
                    "final_cusum": s,
                }
            ]
        )

    return withmu.groupBy("event_type").applyInPandas(_scan, _CUSUM_OUT)


ORACLE_CUSUM = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2
), mu AS (
  SELECT event_type,
         CAST(SUM(x) // COUNT(*) AS BIGINT) AS mu
  FROM daily GROUP BY event_type
), seq AS (
  SELECT d.event_type, d.x, m.mu,
         row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn
  FROM daily d JOIN mu m ON d.event_type = m.event_type
), rec AS (
  SELECT event_type, rn, mu,
         GREATEST(0, x - mu - mu // 20) AS s,
         CAST(CASE WHEN GREATEST(0, x - mu - mu // 20) > mu // 2
                   THEN 1 ELSE 0 END AS BIGINT) AS alarms,
         GREATEST(0, x - mu - mu // 20) AS mx
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT seq.event_type, seq.rn, rec.mu,
         GREATEST(0, rec.s + seq.x - rec.mu - rec.mu // 20),
         rec.alarms + CASE WHEN GREATEST(0, rec.s + seq.x - rec.mu
                                               - rec.mu // 20) > rec.mu // 2
                           THEN 1 ELSE 0 END,
         GREATEST(rec.mx,
                  GREATEST(0, rec.s + seq.x - rec.mu - rec.mu // 20))
  FROM rec JOIN seq
    ON seq.event_type = rec.event_type AND seq.rn = rec.rn + 1
)
SELECT event_type,
       CAST(MAX(rn) AS BIGINT) AS n_days,
       CAST(MAX(mu) AS BIGINT) AS mu_milli,
       CAST(MAX(alarms) AS BIGINT) AS n_alarms,
       CAST(MAX(mx) AS BIGINT) AS max_cusum,
       arg_max(s, rn) AS final_cusum
FROM rec GROUP BY event_type
"""

QUERIES["cusum_anomaly"] = cusum_anomaly
ORACLES["cusum_anomaly"] = ORACLE_CUSUM


# -- correlation between two series ---------------------------------------------

def series_correlation(spark, sf_dir):
    """Pearson correlation between the click and purchase daily-total
    series, engine-exact: corr needs a square root, which is not
    hash-reproducible as a chained float — so the gate emits the exact
    integer pieces (num = n*Sxy - Sx*Sy and both variance terms) plus
    r^2 scaled by 10^6 as ONE integral division of exact decimals, and
    the sign separately (sign(num) recovers r's direction; r itself is
    derivable by any consumer). Daily totals floor-divide to integer
    seconds-units first — keeps num^2 inside DECIMAL(38,0) up to ~100x
    this corpus (documented bound). Joining the two series on day is a
    30-row join; the fact-scale work is the daily aggregate."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
            .cast("bigint")
            .alias("tot")
        )
        .selectExpr("event_type", "day", "CAST(tot div 1000 AS BIGINT) AS v")
    )
    x = daily.filter(F.col("event_type") == "click").select(
        "day", F.col("v").alias("x")
    )
    y = daily.filter(F.col("event_type") == "purchase").select(
        "day", F.col("v").alias("y")
    )
    j = x.join(y, "day")
    agg = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    return agg.selectExpr(
        # num/var_x/var_y are ~5e8 at sf0.01 and scale ~linearly in corpus
        # size squared via v^2 (n_days is calendar-bounded): ~5e16 at
        # 10^4x this corpus — comfortably inside BIGINT, so both engines
        # emit int64 and no driver Decimal normalization is involved
        # (VERDICT r4 #6: pin the dtype before the gate rotates in).
        "CAST(n AS BIGINT) AS n_days",
        "CAST(CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0)) AS BIGINT) AS num",
        "CAST(CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DECIMAL(38,0)) AS BIGINT) AS var_x",
        "CAST(CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DECIMAL(38,0)) AS BIGINT) AS var_y",
        """CAST(
             CAST(CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))
               * CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))
               * 1000000 AS DECIMAL(38,0))
             div
             CAST(CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DECIMAL(38,0))
               * CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))
               AS DECIMAL(38,0))
           AS BIGINT) AS r2_micro""",
        "CAST(SIGN(CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))) AS INT) AS r_sign",
    )


ORACLE_SERIES_CORR = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT)
              // 1000 AS BIGINT) AS v
  FROM events WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2
), x AS (SELECT day, v AS x FROM daily WHERE event_type = 'click'),
y AS (SELECT day, v AS y FROM daily WHERE event_type = 'purchase'),
j AS (SELECT * FROM x JOIN y USING (day)),
agg AS (
  SELECT COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM j
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS BIGINT) AS num,
       CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS BIGINT) AS var_x,
       CAST(n * syy - CAST(sy AS HUGEINT) * sy AS BIGINT) AS var_y,
       CAST((n * sxy - CAST(sx AS HUGEINT) * sy)
            * (n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
            // ((n * sxx - CAST(sx AS HUGEINT) * sx)
                * (n * syy - CAST(sy AS HUGEINT) * sy)) AS BIGINT) AS r2_micro,
       CAST(SIGN(n * sxy - CAST(sx AS HUGEINT) * sy) AS INT) AS r_sign
FROM agg
"""

QUERIES["series_correlation"] = series_correlation
ORACLES["series_correlation"] = ORACLE_SERIES_CORR


# -- backward as-of join (nearest prior event) --------------------------------

def asof_join_nearest(spark, sf_dir):
    """Backward as-of join: each purchase matched to the user's most recent
    click at or before it — the kdb/QuestDB ``aj``/ASOF JOIN operator,
    which Spark has no built-in for.

    Spark-first shape: NOT a join at all — tag both event streams, union,
    and carry the last click forward with one ``last(ignorenulls)`` window
    per user. ONE shuffle on user_id, no sort-merge interval join, no
    broadcast; skew is bounded by per-user event counts, so the plan holds
    at any fact scale (the union-window as-of is the standard streaming/
    columnar formulation). Clicks are deduped to one per (user, ts) by max
    event_id first, so the tie at an identical timestamp is deterministic
    in both engines; a click AT the purchase instant matches (inclusive,
    = DuckDB ASOF's >=). Epochs emitted as integer microseconds.

    Null posture (round 8, the family contract): rows with NULL user_id OR
    NULL ts are excluded in gate, segmented sibling, and oracle alike —
    without the filter the union-window formulation gives null keys their
    own window partition while the oracle's ASOF equi-join drops them (a
    divergence only a null-planting corpus sees;
    tests/test_round8_property.py plants one)."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    wc = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("kind"),
            F.lit(None).cast("bigint").alias("pid"),
            F.col("event_id").alias("cid"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.col("event_id").alias("pid"),
        F.lit(None).cast("bigint").alias("cid"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("pid", "cid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = clicks.unionByName(purchases).select(
        "user_id",
        "kind",
        "pid",
        F.expr("unix_micros(ts)").alias("t_us"),
        F.last("cid", ignorenulls=True).over(w).alias("click_event_id"),
        F.last(F.when(F.col("kind") == 0, F.expr("unix_micros(ts)")), ignorenulls=True)
        .over(w)
        .alias("click_us"),
    )
    return (
        carried.filter((F.col("kind") == 1) & F.col("click_event_id").isNotNull())
        .select(
            F.col("pid").alias("event_id"),
            "user_id",
            F.col("t_us").alias("purch_us"),
            "click_us",
            (F.col("t_us") - F.col("click_us")).alias("gap_us"),
            "click_event_id",
        )
    )


ORACLE_ASOF = """
WITH cd AS (
  SELECT user_id, ts, event_id,
         row_number() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events
  WHERE event_type = 'click' AND user_id IS NOT NULL AND ts IS NOT NULL
), c AS (SELECT user_id, ts, event_id FROM cd WHERE rn = 1),
p AS (
  SELECT user_id, ts, event_id FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL
)
SELECT p.event_id, p.user_id,
       epoch_us(p.ts) AS purch_us,
       epoch_us(c.ts) AS click_us,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
       c.event_id AS click_event_id
FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""

QUERIES["asof_join_nearest"] = asof_join_nearest
ORACLES["asof_join_nearest"] = ORACLE_ASOF


# -- trailing rolling median ---------------------------------------------------

def rolling_median_7d(spark, sf_dir):
    """Exact trailing-7-observation rolling MEDIAN of the daily total per
    event_type — Spark has no windowed median, so the composition is
    collect_list over a ROWS window + array_sort + middle pick, emitted as
    2x the median (an integer: either twice the middle or the sum of the
    two middles) so both engines hash on exact int64 instead of the .5
    doubles a continuous median produces.

    Scale: the window runs over the DAILY AGGREGATE (calendar-bounded rows
    per series), never the fact table — the one fact-scale pass is the
    groupBy. The collect_list is bounded at 7 elements by the ROWS frame."""
    # null posture: see ewma_anomaly (ordering-dependent null day groups)
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(
        F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 1000).cast("bigint"))
            .cast("bigint")
            .alias("x_milli")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    arr = F.array_sort(F.collect_list("x_milli").over(w))
    n = F.size(arr)
    half = ((n + 1) / 2).cast("int")  # n<=7: the halves are exact in double
    med_x2 = F.when(n % 2 == 1, 2 * F.element_at(arr, half)).otherwise(
        F.element_at(arr, (n / 2).cast("int"))
        + F.element_at(arr, (n / 2).cast("int") + 1)
    )
    return daily.select(
        "event_type",
        "day",
        "x_milli",
        F.size(arr).cast("bigint").alias("n_obs"),
        med_x2.cast("bigint").alias("med_x2_milli"),
    )


ORACLE_ROLLING_MEDIAN = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS x_milli
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, day, x_milli,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_obs,
       CAST(2 * MEDIAN(x_milli) OVER w AS BIGINT) AS med_x2_milli
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""

QUERIES["rolling_median_7d"] = rolling_median_7d
ORACLES["rolling_median_7d"] = ORACLE_ROLLING_MEDIAN


# -- cumulative distinct count --------------------------------------------------

def cumulative_distinct_users(spark, sf_dir):
    """Distinct users ever seen, per day — the classic "cumulative
    COUNT(DISTINCT) is not a window function" problem. The scalable
    rewrite: distinct collapses to each user's FIRST day (one fact-scale
    aggregate), then a calendar-bounded cumulative sum over per-day
    first-appearance counts. No quadratic self-join, no set-carrying
    state; the window runs on ~days rows."""
    # null posture (round-8 audit): a NULL ts has no day — and the engines
    # DISAGREE on where a null day cumulates (Spark windows order NULLS
    # FIRST ascending, DuckDB NULLS LAST), so it must not exist
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    firsts = (
        ev.groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("first_day"))
        .groupBy(F.col("first_day").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_users"))
    )
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(firsts, "day", "left")
        .select("day", F.coalesce("new_users", F.lit(0)).alias("new_users"))
        .select(
            "day",
            "new_users",
            F.sum("new_users").over(w).cast("bigint").alias("cum_users"),
        )
    )


ORACLE_CUM_DISTINCT = """
WITH e AS (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
firsts AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users FROM (
    SELECT user_id, MIN(day) AS day FROM e GROUP BY user_id
  ) GROUP BY day
),
days AS (SELECT DISTINCT day FROM e)
SELECT days.day,
       COALESCE(firsts.new_users, 0) AS new_users,
       CAST(SUM(COALESCE(firsts.new_users, 0))
            OVER (ORDER BY days.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_users
FROM days LEFT JOIN firsts USING (day)
"""

QUERIES["cumulative_distinct_users"] = cumulative_distinct_users
ORACLES["cumulative_distinct_users"] = ORACLE_CUM_DISTINCT


# -- day-of-week seasonal baseline ----------------------------------------------

def seasonal_baseline_dev(spark, sf_dir):
    """Seasonal-naive anomaly features: each (event_type, day)'s event
    count against the average count of the SAME WEEKDAY for that type —
    the day-of-week baseline every ops dashboard uses. Exactness: no
    division is emitted — the deviation is the integer numerator
    dev_num = n*base_den - base_num (n vs the mean cross-multiplied), so
    sign(dev_num) is the direction and dev_num/base_den the magnitude,
    reconstructible by any consumer without float drift.

    Scale: one fact-scale groupBy; the weekday baseline is a second
    aggregate over the ~(types x days) daily frame and broadcasts back."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    daily = daily.withColumn("wd", F.dayofweek("day").cast("bigint"))
    base = daily.groupBy("event_type", "wd").agg(
        F.sum("n").cast("bigint").alias("base_num"),
        F.count(F.lit(1)).cast("bigint").alias("base_den"),
    )
    return daily.join(F.broadcast(base), ["event_type", "wd"]).select(
        "event_type",
        "day",
        "wd",
        "n",
        "base_num",
        "base_den",
        (F.col("n") * F.col("base_den") - F.col("base_num"))
        .cast("bigint")
        .alias("dev_num"),
    )


# DuckDB dayofweek: ISODOW/DAYOFWEEK differ from Spark's dayofweek
# (Sun=1..Sat=7); DuckDB's DAYOFWEEK is Sun=0..Sat=6 -> +1 aligns them.
ORACLE_SEASONAL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), d2 AS (
  SELECT *, CAST(DAYOFWEEK(day) + 1 AS BIGINT) AS wd FROM daily
), base AS (
  SELECT event_type, wd,
         CAST(SUM(n) AS BIGINT) AS base_num,
         CAST(COUNT(*) AS BIGINT) AS base_den
  FROM d2 GROUP BY 1, 2
)
SELECT d2.event_type, d2.day, d2.wd, d2.n, base.base_num, base.base_den,
       CAST(d2.n * base.base_den - base.base_num AS BIGINT) AS dev_num
FROM d2 JOIN base USING (event_type, wd)
"""

QUERIES["seasonal_baseline_dev"] = seasonal_baseline_dev
ORACLES["seasonal_baseline_dev"] = ORACLE_SEASONAL


# -- built-in session windows ----------------------------------------------------

def session_window_builtin(spark, sf_dir):
    """Per-user sessionization through Spark's BUILT-IN ``F.session_window``
    (the operator Structured Streaming shares for stateful session aggs) —
    gated against the lag-gap islands oracle, proving the built-in's merge
    semantics equal the classic SQL formulation: a gap STRICTLY longer
    than 30 minutes closes a session. An event landing EXACTLY on the
    boundary CONTINUES the session — session windows merge when touching
    (next.start <= prev.end), measured on a planted exact-30-minute gap in
    tests/test_round8_pins.py; the oracle's strict > mirrors it. (Round 8
    corrected both this comment and the oracle from the >= reading — the
    synthetic corpus's microsecond jitter never plants an exact boundary,
    so parity alone could not distinguish the two.)
    Output stays integer-exact: event counts and the min/max-ts epoch
    bounds in microseconds. One shuffle on user_id; session merging is
    local within the partition.

    Null posture (round 8, the sessionize-family contract): rows with NULL
    user_id OR NULL ts are excluded — the ts filter is explicit here (not
    left to the builtin's own null-timestamp drop) so gate, segmented
    sibling, and shared oracle state the same contract in the same way."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.expr("unix_micros(min(ts))").alias("start_us"),
            F.expr("unix_micros(max(ts))").alias("last_us"),
        )
        .select(
            "user_id",
            "start_us",
            "last_us",
            "n_events",
            (F.col("last_us") - F.col("start_us")).alias("span_us"),
        )
    )


ORACLE_SESSION_WINDOW = """
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  -- ts IS NOT NULL mirrors BOTH gates: Spark's builtin session_window drops
  -- null-timestamp rows, and the segmented sibling filters them explicitly
  -- (the sessionize-family null posture, round 8)
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), s AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS session_id
  FROM e
)
SELECT user_id,
       epoch_us(MIN(ts)) AS start_us,
       epoch_us(MAX(ts)) AS last_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS span_us
FROM s GROUP BY user_id, session_id
"""

QUERIES["session_window_builtin"] = session_window_builtin
ORACLES["session_window_builtin"] = ORACLE_SESSION_WINDOW


# -- Holt linear (double-exponential) smoothing ---------------------------------
# Forecasting companion to ewma_anomaly: level + trend recurrence
#   l_i = (x_i + 3*(l_{i-1} + b_{i-1})) tdiv 4        (alpha = 1/4)
#   b_i = ((l_i - l_{i-1}) + 7*b_{i-1}) tdiv 8        (beta  = 1/8)
# over each type's daily milli totals, one-step forecast = l_n + b_n.
# Same grouped-applyInPandas / RECURSIVE-CTE recipe as ewma — but the
# TREND can go negative, and Python's // floors while DuckDB's //
# truncates toward zero, so the kernel uses an explicit truncating
# division (sign * (|a| // |b|)) to replay DuckDB's semantics exactly.
# Scale: recurrence depth is calendar days; fact-scale work is one
# ordinary daily aggregate.

_HOLT_OUT_SCHEMA = (
    "event_type string, n_days bigint, level_milli bigint, "
    "trend_milli bigint, forecast_milli bigint"
)


def holt_winters_level_trend(spark, sf_dir):
    import pandas as pd

    # null posture: see ewma_anomaly (same recursive-oracle contract)
    ev = _t(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 1000).cast("bigint")).alias("x")
    )

    def _tdiv(a: int, b: int) -> int:
        # DuckDB's // truncates toward zero; Python's floors. Match DuckDB.
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    def _scan(key, pdf):
        xs = pdf.sort_values("day")["x"].tolist()
        level, trend = xs[0], 0
        for x in xs[1:]:
            prev = level
            level = _tdiv(x + 3 * (level + trend), 4)
            trend = _tdiv((level - prev) + 7 * trend, 8)
        return pd.DataFrame(
            [
                {
                    "event_type": key[0],
                    "n_days": len(xs),
                    "level_milli": level,
                    "trend_milli": trend,
                    "forecast_milli": level + trend,
                }
            ]
        )

    return daily.groupBy("event_type").applyInPandas(_scan, _HOLT_OUT_SCHEMA)


ORACLE_HOLT = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2
), seq AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
), rec AS (
  SELECT event_type, rn, x AS l, CAST(0 AS BIGINT) AS b
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT seq.event_type, seq.rn,
         (seq.x + 3 * (rec.l + rec.b)) // 4,
         (((seq.x + 3 * (rec.l + rec.b)) // 4 - rec.l) + 7 * rec.b) // 8
  FROM rec JOIN seq
    ON seq.event_type = rec.event_type AND seq.rn = rec.rn + 1
)
SELECT event_type,
       CAST(MAX(rn) AS BIGINT) AS n_days,
       arg_max(l, rn) AS level_milli,
       arg_max(b, rn) AS trend_milli,
       arg_max(l, rn) + arg_max(b, rn) AS forecast_milli
FROM rec GROUP BY event_type
"""

QUERIES["holt_winters_level_trend"] = holt_winters_level_trend
ORACLES["holt_winters_level_trend"] = ORACLE_HOLT


# -- forward as-of join ---------------------------------------------------------
# The mirror of asof_join_nearest: each purchase matched to the user's
# EARLIEST click at or after it (lead-time attribution, settlement
# matching). Same union-window shape — tag both streams, ONE shuffle on
# user_id — but the frame is the DESCENDING-order running frame, not
# [currentRow, unboundedFollowing]: Spark evaluates an unbounded-FOLLOWING
# frame by rescanning the remainder of the partition per row (the
# UnboundedFollowingWindowFunctionFrame is O(rows²) per key — measured
# 4.5 s vs 0.9 s on this gate), while the desc-sorted
# [unboundedPreceding, currentRow] frame is the O(rows) streaming frame.
# Order (ts DESC, kind DESC, id DESC) with clicks kind=1: at an equal
# instant the click sorts before the purchase (inclusive match), and among
# equal-ts clicks the LAST carried is the min event_id — deterministic in
# both engines, no pre-dedup needed.

def asof_join_forward(spark, sf_dir):
    # round-8 family null posture: NULL user_id/ts rows excluded (mirrors
    # the oracle's equi-join; see asof_join_nearest's docstring)
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("bigint").alias("pid"),
        F.col("event_id").alias("cid"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("pid"),
        F.lit(None).cast("bigint").alias("cid"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").desc(),
            F.col("kind").desc(),
            F.coalesce("cid", "pid").desc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = clicks.unionByName(purchases).select(
        "user_id",
        "kind",
        "pid",
        F.expr("unix_micros(ts)").alias("t_us"),
        F.last("cid", ignorenulls=True).over(w).alias("click_event_id"),
        F.last(
            F.when(F.col("kind") == 1, F.expr("unix_micros(ts)")),
            ignorenulls=True,
        )
        .over(w)
        .alias("click_us"),
    )
    return carried.filter(
        (F.col("kind") == 0) & F.col("click_event_id").isNotNull()
    ).select(
        F.col("pid").alias("event_id"),
        "user_id",
        F.col("t_us").alias("purch_us"),
        "click_us",
        (F.col("click_us") - F.col("t_us")).alias("lead_us"),
        "click_event_id",
    )


ORACLE_ASOF_FWD = """
WITH c AS (
  SELECT user_id, ts, event_id FROM events
  WHERE event_type = 'click' AND user_id IS NOT NULL AND ts IS NOT NULL
), p AS (
  SELECT user_id, ts, event_id FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL AND ts IS NOT NULL
), matched AS (
  SELECT p.event_id, p.user_id,
         epoch_us(p.ts) AS purch_us,
         epoch_us(c.ts) AS click_us,
         epoch_us(c.ts) - epoch_us(p.ts) AS lead_us,
         c.event_id AS click_event_id,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts, c.event_id) AS rn
  FROM p JOIN c
    ON p.user_id = c.user_id AND c.ts >= p.ts
)
SELECT event_id, user_id, purch_us, click_us, lead_us, click_event_id
FROM matched WHERE rn = 1
"""

QUERIES["asof_join_forward"] = asof_join_forward
ORACLES["asof_join_forward"] = ORACLE_ASOF_FWD


# -- lagged autocorrelation ------------------------------------------------------
# ACF(1..3) of each type's daily-total series, emitted with
# series_correlation's exact-integer recipe (num / var terms / r2_micro /
# sign — sqrt never chained): one daily aggregate, a broadcast 3-row lag
# spine, and a self-join on (event_type, day+lag). Totals floor to
# seconds-units first, same DECIMAL(38,0)/HUGEINT headroom bound.

def autocorr_lag(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 1000).cast("bigint")).alias("tot")
        )
        .selectExpr("event_type", "day", "CAST(tot div 1000 AS BIGINT) AS v")
    )
    lags = spark.range(1, 4).select(F.col("id").cast("int").alias("lag"))
    a = daily.crossJoin(F.broadcast(lags)).select(
        "event_type",
        "lag",
        F.expr("date_add(day, lag)").alias("match_day"),
        F.col("v").alias("x"),
    )
    b = daily.select(
        "event_type", F.col("day").alias("match_day"), F.col("v").alias("y")
    )
    j = a.join(b, ["event_type", "match_day"])
    agg = j.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    return agg.selectExpr(
        "event_type",
        "CAST(lag AS BIGINT) AS lag",
        "CAST(n AS BIGINT) AS n_pairs",
        "CAST(CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0)) AS BIGINT) AS num",
        """CAST(
             CAST(CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))
               * CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))
               * 1000000 AS DECIMAL(38,0))
             div
             CAST(CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DECIMAL(38,0))
               * CAST(n * syy - CAST(sy AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))
               AS DECIMAL(38,0))
           AS BIGINT) AS r2_micro""",
        "CAST(SIGN(CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0))) AS INT) AS r_sign",
    )


ORACLE_AUTOCORR = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT)
              // 1000 AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
), lags AS (SELECT UNNEST([1, 2, 3]) AS lag),
j AS (
  SELECT a.event_type, l.lag, a.v AS x, b.v AS y
  FROM daily a
  CROSS JOIN lags l
  JOIN daily b
    ON b.event_type = a.event_type AND b.day = a.day + l.lag
), agg AS (
  SELECT event_type, lag, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy
  FROM j GROUP BY event_type, lag
)
SELECT event_type, CAST(lag AS BIGINT) AS lag,
       CAST(n AS BIGINT) AS n_pairs,
       CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS BIGINT) AS num,
       CAST((n * sxy - CAST(sx AS HUGEINT) * sy)
            * (n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
            // ((n * sxx - CAST(sx AS HUGEINT) * sx)
                * (n * syy - CAST(sy AS HUGEINT) * sy)) AS BIGINT)
         AS r2_micro,
       CAST(SIGN(n * sxy - CAST(sx AS HUGEINT) * sy) AS INT) AS r_sign
FROM agg
"""

QUERIES["autocorr_lag"] = autocorr_lag
ORACLES["autocorr_lag"] = ORACLE_AUTOCORR


# Segmented, skew-IMMUNE siblings for the two per-user window gates the
# round-7 planted-skew tier measured hitting a degenerate-key wall
# (tools/skew_scale_bench.py: session_window_builtin 9.4x, asof_join_nearest
# 2.8x at a 56%-head user — one task owns the head user under the
# Window.partitionBy(user_id) contract and AQE cannot split a window
# partition). Both apply sessionize_2phase's ledger-merge recipe: do the
# per-user work inside (user_id, day-bucket) segments — so a celebrity
# user's rows split across as many tasks as they have active days — then
# reconcile across segment boundaries with a per-(user, bucket) LEDGER
# whose size is users x active-days (bounded metadata, never event-scale).
# Each sibling shares its baseline's oracle, is paired machine-visibly in
# tools/plan_audit.BASELINE_PAIRS, and has a pinned planted-data
# equivalence test against its baseline (tests/test_round8_pins.py).


def session_window_segmented(spark, sf_dir):
    """Skew-immune sibling of ``session_window_builtin`` — IDENTICAL output
    (shares ORACLE_SESSION_WINDOW): per-user 30-minute-gap sessions with
    the built-in's merge semantics — a gap STRICTLY longer than 30 minutes
    starts a new session; an event EXACTLY on the boundary continues it
    (touching session windows merge; pinned on a planted exact gap in
    tests/test_round8_pins.py).

    Phase 1 sessionizes inside (user_id, day-bucket) windows — the head
    user's rows split across active days instead of one task. Phase 2
    reconciles boundaries on the per-(user, bucket) ledger: a bucket whose
    first event is <= 30 min after the previous active bucket's last event
    CONTINUES that session, so its local session 1 is merged via a running
    offset of session starts. The ledger windows and the (user_id, bkt)
    equi-join touch users x active-days rows only.

    Null posture: NULL user_id rows are filtered exactly as in the builtin
    gate and the shared oracle; NULL ts rows are filtered too (a null ts
    has no session position — the family contract, see sessionize)."""
    GAP_US = 30 * 60 * 1_000_000
    BUCKET_US = 86_400 * 1_000_000
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.unix_micros("ts").alias("t_us"),
            F.expr(f"unix_micros(ts) div {BUCKET_US}").alias("bkt"),
        )
    )
    wloc = Window.partitionBy("user_id", "bkt").orderBy("t_us")
    wrunloc = wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = (
        ev.withColumn("prev_us", F.lag("t_us").over(wloc))
        .withColumn(
            "new_loc",
            F.when(
                F.col("prev_us").isNull()
                | (F.col("t_us") - F.col("prev_us") > GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn("loc_seq", F.sum("new_loc").over(wrunloc))
    )
    # per-(user, bucket) ledger: rows = users x active days, never events
    meta = local.groupBy("user_id", "bkt").agg(
        F.min("t_us").alias("first_us"),
        F.max("t_us").alias("last_us"),
        F.sum("new_loc").cast("bigint").alias("n_starts"),
    )
    wb = Window.partitionBy("user_id").orderBy("bkt")
    wboff = wb.rowsBetween(Window.unboundedPreceding, -1)
    # cont=1: this bucket's first event continues the previous active
    # bucket's last session (gap <= 30 min — the builtin merges touching
    # windows, so only a STRICTLY longer gap starts a new session; same
    # boundary algebra as sessionize_2phase).
    bridged = meta.withColumn(
        "cont",
        F.when(
            F.col("first_us") - F.lag("last_us").over(wb) <= GAP_US, 1
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
        "t_us",
        (F.col("offset") + F.col("loc_seq") - F.col("cont"))
        .cast("bigint")
        .alias("session_seq"),
    )
    return (
        mapped.groupBy("user_id", "session_seq")
        .agg(
            F.min("t_us").alias("start_us"),
            F.max("t_us").alias("last_us"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            "user_id",
            "start_us",
            "last_us",
            "n_events",
            (F.col("last_us") - F.col("start_us")).alias("span_us"),
        )
    )


QUERIES["session_window_segmented"] = session_window_segmented
ORACLES["session_window_segmented"] = ORACLE_SESSION_WINDOW


def asof_join_segmented(spark, sf_dir):
    """Skew-immune sibling of ``asof_join_nearest`` — IDENTICAL output
    (shares ORACLE_ASOF): each purchase matched to the user's most recent
    click at or before it (inclusive, DuckDB ASOF's >=).

    Phase 1 runs the union-window carry inside (user_id, day-bucket)
    segments. Phase 2 builds a per-(user, bucket) ledger holding each
    bucket's LAST click (one struct row per active bucket) and carries the
    latest preceding click across buckets with one ledger-scale
    ``last(ignorenulls)`` window; a purchase with no click earlier in its
    own bucket takes the carried-in click. Ledger windows and the
    (user_id, bkt) join are users x active-days sized.

    Clicks are deduped to one per (user, ts) by max event_id FIRST via a
    hash aggregate (skew-immune — no per-user window), making the tie at
    an identical timestamp deterministic in both engines.

    Null posture: NULL user_id / NULL ts rows are filtered explicitly —
    the oracle's ASOF equi-join on user_id never matches null keys, so the
    filter makes the Spark plan's posture match the oracle exactly (the
    baseline gate instead groups nulls into one window partition — a
    documented, corpus-protected divergence this sibling does not have)."""
    BUCKET_US = 86_400 * 1_000_000
    ev = _t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("cid"))
        .select(
            "user_id",
            "ts",
            F.lit(0).alias("kind"),
            F.lit(None).cast("bigint").alias("pid"),
            "cid",
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.col("event_id").alias("pid"),
        F.lit(None).cast("bigint").alias("cid"),
    )
    tagged = clicks.unionByName(purchases).select(
        "user_id",
        "kind",
        "pid",
        "cid",
        F.unix_micros("ts").alias("t_us"),
        F.expr(f"unix_micros(ts) div {BUCKET_US}").alias("bkt"),
    )
    # phase 1: local carry within (user, day-bucket); click-before-purchase
    # at an identical instant via the kind sort key, as in the baseline
    wloc = (
        Window.partitionBy("user_id", "bkt")
        .orderBy("t_us", "kind", F.coalesce("pid", "cid"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = tagged.select(
        "user_id",
        "bkt",
        "kind",
        "pid",
        "t_us",
        F.last("cid", ignorenulls=True).over(wloc).alias("loc_cid"),
        F.last(F.when(F.col("kind") == 0, F.col("t_us")), ignorenulls=True)
        .over(wloc)
        .alias("loc_click_us"),
    )
    # phase 2 ledger: every active (user, bucket) with its LAST click (null
    # struct for click-free buckets), then carry the latest preceding
    # click across buckets — ledger-scale rows only
    ledger = tagged.groupBy("user_id", "bkt").agg(
        F.max(
            F.when(
                F.col("kind") == 0, F.struct(F.col("t_us"), F.col("cid"))
            )
        ).alias("lastc")
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bridged = ledger.select(
        "user_id",
        "bkt",
        F.last("lastc", ignorenulls=True).over(wb).alias("carry"),
    )
    return (
        local.join(bridged, ["user_id", "bkt"])
        .filter(F.col("kind") == 1)
        .select(
            F.col("pid").alias("event_id"),
            "user_id",
            F.col("t_us").alias("purch_us"),
            F.coalesce("loc_click_us", F.col("carry.t_us")).alias("click_us"),
            (
                F.col("t_us")
                - F.coalesce("loc_click_us", F.col("carry.t_us"))
            ).alias("gap_us"),
            F.coalesce("loc_cid", F.col("carry.cid")).alias("click_event_id"),
        )
        .filter(F.col("click_event_id").isNotNull())
    )


QUERIES["asof_join_segmented"] = asof_join_segmented
ORACLES["asof_join_segmented"] = ORACLE_ASOF
