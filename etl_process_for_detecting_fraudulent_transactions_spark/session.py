"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the configs below are chosen so the same
logical plans survive a 1000-executor / 100 TB deployment:

- AQE on (runtime re-plan: skew-join splitting, partition coalescing,
  broadcast demotion/promotion) — the single most important knob at scale.
- Arrow enabled for the few Pandas-UDF extension operators.
- ``spark.sql.shuffle.partitions`` left to AQE coalescing locally; on a real
  cluster set it to ~2-3x total cores via ``extra_conf``.
- DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
  pyspark wraps every Column/functions call in four extra py4j round trips
  (active-session lookup, a conf read, origin set/clear); a warm
  ``run_day`` made ~4,000 round trips, ~1,800 of them for this. The
  trade-off: an analysis error still raises, but its message no longer
  carries the Python ``file:line`` of the offending call.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fraudmart",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate synthesizes a size()>0 pre-explode filter
        # that re-evaluates the generator's array expression with its
        # text-rooted subexpressions INLINED (no CSE inside higher-order
        # lambdas) — on the word-gram transforms that is O(tokens^2) per
        # row and measured 3.2 s -> 0.37 s on the bigram explode alone
        # (r12 optimization round). Excluding the rule never changes
        # values (optimizer rules are semantics-preserving); the gates'
        # explode inputs are non-empty by construction, so the inferred
        # pruning filter had nothing to prune anyway.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
