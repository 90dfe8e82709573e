"""Dump .explain('formatted') for named gate queries to plans/<tag>/<key>_<suffix>.txt.

Usage: python tools/dump_plans.py <tag> <suffix> key [key ...]
e.g.:  python tools/dump_plans.py r12 before doc_fingerprint record_linkage_fs

Evidence for plan-shape claims (Exchange counts, join strategies,
PushedFilters). The dumps are regenerated on demand, not committed.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    keys = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from etl_process_for_detecting_fraudulent_transactions_spark.queries import all_queries
    from etl_process_for_detecting_fraudulent_transactions_spark.session import get_spark

    spark = get_spark(app_name="dump_plans", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for key in keys:
        df = qs[key](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
