"""Driver-contract rehearsal over the FULL registry at a chosen sf.

Replays what the driver does at sf0.01: run every ``queries()`` entry on
Spark AND its ``oracle_sql()`` on DuckDB (same parquet views), compare row
count, sorted column names, and order-insensitive exact values. Queries
without an oracle get the weaker rows-only check, as the driver does.

Usage: python tools/driver_rehearsal.py [sf0.01] [key ...]
Prints one line per query and a final tally of the queries run; exit 1 on
any mismatch, exit 2 (before starting Spark) on a key the registry lacks.

Known harness artifact: DATE columns come back as datetime.date from Spark
and (sometimes) pandas.Timestamp-like from DuckDB — both are normalized via
isoformat of the DATE part when the oracle column is a DATE (the driver's
own hasher normalizes these; it hash-matched monthly_revenue in r1).
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm(v):
    from decimal import Decimal

    if isinstance(v, float):
        return "nan" if math.isnan(v) else v
    if isinstance(v, Decimal):
        return float(v)
    if hasattr(v, "isoformat"):
        iso = v.isoformat()
        # normalize date vs midnight-datetime renderings of DATE columns
        return iso[:10] if iso.endswith("T00:00:00") else iso
    return v


def _canon(rows, cols):
    """Order-insensitive canonical form: columns sorted case-insensitively
    (Spark and DuckDB may differ in identifier case), values normalized."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _spark_kind(dt) -> str:
    """Dtype CLASS a pandas/Arrow consumer sees for a Spark column.

    The driver's hasher is dtype-strict between int64 and float64 (r4
    verdict: three gates red on exactly this), so the rehearsal must be too.
    Decimal maps to 'f' — the driver normalizes Decimal<->float (the
    pricing_summary precedent).
    """
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.BooleanType)):
        return "i"
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        return "f"
    if isinstance(dt, T.StringType):
        return "s"
    if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        return "d"
    if isinstance(dt, T.BinaryType):
        return "b"
    if isinstance(dt, T.ArrayType):
        return "l"
    return "o"


def _duck_kind(type_str: str) -> str:
    """Dtype CLASS pandas sees for a DuckDB result column.

    HUGEINT (any un-cast integer SUM/product in a final SELECT) does NOT fit
    int64, so duckdb's pandas conversion renders it float64 — class 'f'.
    That is the exact defect class that shipped three red gates in r4: an
    oracle leaking HUGEINT next to a Spark BIGINT was value-equal but
    dtype-split, and Python's `1000 == 1000.0` masked it here.
    """
    t = str(type_str).upper()
    if t.startswith("DECIMAL") or t in ("DOUBLE", "FLOAT", "REAL", "HUGEINT", "UHUGEINT"):
        return "f"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT", "BOOLEAN"):
        return "i"
    if t == "VARCHAR":
        return "s"
    if t == "DATE" or t.startswith("TIMESTAMP"):
        return "d"
    if t == "BLOB":
        return "b"
    if t.endswith("[]") or t.startswith("STRUCT") or t.startswith("MAP"):
        return "l" if t.endswith("[]") else "o"
    return "o"


def _dtype_mismatches(sdf, ores) -> list[str]:
    """Per-column dtype-class diffs between the Spark frame and the DuckDB
    relation, matched case-insensitively by name."""
    skinds = {f.name.lower(): _spark_kind(f.dataType) for f in sdf.schema.fields}
    okinds = {
        c.lower(): _duck_kind(t) for c, t in zip(ores.columns, ores.types)
    }
    out = []
    for c in sorted(skinds):
        if c in okinds and skinds[c] != okinds[c]:
            out.append(f"{c}: spark={skinds[c]} duckdb={okinds[c]}")
    return out


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "sf0.01"
    only = set(sys.argv[2:])
    sf_dir = f"/root/testdata/{sf}"

    from etl_process_for_detecting_fraudulent_transactions_spark.queries import (
        all_oracles,
        all_queries,
    )

    queries, oracles = all_queries(), all_oracles()
    unknown = sorted(only - queries.keys())
    if unknown:
        print(f"unknown query keys: {' '.join(unknown)}", file=sys.stderr)
        return 2

    from etl_process_for_detecting_fraudulent_transactions_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    bad = []
    for i, (k, fn) in enumerate(queries.items()):
        if only and k not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            if k not in oracles:
                n = sdf.count()
                print(f"[{i:3}] {k}: rows-only ({n} rows)")
                continue
            srows_raw = [tuple(row) for row in sdf.collect()]
            ores = con.sql(oracles[k])
            scols, ocols = list(sdf.columns), list(ores.columns)
            if sorted(c.lower() for c in scols) != sorted(c.lower() for c in ocols):
                bad.append((k, f"columns {scols} vs {ocols}"))
                print(f"[{i:3}] {k}: COLUMN MISMATCH {scols} vs {ocols}")
                continue
            dt_bad = _dtype_mismatches(sdf, ores)
            if dt_bad:
                bad.append((k, f"dtype {dt_bad}"))
                print(f"[{i:3}] {k}: DTYPE MISMATCH {dt_bad}")
                continue
            sc = _canon(srows_raw, scols)
            oc = _canon(ores.fetchall(), ocols)
            if len(sc) != len(oc):
                bad.append((k, f"rowcount {len(sc)} vs {len(oc)}"))
                print(f"[{i:3}] {k}: ROWCOUNT {len(sc)} vs {len(oc)}")
            elif sc != oc:
                diff = next(
                    (a, b) for a, b in zip(sc, oc) if a != b
                )
                bad.append((k, f"values differ, e.g. {diff}"))
                print(f"[{i:3}] {k}: VALUE MISMATCH e.g. {diff}")
            else:
                print(f"[{i:3}] {k}: ok ({len(sc)} rows)")
        except Exception as exc:  # noqa: BLE001 — rehearsal must not die mid-sweep
            bad.append((k, f"error: {exc}"))
            print(f"[{i:3}] {k}: ERROR {str(exc)[:200]}")
        finally:
            # drops frames a gate .cache()s itself (ml/lsh_dedup's hashed
            # vectors) so they don't squeeze the next gate's execution
            # memory; the queries/_io.py memos are checkpoints, which this
            # leaves in place (at most one per tag)
            spark.catalog.clearCache()
    print(f"\n{len(bad)} failures / {len(only) or len(queries)} queries run at {sf}")
    for k, why in bad:
        print(f"  FAIL {k}: {why[:300]}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
