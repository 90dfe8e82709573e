"""Driver-side rows → a DataFrame the planner can size.

The seed dims, the xlsx snapshots and an absent store table are built from a
few hundred rows held on the driver. ``spark.createDataFrame(list, schema)``
plans such rows as an RDD scan whose size estimate is unbounded, so the
planner never broadcasts them: every join against a 150-row dim becomes a
sort-merge join with two exchanges, and every scan starts Python workers.
Going through an Arrow table instead plans a ``LocalRelation`` carrying its
real size (also for zero rows), so such dims broadcast.

Naive ``datetime`` values are read as wall-clock time in the session time
zone, not in the driver process's local zone.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def local_frame(spark: SparkSession, rows: Sequence[Sequence[object]], schema: StructType) -> DataFrame:
    """``rows`` (one sequence per row, in ``schema`` field order) as a
    ``LocalRelation``-backed DataFrame with exactly ``schema``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    # naive timestamps: pyspark localizes them in the session time zone
    arrow_schema = to_arrow_schema(schema, timestamp_utc=False)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)
