"""Driver-contract query registry.

Each submodule exposes ``QUERIES: dict[str, Callable[[SparkSession, str],
DataFrame]]`` and ``ORACLES: dict[str, str]`` (DuckDB ANSI SQL over the same
parquet views). Keys are shared; a key present in QUERIES but not ORACLES
gets the driver's weaker rows-only check (reserved for genuinely
non-SQL-expressible ops).

Column-name discipline: every computed column is aliased identically in the
Spark plan and the oracle SQL — the driver sorts columns by name before
value-hashing. Float discipline: aggregates over doubles go through exact
decimal arithmetic and are cast back to double at the end, so both engines
produce bit-identical results regardless of partitioning/order.
"""

from __future__ import annotations

from . import (
    dedup,
    extra,
    graph,
    multimodal,
    quality,
    relational,
    sampling,
    similarity,
    stats,
    text,
    timeseries,
    tpch_more,
    tpch_rest,
)

_MODULES = (
    relational,
    extra,
    graph,
    tpch_more,
    tpch_rest,
    stats,
    sampling,
    timeseries,
    quality,
    dedup,
    similarity,
    text,
    multimodal,
)


def _merged(attr: str) -> dict:
    merged = {}
    for m in _MODULES:
        merged.update(getattr(m, attr))
    return dict(sorted(merged.items()))


def all_queries():
    return _merged("QUERIES")


def all_oracles():
    return _merged("ORACLES")
