"""The session memo (`queries/_io.py` `memo`) and the gates that share it.

`memo` keeps one localCheckpoint per tag, keyed on (tag, sf_dir, session).
These tests pin its storage contract (one stored RDD per build, none added
by a hit, a superseded entry's blocks freed by Spark's ContextCleaner) and
that memo-hit consumers produce the same rows as the direct, un-memoized
construction, also after an external `clearCache` (the bench does one
between every query).
"""

from __future__ import annotations

import ast
import gc
import time
from collections import defaultdict
from pathlib import Path

import pytest

from etl_process_for_detecting_fraudulent_transactions_spark.queries._io import (
    _CACHE_REGISTRY,
    memo,
)

PKG = Path(__file__).resolve().parent.parent / "etl_process_for_detecting_fraudulent_transactions_spark"
TAG = "_pin_tag"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _stored_rdds(spark) -> set[int]:
    """Ids of the RDDs the block manager holds blocks for."""
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.fixture
def pin_tag():
    _CACHE_REGISTRY.pop(TAG, None)
    yield TAG
    _CACHE_REGISTRY.pop(TAG, None)


def test_memo_bounds_storage(spark, pin_tag):
    """Gate-internal memos must not accumulate for the session lifetime: a
    repeat call returns the SAME frame without building, and a different
    sf_dir or session replaces the entry, so one frame per tag is live."""
    builds = []

    def build(n):
        def b():
            builds.append(n)
            return spark.range(n)

        return b

    c1 = memo(spark, "/a", pin_tag, build(5))
    c2 = memo(spark, "/a", pin_tag, build(5))
    assert c2 is c1 and builds == [5], "repeat call must reuse the memoized frame"
    c3 = memo(spark, "/b", pin_tag, build(7))
    assert c3 is not c1 and builds == [5, 7]
    assert _CACHE_REGISTRY[pin_tag][2] is c3
    assert _rows(c3) == [(i,) for i in range(7)]
    other = spark.newSession()
    c4 = memo(other, "/b", pin_tag, build(3))
    assert c4 is not c3 and builds == [5, 7, 3], "another session must not be served"
    assert _CACHE_REGISTRY[pin_tag][2] is c4


def test_memo_build_stores_one_copy(spark, pin_tag):
    """A build stores its checkpoint only — no second (cached) copy."""
    before = _stored_rdds(spark)
    df = memo(spark, "/a", pin_tag, lambda: spark.range(1000).selectExpr("id", "id * 2 AS v"))
    assert df.count() == 1000
    assert df.groupBy().sum("v").collect()[0][0] == 999 * 1000
    assert len(_stored_rdds(spark) - before) == 1


def test_memo_hit_after_clear_cache_adds_no_storage(spark, pin_tag):
    df = memo(spark, "/a", pin_tag, lambda: spark.range(100), eager=True)
    before = _stored_rdds(spark)
    spark.catalog.clearCache()

    def rebuild():
        raise AssertionError("a memo hit must not build")

    again = memo(spark, "/a", pin_tag, rebuild)
    assert again is df
    assert _rows(again) == [(i,) for i in range(100)]
    assert _stored_rdds(spark) - before == set()


def test_superseded_memo_is_freed(spark, pin_tag):
    """A replaced entry is only dropped, not unpersisted (that would break
    frames still derived from it); the ContextCleaner frees its blocks."""
    before = _stored_rdds(spark)
    memo(spark, "/a", pin_tag, lambda: spark.range(100), eager=True)
    first = _stored_rdds(spark) - before
    assert len(first) == 1
    memo(spark, "/b", pin_tag, lambda: spark.range(50), eager=True)
    deadline = time.monotonic() + 10
    while first & _stored_rdds(spark):
        assert time.monotonic() < deadline, "superseded memo still stored after 10 s"
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.2)


def test_each_memo_tag_has_one_call_site():
    """A hit never runs its builder, so two call sites sharing a tag would
    serve each other's frame: every tag is a literal with one call site."""
    sites = defaultdict(list)
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call) and getattr(node.func, "id", None) == "memo"):
                continue
            where = f"{path.relative_to(PKG)}:{node.lineno}"
            tag = node.args[2] if len(node.args) > 2 else None
            assert isinstance(tag, ast.Constant) and isinstance(tag.value, str), (
                f"{where}: memo tag must be a string literal"
            )
            sites[tag.value].append(where)
    assert "dedup_shingles" in sites, "scan found no memo call sites"
    shared = {t: w for t, w in sites.items() if len(w) > 1}
    assert not shared, f"memo tags with several call sites: {shared}"


def test_band_candidates_memo_matches_direct(spark, sf_dir):
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.dedup import (
        _band_candidates_memo,
        _minhash_band_candidates,
        _shingle_arrays,
    )

    direct = _rows(_minhash_band_candidates(_shingle_arrays(spark, sf_dir)))
    memo_rows = _rows(_band_candidates_memo(spark, sf_dir))
    assert memo_rows == direct and len(memo_rows) > 0


def test_recall_audit_rebuilds_its_candidates(spark, sf_dir):
    """The audit's minhash_cand leg must not read the memo it audits: with
    an empty frame planted in the band-candidates entry, its found_pairs
    still equals a direct rebuild."""
    from pyspark.sql import functions as F

    from etl_process_for_detecting_fraudulent_transactions_spark.queries.dedup import (
        AUDIT_DOC_MOD,
        _band_candidates_memo,
        _minhash_band_candidates,
        _shingle_arrays,
        dedup_recall_audit,
    )

    real = _band_candidates_memo(spark, sf_dir)
    saved = _CACHE_REGISTRY["dedup_band_cands"]
    _CACHE_REGISTRY["dedup_band_cands"] = (sf_dir, spark, real.limit(0))
    try:
        assert _band_candidates_memo(spark, sf_dir).count() == 0
        found = (
            dedup_recall_audit(spark, sf_dir)
            .filter(F.col("method") == "minhash_cand")
            .collect()[0]["found_pairs"]
        )
    finally:
        _CACHE_REGISTRY["dedup_band_cands"] = saved
    panel = (F.col("doc_a") % AUDIT_DOC_MOD == 0) & (F.col("doc_b") % AUDIT_DOC_MOD == 0)
    direct = _minhash_band_candidates(_shingle_arrays(spark, sf_dir)).filter(panel).count()
    assert found == direct > 0


def test_knn_ivf_memo_matches_direct_rank(spark, sf_dir):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_process_for_detecting_fraudulent_transactions_spark.queries.similarity import (
        TOP_K,
        _ivf_scored,
        knn_ivf,
    )

    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    direct = _rows(
        _ivf_scored(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )
    assert _rows(knn_ivf(spark, sf_dir)) == direct and len(direct) > 0


def test_simhash_memo_survives_clear_cache(spark, sf_dir):
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.dedup import (
        dedup_simhash,
    )

    first = _rows(dedup_simhash(spark, sf_dir))
    # the bench clears the SQL cache between queries; the checkpointed
    # signature memo must still serve correct values on the repeat call
    spark.catalog.clearCache()
    again = _rows(dedup_simhash(spark, sf_dir))
    assert again == first


def test_ivf_pq_memo_consumers_agree(spark, sf_dir):
    """knn_ivf_pq via the memo == knn_ivf_pq fed the scored frame directly
    (the audit's injection path) — the two call forms must never drift."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.similarity import (
        _ivf_pq_scored,
        knn_ivf_pq,
    )

    via_memo = _rows(knn_ivf_pq(spark, sf_dir))
    via_injection = _rows(knn_ivf_pq(spark, sf_dir, scored=_ivf_pq_scored(spark, sf_dir)))
    assert via_memo == via_injection and len(via_memo) > 0
