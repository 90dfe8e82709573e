"""Round-9 regression pins.

Pin 1: `window_lag_seq` must hash real rows. VERDICT r8 flagged the gate as
vacuous — 0 Spark rows == 0 oracle rows at every driver sf, so the oracle
hash had never covered a row of the W2/P4/P5 carrier. The chain-span
threshold was widened (120 -> 1440 min, both engines) so every driver sf
yields rows while the span filter still rejects most decreasing chains.
This test fails if a future edit re-vacuates the gate.
"""

import duckdb
import pytest

from etl_process_for_detecting_fraudulent_transactions_spark.queries.relational import (
    ORACLE_LAG_SEQ,
    window_lag_seq,
)


def _hybrid_fixture(spark, tmp_path):
    """40 docs; 'the' is in EVERY doc (df=100%), r{i} unique (df=1),
    s{i%5} shared by 8 (df=20%). Query doc = vec_id 0 (vec_id % 50 == 0).
    Each doc has only 3 distinct terms, so without a cut the stop term
    enters every query's 10-term budget and dominates the lexical leg."""
    import numpy as np

    path = str(tmp_path / "stopterm")
    docs = [(i, f"the r{i} s{i % 5}", "en", "s0", 12) for i in range(40)]
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    dsch = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    spark.createDataFrame(docs, dsch).write.parquet(f"{path}/documents.parquet")
    rng = np.random.RandomState(9)
    embs = [
        (i, [float(x) for x in rng.uniform(-1, 1, 64).round(3)], i % 3)
        for i in range(20)
    ]
    esch = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]
    )
    spark.createDataFrame(embs, esch).write.parquet(f"{path}/embeddings.parquet")
    return path


def test_hybrid_stop_df_cut_parity_and_effect(spark, tmp_path):
    """Pin 3 (VERDICT r8 #4): the absolute stop-term df cut.

    At stop_df_pct=50 the 100%-df term must (a) vanish from every query's
    scored-term budget, (b) change the lexical outcome vs the default-off
    run, and (c) stay engine-exact — the Spark run and the mirrored DuckDB
    oracle at the SAME cut agree row-for-row."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.similarity import (
        hybrid_search_rrf,
        oracle_hybrid_rrf,
    )

    path = _hybrid_fixture(spark, tmp_path)

    def canon(rows):
        return sorted(tuple(r) for r in rows)

    off = canon(
        hybrid_search_rrf(spark, path, stop_df_pct=None)
        .select("query_id", "cand_id", "lex_rank", "sem_rank", "fused_rank")
        .collect()
    )
    on_df = hybrid_search_rrf(spark, path, stop_df_pct=50)
    on = canon(
        on_df.select("query_id", "cand_id", "lex_rank", "sem_rank", "fused_rank").collect()
    )
    assert on != off, "the cut changed nothing on a 100%-df planted stop term"

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/{t}.parquet/*.parquet')"
        )
    orows = con.execute(
        f"SELECT query_id, cand_id, lex_rank, sem_rank, fused_rank"
        f" FROM ({oracle_hybrid_rrf(stop_df_pct=50)})"
    ).fetchall()
    assert canon(orows) == on, "Spark and oracle disagree at the same cut"

    # (a) directly: no surviving scored term has df above the cut
    survivors = con.execute(
        """
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_distinct(list_filter(str_split(text, ' '), x -> x <> ''))) AS term
          FROM documents
        ),
        dfx AS (SELECT term, COUNT(*) AS df FROM toks GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT term FROM dfx CROSS JOIN n WHERE df * 100 > n_docs * 50
        """
    ).fetchall()
    assert [t for (t,) in survivors] == ["the"], "fixture lost its stop term"


def _write_docs(spark, path, rows):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    sch = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    spark.createDataFrame(rows, sch).write.parquet(f"{path}/documents.parquet")


def test_crosslingual_dedup_planted(spark, tmp_path):
    """Round-9 gate pin: a planted en/de mirror pair must come back with the
    en doc kept and the de doc dropped; a de/fr mirror falls back to the
    lower doc_id; an identical same-lang pair must NOT appear."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.dedup import (
        crosslingual_dedup,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    path = str(tmp_path / "xl")
    _write_docs(
        spark,
        path,
        [
            (1, base, "en", "src0", len(base)),
            (2, base, "de", "src1", len(base)),          # en/de mirror
            (7, other, "de", "src2", len(other)),
            (9, other, "fr", "src3", len(other)),        # de/fr mirror
            (3, base, "en", "src4", len(base)),          # en/en dup of 1
        ],
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in crosslingual_dedup(spark, path).collect()
    }
    assert (1, 2) in rows and rows[(1, 2)]["keep_id"] == 1 and rows[(1, 2)]["drop_id"] == 2
    assert (2, 3) in rows and rows[(2, 3)]["keep_id"] == 3  # en side kept
    assert (7, 9) in rows and rows[(7, 9)]["keep_id"] == 7  # no en: lower id
    assert (1, 3) not in rows, "same-lang pair leaked into the cross-lingual ledger"


def test_crosslingual_bucket_cap_keeps_discriminative_pairs(spark, tmp_path):
    """Pin: the band-bucket cap (XL_BUCKET_CAP) drops pairs that collide
    ONLY in oversized (non-discriminative) buckets but keeps a true mirror
    whose rare shingles drive a small bucket. 100 identical stop-text docs
    form >cap buckets in every band — none of their pairs may surface —
    while the mirrored rare-text pair must."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.dedup import (
        XL_BUCKET_CAP,
        crosslingual_dedup,
    )

    stop = "the of and to in for on at by it " * 4  # 40 stop tokens
    rare = "quetzal zephyr oblique marsupial quixotic vellum " * 2
    rows = [(i, stop.strip(), "en" if i % 2 else "de", "src1", len(stop)) for i in range(100)]
    rows.append((200, rare.strip(), "en", "src2", len(rare)))
    rows.append((201, rare.strip(), "fr", "src3", len(rare)))
    assert 100 > XL_BUCKET_CAP
    path = str(tmp_path / "cap")
    _write_docs(spark, path, rows)
    got = {(r["doc_a"], r["doc_b"]) for r in crosslingual_dedup(spark, path).collect()}
    assert (200, 201) in got, "discriminative mirror lost under the cap"
    assert all(a >= 200 for a, _ in got), "stop-bucket pairs leaked past the cap"


def test_quality_classifier_planted_separation(spark, tmp_path):
    """Round-9 gate pin: tokens exclusive to curated sources must push a
    holdout doc over the neutral score, and junk-exclusive tokens under it —
    on a planted corpus the classifier's holdout predictions recover the
    weak labels exactly."""
    from etl_process_for_detecting_fraudulent_transactions_spark.queries.text import (
        QC_SCALE,
        quality_classifier_nb,
    )

    rows = []
    # train docs (doc_id % 4 != 0): 30 curated ('good*'), 30 junk ('spam*')
    did = 0
    for i in range(60):
        while did % 4 == 0:
            did += 1
        curated = i < 30
        text = ("good alpha " * 5 if curated else "spam omega " * 5).strip()
        rows.append((did, text, "en", "src1" if curated else "src15", len(text)))
        did += 1
    # holdout docs (doc_id % 4 == 0): one of each
    rows.append((100, "good alpha good alpha", "en", "src1", 21))
    rows.append((104, "spam omega spam omega", "en", "src15", 21))
    path = str(tmp_path / "qc")
    _write_docs(spark, path, rows)
    out = {r["doc_id"]: r for r in quality_classifier_nb(spark, path).collect()}
    assert set(out) == {100, 104}, "holdout split drifted"
    assert out[100]["weak_pos"] and out[100]["pred_pos"]
    assert out[100]["score_micro"] > QC_SCALE
    assert not out[104]["weak_pos"] and not out[104]["pred_pos"]
    assert out[104]["score_micro"] < QC_SCALE


def test_window_lag_seq_is_not_vacuous(spark, sf_dir):
    rows = window_lag_seq(spark, sf_dir).collect()
    assert len(rows) > 0, "gate went vacuous again (0 Spark rows)"

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    oracle_n = con.execute(f"SELECT COUNT(*) FROM ({ORACLE_LAG_SEQ})").fetchone()[0]
    assert oracle_n == len(rows)

    # the span filter must still bite: dropping it admits strictly more rows
    unbounded = ORACLE_LAG_SEQ.replace(
        "AND CAST(FLOOR((epoch_us(ts) - epoch_us(lag_ts3)) / 60000000) AS INT) <= 1440",
        "",
    )
    assert unbounded != ORACLE_LAG_SEQ, "span predicate text changed; update pin"
    unbounded_n = con.execute(f"SELECT COUNT(*) FROM ({unbounded})").fetchone()[0]
    assert unbounded_n > oracle_n, "span filter no longer selects anything"
