"""Parity pins for the r13 optimization round.

The round converted the engine's two remaining per-row Arrow folds —
the portable rolling fingerprint's Java-31-fold and the SimHash bit
majority — to JVM higher-order expressions (the r12 minhash-fold
technique), replaced tfidf's hot-token df window with a partial-agg
dfreq join, and added the probe-only ANN bench entry. These tests pin
each rewrite to the exact values of the implementation it replaced,
over the real fixture corpus, so a future edit cannot silently diverge
them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_2_3_2_spark.catalog import load_table
from hive_2_3_2_spark.llm import dedup as D
from hive_2_3_2_spark.llm import text as T


def _assert_same_rows(a, b):
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_portable_rfp_jvm_fold_matches_udf(spark, sf_dir):
    """rolling_shingle_fingerprint_portable's JVM 31-fold is bit-identical
    to the Arrow pandas-UDF reference over the real corpus (ASCII-by-
    normalization contract + non-ANSI int32 wraparound), for the default
    and the degenerate shingle width."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    for k in (5, 1):
        both = docs.select(
            "doc_id",
            T.rolling_shingle_fingerprint_portable(F.col("text"), k=k).alias(
                "jvm"
            ),
            T._portable_rfp_udf(k)(
                T.normalize_for_fingerprint(F.col("text"))
            ).alias("udf"),
        )
        assert both.filter("jvm IS DISTINCT FROM udf").count() == 0


def test_portable_rfp_jvm_fold_edge_cases(spark):
    """Empty, punct-only, sub-k, non-ASCII-raw and NULL text all fold to
    the UDF's values (NULL coerces to 0, exactly as the UDF's `t or ''`)."""
    rows = [(1, ""), (2, "!!! ???"), (3, "a"), (4, "héllo wörld"), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    both = df.select(
        "doc_id",
        T.rolling_shingle_fingerprint_portable(F.col("text")).alias("jvm"),
        T._portable_rfp_udf(5)(
            T.normalize_for_fingerprint(F.col("text"))
        ).alias("udf"),
    )
    for r in both.collect():
        assert r.jvm == r.udf, f"doc {r.doc_id}: {r.jvm} != {r.udf}"


@pytest.mark.parametrize("k", [0, -1])
def test_portable_rfp_rejects_k_below_one(k):
    """There is no 0-word shingle: k < 1 is a typed error, not a NULL
    fingerprint."""
    with pytest.raises(ValueError, match="k must be >= 1"):
        T.rolling_shingle_fingerprint_portable(F.col("text"), k=k)


def test_portable_rfp_expression_linear_in_k(spark):
    """Each shingle step references the running hash once, so the
    expression grows by the same amount per word (it used to double:
    424 k characters at k=12), and k=32 builds and still matches the
    UDF reference."""

    def size(k):
        return len(str(T.rolling_shingle_fingerprint_portable(
            F.col("text"), k=k
        )))

    step = size(10) - size(9)
    assert abs((size(12) - size(11)) - step) <= 8
    assert size(32) < size(8) + 26 * step
    words = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, words), (2, "a b c"), (3, "")], "doc_id long, text string"
    )
    both = df.select(
        "doc_id",
        T.rolling_shingle_fingerprint_portable(F.col("text"), k=32).alias(
            "jvm"
        ),
        T._portable_rfp_udf(32)(
            T.normalize_for_fingerprint(F.col("text"))
        ).alias("udf"),
    )
    for r in both.collect():
        assert r.jvm == r.udf, f"doc {r.doc_id}: {r.jvm} != {r.udf}"


def test_simhash_sql_matches_arrow_fold(spark, sf_dir):
    """_simhash_sql's 64 per-bit majority aggregates == the Arrow numpy
    fold, bit for bit, over the real corpus hash arrays (including the
    sign bit via shiftleft(1L, 63))."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hh = f"transform({D._word_shingles_sql('text', 2)}, s -> xxhash64(s))"
    jvm = docs.selectExpr("doc_id", hh + " AS hh").selectExpr(
        "doc_id", D._simhash_sql("hh") + " AS sh"
    )
    udf = docs.select(
        "doc_id",
        F.transform(
            D.word_shingles(F.col("text"), 2), lambda s: F.xxhash64(s)
        ).alias("hh"),
    ).select("doc_id", D._simhash_fold_udf()(F.col("hh")).alias("sh"))
    _assert_same_rows(jvm, udf)


def test_simhash_sql_edge_cases(spark):
    """Empty and NULL text fold to 0 (the UDF's zero-fill); short docs
    match exactly."""
    rows = [(1, ""), (2, None), (3, "word"), (4, "a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hh = f"transform({D._word_shingles_sql('text', 2)}, s -> xxhash64(s))"
    jvm = df.selectExpr("doc_id", hh + " AS hh").selectExpr(
        "doc_id", D._simhash_sql("hh") + " AS sh"
    )
    udf = df.select(
        "doc_id",
        F.transform(
            D.word_shingles(F.col("text"), 2), lambda s: F.xxhash64(s)
        ).alias("hh"),
    ).select("doc_id", D._simhash_fold_udf()(F.col("hh")).alias("sh"))
    _assert_same_rows(jvm, udf)


def test_tfidf_dfreq_join_matches_window_form(spark, sf_dir):
    """tfidf_top_terms' partial-agg dfreq + join (r13 skew guard) ==
    the r12 count(1) OVER (PARTITION BY tok) window form: same rows,
    same schema."""
    docs = load_table(spark, sf_dir, "documents")
    new = T.tfidf_top_terms(docs, k=3)

    toks = docs.selectExpr("doc_id", "explode(split(text, ' ')) AS tok").filter(
        "tok != ''"
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.expr("count(1) AS tf"))
    n_docs = docs.select(F.expr("count(1) AS n_docs"))
    old = (
        tf.selectExpr(
            "doc_id", "tok", "tf", "count(1) OVER (PARTITION BY tok) AS df"
        )
        .crossJoin(F.broadcast(n_docs))
        .selectExpr(
            "doc_id",
            "tok",
            "tf",
            "df",
            "round(tf * ln((n_docs + 1.0) / (df + 1.0)), 6) AS score",
            "row_number() OVER (PARTITION BY doc_id "
            "ORDER BY tf DESC, df ASC, tok ASC) AS rn",
        )
        .filter("rn <= 3")
        .select("doc_id", "tok", "tf", "df", "score")
    )
    assert new.schema == old.schema
    _assert_same_rows(old, new)


def test_recall_booleans_false_branches(spark, sf_dir):
    """ADVICE r12: the TRUE-only fixture could not distinguish a
    constant-TRUE regression. Force both FALSE branches: an empty approx
    result makes every recall_ok FALSE, and an inflated floor makes
    corpus_recall_ok FALSE while recall_ok stays TRUE."""
    from hive_2_3_2_spark.llm import similarity as S
    from hive_2_3_2_spark.suite.llm_similarity import _recall_booleans

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = S.brute_force_topk(emb, queries, k=5)

    # (a) approx with zero overlap (self-pairs only — excluded from exact):
    empty_approx = queries.selectExpr(
        "vec_id AS query_id", "vec_id AS neighbor_id"
    )
    rows = _recall_booleans(queries, empty_approx, exact, 1).collect()
    assert len(rows) == 5
    assert all(r.recall_ok is False for r in rows)
    assert all(r.corpus_recall_ok is False for r in rows)

    # (b) perfect approx (= exact) against an unreachable floor:
    rows = _recall_booleans(queries, exact, exact, 26).collect()
    assert len(rows) == 5
    assert all(r.recall_ok is True for r in rows)
    assert all(r.corpus_recall_ok is False for r in rows)  # 25 hits < 26


def test_ann_boolean_entries_count_plan_not_eliminated(spark, sf_dir):
    """Measurement-integrity pin (r13): Dataset.count() on the
    boolean-invariant ANN entries must still execute the ANN subtree.
    Without the always-true hits/n guard filters, the optimizer
    eliminates the provably-unique-keyed left join and the count plan
    collapses to a bare scan of `queries` — the bench would time
    nothing. The guard keeps a Join (and therefore the probe/exact
    computation) in the count-optimized plan."""
    from hive_2_3_2_spark.suite import load_all

    registry = load_all()
    # every entry that emits its result through _recall_booleans
    for name in (
        "similarity_topk_ivf", "similarity_probe_only",
        "similarity_topk_pq", "similarity_topk_ivfpq",
    ):
        df = registry[name].fn(spark, sf_dir)
        plan = (
            df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "Join" in plan, f"{name}: count() plan eliminated the probe"
