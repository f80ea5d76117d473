"""BM25 component pinning (FIXTURES.md §5): hand-computed idf / norm byte /
score for a 5-doc micro corpus; isolates the (k1+1) Legacy numerator and the
1-byte length quantization (SimilarityProviders.java:274-281 config)."""

import math

import numpy as np
import pytest

from opensearch_spark.scoring.bm25 import BM25Params, bm25_idf, bm25_score, norm_cache
from opensearch_spark.scoring.smallfloat import int_to_byte4

# micro corpus: 5 docs, field 'content'
#   d0: "spark spark index"        dl=3, tf(spark)=2
#   d1: "spark query"              dl=2, tf(spark)=1
#   d2: "index merge sort query"   dl=4
#   d3: "bm25 scoring spark bm25"  dl=4, tf(bm25)=2, tf(spark)=1
#   d4: "merge"                    dl=1
N = 5
SUM_DL = 3 + 2 + 4 + 4 + 1
AVGDL = SUM_DL / N  # 2.8


def hand_idf(df):
    return math.log(1 + (N - df + 0.5) / (df + 0.5))


def hand_score(tf, dl, df, k1=1.2, b=0.75):
    return hand_idf(df) * (k1 + 1) * tf / (tf + k1 * (1 - b + b * dl / AVGDL))


def test_idf_exact():
    # df(spark)=3 -> ln(1 + 2.5/3.5)
    got = bm25_idf(N, np.array([3]))[0]
    assert got == pytest.approx(math.log(1 + 2.5 / 3.5), rel=0, abs=1e-15)


def test_exact_mode_matches_hand_computed():
    # query "spark" on d0: tf=2, dl=3, df=3
    got = bm25_score(np.array([2]), np.array([3]), np.array([3]), N, AVGDL)[0]
    assert got == pytest.approx(hand_score(2, 3, 3), abs=1e-12)
    # query "bm25" on d3: tf=2, dl=4, df=1
    got = bm25_score(np.array([2]), np.array([4]), np.array([1]), N, AVGDL)[0]
    assert got == pytest.approx(hand_score(2, 4, 1), abs=1e-12)


def test_exact_ranking_spark_query():
    # rank docs for "spark": d0 (tf2,dl3) > d1 (tf1,dl2) > d3 (tf1,dl4)
    scores = bm25_score(
        np.array([2, 1, 1]), np.array([3, 2, 4]), np.array([3, 3, 3]), N, AVGDL
    )
    assert scores[0] > scores[1] > scores[2]


def test_lucene_mode_quantizes_norms():
    p = BM25Params(mode="lucene")
    # dl values < 24 are exact under SmallFloat -> lucene == float32(exact)
    got = bm25_score(np.array([2]), np.array([3]), np.array([3]), N, AVGDL, params=p)[0]
    assert got == pytest.approx(hand_score(2, 3, 3), rel=1e-6)
    assert got.dtype == np.float32
    # a large dl hits the lattice: dl=41 decodes to 40
    got41 = bm25_score(np.array([1]), np.array([41]), np.array([3]), N, AVGDL, params=p)[0]
    got40 = bm25_score(np.array([1]), np.array([40]), np.array([3]), N, AVGDL, params=p)[0]
    assert got41 == got40  # quantized to same byte
    assert int_to_byte4(41) == int_to_byte4(40)


def test_norm_cache_shape_and_monotone():
    c = norm_cache(AVGDL)
    assert c.shape == (256,)
    # Lucene's cache stores the INVERSE norm: longer doc -> bigger
    # denominator -> smaller normInverse
    assert np.all(np.diff(c) <= 0)


def test_lucene_mode_matches_reference_expression_shape():
    """score must equal weight - weight/(1 + tf*normInverse) evaluated
    in float32 — the exact BM25Scorer.score expression (Lucene 8+),
    with LegacyBM25Similarity's (k1+1) folded into boost."""
    p = BM25Params(mode="lucene")
    tf, dl, df = np.array([3]), np.array([7]), np.array([2])
    got = bm25_score(tf, dl, df, N, AVGDL, boost=1.5, params=p)[0]
    idf = np.float32(np.log(1.0 + (N - 2 + 0.5) / (2 + 0.5)))
    weight = np.float32(np.float32(1.5) * np.float32(p.k1 + 1.0) * idf)
    from opensearch_spark.scoring.smallfloat import NORM_TABLE, int_to_byte4
    norm_inv = np.float32(1.0) / np.float32(
        np.float32(p.k1) * (np.float32(1.0 - p.b)
                            + np.float32(p.b)
                            * np.float32(NORM_TABLE[int_to_byte4(7)])
                            / np.float32(AVGDL)))
    want = weight - weight / (np.float32(1.0) + np.float32(3) * norm_inv)
    assert got == want


def test_score_monotone_in_tf_decreasing_in_dl():
    s = bm25_score(np.array([1, 2, 3]), np.array([3, 3, 3]), np.array([2, 2, 2]), N, AVGDL)
    assert s[0] < s[1] < s[2]
    s = bm25_score(np.array([1, 1]), np.array([2, 10]), np.array([2, 2]), N, AVGDL)
    assert s[0] > s[1]


def test_sql_expr_matches_numpy():
    import duckdb

    from opensearch_spark.scoring.bm25 import bm25_sql_expr

    expr = bm25_sql_expr("2.0", "3.0", "3.0", "5.0", "2.8")
    got = duckdb.sql(f"select {expr} as s").fetchone()[0]
    assert got == pytest.approx(hand_score(2, 3, 3), abs=1e-12)


def test_spark_plans_score_in_float64(spark, sf_dir):
    """Every constant of the BM25 SQL (the shared ``bm25_sql_expr`` and the
    phrase formula) is a DOUBLE. Spark types a bare ``57.83459999999999``
    as DECIMAL, which would run ``b * dl / avgdl`` in decimal arithmetic
    and round it; with DOUBLE constants the scores agree with the float64
    formula to 1e-9 on an avgdl whose repr has many digits."""
    from pyspark.sql import functions as F

    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.scoring.bm25 import bm25_sql_expr, sql_double
    from opensearch_spark.search import Searcher

    avgdl = 57.83459999999999
    tf, dl, df = (np.array(c) for c in zip(*[
        (t, d, f) for t in (1, 3, 7) for d in (5, 37, 400)
        for f in (1, 50, 9000)]))
    rows = spark.createDataFrame(
        list(zip(tf.tolist(), dl.tolist(), df.tolist())),
        "tf long, dl long, df long")
    want = bm25_score(tf, dl, df, 10_000, avgdl)
    for avg in (repr(avgdl), sql_double(avgdl)):
        expr = bm25_sql_expr("tf", "dl", "df", "10000", avg, 1.2, 0.75)
        got = [r[0] for r in rows.select(F.expr(expr)).collect()]
        np.testing.assert_allclose(got, want, rtol=0, atol=1e-9)

    # the phrase formula, on a searcher whose avgdl has a long repr
    s = Searcher(spark, get_searcher(spark, sf_dir).index)
    s.avgdl = avgdl
    ptf = spark.createDataFrame([(0, 1.0), (1, 2.5), (2, 0.2)],
                                "doc_id long, ptf double")
    got = sorted(tuple(r) for r in s._phrase_scores(ptf, 3.7, 1.5).collect())
    dls = {r.doc_id: r.dl for r in s.index.docs(spark)
           .where("doc_id < 3").select("doc_id", "dl").collect()}
    want = [(d, 1.5 * 3.7 * 2.2 * p / (p + 1.2 * (0.25 + 0.75 * dls[d] / avgdl)))
            for d, p in ((0, 1.0), (1, 2.5), (2, 0.2))]
    assert [d for d, _ in got] == [d for d, _ in want]
    np.testing.assert_allclose([v for _, v in got], [v for _, v in want],
                               rtol=0, atol=1e-9)
