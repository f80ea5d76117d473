"""Okapi BM25 — the reference's default similarity.

Behavioral spec (SURVEY.md §4.4; reference
``index/similarity/SimilarityProviders.java:274-281`` configures
``LegacyBM25Similarity(k1=1.2, b=0.75, discount_overlaps=true)``, validated
monotone at ``SimilarityService.java:213-313``):

    idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))
    score    = boost * idf * (k1 + 1) * tf / (tf + k1 * (1 - b + b * dl / avgdl))
    avgdl    = sumTotalTermFreq / docCount

Two modes:

- ``exact``  — float64 throughout, true doc lengths. This is the mode the
  DuckDB oracle can reproduce bit-for-bit and what the driver correctness
  gate runs.
- ``lucene`` — float32 order-of-operations with 1-byte SmallFloat-quantized
  doc lengths and the per-norm cache, reproducing the reference's scores
  (the ``(k1+1)`` Legacy numerator and quantization are the two classic
  mismatch sources; fixtures pin them).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from opensearch_spark.scoring.smallfloat import NORM_TABLE, encode_norms

K1_DEFAULT = 1.2
B_DEFAULT = 0.75


@dataclass(frozen=True)
class BM25Params:
    k1: float = K1_DEFAULT
    b: float = B_DEFAULT
    mode: str = "exact"  # "exact" (float64) | "lucene" (float32 + quantized norms)


def bm25_idf(N: int, df, params: BM25Params = BM25Params()):
    """idf = ln(1 + (N - df + 0.5)/(df + 0.5)); vectorized over df."""
    df = np.asarray(df, dtype=np.float64)
    idf = np.log(1.0 + (N - df + 0.5) / (df + 0.5))
    if params.mode == "lucene":
        return idf.astype(np.float32)
    return idf


def norm_cache(avgdl: float, params: BM25Params = BM25Params()) -> np.ndarray:
    """Lucene's 256-entry INVERSE-norm cache (BM25Similarity.java,
    Lucene 8+ BM25Scorer):

        cache[i] = 1f / (k1 * ((1 - b) + b * LENGTH_TABLE[i] / avgdl))

    so the per-doc work is one table lookup + the ``weight - weight /
    (1 + freq * normInverse)`` evaluation. (Before round 4 this stored
    the non-inverted denominator with a different operation
    association — float32-faithful to nothing; the cache now mirrors
    the reference expression term-for-term.)"""
    tbl = NORM_TABLE.astype(np.float32)
    denom = (np.float32(params.k1)
             * (np.float32(1.0 - params.b)
                + np.float32(params.b) * tbl / np.float32(avgdl)))
    return (np.float32(1.0) / denom).astype(np.float32)


def bm25_score(
    tf,
    dl,
    df,
    N: int,
    avgdl: float,
    boost: float = 1.0,
    params: BM25Params = BM25Params(),
):
    """Vectorized BM25 over parallel arrays (tf, dl, df)."""
    tf = np.asarray(tf)
    dl = np.asarray(dl)
    if params.mode == "lucene":
        # reference float32 order-of-operations, expression-for-
        # expression (LegacyBM25Similarity.scorer folds (k1+1) into
        # boost, then BM25Similarity's BM25Scorer computes
        # weight = boost * idf and score = weight - weight /
        # (1 + freq * normInverse) against the inverse-norm cache)
        cache = norm_cache(avgdl, params)
        norm_inv = cache[encode_norms(dl)]
        idf = bm25_idf(N, df, params)
        boost_legacy = np.float32(boost) * np.float32(params.k1 + 1.0)
        weight = (boost_legacy * idf).astype(np.float32)
        tf32 = tf.astype(np.float32)
        one = np.float32(1.0)
        return (weight - weight / (one + tf32 * norm_inv)).astype(np.float32)
    tf64 = tf.astype(np.float64)
    dl64 = dl.astype(np.float64)
    idf = bm25_idf(N, df, params)
    return (
        boost
        * idf
        * (params.k1 + 1.0)
        * tf64
        / (tf64 + params.k1 * (1.0 - params.b + params.b * dl64 / avgdl))
    )


def sql_double(x: float) -> str:
    """``x`` as a SQL DOUBLE that Spark and DuckDB both parse to the same
    float64. A bare ``1.2`` is a DECIMAL in both engines, and it turns the
    arithmetic around it into decimal arithmetic, which Spark rounds to a
    few decimal places when the literal has many digits. The number is
    cast from its repr string: both engines parse a string to the nearest
    float64, while DuckDB's cast of a decimal literal misses it for about
    one repr in ten."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def bm25_sql_expr(
    tf: str, dl: str, df: str, N: str, avgdl: str, k1: float = K1_DEFAULT, b: float = B_DEFAULT
) -> str:
    """The exact-mode formula as a SQL string — used both by the Spark plan
    (Catalyst expression, stays in codegen) and the DuckDB oracle, so the two
    compute bit-identical float64 scores. ``N`` and ``avgdl`` are SQL
    expressions (columns, or numbers written by ``sql_double``); every
    constant is a DOUBLE, so each operation runs in float64 whatever the
    column types."""
    half, k1, b = sql_double(0.5), sql_double(k1), sql_double(b)
    return (
        f"ln(1.0 + ({N} - {df} + {half}) / ({df} + {half})) * ({k1} + 1.0) * {tf} "
        f"/ ({tf} + {k1} * (1.0 - {b} + {b} * {dl} / {avgdl}))"
    )
