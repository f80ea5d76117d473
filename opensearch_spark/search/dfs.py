"""query_then_fetch vs dfs_query_then_fetch — shard-local term statistics.

Reference semantics (``action/search/SearchType.java:55,62``; DFS phase in
``action/search/SearchDfsQueryThenFetchAsyncAction.java`` +
``search/dfs/DfsSearchResult.java``): under the default
``query_then_fetch``, each shard scores its hits with its OWN df / docCount
/ avgdl, so the same document can score differently depending on which
shard it landed on; ``dfs_query_then_fetch`` runs an extra round-trip that
sums df and collection stats across shards first (``AggregatedDfs``), then
every shard scores with the GLOBAL statistics — making the merged top-k
identical to a single-index search.

Spark-first re-expression: the "shards" are a routing partition of the one
global index (``doc_id % n_shards`` — the same deterministic routing the
``index_routing_shards`` gate models). Scoring stays a Catalyst expression
(the same formula string the DuckDB oracle inlines), per-shard top-k is a
window over the bounded scored frame, and the coordinator merge is a
global TakeOrderedAndProject.

Statistics posture under soft deletes (mirrors the reference exactly):

- ``dfs=True`` uses the SAME statistics as the plain searcher — the
  dictionary df and index-meta docCount/avgdl, which intentionally keep
  counting soft-deleted docs until an expunging rebuild (Lucene's
  un-merged-segment behavior; see ``Searcher._flat_postings``). That is
  what ``AggregatedDfs`` ships: the coordinator's aggregated (stale)
  Lucene stats. The identity with ``Searcher.search`` therefore holds
  with or without tombstones — pinned by a unit test. The stats are
  driver-side reads (preloaded dictionary + meta), so dfs mode adds ZERO
  Spark jobs over the plain match.
- ``dfs=False`` computes each shard's stats from its live routing
  partition in-plan (one broadcast n_shards-row aggregate over the docs
  table + a groupBy over the term-pruned postings): the model is a
  freshly-merged shard set, the natural reading of a synthetic routing
  split. Nothing scans more than the match query itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from opensearch_spark.scoring.bm25 import bm25_sql_expr


def sharded_search(s, text: str, *, field: str = "text", n_shards: int = 4,
                   k: int = 10, dfs: bool = False,
                   round_to: int | None = 4) -> DataFrame:
    """Top-k BM25 over an ``n_shards``-way routed view of the index.

    ``dfs=False`` → query_then_fetch: shard-local df/N/avgdl (the
    reference default, scores depend on routing). ``dfs=True`` →
    dfs_query_then_fetch: globally aggregated stats — provably identical
    to the plain single-index match top-k (pinned by a unit test, deletes
    included). Returns (doc_id, shard, score) sorted by (score desc,
    doc_id). Honors the index's configured BM25 k1/b.
    """
    fs = s._searcher_for(field)
    terms = list(dict.fromkeys(fs.analyze(text)))
    if not terms:
        return fs._empty_scores().select(
            "doc_id", F.lit(0).alias("shard"), "score").limit(0)

    shard = (F.col("doc_id") % n_shards).cast("int").alias("shard")

    if dfs:
        # AggregatedDfs = the coordinator's (delete-inclusive) Lucene
        # stats: dictionary df + meta docCount/avgdl, exactly what the
        # plain searcher inlines — driver-side, no extra Spark jobs
        stats = fs.term_stats(terms)
        per_term = fs._bm25_scores(
            [t for t in terms if t in stats], stats, 1.0,
        ).withColumn("shard", shard)
    else:
        flat = fs._flat_postings(terms).withColumn("shard", shard)
        # shard-local stats over the live routing partition: n_shards
        # rows from a column-pruned dl scan, broadcast
        docs = fs.index.docs(s.spark).select("doc_id", "dl")
        stats = (docs.groupBy(shard)
                 .agg(F.count(F.lit(1)).alias("N"),
                      (F.sum("dl") * F.lit(1.0)
                       / F.count(F.lit(1))).alias("avgdl")))
        dfreq = (flat.groupBy("shard", "term")
                 .agg(F.count(F.lit(1)).alias("df")))
        per_term = (flat
                    .join(F.broadcast(dfreq), ["shard", "term"])
                    .join(F.broadcast(stats), "shard")
                    .withColumn("tscore", F.expr(bm25_sql_expr(
                        "tf", "dl", "df", "N", "avgdl",
                        k1=fs.k1, b=fs.b))))

    per_doc = (per_term.groupBy("shard", "doc_id")
               .agg(F.sum("tscore").alias("score")))
    if round_to is not None:
        per_doc = per_doc.withColumn("score", F.round("score", round_to))

    # each shard returns its top-k (QuerySearchResult), the coordinator
    # merge-sorts the bounded union (SearchPhaseController.sortDocs)
    w = Window.partitionBy("shard").orderBy(F.desc("score"), F.asc("doc_id"))
    shard_topk = (per_doc.withColumn("rnk", F.row_number().over(w))
                  .where(F.col("rnk") <= k).drop("rnk"))
    return (shard_topk.select("doc_id", "shard", "score")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
