"""Driver-contract query catalogue: every implemented operator from
SURVEY.md §2 exposed as (spark, sf_dir) → DataFrame, each with a DuckDB
oracle SQL twin (same column names, rounded floats, deterministic
tie-breaks) for the correctness gate.

Sections: full-text search (engine path over the ``documents`` table),
aggregations (metric/bucket/pipeline over the TPC-H-ish tables), joins,
ingest functions, and training-data-pipeline ops (dedup / similarity /
text stats over ``documents``/``embeddings``).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import Window as W

from opensearch_spark import oracle as O
from opensearch_spark.index.build import IndexConfig, InvertedIndex, build_index
from opensearch_spark.scoring.bm25 import bm25_sql_expr, sql_double
from opensearch_spark.search import (
    Bool, Boosting, ConstantScore, DisMax, Fuzzy, Ids, Match, MatchAll,
    MatchBoolPrefix, MatchPhrase, MatchPhrasePrefix, MoreLikeThis, MultiMatch,
    Prefix, Range, Regexp, Searcher, SpanNear, Term, Terms, TermsSet, Wildcard,
    highlight_field, parse_query_string, rank_metrics, term_suggest, with_ranks,
)
from opensearch_spark.search.fetchphase import (
    fetch_fields, field_mapping, script_fields, source_filter)

_INDEX_CACHE: dict[str, Searcher] = {}
INDEX_ROOT = os.environ.get("SPARK_GRAFT_INDEX_DIR", "/tmp/opensearch_spark_indexes")


TITLE_TOKENS = 8  # derived second analyzed field: first 8 tokens of text


def with_title(corpus: DataFrame) -> DataFrame:
    """Multi-field mapping (TypeParsers.java multi-fields): derive a second
    analyzed field from the same source value."""
    return corpus.withColumn(
        "title",
        F.array_join(F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, TITLE_TOKENS), " "),
    )


def _load_or_build(spark, corpus, out, cfg, n) -> InvertedIndex:
    from opensearch_spark.index.build import LAYOUT_VERSION

    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        idx = InvertedIndex(out)
        if (idx.doc_count == n
                and idx.meta.get("layout_version") == LAYOUT_VERSION
                and idx.meta.get("analyzer") == cfg.analyzer
                and bool(idx.meta.get("with_positions")) == cfg.with_positions
                and idx.meta.get("index_options", "freqs")
                    == getattr(cfg, "index_options", "freqs")):
            return idx
    return build_index(spark, corpus, out, cfg)


def get_searcher(spark: SparkSession, sf_dir: str) -> Searcher:
    """Build (or reuse) the inverted indexes (text + derived title field)
    for sf_dir's documents table."""
    key = os.path.abspath(sf_dir)
    if key in _INDEX_CACHE:
        return _INDEX_CACHE[key]
    out = os.path.join(
        INDEX_ROOT, hashlib.sha256(key.encode()).hexdigest()[:16])
    corpus = with_title(spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))
    n = corpus.count()
    idx = _load_or_build(
        spark, corpus, out,
        IndexConfig(field="text", analyzer="standard", id_col="doc_id",
                    keyword_cols=("lang", "source"), n_parts=8,
                    bucket_span=1 << 12, with_positions=True), n)
    idx_title = _load_or_build(
        spark, corpus.select("doc_id", "title"), out + "_title",
        IndexConfig(field="title", analyzer="standard", id_col="doc_id",
                    n_parts=4, bucket_span=1 << 12, with_positions=True), n)
    # serving posture: pin index tables; the dictionary preload is decided
    # automatically by vocabulary size (Searcher.PRELOAD_VOCAB_MAX) — the
    # 100 TB default is the Spark-filter path, not a caller flag
    idx.cache(spark)
    idx_title.cache(spark)
    s_title = Searcher(spark, idx_title)
    s = Searcher(spark, idx, extra_fields={"title": s_title})
    _INDEX_CACHE[key] = s
    return s


def _docs(spark, sf_dir, name="documents"):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# full-text search (engine path)
# --------------------------------------------------------------------------
QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        if name in QUERIES:  # a silent overwrite would shadow a gate
            raise ValueError(f"duplicate gate name: {name!r}")
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


@q("search_match_or", O.match_sql(["spark", "table", "merge"], k=10))
def search_match_or(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.search(Match(field="text", text="spark table merge"),
                    k=10, mode="wand", round_scores=4)


@q("search_match_and", O.match_sql(["spark", "table"], k=10, n_required=2))
def search_match_and(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.search(Match(field="text", text="spark table", operator="and"),
                    k=10, mode="wand", round_scores=4)


@q("search_match_msm",
  O.match_sql(["merge", "sort", "window", "batch"], k=10, n_required=3))
def search_match_msm(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.search(
        Match(field="text", text="merge sort window batch", minimum_should_match=3),
        k=10, mode="wand", round_scores=4)


@q("search_bool", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','vector') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','vector') GROUP BY term),
scored AS (SELECT tf.doc_id, sum({O.bm25_term()}) AS raw_score, count(*) AS nt
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id)
SELECT s.doc_id, round(s.raw_score, 4) AS score
FROM scored s JOIN documents d USING (doc_id)
WHERE s.nt >= 1 AND d.lang = 'en' AND d.source <> 'src0'
ORDER BY round(s.raw_score, 4) DESC, doc_id LIMIT 10
""")
def search_bool(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    query = Bool(
        should=[Match(field="text", text="spark vector")],
        filter=[Term(field="lang", value="en")],
        must_not=[Term(field="source", value="src0")],
    )
    return s.search(query, k=10, mode="exhaustive", round_scores=4)


@q("search_term_keyword", """
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents WHERE lang = 'de' ORDER BY doc_id
""")
def search_term_keyword(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.score(Term(field="lang", value="de")).orderBy("doc_id")


@q("search_range_keyword", """
SELECT doc_id, n_chars FROM documents
WHERE n_chars >= 100 AND n_chars < 200 ORDER BY doc_id
""")
def search_range_keyword(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    hits = s.matching_docs(Range(field="n_chars", gte=100, lt=200))
    return hits.join(s.index.docs(spark).select("doc_id", "n_chars"), "doc_id") \
               .orderBy("doc_id")


@q("search_prefix", f"""
WITH {O.TOK_CTES}
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score FROM tok2
WHERE term LIKE 'sp%' ORDER BY doc_id
""")
def search_prefix(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.score(Prefix(field="text", value="sp")).orderBy("doc_id")


@q("search_wildcard", f"""
WITH {O.TOK_CTES}
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score FROM tok2
WHERE regexp_matches(term, '^s.*w$') ORDER BY doc_id
""")
def search_wildcard(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.score(Wildcard(field="text", value="s*w")).orderBy("doc_id")


@q("search_fuzzy", f"""
WITH {O.TOK_CTES}
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score FROM tok2
WHERE length(term) BETWEEN 4 AND 6 AND levenshtein(term, 'spark') <= 1
ORDER BY doc_id
""")
def search_fuzzy(spark, sf_dir):
    """Classic-Levenshtein fuzzy (transpositions=false pins the variant
    this gate's oracle uses; the reference-default transpositions=true
    path is gated separately by search_fuzzy_transpositions)."""
    s = get_searcher(spark, sf_dir)
    return s.score(Fuzzy(field="text", value="spark", fuzziness=1,
                         transpositions=False)).orderBy("doc_id")


@q("search_fuzzy_transpositions", f"""
WITH {O.TOK_CTES}
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score FROM tok2
WHERE length(term) BETWEEN 4 AND 6
  AND damerau_levenshtein(term, 'psark') <= 1
ORDER BY doc_id
""")
def search_fuzzy_transpositions(spark, sf_dir):
    """Fuzzy under the reference DEFAULT transpositions=true
    (FuzzyQueryBuilder.java DEFAULT_TRANSPOSITIONS): 'psark'~1 reaches
    'spark' via one adjacent swap (classic Levenshtein needs 2, so the
    transpositions=false gate would miss it). Engine: JVM
    levenshtein<=2 prefilter over the dictionary, then the exact true
    Damerau-Levenshtein accept (Arrow-batched, dictionary-scale);
    oracle: DuckDB damerau_levenshtein — the identical function
    (fuzz-tested against it in tests)."""
    s = get_searcher(spark, sf_dir)
    return s.score(Fuzzy(field="text", value="psark",
                         fuzziness=1)).orderBy("doc_id")


@q("search_phrase", f"""
WITH {O.TOK_CTES},
pos AS (
    SELECT doc_id,
           unnest(string_split_regex(text, '\\s+')) AS term,
           unnest(range(len(string_split_regex(text, '\\s+')))) AS p
    FROM documents
),
m AS (
    SELECT a.doc_id, count(*) AS ptf
    FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
    WHERE a.term = 'spark' AND b.term = 'table'
    GROUP BY a.doc_id
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','table') GROUP BY term),
idfsum AS (SELECT sum(ln(1.0 + (stats.N - df + 0.5) / (df + 0.5))) AS idf_sum
           FROM dfreq CROSS JOIN stats)
SELECT m.doc_id,
       round(idf_sum * (1.2 + 1.0) * ptf
             / (ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 4) AS score
FROM m JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN idfsum
ORDER BY score DESC, doc_id LIMIT 10
""")
def search_phrase(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.search(MatchPhrase(field="text", text="spark table"),
                    k=10, mode="exhaustive", round_scores=4)


@q("search_phrase_shingle", f"""
WITH {O.TOK_CTES},
pos AS (
    SELECT doc_id,
           unnest(string_split_regex(text, '\\s+')) AS term,
           unnest(range(len(string_split_regex(text, '\\s+')))) AS p
    FROM documents
),
big AS (
    SELECT a.doc_id, count(*) AS tf
    FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
    WHERE a.term = 'spark' AND b.term = 'table'
    GROUP BY a.doc_id
),
dfreq AS (SELECT count(*) AS df FROM big),
dl2 AS (SELECT doc_id, 2 * count(*) - 1 AS dl FROM tok2 GROUP BY doc_id),
stats2 AS (SELECT (SELECT count(*) FROM documents) AS N,
                  (SELECT sum(dl) FROM dl2) * 1.0
                  / (SELECT count(*) FROM documents) AS avgdl)
SELECT big.doc_id,
       round(ln(1.0 + (stats2.N - df + 0.5) / (df + 0.5)) * (1.2 + 1.0) * tf
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl2.dl / stats2.avgdl)), 4) AS score
FROM big CROSS JOIN dfreq JOIN dl2 ON big.doc_id = dl2.doc_id CROSS JOIN stats2
ORDER BY score DESC, big.doc_id LIMIT 10
""")
def search_phrase_shingle(spark, sf_dir):
    """index_phrases fast path (TextFieldMapper.java:318-321): phrase as a
    single bigram-shingle TERM lookup on an ngram-analyzed index — no
    positions join at query time; BM25 over bigram stats (dl counts tokens
    + shingles, matching the shingle filter's token stream)."""
    key = os.path.abspath(sf_dir)
    out = os.path.join(
        INDEX_ROOT, hashlib.sha256(key.encode()).hexdigest()[:16]) + "_ngram"
    corpus = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n = corpus.count()
    idx = _load_or_build(
        spark, corpus.select("doc_id", "text"), out,
        IndexConfig(field="text", analyzer="standard_code_ngram",
                    id_col="doc_id", n_parts=4, bucket_span=1 << 12), n)
    idx.cache(spark)
    s = Searcher(spark, idx)
    bigram = "spark table"
    stats = s.term_stats([bigram])
    if bigram not in stats:
        return s._empty_scores()
    df = stats[bigram][0]
    flat = s._flat_postings([bigram])
    scored = flat.withColumn("score", F.expr(bm25_sql_expr(
        "tf", "dl", f"{df}", sql_double(s.N), sql_double(s.avgdl),
        s.k1, s.b)))
    return (scored.select("doc_id", F.round("score", 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


@q("search_dis_max", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','table') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','table') GROUP BY term),
per_term AS (SELECT tf.doc_id, tf.term, {O.bm25_term()} AS ts
             FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
agg AS (SELECT doc_id, max(ts) AS mx, sum(ts) AS sm FROM per_term GROUP BY doc_id)
SELECT doc_id, round(mx + 0.3 * (sm - mx), 4) AS score FROM agg
ORDER BY round(mx + 0.3 * (sm - mx), 4) DESC, doc_id LIMIT 10
""")
def search_dis_max(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    query = DisMax(
        queries=[Match(field="text", text="spark"), Match(field="text", text="table")],
        tie_breaker=0.3)
    return s.search(query, k=10, round_scores=4)


@q("search_boosting", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'table' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'table'),
scored AS (SELECT tf.doc_id, {O.bm25_term()} AS raw
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats)
SELECT s.doc_id,
       round(CASE WHEN d.lang = 'zh' THEN s.raw * 0.5 ELSE s.raw END, 4) AS score
FROM scored s JOIN documents d USING (doc_id)
ORDER BY round(CASE WHEN d.lang = 'zh' THEN s.raw * 0.5 ELSE s.raw END, 4) DESC,
         doc_id LIMIT 10
""")
def search_boosting(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    query = Boosting(positive=Match(field="text", text="table"),
                     negative=Term(field="lang", value="zh"), negative_boost=0.5)
    return s.search(query, k=10, round_scores=4)


@q("search_constant_score", """
SELECT doc_id, CAST(2.5 AS DOUBLE) AS score FROM documents WHERE n_chars >= 300 ORDER BY doc_id
""")
def search_constant_score(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.score(ConstantScore(filter=Range(field="n_chars", gte=300), boost=2.5)) \
            .orderBy("doc_id")


@q("search_function_score", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'spark' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'spark'),
scored AS (SELECT tf.doc_id, {O.bm25_term()} AS raw
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats)
SELECT doc_id, round(raw * 2.0 + 1.0, 4) AS score FROM scored
ORDER BY round(raw * 2.0 + 1.0, 4) DESC, doc_id LIMIT 10
""")
def search_function_score(spark, sf_dir):
    from opensearch_spark.search import FunctionScore

    s = get_searcher(spark, sf_dir)
    query = FunctionScore(query=Match(field="text", text="spark"),
                          script="score * 2.0 + 1.0")
    return s.search(query, k=10, round_scores=4)


@q("search_script_score", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'spark' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'spark'),
scored AS (SELECT tf.doc_id, {O.bm25_term()} AS raw
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
sc AS (SELECT s.doc_id, ln(1.0 + d.n_chars) * s.raw AS v
       FROM scored s JOIN documents d USING (doc_id))
SELECT doc_id, round(v, 4) AS score FROM sc WHERE v >= 2.0
ORDER BY round(v, 4) DESC, doc_id LIMIT 10
""")
def search_script_score(spark, sf_dir):
    """script_score (ScriptScoreQueryBuilder.java): the script REPLACES
    the BM25 score (vs function_score, which combines); min_score drops
    hits before top-k. The doc column the script reads joins onto the
    bounded hit frame only."""
    from opensearch_spark.search import ScriptScore

    s = get_searcher(spark, sf_dir)
    query = ScriptScore(query=Match(field="text", text="spark"),
                        script="ln(1.0 + n_chars) * score",
                        fields=("n_chars",), min_score=2.0)
    return s.search(query, k=10, round_scores=4)


@q("search_painless_score", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'spark' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'spark'),
scored AS (SELECT tf.doc_id, {O.bm25_term()} AS raw
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
sc AS (SELECT s.doc_id, ln(1.0 + d.n_chars) * s.raw * 2.0 AS v
       FROM scored s JOIN documents d USING (doc_id))
SELECT doc_id, round(v, 4) AS score FROM sc WHERE v >= 4.0
ORDER BY round(v, 4) DESC, doc_id LIMIT 10
""")
def search_painless_score(spark, sf_dir):
    """script_score with a PAINLESS source (modules/lang-painless is the
    reference's default script lang — ScriptScoreQueryBuilder.java +
    Script.DEFAULT_SCRIPT_LANG in script/Script.java): the DSL script
    object {source, lang, params} compiles to a Catalyst SQL expression
    (search/painless.py), params inlined as literals — the scripted
    score stays inside whole-stage codegen, never a Python UDF."""
    from opensearch_spark.search.queries import from_dsl

    s = get_searcher(spark, sf_dir)
    query = from_dsl({"script_score": {
        "query": {"match": {"text": "spark"}},
        "script": {
            "source": "Math.log(1 + doc['n_chars'].value) * _score * params.f",
            "lang": "painless", "params": {"f": 2.0}},
        "min_score": 4.0,
        "fields": ["n_chars"]}})
    return s.search(query, k=10, round_scores=4)


@q("search_painless_filter", """
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
WHERE n_chars % 7 = 0 AND NOT lang = 'md'
ORDER BY doc_id LIMIT 50
""")
def search_painless_filter(spark, sf_dir):
    """script query (index/query/ScriptQueryBuilder.java) with a Painless
    predicate: auto-detected Painless syntax (no explicit lang) compiles
    to a pushable Catalyst predicate; filter-context promotion to
    constant score 1.0 in scoring context."""
    from opensearch_spark.search.queries import from_dsl

    s = get_searcher(spark, sf_dir)
    query = from_dsl({"script": {"script": {
        "source": "doc['n_chars'].value % 7 == 0 "
                  "&& !doc['lang'].value.equals('md')"}}})
    return (s.matching_docs(query)
            .select("doc_id", F.lit(1.0).alias("score"))
            .orderBy("doc_id").limit(50))


@q("search_terms_set",
  O.match_sql(["merge", "sort", "window"], k=10, n_required=2))
def search_terms_set(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    query = TermsSet(field="text", values=["merge", "sort", "window"],
                     minimum_should_match=2)
    return s.search(query, k=10, mode="exhaustive", round_scores=4)


@q("search_collapse", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','batch') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','batch') GROUP BY term),
scored AS (SELECT tf.doc_id, round(sum({O.bm25_term()}), 4) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id),
ranked AS (SELECT d.lang, s.doc_id, s.score,
                  row_number() OVER (PARTITION BY d.lang
                                     ORDER BY s.score DESC, s.doc_id) AS rn
           FROM scored s JOIN documents d USING (doc_id))
SELECT lang, doc_id, score FROM ranked WHERE rn = 1 ORDER BY lang
""")
def search_collapse(spark, sf_dir):
    """Field collapse (CollapseBuilder.java): best hit per lang."""
    s = get_searcher(spark, sf_dir)
    scores = s.score(Match(field="text", text="spark batch")) \
              .withColumn("score", F.round("score", 4))
    docs = s.index.docs(spark).select("doc_id", "lang")
    w = W.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scores.join(docs, "doc_id")
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("lang", "doc_id", "score").orderBy("lang"))


@q("search_collapse_inner_hits", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','batch') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','batch') GROUP BY term),
scored AS (SELECT tf.doc_id, round(sum({O.bm25_term()}), 4) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id),
j AS (SELECT s.doc_id, s.score, d.lang
      FROM scored s JOIN documents d USING (doc_id)),
inner_r AS (SELECT lang, doc_id, score,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY score DESC, doc_id)
                       AS inner_rank
            FROM j),
topg AS (SELECT lang,
                CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                     AS INT) AS group_rank
         FROM inner_r WHERE inner_rank = 1
         ORDER BY score DESC, doc_id LIMIT 3)
SELECT t.group_rank, i.lang, CAST(i.inner_rank AS INT) AS inner_rank,
       i.doc_id, i.score
FROM inner_r i JOIN topg t USING (lang)
WHERE i.inner_rank <= 3
ORDER BY group_rank, inner_rank
""")
def search_collapse_inner_hits(spark, sf_dir):
    """Field collapse with inner_hits — the expand phase
    (action/search/ExpandSearchPhase.java; CollapseBuilder.java
    `innerHits`): the top-k collapsed heads (best hit per group, ranked
    by their score) each expand to that group's top `size` hits. Two
    phases like the reference — but where it fans out one msearch per
    head, the expand here is ONE window pass restricted (broadcast
    semi-join on the ≤k collected head groups, pushed below the window)
    to exactly the head groups, so phase-2 cost is bounded by the groups
    actually returned, not the group cardinality."""
    s = get_searcher(spark, sf_dir)
    scores = s.score(Match(field="text", text="spark batch")) \
              .withColumn("score", F.round("score", 4))
    docs = s.index.docs(spark).select("doc_id", "lang")
    j = scores.join(docs, "doc_id")
    w_in = W.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    heads = (j.withColumn("rn", F.row_number().over(w_in))
             .where(F.col("rn") == 1)
             .orderBy(F.desc("score"), F.asc("doc_id")).limit(3).collect())
    gdf = spark.createDataFrame(
        [(r["lang"], i + 1) for i, r in enumerate(heads)],
        "lang string, group_rank int")
    inner = (j.join(F.broadcast(gdf), "lang")
             .withColumn("inner_rank", F.row_number().over(w_in))
             .where(F.col("inner_rank") <= 3))
    return (inner.select("group_rank", "lang",
                         F.col("inner_rank").cast("int").alias("inner_rank"),
                         "doc_id", "score")
            .orderBy("group_rank", "inner_rank"))


@q("search_after", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'value' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'value'),
scored AS (SELECT tf.doc_id, round({O.bm25_term()}, 4) AS score
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats)
SELECT doc_id, score FROM scored
ORDER BY score DESC, doc_id LIMIT 10 OFFSET 10
""")
def search_after(spark, sf_dir):
    """Cursor pagination (SearchAfterBuilder.java): page 2 via the page-1
    cursor — WHERE (score, doc_id) after cursor, no deep offset scan."""
    s = get_searcher(spark, sf_dir)
    scores = s.score(Match(field="text", text="value")) \
              .withColumn("score", F.round("score", 4))
    page1 = scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
    if len(page1) < 10:
        return scores.limit(0)
    cs, cd = page1[-1]["score"], page1[-1]["doc_id"]
    after = scores.where(
        (F.col("score") < F.lit(cs))
        | ((F.col("score") == F.lit(cs)) & (F.col("doc_id") > F.lit(cd))))
    return after.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


@q("search_scroll", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'value' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'value'),
scored AS (SELECT tf.doc_id, round({O.bm25_term()}, 4) AS score
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats)
SELECT doc_id, score FROM scored
ORDER BY score DESC, doc_id LIMIT 20 OFFSET 10
""")
def search_scroll(spark, sf_dir):
    """Scroll cursor (ScrollContext.java / PIT): pages 2+3 of a scroll —
    keyset pagination over the immutable snapshot, cursor advanced per
    page, never a deep OFFSET scan."""
    from functools import reduce

    from opensearch_spark.search import scroll as open_scroll

    s = get_searcher(spark, sf_dir)
    sc = open_scroll(s, Match(field="text", text="value"), size=10,
                     round_scores=4)
    sc.next()  # page 1 consumed (cursor established)
    pages = [sc.next(), sc.next()]
    return reduce(DataFrame.unionByName, pages) \
        .orderBy(F.desc("score"), F.asc("doc_id"))


@q("search_rescore", f"""
WITH {O.TOK_CTES},
tf1 AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'table' GROUP BY doc_id),
df1 AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'table'),
s1 AS (SELECT tf1.doc_id, {O.bm25_term(tf='tf1.tf')} AS raw1
       FROM tf1 CROSS JOIN df1 JOIN dl ON tf1.doc_id = dl.doc_id CROSS JOIN stats),
win AS (SELECT * FROM s1 ORDER BY round(raw1,4) DESC, doc_id LIMIT 20),
tf2 AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'join' GROUP BY doc_id),
df2 AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'join'),
s2 AS (SELECT tf2.doc_id, {O.bm25_term(tf='tf2.tf')} AS raw2
       FROM tf2 CROSS JOIN df2 JOIN dl ON tf2.doc_id = dl.doc_id CROSS JOIN stats)
SELECT w.doc_id, round(w.raw1 + 2.0 * coalesce(s2.raw2, 0.0), 4) AS score
FROM win w LEFT JOIN s2 ON w.doc_id = s2.doc_id
ORDER BY round(w.raw1 + 2.0 * coalesce(s2.raw2, 0.0), 4) DESC, w.doc_id LIMIT 10
""")
def search_rescore(spark, sf_dir):
    """Rescore (QueryRescorer.java): re-rank the top window_size=20 hits of
    'table' with query_weight*s1 + rescore_weight*s2 of 'join'."""
    s = get_searcher(spark, sf_dir)
    s1 = s.score(Match(field="text", text="table"))
    win = (s1.withColumn("_r", F.round("score", 4))
           .orderBy(F.desc("_r"), F.asc("doc_id")).limit(20)
           .select("doc_id", F.col("score").alias("_s1")))
    s2 = s.score(Match(field="text", text="join")).withColumnRenamed("score", "_s2")
    out = (F.broadcast(win).join(s2, "doc_id", "left")
           .select("doc_id",
                   F.round(F.col("_s1") + 2.0 * F.coalesce("_s2", F.lit(0.0)), 4)
                   .alias("score")))
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


@q("search_more_like_this", f"""
WITH {O.TOK_CTES},
liked AS (SELECT term, count(*) AS _tf FROM tok2
          WHERE doc_id IN (0, 1) GROUP BY term),
dfreq_all AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2 GROUP BY term),
cand AS (
    SELECT l.term,
           round(l._tf * ln(1.0 + (stats.N - d.df + 0.5) / (d.df + 0.5)), 6) AS tfidf
    FROM liked l JOIN dfreq_all d USING (term) CROSS JOIN stats
    WHERE l._tf >= 1 AND d.df >= 2
),
sel AS (SELECT term FROM cand ORDER BY tfidf DESC, term LIMIT 10),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN (SELECT term FROM sel) GROUP BY doc_id, term),
scored AS (SELECT tf.doc_id, sum({O.bm25_term()}) AS raw
           FROM tf JOIN dfreq_all USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id)
SELECT doc_id, round(raw, 4) AS score FROM scored
WHERE doc_id NOT IN (0, 1)
ORDER BY round(raw, 4) DESC, doc_id LIMIT 10
""")
def search_more_like_this(spark, sf_dir):
    """more_like_this (MoreLikeThisQueryBuilder.java): tf-idf term
    selection over the example docs (deterministic, rounded) → OR match;
    the DuckDB twin mirrors executor._more_like_this CTE-for-CTE."""
    s = get_searcher(spark, sf_dir)
    query = MoreLikeThis(field="text", like_ids=[0, 1], max_query_terms=10,
                         min_term_freq=1, min_doc_freq=2)
    return s.search(query, k=10, mode="exhaustive", round_scores=4)


# ---- title-field CTEs (multi-field mapping: first 8 tokens of text) ----
_TITLE_CTES = """
ttok AS (
    SELECT doc_id, unnest(list_slice(string_split_regex(trim(text), '\\s+'), 1, 8)) AS term
    FROM documents
),
ttok2 AS (SELECT doc_id, term FROM ttok WHERE term <> ''),
tdl AS (SELECT doc_id, count(*) AS dl FROM ttok2 GROUP BY doc_id),
tstats AS (
    SELECT (SELECT count(*) FROM documents) AS N,
           (SELECT sum(dl) FROM tdl) * 1.0 / (SELECT count(*) FROM documents) AS avgdl
)
"""


def _mm_oracle(kind: str) -> str:
    comb = ("greatest(coalesce(a.s, -1e18), coalesce(b.s, -1e18))"
            if kind == "best" else
            "coalesce(a.s, 0.0) + coalesce(b.s, 0.0)")
    return f"""
WITH {O.TOK_CTES},
{_TITLE_CTES},
tf_a AS (SELECT doc_id, term, count(*) AS tf FROM tok2
         WHERE term IN ('merge','spark') GROUP BY doc_id, term),
df_a AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
         WHERE term IN ('merge','spark') GROUP BY term),
sa AS (SELECT tf_a.doc_id, sum({O.bm25_term(tf='tf_a.tf')}) AS s
       FROM tf_a JOIN df_a USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf_a.doc_id),
tf_b AS (SELECT doc_id, term, count(*) AS tf FROM ttok2
         WHERE term IN ('merge','spark') GROUP BY doc_id, term),
df_b AS (SELECT term, count(DISTINCT doc_id) AS df FROM ttok2
         WHERE term IN ('merge','spark') GROUP BY term),
sb AS (SELECT tf_b.doc_id,
              sum(ln(1.0 + (tstats.N - df + 0.5) / (df + 0.5)) * (1.2 + 1.0) * tf_b.tf
                  / (tf_b.tf + 1.2 * (1.0 - 0.75 + 0.75 * tdl.dl / tstats.avgdl))) AS s
       FROM tf_b JOIN df_b USING (term) JOIN tdl USING (doc_id) CROSS JOIN tstats
       GROUP BY tf_b.doc_id)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, round({comb}, 4) AS score
FROM sa a FULL OUTER JOIN sb b ON a.doc_id = b.doc_id
ORDER BY round({comb}, 4) DESC, coalesce(a.doc_id, b.doc_id) LIMIT 10
"""


def _index_pattern_oracle() -> str:
    return f"""
WITH {O.TOK_CTES},
{_TITLE_CTES},
tf_a AS (SELECT doc_id, term, count(*) AS tf FROM tok2
         WHERE term IN ('merge', 'window') GROUP BY doc_id, term),
df_a AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
         WHERE term IN ('merge', 'window') GROUP BY term),
sa AS (SELECT tf_a.doc_id, sum({O.bm25_term(tf='tf_a.tf')}) AS s
       FROM tf_a JOIN df_a USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf_a.doc_id),
tf_b AS (SELECT doc_id, term, count(*) AS tf FROM ttok2
         WHERE term IN ('merge', 'window') GROUP BY doc_id, term),
df_b AS (SELECT term, count(DISTINCT doc_id) AS df FROM ttok2
         WHERE term IN ('merge', 'window') GROUP BY term),
sb AS (SELECT tf_b.doc_id,
              sum(ln(1.0 + (tstats.N - df + 0.5) / (df + 0.5)) * (1.2 + 1.0) * tf_b.tf
                  / (tf_b.tf + 1.2 * (1.0 - 0.75 + 0.75 * tdl.dl / tstats.avgdl))) AS s
       FROM tf_b JOIN df_b USING (term) JOIN tdl USING (doc_id) CROSS JOIN tstats
       GROUP BY tf_b.doc_id),
ta AS (SELECT 'docs' AS idx, doc_id, round(s, 4) AS score FROM sa
       ORDER BY round(s, 4) DESC, doc_id LIMIT 10),
tb AS (SELECT 'docs_title' AS idx, doc_id, round(s, 4) AS score FROM sb
       ORDER BY round(s, 4) DESC, doc_id LIMIT 10),
u AS (SELECT * FROM ta UNION ALL SELECT * FROM tb)
SELECT idx AS "_index", doc_id, score FROM u
ORDER BY score DESC, "_index", doc_id LIMIT 10
"""


@q("search_index_pattern", _index_pattern_oracle())
def search_index_pattern(spark, sf_dir):
    """Cross-index search (`GET docs*/_search` — an index pattern/alias
    spanning two indexes): each index collects its own top-k with its own
    collection stats (per-index dl/avgdl/df, exactly the reference's
    per-index scoring), then the coordinator merge-sorts the bounded
    per-index results into a global top-k tagging hits with `_index`.
    ref: action/search/TransportSearchAction.java shard fan-out +
    SearchPhaseController merge."""
    s = get_searcher(spark, sf_dir)
    a = (s.search(Match(field="text", text="merge window"), k=10,
                  mode="wand", round_scores=4)
         .select(F.lit("docs").alias("_index"), "doc_id", "score"))
    b = (s.search(Match(field="title", text="merge window"), k=10,
                  mode="wand", round_scores=4)
         .select(F.lit("docs_title").alias("_index"), "doc_id", "score"))
    return (a.unionByName(b)
            .orderBy(F.desc("score"), "_index", "doc_id").limit(10))


_RESTORE_MARKER = "_restore_ok.json"


def _restore_via(s, rest: str, rebuild) -> str:
    """Shared restored-tree freshness with marker-LAST discipline (same
    crash-safety contract as _snapshot_index): the want-dict mirrors the
    keys _load_or_build checks, so a source rebuilt with a different
    layout/analyzer/positions/index_options invalidates the restored
    tree; the marker is written only AFTER ``rebuild(rest)`` completed,
    so a hard kill mid-restore leaves no marker and the next run rebuilds
    instead of serving a half-restored index (manifest blobs land in
    sorted-relpath order — meta.json arrives before postings)."""
    import json as _json
    import shutil

    want = {"doc_count": s.index.meta.get("doc_count"),
            "layout_version": s.index.meta.get("layout_version"),
            "analyzer": s.index.meta.get("analyzer"),
            "with_positions": bool(s.index.meta.get("with_positions")),
            "index_options": s.index.meta.get("index_options", "freqs")}
    marker = os.path.join(rest, _RESTORE_MARKER)
    fresh = False
    if os.path.isfile(marker):
        try:
            with open(marker) as f:
                fresh = _json.load(f) == want
        except (ValueError, OSError):
            fresh = False  # truncated marker = stale
    if not fresh:
        shutil.rmtree(rest, ignore_errors=True)
        rebuild(rest)
        with open(marker, "w") as f:
            _json.dump(want, f)
    return rest


@q("api_snapshot_restore", O.match_sql(["vector", "window"], k=10))
def api_snapshot_restore(spark, sf_dir):
    """_snapshot API (SnapshotShardsService.java, fs repository): snapshot
    = file-level copy of the immutable index tree + per-file (size, md5)
    manifest; restore verifies every file and copies back. The restored
    index serves the same query with identical scores — proven against
    the oracle. Freshness/crash-safety via the shared marker-last
    discipline (_restore_via)."""
    import shutil

    from opensearch_spark.index.build import InvertedIndex
    from opensearch_spark.index.snapshot import restore_index, snapshot_index

    s = get_searcher(spark, sf_dir)  # ensure the source index exists
    src = s.index.path
    snap = src + "_snap"

    def rebuild(rest):
        shutil.rmtree(snap, ignore_errors=True)
        snapshot_index(src, snap)
        restore_index(snap, rest)
        shutil.rmtree(snap, ignore_errors=True)  # keep only the restore

    rest = _restore_via(s, src + "_restored", rebuild)
    restored = Searcher(spark, InvertedIndex(rest))
    return restored.search(Match(field="text", text="vector window"),
                           k=10, mode="wand", round_scores=4)


@q("ingest_upsert_versioned", """
WITH base AS (SELECT doc_id, text, 1 AS version, 0 AS w FROM documents),
upd AS (SELECT doc_id, 'v2 ' || text AS text, 2 AS version, 1 AS w
        FROM documents WHERE doc_id % 7 = 0),
allr AS (SELECT * FROM base UNION ALL SELECT * FROM upd),
win AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY version DESC, w DESC) AS rn
        FROM allr)
SELECT doc_id, version, length(text) AS n_chars_new
FROM win WHERE rn = 1 ORDER BY doc_id
""")
def ingest_upsert_versioned(spark, sf_dir):
    """Optimistic-concurrency upsert (InternalEngine versioned indexing,
    VersionFieldMapper.java): per id the highest version wins, writer
    order breaks ties; produces the next immutable snapshot (segments
    don't rewrite in place, neither does parquet). One max_by shuffle."""
    from opensearch_spark.index.versioning import upsert_versioned

    d = _docs(spark, sf_dir).select("doc_id", "text")
    base = d.withColumn("version", F.lit(1))
    upd = (d.where(F.col("doc_id") % 7 == 0)
           .select("doc_id", F.concat(F.lit("v2 "), F.col("text")).alias("text"))
           .withColumn("version", F.lit(2)))
    out = upsert_versioned(base, upd, "doc_id", "version")
    return out.select("doc_id", "version",
                      F.length("text").alias("n_chars_new")).orderBy("doc_id")


@q("search_routed", f"""
WITH {O.TOK_CTES},
routed AS (
    SELECT doc_id FROM documents
    WHERE CAST(('0x' || substr(md5(lang), 1, 8))::BIGINT % 4 AS INT)
        = CAST(('0x' || substr(md5('en'), 1, 8))::BIGINT % 4 AS INT)),
tf AS (SELECT doc_id, count(*) AS tf FROM tok2
       WHERE term = 'window' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2
          WHERE term = 'window'),
scored AS (SELECT tf.doc_id, round({O.bm25_term()}, 4) AS score
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id
           CROSS JOIN stats)
SELECT s.doc_id, s.score FROM scored s JOIN routed USING (doc_id)
ORDER BY s.score DESC, s.doc_id LIMIT 10
""")
def search_routed(spark, sf_dir):
    """Routed search (`?routing=` on _search; OperationRouting.java
    `hash(routing) % numPrimaryShards` + RestSearchAction routing param):
    the query executes against ONLY the shard the routing value hashes
    to — the shard may hold other routing keys that hashed alike, so
    semantics are shard restriction, not a key filter. Here the routed
    doc set applies as a filter-context semi-join; with a
    routing-aligned layout (IndexConfig order_cols + range id_order on
    the routing key) the same restriction becomes storage-level pruning
    — one shard's worth of files scanned, the reference's actual saving.
    Scores use global collection stats (the dfs_query_then_fetch
    posture; the shard-local query_then_fetch variant is gated
    separately in search_query_then_fetch)."""
    import hashlib as _h

    from opensearch_spark.index.versioning import routing_partition

    s = get_searcher(spark, sf_dir)
    shard = int(_h.md5(b"en").hexdigest()[:8], 16) % 4
    routed = (routing_partition(_docs(spark, sf_dir), "lang", 4)
              .where(F.col("shard") == shard).select("doc_id"))
    # probative term choice: md5-shard(en)=0 also holds zh/es/de but NOT
    # fr (shard 2), and 'window' puts >=1 fr doc in the UNROUTED top-10
    # at every testdata scale (verified sf0.001/0.01/0.1) — an engine
    # that silently ignored routing could not hash-match the oracle
    scores = s.score(Match(field="text", text="window")) \
              .withColumn("score", F.round("score", 4))
    return (scores.join(routed, "doc_id")
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


@q("index_routing_shards", """
SELECT doc_id,
       CAST(('0x' || substr(md5(CAST(lang AS VARCHAR)), 1, 8))::BIGINT % 4
            AS INT) AS shard
FROM documents ORDER BY doc_id
""")
def index_routing_shards(spark, sf_dir):
    """Custom routing (_routing; OperationRouting.java `hash(routing) %
    num_shards`): deterministic doc→shard map, equal routing keys
    colocate so routed queries prune to one shard. md5-derived hash here
    (vs the reference's murmur3) — the hash is an implementation detail,
    the contract is the deterministic colocating map, and md5 lets the
    oracle reproduce it bit-for-bit."""
    from opensearch_spark.index.versioning import routing_partition

    return (routing_partition(_docs(spark, sf_dir), "lang", 4)
            .select("doc_id", "shard").orderBy("doc_id"))


@q("index_resize_routing", """
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 1024 AS INT) AS bucket
  FROM documents
)
SELECT doc_id,
       CAST(bucket // 256 AS INT) AS parent_shard,
       CAST(bucket // 128 AS INT) AS split_shard,
       CAST(bucket // 512 AS INT) AS shrink_shard
FROM b ORDER BY doc_id
""")
def index_resize_routing(spark, sf_dir):
    """_split / _shrink resize routing (ResizeRequest.java;
    MetadataCreateIndexService.getIndexNumberOfRoutingShards +
    OperationRouting.java `hash % routingNumShards / routingFactor`,
    IndexMetadata.selectSplitShard/selectShrinkShards): every doc keeps a
    permanent hash bucket mod a FIXED routingNumShards (1024); resizing
    only changes the divisor, so split 4→8 sends parent shard i exactly
    to children {2i, 2i+1} and shrink 4→2 merges parents {2j, 2j+1} into
    child j — no cross-shard doc movement, resize = local segment copy.
    The invariants split//2 == parent == 2*shrink±1 hold row-by-row
    (test-asserted); the oracle recomputes the identical md5 bucket."""
    from opensearch_spark.index.versioning import routing_bucket, shard_for

    d = _docs(spark, sf_dir).select("doc_id")
    b = routing_bucket("doc_id")
    return (d.withColumn("parent_shard", shard_for(b, 4))
            .withColumn("split_shard", shard_for(b, 8))
            .withColumn("shrink_shard", shard_for(b, 2))
            .orderBy("doc_id"))


@q("search_wildcard_accel", f"""
WITH {O.TOK_CTES}
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score FROM tok2
WHERE term LIKE '%erge%' ORDER BY doc_id
""")
def search_wildcard_accel(spark, sf_dir):
    """wildcard FIELD TYPE (WildcardFieldMapper.java — not the dictionary-
    scan wildcard QUERY): a char-trigram index prefilters candidate docs
    (grams of the pattern's literal runs, AND-intersected posting lists),
    then the real pattern verifies per candidate. At scale this replaces
    the O(vocabulary) dictionary scan of `*infix*` patterns with a few
    posting lookups + a candidate-bounded verify — the same two-phase
    plan the reference runs."""
    tri = _alt_searcher(spark, sf_dir, "tri", "char_trigram")
    # literal run 'erge' from pattern '*erge*' → trigram AND-prefilter;
    # the char_trigram analyzer turns the literal into its grams
    cand = tri.matching_docs(
        Match(field="text", text="erge", operator="and"))
    docs = _docs(spark, sf_dir).join(cand, "doc_id", "left_semi")
    # verify over the SAME lowercased token stream the trigram prefilter
    # indexes (standard analyzer lowercases; a raw-token verify would
    # silently drop uppercase occurrences the prefilter admitted)
    verified = docs.where(
        F.exists(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                 lambda t: t.like("%erge%")))
    return (verified.select("doc_id", F.lit(1.0).alias("score"))
            .orderBy("doc_id"))


@q("search_sparse_vector", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','vector','merge') GROUP BY doc_id, term),
w AS (SELECT * FROM (VALUES ('spark', 2.0), ('vector', 1.0),
                            ('merge', 0.5)) AS v(term, w)),
scored AS (SELECT doc_id, CAST(sum(w.w * tf.tf) AS DOUBLE) AS s
           FROM tf JOIN w USING (term) GROUP BY doc_id)
SELECT doc_id, round(s, 4) AS score
FROM scored ORDER BY round(s, 4) DESC, doc_id LIMIT 10
""")
def search_sparse_vector(spark, sf_dir):
    """neural_sparse / rank_features scoring (SPLADE-style learned sparse):
    query = {term: weight} map, score = Σ w·tf raw impact dot product over
    the same inverted index that serves BM25 — no IDF, no length norms."""
    s = get_searcher(spark, sf_dir)
    return s.sparse_topk({"spark": 2.0, "vector": 1.0, "merge": 0.5},
                         k=10, round_scores=4)


@q("search_sort_indexed", """
SELECT doc_id, n_chars FROM documents ORDER BY n_chars, doc_id LIMIT 10
""")
def search_sort_indexed(spark, sf_dir):
    """Index sorting + sort-based early termination (index.sort.* settings,
    IndexSortConfig.java; Lucene IndexWriterConfig.setIndexSort): docs
    written range-partitioned/sorted by the sort key with a per-file
    (min,max,rows) manifest — top-k reads only the file prefix covering k
    (early termination as file pruning; one file instead of the table at
    100 TB)."""
    from opensearch_spark.index import sorted_store as SS

    key = os.path.abspath(sf_dir)
    out = os.path.join(
        INDEX_ROOT,
        hashlib.sha256(key.encode()).hexdigest()[:16]) + "_sorted"
    if not os.path.exists(os.path.join(out, SS.MANIFEST)):
        SS.write_sorted(_docs(spark, sf_dir).select("doc_id", "n_chars"),
                        out, "n_chars", "doc_id")
    return SS.topk_sorted(spark, out, 10, ascending=True,
                          columns=["doc_id", "n_chars"])


@q("api_filtered_alias",
   O.match_sql(["vector", "stream"], k=10, extra_filter="lang = 'en'"))
def api_filtered_alias(spark, sf_dir):
    """Filtered alias (`_aliases` API, AliasMetadata.filter): the alias
    carries a term filter that is AND-ed into every search against it in
    filter context — same hits/scores as an explicit bool filter."""
    from opensearch_spark.search.apis import AliasRegistry

    s = get_searcher(spark, sf_dir)
    reg = AliasRegistry().put(
        "docs_en", s, flt=Term(field="lang", value="en"), index_name="docs")
    out = reg.search("docs_en", Match(field="text", text="vector stream"),
                     k=10, mode="exhaustive", round_scores=4)
    return out.select("doc_id", "score")


@q("search_term_case_insensitive", """
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
WHERE lower(lang) = 'de' ORDER BY doc_id
""")
def search_term_case_insensitive(spark, sf_dir):
    """term query `case_insensitive` flag (TermQueryBuilder.java) / the
    keyword lowercase normalizer (LowercaseNormalizer.java): 'DE' matches
    the lowercase-stored keyword, predicate still scan-pushable."""
    s = get_searcher(spark, sf_dir)
    return s.score(Term(field="lang", value="DE",
                        case_insensitive=True)).orderBy("doc_id")


@q("search_match_all", """
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents ORDER BY doc_id
""")
def search_match_all(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.score(MatchAll()).orderBy("doc_id")


@q("search_terms_keyword", """
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
WHERE lang IN ('de', 'fr') ORDER BY doc_id
""")
def search_terms_keyword(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.score(Terms(field="lang", values=["de", "fr"])).orderBy("doc_id")


@q("search_ids", """
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
WHERE doc_id IN (1, 2, 3, 5, 8) ORDER BY doc_id
""")
def search_ids(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.score(Ids(values=[1, 2, 3, 5, 8])).orderBy("doc_id")


def _snapshot_index(s, suffix: str, marker_name: str, want_extra: dict,
                    mutate, require_files: tuple = ()) -> str:
    """Copy-on-write index snapshot with staleness-marker discipline
    (shared by the soft-delete / PIT gates): copy the searcher's tree to
    ``<path>_<suffix>``, run ``mutate(dst)`` (tombstones, PIT opens, …),
    then write the marker LAST — a crash inside the window leaves no
    marker, so the next run rebuilds instead of serving a half-mutated
    copy. The want-dict's layout/analyzer/positions/index_options/
    doc_count keys catch a source rebuilt to the same doc_count;
    ``require_files`` names artifacts mutate() must have produced (their
    absence also marks the copy stale)."""
    import json as _json
    import shutil

    src = s.index.path
    dst = src + "_" + suffix
    marker = os.path.join(dst, marker_name)
    want = {"doc_count": s.index.meta.get("doc_count"),
            "layout_version": s.index.meta.get("layout_version"),
            "analyzer": s.index.meta.get("analyzer"),
            "with_positions": bool(s.index.meta.get("with_positions")),
            "index_options": s.index.meta.get("index_options", "freqs"),
            **want_extra}
    fresh = False
    if os.path.isfile(marker) and all(
            os.path.isfile(os.path.join(dst, f)) for f in require_files):
        with open(marker) as f:
            fresh = _json.load(f) == want
    if not fresh:
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)
        mutate(dst)
        with open(marker, "w") as f:
            _json.dump(want, f)
    return dst



#: tombstoned ids for the soft-delete gate: two ids from the CLEAN
#: top-10 of the gate query at each testdata scale (sf0.001 / 0.01 /
#: 0.1), so the exclusion provably changes the result set at every
#: scale — a searcher that silently ignored tombstones could not
#: hash-match the oracle (gates must be probative).
_SOFTDEL_IDS = [417, 245, 370, 98, 4115, 3695]


@q("search_soft_deletes",
   O.match_sql(["spark", "table"], k=10,
               extra_filter=f"doc_id NOT IN ({', '.join(map(str, _SOFTDEL_IDS))})"))
def search_soft_deletes(spark, sf_dir):
    """Soft deletes (Lucene liveDocs model; InternalEngine delete →
    soft-deletes field): tombstones append under <index>/deletes/, the
    immutable postings stay untouched, results exclude the ids at decode
    time while df/N/avgdl keep counting them until an expunging rebuild
    (un-merged-segment semantics) — which is why the oracle is the plain
    BM25 twin with only a result-set NOT IN filter."""
    from opensearch_spark.index.build import (InvertedIndex, delete_docs)
    from opensearch_spark.search import Searcher

    s = get_searcher(spark, sf_dir)
    dst = _snapshot_index(
        s, "softdel", "softdel_done.json", {"deleted": _SOFTDEL_IDS},
        lambda d: delete_docs(spark, d, _SOFTDEL_IDS))
    s2 = Searcher(spark, InvertedIndex(dst))
    return s2.search(Match(field="text", text="spark table"), k=10,
                     mode="wand", round_scores=4)


def _expunge_sql() -> str:
    """Oracle twin of index_expunge_deletes: unlike the soft-delete
    oracle (plain BM25 twin + NOT IN on the RESULT set), the expunged
    tree's tok/dl/df/N/avgdl are all computed over the live subset —
    the merged-segment end state where deletes stop counting."""
    ids = ", ".join(map(str, _SOFTDEL_IDS))
    return f"""
WITH live AS (SELECT * FROM documents WHERE doc_id NOT IN ({ids})),
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
    FROM live
),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
    SELECT (SELECT count(*) FROM live) AS N,
           (SELECT sum(dl) FROM dl) * 1.0
               / (SELECT count(*) FROM live) AS avgdl
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark', 'table') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark', 'table') GROUP BY term),
scored AS (SELECT tf.doc_id, round(sum({O.bm25_term()}), 4) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id)
SELECT doc_id, score FROM scored
ORDER BY score DESC, doc_id LIMIT 10
"""


@q("index_expunge_deletes", _expunge_sql())
def index_expunge_deletes(spark, sf_dir):
    """forcemerge only_expunge_deletes (action/admin/indices/forcemerge/
    ForceMergeRequest.java `onlyExpungeDeletes`; Lucene
    forceMergeDeletes): rebuild the LIVE docs into a fresh tree — after
    the expunge df/N/avgdl stop counting the tombstoned docs and no
    tombstones remain. Probative against the soft-delete gate pair: the
    SAME query over the SAME surviving docs scores DIFFERENTLY here
    because the collection statistics genuinely dropped (the oracle
    recomputes tok/dl/stats over the live subset, where the soft-delete
    oracle only NOT-INs the result set)."""
    from opensearch_spark.index.build import (InvertedIndex, delete_docs,
                                              expunge_deletes)
    from opensearch_spark.index.build import LAYOUT_VERSION
    from opensearch_spark.search import Searcher

    s = get_searcher(spark, sf_dir)
    # the soft-deleted tree (same discipline/ids as search_soft_deletes)
    dst = _snapshot_index(
        s, "softdel", "softdel_done.json", {"deleted": _SOFTDEL_IDS},
        lambda d: delete_docs(spark, d, _SOFTDEL_IDS))
    out = s.index.path + "_expunged"
    # doc ids are dense 0..N-1, so the live count is exact
    exp_n = s.N - sum(1 for i in _SOFTDEL_IDS if i < s.N)
    fresh = False
    if os.path.exists(os.path.join(out, "meta.json")):
        m = InvertedIndex(out).meta
        fresh = (int(m.get("doc_count", -1)) == exp_n
                 and m.get("layout_version") == LAYOUT_VERSION
                 and m.get("analyzer") == s.index.meta.get("analyzer"))
    if not fresh:
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        expunge_deletes(spark, dst, out)
    s2 = Searcher(spark, InvertedIndex(out))
    return s2.search(Match(field="text", text="spark table"), k=10,
                     mode="wand", round_scores=4)


def _pit_sql() -> str:
    """Oracle twin of search_pit: the SAME scored set feeds two top-10s —
    the PIT view (pre-delete generation: no exclusion) and the live view
    (tombstoned ids excluded) — because soft deletes never change
    df/N/avgdl, only result membership."""
    ids = ", ".join(map(str, _SOFTDEL_IDS))
    return f"""
WITH {O.TOK_CTES},
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM tok2
    WHERE term IN ('spark', 'table') GROUP BY doc_id, term
),
dfreq AS (
    SELECT term, count(DISTINCT doc_id) AS df FROM tok2
    WHERE term IN ('spark', 'table') GROUP BY term
),
scored AS (
    SELECT tf.doc_id, round(sum({O.bm25_term()}), 4) AS score
    FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY tf.doc_id
),
topk_pit AS (
    SELECT 'pit' AS view, doc_id, score FROM scored
    ORDER BY score DESC, doc_id LIMIT 10
),
topk_live AS (
    SELECT 'live' AS view, doc_id, score FROM scored
    WHERE doc_id NOT IN ({ids})
    ORDER BY score DESC, doc_id LIMIT 10
)
SELECT view, doc_id, score FROM topk_pit
UNION ALL
SELECT view, doc_id, score FROM topk_live
ORDER BY view DESC, score DESC, doc_id
"""


@q("search_pit", _pit_sql())
def search_pit(spark, sf_dir):
    """Point-in-time search (action/search/CreatePitAction,
    search/internal/PitReaderContext.java): a pit_id opened BEFORE a
    delete keeps serving the pre-delete view while the live reader and
    the oracle's live twin exclude the tombstoned ids. The handle pins
    only the liveDocs generation (the delete-file set at open) — the
    segment tree is write-once parquet, immutable by construction
    (index/pit.py). The gate replays a persisted handle across runs,
    proving PITs survive driver restarts (JSON pit_id round-trip)."""
    from opensearch_spark.index.build import InvertedIndex, delete_docs
    from opensearch_spark.index.pit import PitIndex, PointInTime, open_pit
    from opensearch_spark.search import Searcher

    s = get_searcher(spark, sf_dir)

    def _open_then_delete(d: str) -> None:
        pit0 = open_pit(d)  # generation 0: no tombstones yet
        delete_docs(spark, d, _SOFTDEL_IDS)
        with open(os.path.join(d, "pit_handle.json"), "w") as f:
            f.write(pit0.to_json())

    dst = _snapshot_index(
        s, "pit", "pit_done.json", {"deleted": _SOFTDEL_IDS},
        _open_then_delete, require_files=("pit_handle.json",))
    with open(os.path.join(dst, "pit_handle.json")) as f:
        pit = PointInTime.from_json(f.read())
    q_ = Match(field="text", text="spark table")
    through_pit = (Searcher(spark, PitIndex(pit))
                   .search(q_, k=10, mode="wand", round_scores=4)
                   .select(F.lit("pit").alias("view"), "doc_id", "score"))
    live = (Searcher(spark, InvertedIndex(dst))
            .search(q_, k=10, mode="wand", round_scores=4)
            .select(F.lit("live").alias("view"), "doc_id", "score"))
    return through_pit.unionByName(live) \
        .orderBy(F.desc("view"), F.desc("score"), "doc_id")


@q("search_field_alias", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'spark' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'spark'),
scored AS (SELECT tf.doc_id, round({O.bm25_term()}, 4) AS score
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats)
SELECT s.doc_id, s.score FROM scored s JOIN documents d USING (doc_id)
WHERE d.lang = 'en'
ORDER BY s.score DESC, s.doc_id LIMIT 10
""")
def search_field_alias(spark, sf_dir):
    """alias field type (index/mapper/FieldAliasMapper.java): queries
    naming the alias ('body', 'language') resolve to their path targets
    ('text', 'lang') through a generic pre-execution AST rewrite
    (queries.resolve_field_aliases) — search/agg/sort indirection with
    zero runtime cost."""
    from opensearch_spark.search.queries import resolve_field_aliases

    s = get_searcher(spark, sf_dir)
    q_alias = Bool(must=[Match(field="body", text="spark")],
                   filter=[Term(field="language", value="en")])
    resolved = resolve_field_aliases(
        q_alias, {"body": "text", "language": "lang"})
    return s.search(resolved, k=10, mode="exhaustive", round_scores=4)


@q("api_mget", """
WITH req AS (SELECT * FROM (VALUES (1, 13), (2, 2), (3, 99999999),
                                   (4, 5)) AS v(ord, doc_id))
SELECT req.ord, req.doc_id,
       d.doc_id IS NOT NULL AS found,
       coalesce(d.lang, '') AS lang,
       coalesce(d.n_chars, -1) AS n_chars
FROM req LEFT JOIN documents d USING (doc_id)
ORDER BY req.ord
""")
def api_mget(spark, sf_dir):
    """_mget (action/get/TransportMultiGetAction.java): multi-id stored-
    field fetch preserving REQUEST order, misses reported found=false
    rather than dropped. The literal id list pushes into the parquet
    scan (one pruned scan — the reference's per-shard routed gets), and
    the request-preserving outer join builds the resulting tiny frame."""
    ids = [(1, 13), (2, 2), (3, 99999999), (4, 5)]
    # the id list is request literals → push it INTO the scan (PushedFilters
    # In(doc_id, ...)), producing a ≤|req|-row frame; the outer join that
    # preserves the request then BUILDS that tiny frame. (An outer join
    # can never build its preserved side, so "broadcast the request and
    # left-join the corpus" silently falls back to a full corpus shuffle.)
    d = (_docs(spark, sf_dir)
         .where(F.col("doc_id").isin([i for _, i in ids]))
         .select("doc_id", "lang", "n_chars", F.lit(True).alias("_hit")))
    req = spark.createDataFrame(ids, "ord int, doc_id long")
    return (req.join(F.broadcast(d), "doc_id", "left")
            .select("ord", "doc_id",
                    F.coalesce("_hit", F.lit(False)).alias("found"),
                    F.coalesce("lang", F.lit("")).alias("lang"),
                    F.coalesce("n_chars", F.lit(-1)).alias("n_chars"))
            .orderBy("ord"))


@q("api_cat_count", """
SELECT 'documents' AS idx, count(*) AS docs_count FROM documents
UNION ALL
SELECT 'events', count(*) FROM events
ORDER BY idx
""")
def api_cat_count(spark, sf_dir):
    """_cat/count + _cat/indices doc accounting
    (rest/action/cat/RestCountAction.java): per-index document counts —
    metadata-only aggregates, one count() per table."""
    d = _docs(spark, sf_dir)
    e = _t(spark, sf_dir, "events")
    # global agg (no groupBy): an empty index must still report a 0 row,
    # exactly like the scalar count(*) oracle and the reference's _cat
    return (d.agg(F.count("*").alias("docs_count"))
            .select(F.lit("documents").alias("idx"), "docs_count")
            .unionByName(
                e.agg(F.count("*").alias("docs_count"))
                .select(F.lit("events").alias("idx"), "docs_count"))
            .orderBy("idx"))


@q("api_track_total_hits", f"""
WITH {O.TOK_CTES},
m AS (SELECT DISTINCT doc_id FROM tok2 WHERE term = 'table'),
c AS (SELECT count(*) AS total FROM m)
SELECT * FROM (
  SELECT CAST(50 AS BIGINT) AS threshold,
         CAST(CASE WHEN total <= 50 THEN total ELSE 50 END AS BIGINT) AS value,
         CASE WHEN total <= 50 THEN 'eq' ELSE 'gte' END AS relation FROM c
  UNION ALL
  SELECT CAST(1000000 AS BIGINT), CAST(total AS BIGINT), 'eq' FROM c
) ORDER BY threshold
""")
def api_track_total_hits(spark, sf_dir):
    """track_total_hits (TopDocsCollectorContext: counting stops at the
    threshold, totals beyond it report (threshold, "gte")): the bounded
    count is limit(n+1).count() — CollectLimit short-circuits the scan,
    so cost is bounded by the threshold, not the corpus. Two thresholds
    gated: one below the true total (gte) and one above (eq)."""
    from opensearch_spark.search.apis import track_total_hits

    s = get_searcher(spark, sf_dir)
    fs = s._searcher_for("text")
    matching = fs._flat_postings(["table"]).select("doc_id")
    rows = []
    for thr in (50, 1_000_000):
        v, rel = track_total_hits(matching, thr)
        rows.append((thr, v, rel))
    return spark.createDataFrame(
        rows, "threshold bigint, value bigint, relation string"
    ).orderBy("threshold")


@q("api_search_request", f"""
WITH {O.TOK_CTES},
m AS (SELECT DISTINCT doc_id FROM tok2 WHERE term IN ('spark', 'merge')),
j AS (SELECT d.doc_id, d.n_chars, d.lang, d.source
      FROM m JOIN documents d USING (doc_id)),
o AS (SELECT *, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn FROM j)
SELECT doc_id, n_chars, lang, source,
       strftime(DATE '2024-01-01' + CAST(doc_id % 365 AS INT), '%Y-%m-%d') AS ts
FROM o WHERE rn > 2 AND rn <= 7 ORDER BY doc_id
""")
def api_search_request(spark, sf_dir):
    """Full ``_search`` request body through one executor
    (SearchSourceBuilder.java parse → query-then-fetch lifecycle): query
    + field sort + from/size paging + _source include filtering + a
    formatted ``fields`` date — composed into a single Catalyst plan by
    search/request.py; the fetch joins run over the bounded page only."""
    from opensearch_spark.search.request import execute_search_request

    s = get_searcher(spark, sf_dir)
    body = {
        "query": {"match": {"text": "spark merge"}},
        "from": 2, "size": 5,
        "sort": [{"n_chars": {"order": "desc"}}],
        "_source": {"includes": ["lang", "source"]},
        "fields": [{"field": "ts", "format": "yyyy-MM-dd"}],
    }
    return execute_search_request(s, body).orderBy("doc_id")


@q("api_search_request_aggs", f"""
WITH {O.TOK_CTES},
m AS (SELECT DISTINCT doc_id FROM tok2 WHERE term = 'table'),
g AS (SELECT d.source, count(*) AS doc_count,
             avg(d.n_chars) AS avg_chars, max(d.n_chars) AS max_chars
      FROM m JOIN documents d USING (doc_id) GROUP BY d.source)
SELECT source, doc_count, round(avg_chars, 4) AS avg_chars, max_chars
FROM g ORDER BY doc_count DESC, source LIMIT 5
""")
def api_search_request_aggs(spark, sf_dir):
    """``_search`` body in aggregations posture (size: 0): query filter
    context + a terms bucket with nested metric sub-aggs, compiled to one
    groupBy over the matching ids (search/request.py). The shape every
    reference dashboard emits."""
    from opensearch_spark.search.request import execute_search_request

    s = get_searcher(spark, sf_dir)
    body = {
        "query": {"match": {"text": "table"}},
        "size": 0,
        "aggs": {"by_source": {
            "terms": {"field": "source", "size": 5},
            "aggs": {"avg_chars": {"avg": {"field": "n_chars"}},
                     "max_chars": {"max": {"field": "n_chars"}}}}},
    }
    out = execute_search_request(s, body)
    return out.withColumn("avg_chars", F.round("avg_chars", 4))


@q("search_exists", """
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents
WHERE lang IS NOT NULL ORDER BY doc_id
""")
def search_exists(spark, sf_dir):
    from opensearch_spark.search import Exists

    s = get_searcher(spark, sf_dir)
    return s.score(Exists(field="lang")).orderBy("doc_id")


@q("search_regexp", f"""
WITH {O.TOK_CTES}
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score FROM tok2
WHERE regexp_matches(term, '^s.*k$') ORDER BY doc_id
""")
def search_regexp(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.score(Regexp(field="text", value="s.*k")).orderBy("doc_id")


@q("search_multi_match_best", _mm_oracle("best"))
def search_multi_match_best(spark, sf_dir):
    """multi_match best_fields over (text, title) — per-field BM25 with
    per-field stats, combined with max (MultiMatchQueryBuilder.java:130)."""
    s = get_searcher(spark, sf_dir)
    return s.search(MultiMatch(fields=["text", "title"], text="spark merge"),
                    k=10, mode="exhaustive", round_scores=4)


@q("search_multi_match_most", _mm_oracle("most"))
def search_multi_match_most(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.search(
        MultiMatch(fields=["text", "title"], text="spark merge", type="most_fields"),
        k=10, mode="exhaustive", round_scores=4)


@q("search_match_phrase_prefix", f"""
WITH {O.TOK_CTES},
pos AS (
    SELECT doc_id,
           unnest(string_split_regex(text, '\\s+')) AS term,
           unnest(range(len(string_split_regex(text, '\\s+')))) AS p
    FROM documents
),
m AS (
    SELECT a.doc_id, count(DISTINCT a.p) AS ptf
    FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
    WHERE a.term = 'spark' AND b.term LIKE 'ta%'
    GROUP BY a.doc_id
),
df_fixed AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'spark'),
df_exp AS (SELECT max(ln(1.0 + (stats.N - df + 0.5) / (df + 0.5))) AS max_idf
           FROM (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
                 WHERE term LIKE 'ta%' GROUP BY term) CROSS JOIN stats),
idfsum AS (SELECT ln(1.0 + (stats.N - df_fixed.df + 0.5) / (df_fixed.df + 0.5))
                  + df_exp.max_idf AS idf_sum
           FROM df_fixed CROSS JOIN df_exp CROSS JOIN stats)
SELECT m.doc_id,
       round(idf_sum * (1.2 + 1.0) * ptf
             / (ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 4) AS score
FROM m JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN idfsum
ORDER BY score DESC, doc_id LIMIT 10
""")
def search_match_phrase_prefix(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.search(
        MatchPhrasePrefix(field="text", text="spark ta", max_expansions=1000),
        k=10, mode="exhaustive", round_scores=4)


@q("search_match_bool_prefix", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'merge' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'merge'),
bm AS (SELECT tf.doc_id, {O.bm25_term()} AS s
       FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
pref AS (SELECT DISTINCT doc_id, 1.0 AS s FROM tok2 WHERE term LIKE 'so%')
SELECT coalesce(bm.doc_id, pref.doc_id) AS doc_id,
       round(coalesce(bm.s, 0.0) + coalesce(pref.s, 0.0), 4) AS score
FROM bm FULL OUTER JOIN pref ON bm.doc_id = pref.doc_id
ORDER BY round(coalesce(bm.s, 0.0) + coalesce(pref.s, 0.0), 4) DESC,
         coalesce(bm.doc_id, pref.doc_id) LIMIT 10
""")
def search_match_bool_prefix(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.search(MatchBoolPrefix(field="text", text="merge so"),
                    k=10, mode="exhaustive", round_scores=4)


@q("search_multi_match_bool_prefix", f"""
WITH {O.TOK_CTES},
{_TITLE_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'merge' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'merge'),
bm AS (SELECT tf.doc_id, {O.bm25_term()} AS s
       FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
pref AS (SELECT DISTINCT doc_id, 1.0 AS s FROM tok2 WHERE term LIKE 'so%'),
sa AS (SELECT coalesce(bm.doc_id, pref.doc_id) AS doc_id,
              coalesce(bm.s, 0.0) + coalesce(pref.s, 0.0) AS s
       FROM bm FULL OUTER JOIN pref ON bm.doc_id = pref.doc_id),
tf_b AS (SELECT doc_id, count(*) AS tf FROM ttok2 WHERE term = 'merge' GROUP BY doc_id),
df_b AS (SELECT count(DISTINCT doc_id) AS df FROM ttok2 WHERE term = 'merge'),
bm_b AS (SELECT tf_b.doc_id,
                ln(1.0 + (tstats.N - df + 0.5) / (df + 0.5)) * (1.2 + 1.0) * tf_b.tf
                / (tf_b.tf + 1.2 * (1.0 - 0.75 + 0.75 * tdl.dl / tstats.avgdl)) AS s
         FROM tf_b CROSS JOIN df_b JOIN tdl USING (doc_id) CROSS JOIN tstats),
pref_b AS (SELECT DISTINCT doc_id, 1.0 AS s FROM ttok2 WHERE term LIKE 'so%'),
sb AS (SELECT coalesce(bm_b.doc_id, pref_b.doc_id) AS doc_id,
              coalesce(bm_b.s, 0.0) + coalesce(pref_b.s, 0.0) AS s
       FROM bm_b FULL OUTER JOIN pref_b ON bm_b.doc_id = pref_b.doc_id)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       round(greatest(coalesce(a.s, -1e18), coalesce(b.s, -1e18)), 4) AS score
FROM sa a FULL OUTER JOIN sb b ON a.doc_id = b.doc_id
ORDER BY round(greatest(coalesce(a.s, -1e18), coalesce(b.s, -1e18)), 4) DESC,
         coalesce(a.doc_id, b.doc_id) LIMIT 10
""")
def search_multi_match_bool_prefix(spark, sf_dir):
    """multi_match type=bool_prefix (MultiMatchQueryBuilder.java:130-151):
    dis_max over per-field match_bool_prefix scores."""
    s = get_searcher(spark, sf_dir)
    return s.search(
        MultiMatch(fields=["text", "title"], text="merge so",
                   type="bool_prefix"),
        k=10, mode="exhaustive", round_scores=4)


@q("search_sayt_bool_prefix", f"""
WITH {O.TOK_CTES},
posw AS (
    SELECT doc_id,
           unnest(string_split_regex(text, '\\s+')) AS term,
           unnest(range(len(string_split_regex(text, '\\s+')))) AS p
    FROM documents
),
g2 AS (SELECT a.doc_id, a.term || ' ' || b.term AS term
       FROM posw a JOIN posw b ON a.doc_id = b.doc_id AND b.p = a.p + 1),
g2dl AS (SELECT doc_id, count(*) AS dl FROM g2 GROUP BY doc_id),
g2stats AS (SELECT (SELECT count(*) FROM documents) AS N,
                   (SELECT count(*) FROM g2) * 1.0
                       / (SELECT count(*) FROM documents) AS avgdl),
btf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
        WHERE term IN ('merge', 'sort') GROUP BY doc_id, term),
bdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
        WHERE term IN ('merge', 'sort') GROUP BY term),
bbm AS (SELECT btf.doc_id, sum({O.bm25_term()}) AS s
        FROM btf JOIN bdf USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY btf.doc_id),
bpref AS (SELECT DISTINCT doc_id, 1.0 AS s FROM tok2 WHERE term LIKE 'al%'),
sbase AS (SELECT coalesce(b.doc_id, p.doc_id) AS doc_id,
                 coalesce(b.s, 0.0) + coalesce(p.s, 0.0) AS s
          FROM bbm b FULL OUTER JOIN bpref p ON b.doc_id = p.doc_id),
g2tf AS (SELECT doc_id, count(*) AS tf FROM g2
         WHERE term = 'merge sort' GROUP BY doc_id),
g2df AS (SELECT count(DISTINCT doc_id) AS df FROM g2
         WHERE term = 'merge sort'),
g2bm AS (SELECT g2tf.doc_id,
                {O.bm25_term(N="g2stats.N", avgdl="g2stats.avgdl",
                             dl="g2dl.dl")} AS s
         FROM g2tf CROSS JOIN g2df JOIN g2dl USING (doc_id)
         CROSS JOIN g2stats),
g2pref AS (SELECT DISTINCT doc_id, 1.0 AS s FROM g2
           WHERE term LIKE 'sort al%'),
sg2 AS (SELECT coalesce(b.doc_id, p.doc_id) AS doc_id,
               coalesce(b.s, 0.0) + coalesce(p.s, 0.0) AS s
        FROM g2bm b FULL OUTER JOIN g2pref p ON b.doc_id = p.doc_id),
g3 AS (SELECT a.doc_id, a.term || ' ' || b.term || ' ' || c.term AS term
       FROM posw a JOIN posw b ON a.doc_id = b.doc_id AND b.p = a.p + 1
       JOIN posw c ON a.doc_id = c.doc_id AND c.p = a.p + 2),
sg3 AS (SELECT DISTINCT doc_id, 1.0 AS s FROM g3
        WHERE term LIKE 'merge sort al%'),
allb AS (SELECT * FROM sbase UNION ALL SELECT * FROM sg2
         UNION ALL SELECT * FROM sg3)
SELECT doc_id, round(max(s), 4) AS score FROM allb GROUP BY doc_id
ORDER BY round(max(s), 4) DESC, doc_id LIMIT 10
""")
def search_sayt_bool_prefix(spark, sf_dir):
    """search_as_you_type field type (SearchAsYouTypeFieldMapper.java:
    base field + ._2gram/._3gram shingle subfields, output_unigrams
    false) queried the canonical way — multi_match type=bool_prefix
    across the three fields (dis_max): the base field scores the fixed
    terms by BM25 plus an 'al%' prefix; the 2-gram subfield scores the
    'merge sort' shingle by BM25 under ITS OWN collection stats plus a
    'sort al%' shingle prefix; the 3-gram subfield contributes the
    'merge sort al%' prefix. Each subfield is a real secondary index
    with the shingle analyzer — same build path, own statistics, exactly
    like the reference's subfields."""
    s = get_searcher(spark, sf_dir)
    g2 = _alt_searcher(spark, sf_dir, "g2s", "shingle_2")
    g3 = _alt_searcher(spark, sf_dir, "g3s", "shingle_3")
    qtext = "merge sort al"
    u = (s.score(MatchBoolPrefix(field="text", text=qtext))
         .unionByName(g2.score(MatchBoolPrefix(field="text", text=qtext)))
         .unionByName(g3.score(MatchBoolPrefix(field="text", text=qtext))))
    return (u.groupBy("doc_id").agg(F.round(F.max("score"), 4).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


_POS_CTE = """
pos AS (
    SELECT doc_id,
           unnest(string_split_regex(text, '\\s+')) AS term,
           unnest(range(len(string_split_regex(text, '\\s+')))) AS p
    FROM documents
)
"""


@q("search_span_near", f"""
WITH {_POS_CTE}
SELECT DISTINCT a.doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos a JOIN pos b ON a.doc_id = b.doc_id
WHERE a.term = 'spark' AND b.term = 'table'
  AND b.p > a.p AND (b.p - a.p) - 1 <= 3
ORDER BY a.doc_id
""")
def search_span_near(spark, sf_dir):
    """span_near in_order slop=3 (SpanNearQueryBuilder.java)."""
    s = get_searcher(spark, sf_dir)
    return s.score(SpanNear(field="text", clauses=["spark", "table"],
                            slop=3, in_order=True)).orderBy("doc_id")


@q("search_span_gap", f"""
WITH {_POS_CTE}
SELECT DISTINCT a.doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos a JOIN pos b ON a.doc_id = b.doc_id
WHERE a.term = 'spark' AND b.term = 'table' AND b.p = a.p + 2
ORDER BY a.doc_id
""")
def search_span_gap(spark, sf_dir):
    """span_near with a span_gap clause (SpanNearQueryBuilder.
    SpanGapQueryBuilder): [spark, gap(1), table] slop=0 — 'table' must sit
    at exactly position(spark) + 2; the gap consumes one position of the
    matched span without matching a term, and contributes nothing to the
    slop budget. Pure position arithmetic inside the sorted-merge span
    enumerator — the postings scan is identical to the gapless query."""
    from opensearch_spark.search import SpanGap

    s = get_searcher(spark, sf_dir)
    return s.score(SpanNear(field="text",
                            clauses=["spark", SpanGap(width=1), "table"],
                            slop=0, in_order=True)).orderBy("doc_id")


@q("search_span_near_unordered", f"""
WITH {_POS_CTE}
SELECT DISTINCT a.doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos a JOIN pos b ON a.doc_id = b.doc_id
WHERE a.term = 'key' AND b.term = 'value'
  AND a.p <> b.p AND greatest(a.p, b.p) - least(a.p, b.p) - 1 <= 2
ORDER BY a.doc_id
""")
def search_span_near_unordered(spark, sf_dir):
    s = get_searcher(spark, sf_dir)
    return s.score(SpanNear(field="text", clauses=["key", "value"],
                            slop=2, in_order=False)).orderBy("doc_id")


@q("search_span_field_masking", f"""
WITH {_POS_CTE}
SELECT DISTINCT a.doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos a JOIN pos b ON a.doc_id = b.doc_id
WHERE a.term = 'spark' AND a.p < {TITLE_TOKENS}
  AND b.term = 'table' AND b.p > a.p AND (b.p - a.p) - 1 <= 5
ORDER BY a.doc_id
""")
def search_span_field_masking(spark, sf_dir):
    """field_masking_span (SpanFieldMaskingQueryBuilder.java) inside a
    span_near: the first clause's positions come from the position-aligned
    sibling `title` field (first 8 tokens of text, same analyzer — the
    classic masked-field shape), the second from `text`; near = ordered
    slop 5. The oracle reproduces the mask as a position bound p < 8."""
    from opensearch_spark.search import SpanFieldMasking

    s = get_searcher(spark, sf_dir)
    return s.score(SpanNear(
        field="text",
        clauses=[SpanFieldMasking(inner_field="title", value="spark"),
                 "table"],
        slop=5, in_order=True)).orderBy("doc_id")


@q("search_query_string", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','table') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','table') GROUP BY term),
branch1 AS (SELECT tf.doc_id, sum({O.bm25_term()}) AS s, count(*) AS nt
            FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
            GROUP BY tf.doc_id HAVING count(*) = 2),
branch2 AS (SELECT doc_id, 1.0 AS s FROM documents WHERE lang = 'de')
SELECT coalesce(b1.doc_id, b2.doc_id) AS doc_id,
       round(coalesce(b1.s, 0.0) + coalesce(b2.s, 0.0), 4) AS score
FROM branch1 b1 FULL OUTER JOIN branch2 b2 ON b1.doc_id = b2.doc_id
ORDER BY round(coalesce(b1.s, 0.0) + coalesce(b2.s, 0.0), 4) DESC,
         coalesce(b1.doc_id, b2.doc_id) LIMIT 10
""")
def search_query_string(spark, sf_dir):
    """query_string syntax (QueryStringQueryBuilder.java) through the PEG
    parser → same AST → same executor."""
    s = get_searcher(spark, sf_dir)
    ast = parse_query_string("spark AND table OR lang:de", default_field="text")
    return s.search(ast, k=10, mode="exhaustive", round_scores=4)


@q("search_query_string_ext", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','table') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','table') GROUP BY term),
bm AS (SELECT tf.doc_id,
              sum(CASE WHEN term = 'spark' THEN 2.0 ELSE 1.0 END
                  * {O.bm25_term()}) AS s
       FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf.doc_id),
fz AS (SELECT DISTINCT doc_id, 1.0 AS s FROM tok2
       WHERE length(term) BETWEEN 3 AND 5
         AND damerau_levenshtein(term, 'rain') <= 1),
rg AS (SELECT doc_id, 1.0 AS s FROM documents
       WHERE n_chars >= 400 AND n_chars < 2000),
merged AS (SELECT doc_id, sum(s) AS score FROM
           (SELECT * FROM bm UNION ALL SELECT * FROM fz
            UNION ALL SELECT * FROM rg) GROUP BY doc_id)
SELECT doc_id, round(score, 4) AS score FROM merged
ORDER BY round(score, 4) DESC, doc_id LIMIT 10
""")
def search_query_string_ext(spark, sf_dir):
    """Extended classic-Lucene query_string surface
    (QueryStringQueryBuilder.java): term boost ``^n``, fuzzy ``~edits``,
    and bracket ranges ``[a TO b}`` in one string — parsed to the same
    AST the JSON DSL produces, scored by the same executor (boost folds
    into the BM25 weight; fuzzy and range score as constant 1.0 like the
    reference's rewritten multi-term/range queries under their default
    boost). Oracle mirrors each clause: boosted BM25 sum + levenshtein
    dictionary expansion + the half-open numeric range."""
    s = get_searcher(spark, sf_dir)
    ast = parse_query_string("spark^2 table rain~1 n_chars:[400 TO 2000}",
                             default_field="text")
    return s.search(ast, k=10, mode="exhaustive", round_scores=4)


@q("search_simple_query_string", f"""
WITH {O.TOK_CTES},
pos AS (
    SELECT doc_id,
           unnest(string_split_regex(text, '\\s+')) AS term,
           unnest(range(len(string_split_regex(text, '\\s+')))) AS p
    FROM documents
),
atf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
        WHERE term IN ('spark', 'table') GROUP BY doc_id, term),
adf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
        WHERE term IN ('spark', 'table') GROUP BY term),
branch_a AS (SELECT atf.doc_id, sum({O.bm25_term()}) AS s
             FROM atf JOIN adf USING (term) JOIN dl USING (doc_id)
             CROSS JOIN stats
             GROUP BY atf.doc_id HAVING count(*) = 2),
pm AS (SELECT a.doc_id, count(*) AS ptf
       FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
       WHERE a.term = 'merge' AND b.term = 'sort'
       GROUP BY a.doc_id),
pdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
        WHERE term IN ('merge', 'sort') GROUP BY term),
pidf AS (SELECT sum(ln(1.0 + (stats.N - df + 0.5) / (df + 0.5))) AS idf_sum
         FROM pdf CROSS JOIN stats),
branch_b AS (SELECT pm.doc_id,
                    idf_sum * (1.2 + 1.0) * ptf
                    / (ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
             FROM pm JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN pidf
             WHERE pm.doc_id NOT IN
                   (SELECT doc_id FROM tok2 WHERE term = 'rain')),
merged AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
                  coalesce(a.s, 0.0) + coalesce(b.s, 0.0) AS s
           FROM branch_a a FULL OUTER JOIN branch_b b
                ON a.doc_id = b.doc_id)
SELECT doc_id, round(s, 4) AS score FROM merged
ORDER BY round(s, 4) DESC, doc_id LIMIT 10
""")
def search_simple_query_string(spark, sf_dir):
    """simple_query_string (SimpleQueryStringBuilder.java / Lucene
    SimpleQueryParser) — its OWN syntax family, not classic query_string:
    infix + = AND, | = OR (AND binds tighter), prefix - negates, quoted
    phrase; the parser is LENIENT by contract (malformed input degrades
    to matching its plain words — tested, never throws). Here
    'spark + table | "merge sort" -rain' → should-of((spark AND table),
    (phrase MINUS rain docs)), scores summed across matching branches."""
    from opensearch_spark.search.query_string import parse_simple_query_string

    s = get_searcher(spark, sf_dir)
    ast = parse_simple_query_string('spark + table | "merge sort" -rain',
                                    default_field="text")
    return s.search(ast, k=10, mode="exhaustive", round_scores=4)


@q("search_lmdirichlet", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','table') GROUP BY doc_id, term),
cf AS (SELECT term, count(*) AS cf FROM tok2
       WHERE term IN ('spark','table') GROUP BY term),
tot AS (SELECT count(*) AS total FROM tok2)
SELECT tf.doc_id,
       round(sum(ln(1.0 + tf / (2000.0 * ((cf + 1.0) / (total + 1.0))))
                 + ln(2000.0 / (dl + 2000.0))), 4) AS score
FROM tf JOIN cf USING (term) JOIN dl USING (doc_id) CROSS JOIN tot
GROUP BY tf.doc_id, dl.dl
ORDER BY score DESC, tf.doc_id LIMIT 10
""")
def search_lmdirichlet(spark, sf_dir):
    """LMDirichlet alternative similarity (SimilarityProviders.java)."""
    s = get_searcher(spark, sf_dir)
    scores = s.score_lm_dirichlet(Match(field="text", text="spark table"), mu=2000.0)
    return (scores.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


@q("search_suggest_term", f"""
WITH {O.TOK_CTES},
vocab AS (SELECT term AS suggestion, count(DISTINCT doc_id) AS df
          FROM tok2 GROUP BY term),
inputs(term) AS (VALUES ('spagk'), ('tabel')),
cand AS (
    SELECT i.term, v.suggestion, levenshtein(v.suggestion, i.term) AS distance, v.df
    FROM inputs i CROSS JOIN vocab v
    WHERE abs(length(v.suggestion) - length(i.term)) <= 2
      AND v.suggestion <> i.term
      AND levenshtein(v.suggestion, i.term) <= 2
),
ranked AS (SELECT *, row_number() OVER (PARTITION BY term
                    ORDER BY distance, df DESC, suggestion) AS rank FROM cand)
SELECT term, suggestion, distance, df, rank FROM ranked
WHERE rank <= 3 ORDER BY term, rank
""")
def search_suggest_term(spark, sf_dir):
    """Term suggester (TermSuggestionBuilder.java): spell-correct the two
    misspelled input terms against the dictionary."""
    s = get_searcher(spark, sf_dir)
    return term_suggest(s, "spagk tabel", size=3, max_edits=2,
                        suggest_mode="missing").orderBy("term", "rank")


@q("search_highlight", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('merge','spark') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('merge','spark') GROUP BY term),
scored AS (SELECT tf.doc_id, round(sum({O.bm25_term()}), 4) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY tf.doc_id),
top5 AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 5)
SELECT t.doc_id, t.score,
       regexp_replace(d.text, '\\b(merge|spark)\\b', '<em>\\1</em>', 'g') AS highlight
FROM top5 t JOIN documents d USING (doc_id) ORDER BY t.doc_id
""")
def search_highlight(spark, sf_dir):
    """Highlighting as a fetch sub-phase over the top-k only."""
    s = get_searcher(spark, sf_dir)
    terms = s.analyze("spark merge")
    hits = s.search(Match(field="text", text="spark merge"),
                    k=5, mode="exhaustive", round_scores=4)
    fetched = source_filter(s.index.docs(spark), hits, includes=["text"])
    return (highlight_field(fetched, "text", terms)
            .select("doc_id", "score", "highlight").orderBy("doc_id"))


@q("search_rank_eval", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('merge','spark','table') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('merge','spark','table') GROUP BY term),
scored AS (SELECT tf.doc_id, round(sum({O.bm25_term()}), 4) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY tf.doc_id),
ranked AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
           FROM scored ORDER BY score DESC, doc_id LIMIT 10),
relevant AS (SELECT doc_id FROM tf GROUP BY doc_id HAVING count(*) = 3),
j AS (SELECT r.rank, CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM ranked r LEFT JOIN relevant rel USING (doc_id))
SELECT round(sum(hit) * 1.0 / greatest(count(*), 1), 6) AS precision_at_k,
       round(sum(hit) * 1.0 / greatest((SELECT count(*) FROM relevant), 1), 6)
           AS recall_at_k,
       round(coalesce(1.0 / min(CASE WHEN hit = 1 THEN rank END), 0.0), 6) AS mrr,
       round(sum(CASE WHEN hit = 1 THEN 1.0 / log2(rank + 1.0) ELSE 0.0 END), 6)
           AS dcg_at_k
FROM j
""")
def search_rank_eval(spark, sf_dir):
    """rank-eval module metrics over the engine's own top-10: relevance =
    docs containing all three query terms."""
    s = get_searcher(spark, sf_dir)
    hits = s.search(Match(field="text", text="spark table merge"),
                    k=10, mode="exhaustive", round_scores=4)
    ranked = with_ranks(hits)
    terms = ["merge", "spark", "table"]
    flat = s._flat_postings(terms)
    relevant = (flat.select("doc_id", "term").distinct()
                .groupBy("doc_id").count().where(F.col("count") == 3)
                .select("doc_id"))
    return rank_metrics(ranked, relevant, k=10)


@q("search_rank_eval_graded", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('merge','spark','table') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('merge','spark','table') GROUP BY term),
scored AS (SELECT tf.doc_id, round(sum({O.bm25_term()}), 4) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY tf.doc_id),
ranked AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
           FROM scored ORDER BY score DESC, doc_id LIMIT 10),
grades AS (SELECT doc_id, count(*) AS grade FROM tf GROUP BY doc_id),
top AS (SELECT r.rank, coalesce(g.grade, 0) AS grade,
               (pow(2.0, coalesce(g.grade, 0)) - 1.0) / 8.0 AS r
        FROM ranked r LEFT JOIN grades g USING (doc_id)),
cascade AS (SELECT rank, grade, r,
            coalesce(exp(sum(ln(1.0 - r)) OVER (ORDER BY rank
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), 1.0) AS prior
            FROM top),
m AS (SELECT sum(r / rank * prior) AS err,
             sum((pow(2.0, grade) - 1.0) / log2(rank + 1.0)) AS dcg
      FROM cascade),
ideal AS (SELECT sum((pow(2.0, grade) - 1.0) / log2(rn + 1.0)) AS idcg
          FROM (SELECT grade, row_number() OVER (ORDER BY grade DESC, doc_id) AS rn
                FROM grades) WHERE rn <= 10)
SELECT round(err, 6) AS err,
       round(dcg / greatest(idcg, 1e-12), 6) AS ndcg_at_k
FROM m CROSS JOIN ideal
""")
def search_rank_eval_graded(spark, sf_dir):
    """Graded rank-eval (ExpectedReciprocalRank.java + NDCG): grade =
    number of distinct query terms the doc contains (0..3)."""
    from opensearch_spark.search.rankeval import graded_metrics

    s = get_searcher(spark, sf_dir)
    hits = s.search(Match(field="text", text="spark table merge"),
                    k=10, mode="exhaustive", round_scores=4)
    ranked = with_ranks(hits)
    terms = ["merge", "spark", "table"]
    flat = s._flat_postings(terms)
    grades = (flat.select("doc_id", "term").distinct()
              .groupBy("doc_id").agg(F.count("*").alias("grade")))
    return graded_metrics(ranked, grades, k=10, max_grade=3)


@q("search_sort_field", f"""
WITH {O.TOK_CTES},
m AS (SELECT DISTINCT doc_id FROM tok2 WHERE term = 'value')
SELECT d.doc_id, d.n_chars FROM m JOIN documents d USING (doc_id)
ORDER BY d.n_chars DESC, d.doc_id LIMIT 10
""")
def search_sort_field(spark, sf_dir):
    """Top-k by field sort (TopFieldCollector / FieldSortBuilder):
    ORDER BY field LIMIT k → Spark TakeOrderedAndProject."""
    s = get_searcher(spark, sf_dir)
    hits = s.matching_docs(Match(field="text", text="value"))
    docs = s.index.docs(spark).select("doc_id", "n_chars")
    return (hits.join(docs, "doc_id")
            .orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(10))


@q("search_fetch", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','vector') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','vector') GROUP BY term),
scored AS (SELECT tf.doc_id, round(sum({O.bm25_term()}), 4) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY tf.doc_id),
top3 AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 3)
SELECT t.doc_id, t.score, d.lang, d.source
FROM top3 t JOIN documents d USING (doc_id) ORDER BY t.doc_id
""")
def search_fetch(spark, sf_dir):
    """Fetch phase (FetchPhase.java): broadcast-join top-k back to stored
    fields — the second network round-trip of the reference lifecycle."""
    s = get_searcher(spark, sf_dir)
    hits = s.search(Match(field="text", text="spark vector"),
                    k=3, mode="exhaustive", round_scores=4)
    return source_filter(s.index.docs(spark), hits,
                         includes=["lang", "source"]).orderBy("doc_id")


@q("search_fetch_fields", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','vector') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','vector') GROUP BY term),
scored AS (SELECT tf.doc_id, round(sum({O.bm25_term()}), 4) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY tf.doc_id),
top5 AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 5)
SELECT t.doc_id, t.score, d.lang, d.n_chars,
       strftime(DATE '2024-01-01' + CAST(d.doc_id % 365 AS INT), '%Y/%m/%d') AS ts
FROM top5 t JOIN documents d USING (doc_id) ORDER BY t.doc_id
""")
def search_fetch_fields(spark, sf_dir):
    """``fields`` request param (FetchFieldsPhase.java + FieldFetcher.java,
    registered in SearchModule.createFetchSubPhases): wildcard field
    patterns resolved against the mapping driver-side (metadata, not
    data), date fields rendered through the requested format. The
    resolved projection is exactly the fetch scan's ReadSchema; the date
    column is the derived calendar-day ``ts`` (geo/ip-family trick), so
    formatting is session-timezone-invariant."""
    s = get_searcher(spark, sf_dir)
    hits = s.search(Match(field="text", text="spark vector"), k=5,
                    mode="exhaustive", round_scores=4)
    docs = s.index.docs(spark)
    return fetch_fields(
        docs, hits,
        ["lang", "n_*", {"field": "ts", "format": "yyyy/MM/dd"}],
        field_mapping(docs, (s.field, *s.extra_fields)),
    ).orderBy("doc_id")


@q("search_docvalue_fields", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('merge','table') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('merge','table') GROUP BY term),
scored AS (SELECT tf.doc_id, round(sum({O.bm25_term()}), 4) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY tf.doc_id),
top5 AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 5)
SELECT t.doc_id, t.score, d.source, d.n_chars,
       strftime(DATE '2024-01-01' + CAST(d.doc_id % 365 AS INT), '%Y-%m-%d') AS ts
FROM top5 t JOIN documents d USING (doc_id) ORDER BY t.doc_id
""")
def search_docvalue_fields(spark, sf_dir):
    """``docvalue_fields`` (FetchDocValuesPhase.java): columnar doc-value
    reads for the hit frame — keyword/numeric/date only; an explicit
    text field raises exactly like the reference (text carries no doc
    values), a wildcard silently skips text. Doc values ARE the columnar
    layout here, so the phase is the same pruned broadcast-join
    projection with per-field date formatting."""
    s = get_searcher(spark, sf_dir)
    hits = s.search(Match(field="text", text="merge table"), k=5,
                    mode="exhaustive", round_scores=4)
    docs = s.index.docs(spark)
    return fetch_fields(
        docs, hits,
        ["source", "n_chars", {"field": "ts", "format": "yyyy-MM-dd"}],
        field_mapping(docs, (s.field, *s.extra_fields)), docvalues=True,
    ).orderBy("doc_id")


@q("search_source_filter", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('window','table') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('window','table') GROUP BY term),
scored AS (SELECT tf.doc_id, round(sum({O.bm25_term()}), 4) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY tf.doc_id),
top5 AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 5)
SELECT t.doc_id, t.score, d.lang, d.source
FROM top5 t JOIN documents d USING (doc_id) ORDER BY t.doc_id
""")
def search_source_filter(spark, sf_dir):
    """``_source`` include/exclude filtering (FetchSourcePhase.java +
    FetchSourceContext.filter): include patterns select source keys,
    exclude patterns veto — excludes win on overlap. Re-expressed as
    pure column pruning: the filtered-out columns (here ``text`` — the
    wide one — and ``n_chars``) never leave the parquet reader."""
    s = get_searcher(spark, sf_dir)
    hits = s.search(Match(field="text", text="window table"), k=5,
                    mode="exhaustive", round_scores=4)
    return source_filter(
        s.index.docs(spark), hits,
        includes=["lang", "source", "n_*"], excludes=["n_*"],
    ).orderBy("doc_id")


@q("search_script_fields", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'table' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'table'),
scored AS (SELECT tf.doc_id, round({O.bm25_term()}, 4) AS score
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
topk AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT 10)
SELECT t.doc_id, t.score,
       d.n_chars / 100.0 AS chars_per_100,
       d.doc_id % 7 AS id_mod
FROM topk t JOIN documents d USING (doc_id) ORDER BY t.doc_id
""")
def search_script_fields(spark, sf_dir):
    """``script_fields`` (ScriptFieldsPhase.java): one scripted value per
    fetched hit. Each script compiles through the Painless subset
    compiler (search/painless.py) into a Catalyst projection over the
    joined top-k — per-hit scripting with zero Python in the loop."""
    s = get_searcher(spark, sf_dir)
    hits = s.search(Match(field="text", text="table"), k=10,
                    mode="exhaustive", round_scores=4)
    return script_fields(
        s.index.docs(spark), hits,
        {"chars_per_100": {"script": {
            "source": "doc['n_chars'].value / params.div",
            "params": {"div": 100.0}}},
         "id_mod": {"script": {"source": "doc['doc_id'].value % 7"}}},
    ).orderBy("doc_id")


def _indices_boost_oracle() -> str:
    return f"""
WITH {O.TOK_CTES},
{_TITLE_CTES},
tf_a AS (SELECT doc_id, term, count(*) AS tf FROM tok2
         WHERE term IN ('merge', 'spark') GROUP BY doc_id, term),
df_a AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
         WHERE term IN ('merge', 'spark') GROUP BY term),
sa AS (SELECT tf_a.doc_id, sum({O.bm25_term(tf='tf_a.tf')}) AS s
       FROM tf_a JOIN df_a USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
       GROUP BY tf_a.doc_id),
tf_b AS (SELECT doc_id, term, count(*) AS tf FROM ttok2
         WHERE term IN ('merge', 'spark') GROUP BY doc_id, term),
df_b AS (SELECT term, count(DISTINCT doc_id) AS df FROM ttok2
         WHERE term IN ('merge', 'spark') GROUP BY term),
sb AS (SELECT tf_b.doc_id,
              sum(ln(1.0 + (tstats.N - df + 0.5) / (df + 0.5)) * (1.2 + 1.0) * tf_b.tf
                  / (tf_b.tf + 1.2 * (1.0 - 0.75 + 0.75 * tdl.dl / tstats.avgdl))) AS s
       FROM tf_b JOIN df_b USING (term) JOIN tdl USING (doc_id) CROSS JOIN tstats
       GROUP BY tf_b.doc_id),
ta AS (SELECT 'docs' AS idx, doc_id, round(s, 4) * CAST(1.0 AS DOUBLE) AS score FROM sa
       ORDER BY round(s, 4) DESC, doc_id LIMIT 10),
tb AS (SELECT 'docs_title' AS idx, doc_id, round(s, 4) * 2.0 AS score FROM sb
       ORDER BY round(s, 4) DESC, doc_id LIMIT 10),
u AS (SELECT * FROM ta UNION ALL SELECT * FROM tb)
SELECT idx AS "_index", doc_id, round(score, 4) AS score FROM u
ORDER BY round(score, 4) DESC, idx, doc_id LIMIT 10
"""


@q("search_indices_boost", _indices_boost_oracle())
def search_indices_boost(spark, sf_dir):
    """``indices_boost`` (SearchSourceBuilder.indexBoosts; QueryPhase
    applies the per-index factor shard-side before the coordinator
    merge): each index's bounded top-k is scaled by the first matching
    boost pattern (ObjectFloatHashMap first-write wins), then
    merge-sorted into the global top-k — the boost never touches
    unfetched rows, so cost is identical to the plain cross-index
    search at any corpus size."""
    from opensearch_spark.search.fetchphase import apply_indices_boost

    s = get_searcher(spark, sf_dir)
    a = s.search(Match(field="text", text="merge spark"), k=10,
                 mode="wand", round_scores=4)
    b = s.search(Match(field="title", text="merge spark"), k=10,
                 mode="exhaustive", round_scores=4)
    res = apply_indices_boost(
        {"docs": a, "docs_title": b},
        {"docs_t*": 2.0}, k=10)
    return (res.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), "_index", "doc_id").limit(10))


@q("search_query_then_fetch", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark', 'merge') GROUP BY doc_id, term),
shn AS (SELECT CAST(doc_id % 4 AS INT) AS shard, count(*) AS N
        FROM documents GROUP BY 1),
shdl AS (SELECT CAST(doc_id % 4 AS INT) AS shard, sum(dl) * 1.0 AS sdl
         FROM dl GROUP BY 1),
sstats AS (SELECT shn.shard, N, sdl / N AS avgdl FROM shn JOIN shdl USING (shard)),
sdf AS (SELECT CAST(doc_id % 4 AS INT) AS shard, term, count(*) AS df
        FROM tf GROUP BY 1, 2),
scored AS (SELECT CAST(tf.doc_id % 4 AS INT) AS shard, tf.doc_id,
                  sum({O.bm25_term()}) AS s
           FROM tf JOIN dl USING (doc_id)
           JOIN sdf ON sdf.shard = CAST(tf.doc_id % 4 AS INT)
                   AND sdf.term = tf.term
           JOIN sstats ON sstats.shard = CAST(tf.doc_id % 4 AS INT)
           GROUP BY 1, 2),
r AS (SELECT shard, doc_id, round(s, 4) AS score,
             row_number() OVER (PARTITION BY shard
                                ORDER BY round(s, 4) DESC, doc_id) AS rnk
      FROM scored)
SELECT doc_id, shard, score FROM r WHERE rnk <= 10
ORDER BY score DESC, doc_id LIMIT 10
""")
def search_query_then_fetch(spark, sf_dir):
    """Default search type query_then_fetch (SearchType.java:62): each
    shard scores with its OWN df / docCount / avgdl, so scores depend on
    routing — the classic small-index score-skew the reference documents.
    Shards are the deterministic ``doc_id % 4`` routing partition; the
    oracle recomputes shard-local stats from scratch in SQL. Spark plan:
    term-pruned postings + one n_shards-row broadcast stats aggregate +
    bounded per-shard window top-k (search/dfs.py)."""
    from opensearch_spark.search.dfs import sharded_search

    s = get_searcher(spark, sf_dir)
    return sharded_search(s, "spark merge", n_shards=4, k=10, dfs=False)


@q("search_dfs_query_then_fetch", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark', 'merge') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark', 'merge') GROUP BY term),
scored AS (SELECT tf.doc_id, round(sum({O.bm25_term()}), 4) AS score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY tf.doc_id)
SELECT doc_id, CAST(doc_id % 4 AS INT) AS shard, score FROM scored
ORDER BY score DESC, doc_id LIMIT 10
""")
def search_dfs_query_then_fetch(spark, sf_dir):
    """dfs_query_then_fetch (SearchType.java:55; AggregatedDfs in
    search/dfs/DfsSearchResult.java): a pre-query round-trip sums df and
    collection stats across shards, then every shard scores with GLOBAL
    statistics — the merged top-k is provably identical to a single-index
    search. The oracle is therefore the PLAIN global match top-10 (no
    shard arithmetic at all): the gate pins the identity, not just the
    numbers."""
    from opensearch_spark.search.dfs import sharded_search

    s = get_searcher(spark, sf_dir)
    return sharded_search(s, "spark merge", n_shards=4, k=10, dfs=True)


@q("search_derived_field_range", """
WITH d AS (SELECT doc_id,
                  round(n_chars / CAST(100.0 AS DOUBLE), 4) AS chars_per_100
           FROM documents)
SELECT doc_id, chars_per_100 FROM d
WHERE chars_per_100 >= 1.0 AND chars_per_100 < 3.0
ORDER BY chars_per_100 DESC, doc_id LIMIT 20
""")
def search_derived_field_range(spark, sf_dir):
    """Derived field queried with a range (DerivedFieldMapper.java +
    DerivedFieldQuery.java): the script value is computed at query time —
    the reference materializes it per doc into a single-doc MemoryIndex
    and runs the inner query against it; here the Painless script is one
    Catalyst expression fused into the scan's codegen stage, filtered and
    top-k'd like any column (search/derivedfields.py)."""
    from opensearch_spark.search.derivedfields import with_derived_fields

    d = with_derived_fields(_docs(spark, sf_dir), {
        "chars_per_100": {"type": "double", "script": {
            "source": "doc['n_chars'].value / params.div",
            "params": {"div": 100.0}}}})
    d = d.withColumn("chars_per_100", F.round("chars_per_100", 4))
    return (d.where((F.col("chars_per_100") >= 1.0)
                    & (F.col("chars_per_100") < 3.0))
            .select("doc_id", "chars_per_100")
            .orderBy(F.desc("chars_per_100"), "doc_id").limit(20))


@q("agg_derived_field_terms", """
SELECT upper(lang) AS lang_upper, count(*) AS doc_count
FROM documents GROUP BY 1 ORDER BY doc_count DESC, lang_upper
""")
def agg_derived_field_terms(spark, sf_dir):
    """Terms aggregation over a derived keyword field
    (DerivedFieldSupportedTypes KEYWORD + a toUpperCase() script): the
    derived column exists only inside the plan — one groupBy, no
    materialization, vs the reference's per-doc script execution during
    aggregation collection."""
    from opensearch_spark.search.derivedfields import with_derived_fields

    d = with_derived_fields(_docs(spark, sf_dir), {
        "lang_upper": {"type": "keyword",
                       "script": "doc['lang'].value.toUpperCase()"}})
    return (d.groupBy("lang_upper")
            .agg(F.count(F.lit(1)).alias("doc_count"))
            .orderBy(F.desc("doc_count"), "lang_upper"))


@q("search_explain", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'spark' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'spark')
SELECT tf.doc_id, 'spark' AS term,
       round(ln(1.0 + (stats.N - df + 0.5) / (df + 0.5)), 6) AS idf,
       tf.tf, dl.dl,
       round({O.bm25_term()}, 6) AS tscore
FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
ORDER BY tf.doc_id LIMIT 20
""")
def search_explain(spark, sf_dir):
    """Explain (TransportExplainAction.java): per-(doc, term) score
    components."""
    s = get_searcher(spark, sf_dir)
    return (s.explain(Match(field="text", text="spark"))
            .withColumn("idf", F.round("idf", 6))
            .withColumn("tscore", F.round("tscore", 6))
            .orderBy("doc_id").limit(20))


@q("search_slice", """
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM documents WHERE doc_id % 4 = 1 ORDER BY doc_id
""")
def search_slice(spark, sf_dir):
    """Sliced scroll (SliceBuilder.java): slice i of N = hash-mod partition
    of the docID space — native partition pruning in Spark."""
    s = get_searcher(spark, sf_dir)
    return (s.index.docs(spark).where(F.pmod(F.col("doc_id"), F.lit(4)) == 1)
            .select("doc_id", F.lit(1.0).alias("score")).orderBy("doc_id"))


@q("search_lm_jelinek_mercer", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('merge','window') GROUP BY doc_id, term),
cf AS (SELECT term, count(*) AS cf FROM tok2
       WHERE term IN ('merge','window') GROUP BY term),
tot AS (SELECT count(*) AS total FROM tok2)
SELECT tf.doc_id,
       round(sum(ln(1.0 + ((1.0 - 0.1) * tf / dl)
                 / (0.1 * ((cf + 1.0) / (total + 1.0))))), 4) AS score
FROM tf JOIN cf USING (term) JOIN dl USING (doc_id) CROSS JOIN tot
GROUP BY tf.doc_id, dl.dl
ORDER BY score DESC, tf.doc_id LIMIT 10
""")
def search_lm_jelinek_mercer(spark, sf_dir):
    """LMJelinekMercer alternative similarity."""
    s = get_searcher(spark, sf_dir)
    scores = s.score_lm_jelinek_mercer(
        Match(field="text", text="merge window"), lam=0.1)
    return (scores.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


@q("search_count", """
SELECT (SELECT count(DISTINCT doc_id) FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
    FROM documents) WHERE term = 'spark') AS total_hits
""")
def search_count(spark, sf_dir):
    """_count API: hit count without scoring/fetch."""
    s = get_searcher(spark, sf_dir)
    n = s.count(Match(field="text", text="spark"))
    return spark.createDataFrame([(n,)], "total_hits long")


@q("search_msearch", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','merge') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','merge') GROUP BY term),
per AS (SELECT tf.term, tf.doc_id, round({O.bm25_term()}, 4) AS score
        FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
qa AS (SELECT 'q_spark' AS query_id, doc_id, score FROM per WHERE term = 'spark'
       ORDER BY score DESC, doc_id LIMIT 5),
qb AS (SELECT 'q_merge' AS query_id, doc_id, score FROM per WHERE term = 'merge'
       ORDER BY score DESC, doc_id LIMIT 5)
SELECT * FROM qa UNION ALL SELECT * FROM qb ORDER BY query_id, score DESC, doc_id
""")
def search_msearch(spark, sf_dir):
    """_msearch: batched multi-query execution, one tagged result frame."""
    s = get_searcher(spark, sf_dir)
    out = s.msearch({"q_spark": Match(field="text", text="spark"),
                     "q_merge": Match(field="text", text="merge")},
                    k=5, round_scores=4)
    return out.orderBy("query_id", F.desc("score"), F.asc("doc_id"))


@q("search_msearch_template", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('sort','window') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('sort','window') GROUP BY term),
per AS (SELECT tf.term, tf.doc_id, round({O.bm25_term()}, 4) AS score
        FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
qa AS (SELECT 'q1' AS query_id, doc_id, score FROM per WHERE term = 'sort'
       ORDER BY score DESC, doc_id LIMIT 5),
qb AS (SELECT 'q2' AS query_id, doc_id, score FROM per WHERE term = 'window'
       ORDER BY score DESC, doc_id LIMIT 5)
SELECT * FROM qa UNION ALL SELECT * FROM qb ORDER BY query_id, score DESC, doc_id
""")
def search_msearch_template(spark, sf_dir):
    """_msearch/template (rest-api-spec msearch_template.json;
    TransportMultiSearchTemplateAction): each line's template renders
    with its own params (the same mustache interpolation as
    search_template), then the rendered bodies execute through the SAME
    fused single-postings-scan msearch path — render is driver-side
    string work, the plan is identical to _msearch."""
    from opensearch_spark.search.apis import render_search_template
    from opensearch_spark.search.queries import from_dsl

    s = get_searcher(spark, sf_dir)
    tpl = '{"match": {"text": "{{t}}"}}'
    bodies = {qid: from_dsl(render_search_template(tpl, {"t": term}))
              for qid, term in (("q1", "sort"), ("q2", "window"))}
    out = s.msearch(bodies, k=5, round_scores=4)
    return out.orderBy("query_id", F.desc("score"), F.asc("doc_id"))


@q("search_terms_enum", f"""
WITH {O.TOK_CTES}
SELECT term, count(DISTINCT doc_id) AS df FROM tok2
WHERE term LIKE 'm%' GROUP BY term ORDER BY term LIMIT 10
""")
def search_terms_enum(spark, sf_dir):
    """_terms_enum API: prefix walk over the dictionary with df."""
    s = get_searcher(spark, sf_dir)
    return s.terms_enum(prefix="m", size=10)


@q("search_script_filter", """
SELECT doc_id FROM documents
WHERE n_chars % 7 = 0 AND length(text) > 50 ORDER BY doc_id
""")
def search_script_filter(spark, sf_dir):
    """script query (ScriptQueryBuilder): per-doc predicate as a vectorized
    pandas UDF (the engine's Painless stand-in)."""
    s = get_searcher(spark, sf_dir)

    def pred(n_chars, text):
        return (n_chars % 7 == 0) & (text.str.len() > 50)

    return s.script_filter(pred, ["n_chars", "text"]).orderBy("doc_id")


@q("search_script_sort", f"""
WITH {O.TOK_CTES},
m AS (SELECT DISTINCT doc_id FROM tok2 WHERE term = 'batch')
SELECT d.doc_id, round(d.n_chars * 1.0 / (1 + d.doc_id % 5), 4) AS sort_key
FROM m JOIN documents d USING (doc_id)
ORDER BY sort_key DESC, d.doc_id LIMIT 10
""")
def search_script_sort(spark, sf_dir):
    """script sort (ScriptSortBuilder): computed sort key expression."""
    s = get_searcher(spark, sf_dir)
    hits = s.matching_docs(Match(field="text", text="batch"))
    docs = s.index.docs(spark).select("doc_id", "n_chars")
    key = F.round(F.col("n_chars") * 1.0 / (1 + F.pmod(F.col("doc_id"), F.lit(5))), 4)
    return (hits.join(docs, "doc_id").withColumn("sort_key", key)
            .select("doc_id", "sort_key")
            .orderBy(F.desc("sort_key"), F.asc("doc_id")).limit(10))


@q("search_matched_queries", f"""
WITH {O.TOK_CTES},
a AS (SELECT DISTINCT doc_id FROM tok2 WHERE term = 'spark'),
b AS (SELECT doc_id FROM documents WHERE lang = 'de')
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       a.doc_id IS NOT NULL AS matched_has_spark,
       b.doc_id IS NOT NULL AS matched_is_de
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
ORDER BY coalesce(a.doc_id, b.doc_id)
""")
def search_matched_queries(spark, sf_dir):
    """Named queries / matched_queries (SearchModule.java:1055)."""
    s = get_searcher(spark, sf_dir)
    out = s.matched_queries({
        "has_spark": Match(field="text", text="spark"),
        "is_de": Term(field="lang", value="de"),
    })
    return out.orderBy("doc_id")


@q("search_min_score", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'spark' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'spark')
SELECT tf.doc_id, round({O.bm25_term()}, 4) AS score
FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
WHERE round({O.bm25_term()}, 4) >= 0.45
ORDER BY tf.doc_id
""")
def search_min_score(spark, sf_dir):
    """min_score guard (QueryPhase.java:227): drop hits under a score
    threshold — a filter on the score column."""
    s = get_searcher(spark, sf_dir)
    scores = s.score(Match(field="text", text="spark")) \
              .withColumn("score", F.round("score", 4))
    return scores.where(F.col("score") >= 0.45).orderBy("doc_id")


@q("search_wrapper", O.match_sql(["vector", "window"], k=10))
def search_wrapper(spark, sf_dir):
    """wrapper query (WrapperQueryBuilder): base64-embedded DSL."""
    import base64
    import json

    from opensearch_spark.search import from_dsl

    s = get_searcher(spark, sf_dir)
    inner = json.dumps({"match": {"text": "vector window"}})
    ast = from_dsl({"wrapper": {"query": base64.b64encode(inner.encode()).decode()}})
    return s.search(ast, k=10, mode="exhaustive", round_scores=4)


@q("api_analyze", """
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
           FROM documents WHERE doc_id < 10)
SELECT doc_id, CAST(unnest(range(len(toks))) AS INT) AS position,
       unnest(toks) AS token
FROM t ORDER BY doc_id, position
""")
def api_analyze(spark, sf_dir):
    """_analyze API (TransportAnalyzeAction.java): token stream with
    positions via the same vectorized analyzer UDF the build uses."""
    from opensearch_spark.search.apis import analyze_api

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 10).select("doc_id", "text")
    return analyze_api(d, "text", "standard").orderBy("doc_id", "position")


@q("api_validate_query", """
SELECT * FROM (VALUES
  ('good_bool', TRUE, '+text:spark lang:en'),
  ('good_match', TRUE, 'text:spark text:table'),
  ('bad_unknown', FALSE, '')
) AS v(query_id, valid, explanation)
ORDER BY query_id
""")
def api_validate_query(spark, sf_dir):
    """_validate/query API (TransportValidateQueryAction.java): parse
    result + Lucene-style rendered explanation per body; invalid bodies
    return valid=false instead of raising."""
    from opensearch_spark.search.apis import validate_query

    out = validate_query(spark, {
        "good_match": {"match": {"text": "spark table"}},
        "good_bool": {"bool": {"must": [{"match": {"text": "spark"}}],
                                "should": [{"term": {"lang": "en"}}]}},
        "bad_unknown": {"frobnicate": {"text": "x"}},
    })
    # error text is engine-specific: blank it for the valid=false row so
    # the oracle pins (query_id, valid) exactly and explanation for valid
    return out.select(
        "query_id", "valid",
        F.when(F.col("valid"), F.col("explanation"))
         .otherwise(F.lit("")).alias("explanation"),
    ).orderBy("query_id")


@q("api_painless_execute", """
SELECT context, result FROM (VALUES
    ('painless_test', CAST(100 * 2 + 5 AS DOUBLE)),
    ('filter', CASE WHEN 120 > 100 THEN CAST(1 AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END),
    ('score', round(ln(2 + 4) * 1.5, 4))
) AS v(context, result)
ORDER BY context
""")
def api_painless_execute(spark, sf_dir):
    """_scripts/painless/_execute (modules/lang-painless
    PainlessExecuteAction.java; rest-api-spec
    scripts_painless_execute.json): run a script outside any index in
    each of the reference's three contexts — painless_test (params
    only), filter (boolean over a provided document), score (double over
    a provided document). Scripts compile through the same
    Painless→Catalyst path the query engine uses; the oracle hand-inlines
    the arithmetic. Boolean results are encoded 1.0/0.0 so the frame
    stays single-typed."""
    from opensearch_spark.search.apis import painless_execute

    r1 = painless_execute(spark, "params.count * params.factor + 5",
                          {"count": 100, "factor": 2})
    r2 = painless_execute(spark, "doc['n_chars'].value > params.min",
                          {"min": 100}, context="filter",
                          document={"n_chars": 120})
    r3 = painless_execute(
        spark, "Math.log(2 + doc['votes'].value) * params.boost",
        {"boost": 1.5}, context="score", document={"votes": 4})
    rows = [("painless_test", float(r1)),
            ("filter", 1.0 if r2 else 0.0),
            ("score", round(float(r3), 4))]
    return spark.createDataFrame(rows, "context string, result double") \
        .orderBy("context")


def _pluralized(corpus: DataFrame) -> DataFrame:
    """Spark twin of O.PLURALIZE_SQL: inject plural forms into the corpus
    (its vocabulary has none) so the stemmer chain has real work to do."""
    return corpus.withColumn(
        "text",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), r"\btable\b", "tables"),
            r"\bquery\b", "queries"))


def _alt_searcher(spark, sf_dir, suffix: str, analyzer: str,
                  transform=None, index_options: str = "freqs",
                  **searcher_kw) -> Searcher:
    """Build (or reuse on disk) a secondary index over documents.text with a
    non-default analyzer chain; positions off (chained analyzers renumber
    positions — see analysis.analyzer filter-chain note)."""
    key = os.path.abspath(sf_dir)
    out = os.path.join(
        INDEX_ROOT,
        hashlib.sha256(key.encode()).hexdigest()[:16]) + "_" + suffix
    corpus = _docs(spark, sf_dir).select("doc_id", "text")
    if transform is not None:
        corpus = transform(corpus)
    n = corpus.count()
    idx = _load_or_build(
        spark, corpus, out,
        IndexConfig(field="text", analyzer=analyzer, id_col="doc_id",
                    n_parts=4, bucket_span=1 << 12,
                    index_options=index_options), n)
    idx.cache(spark)
    return Searcher(spark, idx, **searcher_kw)


def _copy_to_transform(corpus: DataFrame) -> DataFrame:
    """copy_to at index time: the title field's tokens (first 8 of text,
    the same derivation as with_title) are copied into the combined
    stream, so tf adds up and dl grows — the reference's behavior of
    indexing copied values into the target field's postings."""
    t = F.array_join(
        F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, TITLE_TOKENS), " ")
    return corpus.withColumn("text", F.concat_ws(" ", t, F.col("text")))


@q("search_copy_to", f"""
WITH ctok AS (
    SELECT doc_id, unnest(list_slice(
        string_split_regex(trim(text), '\\s+'), 1, 8)) AS term
    FROM documents
    UNION ALL
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
    FROM documents
),
ctok2 AS (SELECT doc_id, term FROM ctok WHERE term <> ''),
cdl AS (SELECT doc_id, count(*) AS dl FROM ctok2 GROUP BY doc_id),
cstats AS (
    SELECT (SELECT count(*) FROM documents) AS N,
           (SELECT sum(dl) FROM cdl) * 1.0
               / (SELECT count(*) FROM documents) AS avgdl
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM ctok2
       WHERE term IN ('merge', 'spark') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM ctok2
          WHERE term IN ('merge', 'spark') GROUP BY term),
scored AS (SELECT tf.doc_id, round(sum({O.bm25_term()}), 4) AS score
           FROM tf JOIN dfreq USING (term) JOIN cdl dl USING (doc_id)
           CROSS JOIN cstats stats GROUP BY tf.doc_id)
SELECT doc_id, score FROM scored
ORDER BY score DESC, doc_id LIMIT 10
""")
def search_copy_to(spark, sf_dir):
    """copy_to mapping parameter (index/mapper/FieldMapper.java CopyTo;
    TypeParsers.java parses it): source-field values are re-analyzed
    INTO the target field's postings at index time — tf adds up, dl
    grows, df counts the combined stream — so one query over the
    combined field replaces a multi_match. Probative vs plain match:
    docs whose first-8-token 'title' repeats a query term score
    differently than the text-only index. The oracle rebuilds the
    concatenated token stream and its own dl/avgdl."""
    cp = _alt_searcher(spark, sf_dir, "cpt", "standard",
                       transform=_copy_to_transform)
    return cp.search(Match(field="text", text="spark merge"), k=10,
                     mode="exhaustive", round_scores=4)


@q("api_analyze_chain", f"""
WITH src AS (
    SELECT doc_id, {O.PLURALIZE_SQL} AS text2
    FROM documents WHERE doc_id < 30
),
toks AS (
    SELECT doc_id, term, p FROM (
        SELECT doc_id,
               unnest(string_split_regex(text2, '\\s+')) AS term,
               unnest(range(len(string_split_regex(text2, '\\s+')))) AS p
        FROM src)
    WHERE term <> '' AND term NOT IN {O.ENGLISH_STOP_SQL}
)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p) - 1 AS INT)
           AS position,
       {O.stem_minimal_sql()} AS token
FROM toks ORDER BY doc_id, position
""")
def api_analyze_chain(spark, sf_dir):
    """_analyze with a token-filter chain (CommonAnalysisModulePlugin.java:
    stop + stemmer factories; Lucene EnglishMinimalStemFilter semantics):
    standard tokenizer → English stop removal → plural s-stemmer, positions
    renumbered after removal."""
    from opensearch_spark.search.apis import analyze_api

    d = _pluralized(
        _docs(spark, sf_dir).where(F.col("doc_id") < 30).select("doc_id", "text"))
    return analyze_api(d, "text", "english_light").orderBy("doc_id", "position")


@q("api_analyze_fold", """
WITH src AS (
    SELECT doc_id, replace(text, 'a', 'á') AS text2
    FROM documents WHERE doc_id < 20
),
t AS (SELECT doc_id, string_split_regex(trim(text2), '\\s+') AS toks FROM src)
SELECT doc_id, CAST(unnest(range(len(toks))) AS INT) AS position,
       strip_accents(unnest(toks)) AS token
FROM t ORDER BY doc_id, position
""")
def api_analyze_fold(spark, sf_dir):
    """asciifolding token filter (ASCIIFoldingTokenFilterFactory in
    common-analysis; Lucene ASCIIFoldingFilter): accents injected
    deterministically (a→á), folded back by the chain — the output token
    stream round-trips to the standard analysis of the original text."""
    from opensearch_spark.search.apis import analyze_api

    d = (_docs(spark, sf_dir).where(F.col("doc_id") < 20)
         .select("doc_id", F.regexp_replace("text", "a", "á").alias("text")))
    return analyze_api(d, "text", "fold").orderBy("doc_id", "position")


@q("api_analyze_icu", """
WITH src AS (SELECT doc_id, concat(text, ' x2y') AS text2
             FROM documents WHERE doc_id < 20),
t AS (SELECT doc_id, string_split_regex(trim(text2), '\\s+') AS toks FROM src)
SELECT doc_id, CAST(unnest(range(len(toks))) AS INT) AS position,
       unnest(toks) AS token
FROM t ORDER BY doc_id, position
""")
def api_analyze_icu(spark, sf_dir):
    """icu_normalizer nfkc_cf char filter (analysis-icu plugin:
    IcuNormalizerCharFilterFactory wrapping ICUNormalizer2CharFilter,
    default mode nfkc_cf). Compatibility characters are injected
    deterministically — every 'fi' becomes the ligature ﬁ (U+FB01) and a
    fullwidth token Ｘ２ｙ is appended — and the icu chain must return the
    stream to the plain-ascii standard analysis of the original text:
    NFKC decomposes the ligature and narrows the fullwidth forms, case
    folding lowers the fullwidth X. The oracle is the un-injected token
    stream, so a chain that skips normalization (tokens 'ﬁle', 'ｘ２ｙ')
    hash-mismatches on every doc."""
    from opensearch_spark.search.apis import analyze_api

    d = (_docs(spark, sf_dir).where(F.col("doc_id") < 20)
         .select("doc_id",
                 F.concat(F.regexp_replace("text", "fi", "ﬁ"),
                          F.lit(" Ｘ２ｙ")).alias("text")))
    return analyze_api(d, "text", "icu").orderBy("doc_id", "position")


@q("search_icu_collation_sort", """
WITH src AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN replace(split_part(trim(text), ' ', 1), 'a', 'á')
                WHEN doc_id % 3 = 1
                THEN replace(split_part(trim(text), ' ', 1), 'e', 'é')
                ELSE split_part(trim(text), ' ', 1) END AS title
    FROM documents)
SELECT doc_id, title FROM src
ORDER BY strip_accents(title), title, doc_id LIMIT 20
""")
def search_icu_collation_sort(spark, sf_dir):
    """icu_collation_keyword sort (analysis-icu plugin:
    ICUCollationKeywordFieldMapper, strength=primary): accents are
    ignored at the primary level, so 'ápple' collates at 'a' instead of
    binary-sorting after 'z'. Accents are injected deterministically on
    the first token by doc_id parity; the engine sorts by the
    Arrow-vectorized collation key (NFKD → strip marks → case fold) with
    original-string + doc_id tie-breaks, which the oracle mirrors with
    strip_accents. An engine sorting the raw strings mis-orders every
    accented row."""
    from opensearch_spark.analysis.analyzer import icu_collation_key_udf

    first_tok = F.split(F.trim(F.col("text")), " ").getItem(0)
    title = (F.when(F.col("doc_id") % 3 == 0,
                    F.regexp_replace(first_tok, "a", "á"))
             .when(F.col("doc_id") % 3 == 1,
                   F.regexp_replace(first_tok, "e", "é"))
             .otherwise(first_tok))
    d = _docs(spark, sf_dir).select("doc_id", title.alias("title"))
    key = icu_collation_key_udf()
    return (d.orderBy(key(F.col("title")), F.col("title"), F.col("doc_id"))
            .limit(20).select("doc_id", "title"))


@q("search_size_field", """
SELECT doc_id,
       octet_length(encode(text)) + octet_length(encode(lang))
       + octet_length(encode(source)) + 16 AS size
FROM documents
WHERE octet_length(encode(text)) + octet_length(encode(lang))
      + octet_length(encode(source)) + 16 BETWEEN 300 AND 600
ORDER BY size DESC, doc_id LIMIT 15
""")
def search_size_field(spark, sf_dir):
    """mapper-size plugin: the _size metadata field (SizeFieldMapper.java
    stores source.length() as an indexed long). Columnar _source, so
    _size = Σ octet_length(string fields) + 8 bytes per fixed-width
    field (doc_id, n_chars) — see index/mapping.py:with_size_field.
    Range filter + size sort, the two operations the plugin exists for;
    the range is non-empty at every test scale."""
    from opensearch_spark.index.mapping import with_size_field

    d = with_size_field(_docs(spark, sf_dir), ["text", "lang", "source"],
                        ["doc_id", "n_chars"])
    return (d.where(F.col("_size").between(300, 600))
            .orderBy(F.col("_size").desc(), "doc_id").limit(15)
            .select("doc_id", F.col("_size").alias("size")))


@q("search_match_stemmed", f"""
WITH src AS (SELECT doc_id, {O.PLURALIZE_SQL} AS text2 FROM documents),
tok2 AS (
    SELECT doc_id, {O.stem_minimal_sql()} AS term FROM (
        SELECT doc_id, unnest(string_split_regex(text2, '\\s+')) AS term
        FROM src)
    WHERE term <> '' AND term NOT IN {O.ENGLISH_STOP_SQL}
),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
    SELECT (SELECT count(*) FROM documents) AS N,
           (SELECT sum(dl) FROM dl) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('table','query') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('table','query') GROUP BY term),
scored AS (SELECT tf.doc_id, sum({O.bm25_term()}) AS raw_score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id)
SELECT doc_id, round(raw_score, 4) AS score
FROM scored ORDER BY round(raw_score, 4) DESC, doc_id LIMIT 10
""")
def search_match_stemmed(spark, sf_dir):
    """match over an english_light-analyzed index (stop + plural stemmer):
    query text 'tables queries' stems to the same terms the index stores,
    dl/avgdl computed post-filter — the analyzer-chain twin of the
    reference's `english` analyzer mapping."""
    s = _alt_searcher(spark, sf_dir, "stem", "english_light",
                      transform=_pluralized)
    return s.search(Match(field="text", text="tables queries"),
                    k=10, mode="wand", round_scores=4)


@q("search_edge_ngram_autocomplete", f"""
WITH toks AS (
    SELECT doc_id, term FROM (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
        FROM documents) WHERE term <> ''
),
dl AS (SELECT doc_id, sum(least(length(term), 8)) AS dl
       FROM toks GROUP BY doc_id),
stats AS (
    SELECT (SELECT count(*) FROM documents) AS N,
           (SELECT sum(dl) FROM dl) * 1.0
           / (SELECT count(*) FROM documents) AS avgdl
),
tf AS (SELECT doc_id, count(*) AS tf FROM toks
       WHERE term LIKE 'spa%' GROUP BY doc_id),
dfreq AS (SELECT count(*) AS df FROM tf)
SELECT tf.doc_id AS doc_id,
       round({O.bm25_term()}, 4) AS score
FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats
ORDER BY score DESC, tf.doc_id LIMIT 10
""")
def search_edge_ngram_autocomplete(spark, sf_dir):
    """search-as-you-type: index side edge_ngram(1,8) filter
    (EdgeNGramTokenFilterFactory in common-analysis), query side standard —
    the reference's autocomplete mapping pattern (index_analyzer ≠
    search_analyzer). BM25 over the ngram stream: dl counts emitted grams,
    tf('spa') = tokens with that prefix."""
    s = _alt_searcher(spark, sf_dir, "edge", "edge_ngram_1_8")
    return s.search(
        Match(field="text", text="spa", analyzer="standard"),
        k=10, mode="wand", round_scores=4)


@q("search_match_only_text", f"""
WITH {O.TOK_CTES},
hit AS (SELECT DISTINCT doc_id, term FROM tok2
        WHERE term IN ('spark','vector','merge')),
dfreq AS (SELECT term, count(*) AS df FROM hit GROUP BY term),
scored AS (
    SELECT hit.doc_id, sum({O.bm25_term(tf='1')}) AS raw_score
    FROM hit JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
    GROUP BY hit.doc_id)
SELECT doc_id, round(raw_score, 4) AS score
FROM scored ORDER BY round(raw_score, 4) DESC, doc_id LIMIT 10
""")
def search_match_only_text(spark, sf_dir):
    """match_only_text field type (MatchOnlyTextFieldMapper.java:42,59 —
    IndexOptions.DOCS): postings store no term frequencies, scoring treats
    tf≡1, norms (dl) kept; the cheap high-volume-logs mapping. Index built
    with index_options='docs'; same WAND machinery on the degenerate tf."""
    s = _alt_searcher(spark, sf_dir, "mot", "standard", index_options="docs")
    return s.search(Match(field="text", text="spark vector merge"),
                    k=10, mode="wand", round_scores=4)


@q("search_synonym_match", O.match_sql(["table", "fast"], k=10))
def search_synonym_match(spark, sf_dir):
    """query-time synonym expansion (SynonymTokenFilterFactory, rules
    `tbl => table`, `rapid => fast`): the match query's analyzer param
    routes 'tbl rapid' through the synonym chain onto the standard index —
    same hits and scores as matching the canonical terms directly."""
    s = get_searcher(spark, sf_dir)
    return s.search(
        Match(field="text", text="tbl rapid", analyzer="synonym_demo"),
        k=10, mode="wand", round_scores=4)


@q("search_synonym_graph", O.match_sql(["sort", "scan"], k=10))
def search_synonym_graph(spark, sf_dir):
    """multi-word synonym_graph (SynonymGraphFilterFactory in
    modules/common-analysis, rule `key order => sort`): the query-time
    greedy longest-match scan contracts the phrase to its canonical term
    onto the standard index — same hits and scores as matching the
    canonical terms directly."""
    s = get_searcher(spark, sf_dir)
    return s.search(
        Match(field="text", text="key order scan",
              analyzer="synonym_graph_demo"),
        k=10, mode="wand", round_scores=4)


@q("search_percolate_phrase", """
WITH t AS (SELECT doc_id,
                  ' ' || regexp_replace(trim(text), '\\s+', ' ', 'g') || ' '
                      AS s
           FROM documents)
SELECT doc_id, 1 AS query_id FROM t WHERE contains(s, ' spark table ')
UNION ALL
SELECT doc_id, 2 FROM t WHERE contains(s, ' merge sort window ')
ORDER BY query_id, doc_id
""")
def search_percolate_phrase(spark, sf_dir):
    """Percolation with PHRASE stored queries (QueryAnalyzer.java extracts
    phrases with positions): all-terms prefilter join, then exact
    in-order adjacency verified on the analyzed token stream — pure
    codegen contains() on the boundary-padded joined stream, no position
    explode."""
    from opensearch_spark.search.percolate import PercQuery, percolate

    d = _docs(spark, sf_dir)
    qs = [PercQuery(1, "phrase", "text", terms=("spark", "table")),
          PercQuery(2, "phrase", "text", terms=("merge", "sort", "window"))]
    return (percolate(spark, qs, d)
            .withColumn("query_id", F.col("query_id").cast("int"))
            .orderBy("query_id", "doc_id"))


@q("api_index_template_resolve", """
SELECT * FROM (VALUES
  ('logs-2024',      'logs',         1, 'standard',      4),
  ('logs-special-7', 'logs-special', 1, 'standard_code', 1),
  ('metrics-x',      'catchall',     0, 'standard',      1)
) AS v(index_name, template, matched_priority_nonzero, analyzer, shards)
ORDER BY index_name
""")
def api_index_template_resolve(spark, sf_dir):
    """Composable index-template resolution (indices.put_index_template /
    simulate_index_template — MetadataIndexTemplateService.java
    findV2Template + resolveSettings): highest-priority pattern match,
    component templates merged in composed_of order, template's own
    settings override. Cluster-state logic is driver-side; the oracle
    pins the resolved config literally."""
    from opensearch_spark.index.templates import (ComponentTemplate,
                                                  IndexTemplate,
                                                  TemplateRegistry)

    r = TemplateRegistry()
    r.put_component("base", ComponentTemplate(
        settings={"number_of_shards": 1, "analyzer": "standard"}))
    r.put_component("code", ComponentTemplate(
        settings={"analyzer": "standard_code"}))
    r.put_template("logs", IndexTemplate(
        index_patterns=("logs-*",), priority=10, composed_of=("base",),
        settings={"number_of_shards": 4}))
    r.put_template("logs-special", IndexTemplate(
        index_patterns=("logs-special-*",), priority=20,
        composed_of=("base", "code")))
    r.put_template("catchall", IndexTemplate(
        index_patterns=("*",), priority=0,
        settings={"number_of_shards": 1, "analyzer": "standard"}))
    rows = []
    for idx in ("logs-2024", "logs-special-7", "metrics-x"):
        res = r.resolve(idx)
        rows.append((idx, res["template"],
                     1 if r.templates[res["template"]].priority > 0 else 0,
                     res["settings"]["analyzer"],
                     res["settings"]["number_of_shards"]))
    return spark.createDataFrame(
        rows, "index_name string, template string, "
              "matched_priority_nonzero int, analyzer string, shards int"
    ).orderBy("index_name")


@q("api_analyze_graph", """
SELECT * FROM (VALUES
  (0, 0, 'the'), (0, 1, 'sort'), (0, 2, 'scan'),
  (1, 0, 'join'), (1, 1, 'fast'),
  (2, 0, 'table'), (2, 1, 'sort'),
  (3, 0, 'table'), (3, 1, 'key'), (3, 2, 'pandas'), (3, 3, 'index')
) AS v(case_id, position, token)
ORDER BY case_id, position
""")
def api_analyze_graph(spark, sf_dir):
    """_analyze over the graph-synonym and protected-stemming chains:
    synonym_graph (multi-token contraction, greedy longest match first),
    keyword_marker (protects 'pandas' from the s-stemmer), and
    stemmer_override ('indices => index', implicitly protected from
    further stemming) — CommonAnalysisModulePlugin.java factories; token
    streams pinned against hand-computed literals."""
    from opensearch_spark.search.apis import analyze_api

    rows = [(0, "synonym_graph_demo", "the key order scan"),
            (1, "synonym_graph_demo", "hash join probe fast"),
            (2, "synonym_graph_demo", "tbl key order"),
            (3, "english_protected", "tables keys pandas indices")]
    d = spark.createDataFrame(rows, "case_id int, analyzer string, text string")
    parts = [
        analyze_api(d.where(F.col("analyzer") == a).drop("analyzer"),
                    "text", a)
        for a in ("synonym_graph_demo", "english_protected")]
    return parts[0].unionByName(parts[1]).orderBy("case_id", "position")


def _bpe_chain_sql(n_merges: int) -> str:
    """Machine-generated DuckDB twin of the FULL BPE training loop
    (ml/bpe.py conventions: ASCII \\s+ words, </w> end-of-word sentinel,
    pair freq = every adjacent occurrence × word count, best = max freq
    with (left, right) ASC tie-break, min_freq 2, greedy left-to-right
    merge application). Each round k is one pair-count aggregation
    (``p{k}``), one argmax (``b{k}``), and one RECURSIVE greedy merge
    walk (``m{k}``: per word, a deterministic single-chain fold that
    consumes two symbols on a pair hit, one otherwise — exactly
    _merge_word). An empty ``b{k}`` (best freq < 2) degrades to the
    identity walk, mirroring the engine's training break. Returns the
    shared CTE chain ending at ``w{n_merges}`` (final symbol table) —
    the train oracle unions the ``b{k}``; the encode oracle reuses the
    final state, valid because applying merges in rank order reproduces
    the training segmentation for every trained word (no later merge
    can create a lower-rank pair: its tokens didn't exist earlier)."""
    parts = [r"""
wc_bpe AS MATERIALIZED (
  SELECT word, count(*) AS cnt FROM (
    SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
    FROM documents)
  WHERE word <> '' GROUP BY word
),
w0 AS MATERIALIZED (
  SELECT word, cnt,
         list_append(
           list_transform(range(1, length(word)), i -> word[i]),
           word[length(word)] || '</w>') AS syms
  FROM wc_bpe
)"""]
    for k in range(1, n_merges + 1):
        hit = (f"i < len(syms) AND syms[i] = (SELECT l FROM b{k}) "
               f"AND syms[i+1] = (SELECT r FROM b{k})")
        parts.append(f"""
p{k} AS MATERIALIZED (
  SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt) AS freq
  FROM (SELECT cnt, syms, unnest(range(1, len(syms))) AS i FROM w{k - 1})
  GROUP BY 1, 2
),
b{k} AS MATERIALIZED (SELECT l, r, freq FROM p{k} WHERE freq >= 2
         ORDER BY freq DESC, l, r LIMIT 1),
m{k} AS (
  SELECT word, cnt, syms, 1 AS i, CAST([] AS VARCHAR[]) AS acc FROM w{k - 1}
  UNION ALL
  SELECT word, cnt, syms,
         CASE WHEN {hit} THEN i + 2 ELSE i + 1 END,
         CASE WHEN {hit}
              THEN list_append(acc, (SELECT l || r FROM b{k}))
              ELSE list_append(acc, syms[i]) END
  FROM m{k} WHERE i <= len(syms)
),
w{k} AS MATERIALIZED (SELECT word, cnt, acc AS syms FROM m{k} WHERE i > len(syms))""")
    return "WITH RECURSIVE " + ",".join(parts)


def _bpe_train_sql(n_merges: int = 16) -> str:
    rows = " UNION ALL ".join(
        f'SELECT CAST({k - 1} AS INT) AS rank, l AS "left", r AS "right", '
        f"CAST(freq AS BIGINT) AS freq FROM b{k}"
        for k in range(1, n_merges + 1))
    return f"{_bpe_chain_sql(n_merges)} SELECT * FROM ({rows}) ORDER BY rank"


def _bpe_encode_sql(n_merges: int = 16, max_doc: int = 200) -> str:
    return f"""{_bpe_chain_sql(n_merges)},
doc_words AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
    FROM documents WHERE doc_id < {max_doc})
  WHERE word <> ''
),
per_doc AS (
  SELECT d.doc_id, sum(len(w.syms)) AS n
  FROM doc_words d JOIN w{n_merges} w USING (word) GROUP BY d.doc_id
)
SELECT base.doc_id, CAST(coalesce(per_doc.n, 0) AS INT) AS n_tokens
FROM (SELECT doc_id FROM documents WHERE doc_id < {max_doc}) base
LEFT JOIN per_doc USING (doc_id) ORDER BY base.doc_id
"""


@q("text_bpe_train", _bpe_train_sql())
def text_bpe_train(spark, sf_dir):
    """BPE tokenizer training over the corpus (ml/bpe.py): ONE
    corpus-scale word-count shuffle, then the merge loop runs at
    vocabulary scale — collected locally under the auto threshold,
    distributed rounds with checkpoint discipline above it. Returns the
    merge table (rank, left, right, freq) in training order. The oracle
    is a from-scratch DuckDB BPE (recursive-CTE merge walks, no inlined
    constants — see _bpe_chain_sql), so the gate is full-value-hash."""
    from opensearch_spark.ml.bpe import bpe_train

    d = _docs(spark, sf_dir)
    return bpe_train(d, "text", n_merges=16).orderBy("rank")


@q("text_bpe_encode", _bpe_encode_sql())
def text_bpe_encode(spark, sf_dir):
    """Encode the corpus with the trained merges: Arrow-batched
    mapInPandas with a per-partition word cache; corpus scanned once,
    merge table a closure broadcast. Oracle: the training chain's final
    symbol table IS the encoding of every trained word (rank-order
    replay property), so per-doc n_tokens is a word-length join."""
    from opensearch_spark.ml.bpe import bpe_encode, bpe_train

    d = _docs(spark, sf_dir)
    merges = [(r["left"], r["right"])
              for r in bpe_train(d, "text", n_merges=16).collect()]
    return (bpe_encode(d.where(F.col("doc_id") < 200), "text", merges)
            .select("doc_id", "n_tokens").orderBy("doc_id"))


@q("curation_chunk_documents", """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
  FROM documents WHERE doc_id < 40
),
s AS (
  SELECT doc_id, toks,
         unnest(range(0, greatest(len(toks) - 8 - 1, 0) + 1, 24)) AS start_token
  FROM t WHERE len(toks) > 0
),
c AS (
  SELECT doc_id,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_token) - 1
              AS INT) AS chunk_id,
         CAST(start_token AS INT) AS start_token,
         list_slice(toks, start_token + 1, start_token + 32) AS chunk
  FROM s
)
SELECT doc_id, chunk_id, start_token,
       CAST(len(chunk) AS INT) AS n_chunk_tokens,
       array_to_string(chunk, ' ') AS chunk_text
FROM c ORDER BY doc_id, chunk_id
""")
def curation_chunk_documents(spark, sf_dir):
    """RAG-ingestion chunking (ml/curation.py chunk_documents): 32-token
    chunks, 8-token overlap between consecutive chunks — pure codegen
    sequence+slice, no UDF, no shuffle; the oracle mirrors it with
    range()/list_slice."""
    from opensearch_spark.ml.curation import chunk_documents

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 40)
    return (chunk_documents(d, "text", "doc_id",
                            chunk_tokens=32, overlap=8)
            .orderBy("doc_id", "chunk_id"))


@q("curation_gopher_quality", f"""
WITH words AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
    FROM documents
),
m AS (
    SELECT doc_id,
           len(toks) AS n_words,
           list_aggregate(list_transform(toks, t -> length(t)), 'sum') * 1.0
               / len(toks) AS mean_word_len,
           len(list_filter(toks, t -> t IN ('a','an','and','the','to','of',
                                            'is','in','that','with')))
               AS stop_hits,
           len(list_distinct(toks)) * 1.0 / len(toks) AS distinct_ratio
    FROM words
)
SELECT doc_id, n_words, round(mean_word_len, 4) AS mean_word_len,
       stop_hits, round(distinct_ratio, 4) AS distinct_ratio,
       (n_words BETWEEN 5 AND 10000
        AND mean_word_len BETWEEN 2 AND 12
        AND stop_hits >= 1
        AND distinct_ratio >= 0.2) AS keep
FROM m ORDER BY doc_id
""")
def curation_gopher_quality(spark, sf_dir):
    """Gopher-style composite quality rules (Rae et al. 2021 §A1.1, public):
    word-count bounds, mean-word-length window, stopword presence, and a
    distinct-token-ratio repetition guard — one codegen pass, no UDFs; the
    standard pre-training quality filter alongside text_quality's ratios."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    stopset = ("a", "an", "and", "the", "to", "of", "is", "in", "that", "with")
    m = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        (F.aggregate(F.transform(toks, lambda t: F.length(t)),
                     F.lit(0), lambda a, x: a + x).cast("double")
         / F.size(toks)).alias("mean_word_len"),
        F.size(F.filter(toks, lambda t: t.isin(*stopset))).alias("stop_hits"),
        (F.size(F.array_distinct(toks)).cast("double")
         / F.size(toks)).alias("distinct_ratio"),
    )
    return m.select(
        "doc_id", "n_words",
        F.round("mean_word_len", 4).alias("mean_word_len"),
        "stop_hits",
        F.round("distinct_ratio", 4).alias("distinct_ratio"),
        (F.col("n_words").between(5, 10000)
         & F.col("mean_word_len").between(2, 12)
         & (F.col("stop_hits") >= 1)
         & (F.col("distinct_ratio") >= 0.2)).alias("keep"),
    ).orderBy("doc_id")


@q("search_template", O.match_sql(["vector", "window"], k=10))
def search_template(spark, sf_dir):
    """_search/template (mustache interpolation subset): render params
    into a JSON source, parse, execute — same result as the direct DSL."""
    from opensearch_spark.search import from_dsl
    from opensearch_spark.search.apis import render_search_template

    s = get_searcher(spark, sf_dir)
    body = render_search_template(
        '{"match": {"{{field}}": "{{q}}"}}',
        {"field": "text", "q": "vector window"})
    return s.search(from_dsl(body), k=10, mode="exhaustive", round_scores=4)


@q("search_derived_field", """
SELECT doc_id, round(n_chars * 1.0 / NULLIF(length(text) - length(replace(text, ' ', '')) + 1, 0), 4) AS chars_per_token
FROM documents ORDER BY doc_id LIMIT 100
""")
def search_derived_field(spark, sf_dir):
    """Derived field (DerivedFieldMapper): computed-at-query-time column."""
    d = _docs(spark, sf_dir)
    n_tok = F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
    return (d.select(
        "doc_id",
        F.round(F.col("n_chars") * 1.0 / F.nullif(n_tok, F.lit(0)), 4)
         .alias("chars_per_token"))
        .orderBy("doc_id").limit(100))


# --------------------------------------------------------------------------
# aggregations — metric / bucket (search/aggregations/*) as DataFrame plans
# --------------------------------------------------------------------------
def _t(spark, sf_dir, name):
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


@q("agg_terms", """
SELECT event_type, count(*) AS doc_count FROM events
GROUP BY event_type ORDER BY doc_count DESC, event_type LIMIT 5
""")
def agg_terms(spark, sf_dir):
    """terms agg (TermsAggregationBuilder): top-N buckets by count. Exact
    single-pass; the reference's sharded approximation contract
    (shard_size over-fetch + error bounds) is gated separately by
    agg_terms_sharded."""
    return (_t(spark, sf_dir, "events").groupBy("event_type")
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("event_type")).limit(5))


@q("agg_terms_sharded", """
WITH per_shard AS (
  SELECT o_orderkey % 8 AS shard, o_custkey AS term, count(*) AS cnt
  FROM orders GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY shard
                               ORDER BY cnt DESC, term ASC) AS rn
  FROM per_shard
),
top AS (SELECT * FROM ranked WHERE rn <= 10),
shard_min AS (
  SELECT shard,
         CASE WHEN count(*) >= 10 THEN min(cnt) ELSE 0 END AS mincnt
  FROM top GROUP BY shard
),
total_min AS (SELECT sum(mincnt) AS s FROM shard_min),
merged AS (
  SELECT t.term,
         CAST(sum(t.cnt) AS BIGINT) AS doc_count,
         CAST((SELECT s FROM total_min) - sum(sm.mincnt) AS BIGINT)
             AS doc_count_error
  FROM top t JOIN shard_min sm ON t.shard = sm.shard
  GROUP BY t.term
),
topk AS (SELECT * FROM merged ORDER BY doc_count DESC, term ASC LIMIT 5)
SELECT term, doc_count, doc_count_error,
       CAST((SELECT count(*) FROM orders)
            - (SELECT sum(doc_count) FROM topk) AS BIGINT)
           AS sum_other_doc_count,
       CAST((SELECT s FROM total_min) AS BIGINT) AS error_upper_bound
FROM topk ORDER BY doc_count DESC, term ASC
""")
def agg_terms_sharded(spark, sf_dir):
    """terms agg under the DISTRIBUTED approximation contract
    (TermsAggregator.java shard_size over-fetch + InternalTerms.java
    coordinator merge): documents route to 8 shards by o_orderkey, each
    shard returns its local top-10 custkeys, the merge under-counts and
    reports per-term doc_count_error, sum_other_doc_count, and the global
    doc_count_error_upper_bound — closing the semantic diff noted on
    agg_terms (which is exact single-pass). Unit-tested against an
    independent Counter-based oracle + the exact-count bound invariant
    in tests/test_sharded_terms.py."""
    from opensearch_spark.search.sharded_terms import sharded_terms
    df = _t(spark, sf_dir, "orders")
    return sharded_terms(df, "o_custkey",
                         F.pmod(F.col("o_orderkey"), F.lit(8)), 8, 10, 5)


@q("agg_multi_terms", """
SELECT l_returnflag, l_linestatus, count(*) AS doc_count,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""")
def agg_multi_terms(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("doc_count"),
                 F.round(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                         .cast("double"), 2).alias("sum_qty"))
            .orderBy("l_returnflag", "l_linestatus"))


@q("agg_rare_terms", """
SELECT o_orderpriority AS term, count(*) AS doc_count FROM orders
GROUP BY o_orderpriority HAVING count(*) <= 13000 ORDER BY term
""")
def agg_rare_terms(spark, sf_dir):
    """rare_terms (RareTermsAggregationBuilder): buckets with doc_count<=N."""
    return (_t(spark, sf_dir, "orders").groupBy(F.col("o_orderpriority").alias("term"))
            .agg(F.count("*").alias("doc_count"))
            .where(F.col("doc_count") <= 13000).orderBy("term"))


@q("agg_histogram", """
SELECT CAST(floor(o_totalprice / 50000.0) * 50000 AS DOUBLE) AS bucket,
       count(*) AS doc_count
FROM orders GROUP BY bucket ORDER BY bucket
""")
def agg_histogram(spark, sf_dir):
    return (_t(spark, sf_dir, "orders")
            .groupBy((F.floor(F.col("o_totalprice") / 50000.0) * 50000)
                     .cast("double").alias("bucket"))
            .agg(F.count("*").alias("doc_count")).orderBy("bucket"))


@q("agg_variable_width_histogram", """
WITH b AS (SELECT quantile_cont(o_totalprice,
               [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qs
           FROM orders),
a AS (SELECT o_totalprice AS v,
             len(list_filter((SELECT qs FROM b), q -> v >= q)) AS bucket
      FROM orders)
SELECT bucket, min(v) AS min_val, max(v) AS max_val,
       round(avg(v), 6) AS centroid, count(*) AS doc_count
FROM a GROUP BY bucket ORDER BY bucket
""")
def agg_variable_width_histogram(spark, sf_dir):
    """variable_width_histogram re-expressed Spark-first: the reference's
    collector (VariableWidthHistogramAggregator.java) streams values into
    nearest-centroid clusters, which makes bucket boundaries depend on
    document arrival ORDER — not reproducible across shard orderings even
    against itself. The distribution-sound deterministic equivalent is
    equal-depth bucketing at exact quantile boundaries (buckets adapt
    their width to the data, the aggregation's whole point), which also
    distributes: one bounded percentile aggregate (swap in
    approx_percentile at 100 TB, documented tolerance) + one hash agg on
    the bucket id. Spark's exact `percentile` linear interpolation is
    bit-identical to DuckDB's quantile_cont (verified at both SFs).
    Returns per-bucket min/max/centroid/count like the reference's
    response (min, max, centroid = its cluster stats)."""
    df = _t(spark, sf_dir, "orders")
    ps = [k / 8 for k in range(1, 8)]
    qs = df.select(F.expr(
        f"percentile(o_totalprice, array({','.join(map(str, ps))}))"
    ).alias("q")).collect()[0]["q"]
    bucket = sum(
        (F.col("o_totalprice") >= F.lit(float(b))).cast("int") for b in qs
    ).cast("long").alias("bucket")
    return (df.select(F.col("o_totalprice").alias("v"), bucket)
            .groupBy("bucket")
            .agg(F.min("v").alias("min_val"), F.max("v").alias("max_val"),
                 F.round(F.avg("v"), 6).alias("centroid"),
                 F.count("*").alias("doc_count"))
            .orderBy("bucket"))


@q("agg_date_histogram", """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, count(*) AS doc_count,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events GROUP BY day ORDER BY day
""")
def agg_date_histogram(spark, sf_dir):
    """date_histogram (DateHistogramAggregator): calendar-day buckets."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                       .alias("day"))
            .agg(F.count("*").alias("doc_count"),
                 F.round(F.sum(F.col("value").cast("decimal(18,6)"))
                         .cast("double"), 4).alias("sum_value"))
            .orderBy("day"))


@q("agg_date_histogram_offset", """
SELECT strftime(to_timestamp(
           CAST(floor((epoch(ts) - 21600) / 86400.0) AS BIGINT) * 86400 + 21600),
           '%Y-%m-%d %H:%M:%S') AS bucket,
       count(*) AS doc_count
FROM events GROUP BY bucket ORDER BY bucket
""")
def agg_date_histogram_offset(spark, sf_dir):
    """date_histogram with offset (DateHistogramAggregationBuilder offset
    param / DateIntervalWrapper): fixed_interval=1d shifted by +6h — the
    bucket boundary falls at 06:00, not midnight. Bucketing is pure epoch
    arithmetic in the column's OWN type (timestampdiff/timestampadd on an
    NTZ epoch literal — the correlation.py posture): unix_timestamp /
    from_unixtime would shift labels by the driver session's timezone,
    and the driver runs gates in ITS OWN SparkSession. One map-side
    expression + one shuffle, identical at any corpus size."""
    ev = _t(spark, sf_dir, "events")
    off, day = 21600, 86400
    lit = ("TIMESTAMP_NTZ'1970-01-01 00:00:00'"
           if dict(ev.dtypes)["ts"] == "timestamp_ntz"
           else "CAST(0 AS TIMESTAMP)")
    bucket = F.expr(
        f"date_format(timestampadd(SECOND, CAST("
        f"((timestampdiff(SECOND, {lit}, ts) - {off}) div {day}) * {day} "
        f"+ {off} AS BIGINT), {lit}), 'yyyy-MM-dd HH:mm:ss')"
    ).alias("bucket")
    return (ev.groupBy(bucket).agg(F.count("*").alias("doc_count"))
            .orderBy("bucket"))


@q("agg_histogram_bounds", """
WITH spine AS (
    SELECT 50 * g AS bucket FROM generate_series(0, 11) AS t(g)
),
counts AS (
    SELECT CAST(floor(value / 50) * 50 AS BIGINT) AS bucket,
           count(*) AS doc_count
    FROM events WHERE value >= 0 AND value < 600
    GROUP BY 1
)
SELECT s.bucket, coalesce(c.doc_count, 0) AS doc_count
FROM spine s LEFT JOIN counts c USING (bucket) ORDER BY s.bucket
""")
def agg_histogram_bounds(spark, sf_dir):
    """histogram with extended_bounds + hard_bounds + min_doc_count=0
    (HistogramAggregationBuilder extendedBounds/hardBounds): empty
    buckets inside [0, 600) materialize with doc_count=0; values outside
    the hard bounds are clipped. The bucket spine is generated
    plan-side (sequence + explode over literals — a handful of rows),
    left-joined against the aggregated counts: no collect, and the
    (bucket-count-sized) aggregated side broadcasts."""
    ev = _t(spark, sf_dir, "events")
    counts = (ev.where((F.col("value") >= 0) & (F.col("value") < 600))
              .groupBy((F.floor(F.col("value") / 50) * 50)
                       .cast("bigint").alias("bucket"))
              .agg(F.count("*").alias("doc_count")))
    spine = (spark.range(1).select(
        F.explode(F.sequence(F.lit(0), F.lit(550), F.lit(50))).alias("bucket"))
        .select(F.col("bucket").cast("bigint").alias("bucket")))
    return (spine.join(F.broadcast(counts), "bucket", "left")
            .select("bucket",
                    F.coalesce("doc_count", F.lit(0)).alias("doc_count"))
            .orderBy("bucket"))


@q("agg_terms_include_exclude", """
SELECT event_type, count(*) AS doc_count FROM events
WHERE regexp_matches(event_type, '^(s|p|c).*')
  AND event_type NOT IN ('purchase')
GROUP BY event_type ORDER BY doc_count DESC, event_type LIMIT 5
""")
def agg_terms_include_exclude(spark, sf_dir):
    """terms agg include/exclude (IncludeExclude.java): include regex
    filters candidate buckets, exclude drops exact values — both applied
    BEFORE bucket ranking (reference semantics), as a map-side predicate
    so excluded terms never enter the shuffle."""
    ev = _t(spark, sf_dir, "events")
    return (ev.where(F.col("event_type").rlike("^(s|p|c)")
                     & ~F.col("event_type").isin("purchase"))
            .groupBy("event_type").agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("event_type")).limit(5))


@q("agg_terms_order_subagg", """
SELECT event_type, count(*) AS doc_count,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS avg_value
FROM events GROUP BY event_type
ORDER BY avg_value DESC, event_type LIMIT 3
""")
def agg_terms_order_subagg(spark, sf_dir):
    """terms agg ordered by a sub-aggregation (BucketOrder.aggregation,
    InternalOrder.java): buckets ranked by avg(value) desc instead of
    doc_count — one partial-aggregated groupBy, the ordering is applied
    to the (small) bucket frame. Decimal-exact sum so partial-agg order
    can't perturb the tie-break."""
    ev = _t(spark, sf_dir, "events")
    dec = F.sum(F.col("value").cast("decimal(18,6)"))
    return (ev.groupBy("event_type")
            .agg(F.count("*").alias("doc_count"),
                 F.round(dec.cast("double") / F.count("*"), 6).alias("avg_value"))
            .orderBy(F.desc("avg_value"), F.asc("event_type")).limit(3))


@q("agg_range", """
SELECT CASE WHEN l_quantity < 10 THEN '*-10'
            WHEN l_quantity < 25 THEN '10-25'
            WHEN l_quantity < 40 THEN '25-40'
            ELSE '40-*' END AS range_bucket,
       count(*) AS doc_count
FROM lineitem GROUP BY range_bucket ORDER BY range_bucket
""")
def agg_range(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    bucket = (F.when(F.col("l_quantity") < 10, "*-10")
              .when(F.col("l_quantity") < 25, "10-25")
              .when(F.col("l_quantity") < 40, "25-40")
              .otherwise("40-*")).alias("range_bucket")
    return (li.groupBy(bucket).agg(F.count("*").alias("doc_count"))
            .orderBy("range_bucket"))


@q("agg_stats", """
SELECT l_returnflag,
       count(*) AS cnt,
       round(CAST(min(l_extendedprice) AS DOUBLE), 2) AS min_price,
       round(CAST(max(l_extendedprice) AS DOUBLE), 2) AS max_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(*), 4) AS avg_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")
def agg_stats(spark, sf_dir):
    """stats agg — sums over exact decimals so partial-agg order can't
    perturb the float result (the reference uses Kahan compensation for the
    same reason, CompensatedSum.java)."""
    li = _t(spark, sf_dir, "lineitem")
    dec = F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    return (li.groupBy("l_returnflag")
            .agg(F.count("*").alias("cnt"),
                 F.round(F.min("l_extendedprice").cast("double"), 2).alias("min_price"),
                 F.round(F.max("l_extendedprice").cast("double"), 2).alias("max_price"),
                 F.round(dec.cast("double"), 2).alias("sum_price"),
                 F.round(dec.cast("double") / F.count("*"), 4).alias("avg_price"))
            .orderBy("l_returnflag"))


@q("agg_extended_stats", """
SELECT l_linestatus,
       count(*) AS cnt,
       round((CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
              - CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                * CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*))
             / count(*), 4) AS variance_pop
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
""")
def agg_extended_stats(spark, sf_dir):
    """extended_stats: population variance from exact decimal moments —
    deterministic across partial-agg orders."""
    li = _t(spark, sf_dir, "lineitem")
    d = F.col("l_quantity").cast("decimal(18,2)")
    s1 = F.sum(d).cast("double")
    s2 = F.sum(d * d).cast("double")
    n = F.count("*")
    return (li.groupBy("l_linestatus")
            .agg(n.alias("cnt"),
                 F.round((s2 - s1 * s1 / n) / n, 4).alias("variance_pop"))
            .orderBy("l_linestatus"))


@q("agg_percentiles", """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.95), 4) AS p95
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""")
def agg_percentiles(spark, sf_dir):
    """percentiles agg — exact interpolated (the reference's t-digest is
    approximate; we use Spark's exact percentile; approx_percentile exists
    as the sketch path at scale)."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
                 F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"))
            .orderBy("o_orderpriority"))


@q("agg_cardinality", """
SELECT l_returnflag, count(DISTINCT l_partkey) AS uniq_parts
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")
def agg_cardinality(spark, sf_dir):
    """cardinality agg. Gate uses exact countDistinct; the reference's
    HLL++ (HyperLogLogPlusPlus.java) maps to approx_count_distinct — same
    sketch family — exercised in tests with tolerance instead (different
    hash seeds make value-equality meaningless)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_partkey").alias("uniq_parts"))
            .orderBy("l_returnflag"))


@q("agg_weighted_avg", """
SELECT l_returnflag,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4) AS wavg
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")
def agg_weighted_avg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    v = F.col("l_extendedprice").cast("decimal(18,2)")
    w = F.col("l_quantity").cast("decimal(18,2)")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.sum(v * w).cast("double")
                         / F.sum(w).cast("double"), 4).alias("wavg"))
            .orderBy("l_returnflag"))


@q("agg_filters", """
SELECT count(*) FILTER (WHERE event_type = 'click') AS clicks,
       count(*) FILTER (WHERE event_type = 'view') AS views,
       count(*) FILTER (WHERE value > 50.0) AS high_value
FROM events
""")
def agg_filters(spark, sf_dir):
    """filters agg (FiltersAggregator): named conditional buckets."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("views"),
        F.count(F.when(F.col("value") > 50.0, 1)).alias("high_value"))


@q("agg_missing", """
SELECT count(*) FILTER (WHERE nullif(l_returnflag, 'N') IS NULL) AS missing_count,
       count(*) FILTER (WHERE nullif(l_returnflag, 'N') IS NOT NULL) AS present_count
FROM lineitem
""")
def agg_missing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "_x", F.nullif(F.col("l_returnflag"), F.lit("N")))
    return li.agg(F.count(F.when(F.col("_x").isNull(), 1)).alias("missing_count"),
                  F.count("_x").alias("present_count"))


@q("agg_composite", """
SELECT lang, source, count(*) AS doc_count FROM documents
GROUP BY lang, source
HAVING (lang, source) > ('de', 'src3')
ORDER BY lang, source LIMIT 10
""")
def agg_composite(spark, sf_dir):
    """composite agg (CompositeAggregator): paginated multi-source group-by
    with after-key — WHERE key-tuple > cursor, ordered, limited."""
    d = _docs(spark, sf_dir)
    g = d.groupBy("lang", "source").agg(F.count("*").alias("doc_count"))
    after = (F.col("lang") > "de") | ((F.col("lang") == "de") & (F.col("source") > "src3"))
    return g.where(after).orderBy("lang", "source").limit(10)


@q("agg_significant_terms", """
WITH fg AS (SELECT event_type, count(*) AS fg_count FROM events
            WHERE value > 90.0 GROUP BY event_type),
bg AS (SELECT event_type, count(*) AS bg_count FROM events GROUP BY event_type),
tot AS (SELECT (SELECT count(*) FROM events WHERE value > 90.0) AS fg_total,
               (SELECT count(*) FROM events) AS bg_total)
SELECT f.event_type, f.fg_count, b.bg_count,
       round(((f.fg_count * 1.0 / fg_total) - (b.bg_count * 1.0 / bg_total))
             * ((f.fg_count * 1.0 / fg_total) / (b.bg_count * 1.0 / bg_total)), 6) AS jlh
FROM fg f JOIN bg b USING (event_type) CROSS JOIN tot
ORDER BY jlh DESC, event_type
""")
def agg_significant_terms(spark, sf_dir):
    """significant_terms with the JLH heuristic (fg/bg rate product)."""
    ev = _t(spark, sf_dir, "events")
    fg = ev.where(F.col("value") > 90.0).groupBy("event_type") \
           .agg(F.count("*").alias("fg_count"))
    bg = ev.groupBy("event_type").agg(F.count("*").alias("bg_count"))
    fg_total = ev.where(F.col("value") > 90.0).count()
    bg_total = ev.count()
    fgp = F.col("fg_count") / F.lit(float(fg_total))
    bgp = F.col("bg_count") / F.lit(float(bg_total))
    return (fg.join(bg, "event_type")
            .select("event_type", "fg_count", "bg_count",
                    F.round((fgp - bgp) * (fgp / bgp), 6).alias("jlh"))
            .orderBy(F.desc("jlh"), "event_type"))


@q("agg_significant_terms_chi2", """
WITH fg AS (SELECT event_type, count(*) AS fg_count FROM events
            WHERE value > 90.0 GROUP BY event_type),
bg AS (SELECT event_type, count(*) AS bg_count FROM events GROUP BY event_type),
tot AS (SELECT (SELECT count(*) FROM events WHERE value > 90.0) AS fg_total,
               (SELECT count(*) FROM events) AS bg_total),
cells AS (SELECT f.event_type, f.fg_count, b.bg_count,
                 f.fg_count * 1.0 AS a,
                 (b.bg_count - f.fg_count) * 1.0 AS b2,
                 (fg_total - f.fg_count) * 1.0 AS c,
                 (bg_total - b.bg_count - fg_total + f.fg_count) * 1.0 AS d
          FROM fg f JOIN bg b USING (event_type) CROSS JOIN tot)
SELECT event_type, fg_count, bg_count,
       round((a * d - b2 * c) * (a * d - b2 * c) * (a + b2 + c + d)
             / ((a + b2) * (c + d) * (a + c) * (b2 + d)), 6) AS chi2
FROM cells ORDER BY chi2 DESC, event_type
""")
def agg_significant_terms_chi2(spark, sf_dir):
    """significant_terms, chi-square heuristic (significant/heuristics/
    ChiSquare.java contingency form, background_is_superset=true):
    chi2 = (ad-bc)^2 (a+b+c+d) / ((a+b)(c+d)(a+c)(b+d)) over the
    fg/bg 2x2 table — pure column math, one shuffle per rate table."""
    ev = _t(spark, sf_dir, "events")
    fg = ev.where(F.col("value") > 90.0).groupBy("event_type") \
           .agg(F.count("*").alias("fg_count"))
    bg = ev.groupBy("event_type").agg(F.count("*").alias("bg_count"))
    fg_total = ev.where(F.col("value") > 90.0).count()
    bg_total = ev.count()
    # all-double contingency cells: the (ad-bc)^2(a+b+c+d) numerator is
    # ~n^4 and overflows int64 from roughly sf0.2 (DuckDB would raise,
    # non-ANSI Spark would silently wrap)
    a = F.col("fg_count").cast("double")
    b2 = (F.col("bg_count") - F.col("fg_count")).cast("double")
    c = (F.lit(fg_total) - F.col("fg_count")).cast("double")
    d = (F.lit(bg_total) - F.col("bg_count") - F.lit(fg_total)
         + F.col("fg_count")).cast("double")
    chi2 = ((a * d - b2 * c) * (a * d - b2 * c) * (a + b2 + c + d)
            / ((a + b2) * (c + d) * (a + c) * (b2 + d)))
    return (fg.join(bg, "event_type")
            .select("event_type", "fg_count", "bg_count",
                    F.round(chi2, 6).alias("chi2"))
            .orderBy(F.desc("chi2"), "event_type"))


@q("agg_significant_terms_gnd", """
WITH fg AS (SELECT event_type, count(*) AS fg_count FROM events
            WHERE value > 90.0 GROUP BY event_type),
bg AS (SELECT event_type, count(*) AS bg_count FROM events GROUP BY event_type),
tot AS (SELECT (SELECT count(*) FROM events WHERE value > 90.0) AS fg_total,
               (SELECT count(*) FROM events) AS bg_total),
x AS (SELECT f.event_type, f.fg_count, b.bg_count,
             b.bg_count * 1.0 AS fx, fg_total * 1.0 AS fy,
             f.fg_count * 1.0 AS fxy, bg_total * 1.0 AS n
      FROM fg f JOIN bg b USING (event_type) CROSS JOIN tot)
SELECT event_type, fg_count, bg_count,
       round(CASE WHEN fx = fy AND fx = fxy THEN 1.0
             WHEN ln(n) = least(ln(fx), ln(fy)) THEN 0.0
             ELSE exp(-1.0 * (greatest(ln(fx), ln(fy)) - ln(fxy))
                      / (ln(n) - least(ln(fx), ln(fy)))) END, 6) AS gnd
FROM x ORDER BY gnd DESC, event_type
""")
def agg_significant_terms_gnd(spark, sf_dir):
    """significant_terms, Google-normalized-distance heuristic (GND.java:
    exp(-(max(ln fx, ln fy) - ln fxy) / (ln N - min(ln fx, ln fy))) over
    the NXY frequencies with background_is_superset; perfect
    co-occurrence pinned to 1)."""
    ev = _t(spark, sf_dir, "events")
    fg = ev.where(F.col("value") > 90.0).groupBy("event_type") \
           .agg(F.count("*").alias("fg_count"))
    bg = ev.groupBy("event_type").agg(F.count("*").alias("bg_count"))
    fg_total = float(ev.where(F.col("value") > 90.0).count())
    n = float(ev.count())
    fx = F.col("bg_count").cast("double")
    fy = F.lit(fg_total)
    fxy = F.col("fg_count").cast("double")
    # denominator 0 (a term in every background doc, not the perfect
    # case): Java's x/0.0 = Inf, exp(-Inf) = 0 — pin explicitly so both
    # engines agree instead of emitting NULL with divergent NULL ordering
    gnd = (F.when((fx == fy) & (fx == fxy), F.lit(1.0))
           .when(F.log(F.lit(n)) == F.least(F.log(fx), F.log(fy)), F.lit(0.0))
           .otherwise(
               F.exp(-1.0 * (F.greatest(F.log(fx), F.log(fy)) - F.log(fxy))
                     / (F.log(F.lit(n)) - F.least(F.log(fx), F.log(fy))))))
    return (fg.join(bg, "event_type")
            .select("event_type", "fg_count", "bg_count",
                    F.round(gnd, 6).alias("gnd"))
            .orderBy(F.desc("gnd"), "event_type"))


@q("agg_significant_terms_mi", """
WITH fg AS (SELECT event_type, count(*) AS fg_count FROM events
            WHERE value > 90.0 GROUP BY event_type),
bg AS (SELECT event_type, count(*) AS bg_count FROM events GROUP BY event_type),
tot AS (SELECT (SELECT count(*) FROM events WHERE value > 90.0) AS fg_total,
               (SELECT count(*) FROM events) AS bg_total),
cells AS (SELECT f.event_type, f.fg_count, b.bg_count, bg_total * 1.0 AS n,
                 f.fg_count * 1.0 AS a,
                 (b.bg_count - f.fg_count) * 1.0 AS b2,
                 (fg_total - f.fg_count) * 1.0 AS c,
                 (bg_total - b.bg_count - fg_total + f.fg_count) * 1.0 AS d
          FROM fg f JOIN bg b USING (event_type) CROSS JOIN tot),
mi AS (SELECT event_type, fg_count, bg_count,
       (CASE WHEN a > 0 THEN (a/n) * log2((a/n) / (((a+b2)/n) * ((a+c)/n))) ELSE 0 END)
     + (CASE WHEN b2 > 0 THEN (b2/n) * log2((b2/n) / (((a+b2)/n) * ((b2+d)/n))) ELSE 0 END)
     + (CASE WHEN c > 0 THEN (c/n) * log2((c/n) / (((c+d)/n) * ((a+c)/n))) ELSE 0 END)
     + (CASE WHEN d > 0 THEN (d/n) * log2((d/n) / (((c+d)/n) * ((b2+d)/n))) ELSE 0 END)
       AS score FROM cells)
SELECT event_type, fg_count, bg_count, round(score, 6) AS mi
FROM mi ORDER BY mi DESC, event_type
""")
def agg_significant_terms_mi(spark, sf_dir):
    """significant_terms, mutual-information heuristic
    (significant/heuristics/MutualInformation.java): I(term; class) over
    the fg/bg 2x2 contingency, zero cells contributing 0."""
    ev = _t(spark, sf_dir, "events")
    fg = ev.where(F.col("value") > 90.0).groupBy("event_type") \
           .agg(F.count("*").alias("fg_count"))
    bg = ev.groupBy("event_type").agg(F.count("*").alias("bg_count"))
    fg_total = ev.where(F.col("value") > 90.0).count()
    n = float(ev.count())
    a = F.col("fg_count").cast("double")
    b2 = (F.col("bg_count") - F.col("fg_count")).cast("double")
    c = (F.lit(fg_total) - F.col("fg_count")).cast("double")
    d = (F.lit(n) - F.col("bg_count").cast("double")
         - F.lit(float(fg_total)) + F.col("fg_count"))

    def term(p, row, col):
        return F.when(p > 0, (p / n) * F.log2((p / n) / ((row / n) * (col / n)))) \
                .otherwise(F.lit(0.0))

    score = (term(a, a + b2, a + c) + term(b2, a + b2, b2 + d)
             + term(c, c + d, a + c) + term(d, c + d, b2 + d))
    return (fg.join(bg, "event_type")
            .select("event_type", "fg_count", "bg_count",
                    F.round(score, 6).alias("mi"))
            .orderBy(F.desc("mi"), "event_type"))


@q("agg_top_hits", """
WITH ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rn
  FROM events)
SELECT event_type, event_id, round(value, 4) AS value
FROM ranked WHERE rn <= 2 ORDER BY event_type, event_id
""")
def agg_top_hits(spark, sf_dir):
    """top_hits agg (InternalTopHits): best 2 docs per bucket."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 2)
            .select("event_type", "event_id", F.round("value", 4).alias("value"))
            .orderBy("event_type", "event_id"))


@q("agg_value_count", """
SELECT l_returnflag, count(l_extendedprice) AS value_count FROM lineitem
GROUP BY l_returnflag ORDER BY l_returnflag
""")
def agg_value_count(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.count("l_extendedprice").alias("value_count"))
            .orderBy("l_returnflag"))


@q("agg_median_absolute_deviation", """
WITH m AS (SELECT quantile_cont(o_totalprice, 0.5) AS med FROM orders)
SELECT round(quantile_cont(abs(o_totalprice - med), 0.5), 4) AS mad
FROM orders CROSS JOIN m
""")
def agg_median_absolute_deviation(spark, sf_dir):
    """median_absolute_deviation (MedianAbsoluteDeviationAggregationBuilder):
    exact two-pass — median, then median of |x - median| (the reference's
    t-digest is the approximate scale path: percentile_approx)."""
    o = _t(spark, sf_dir, "orders")
    med = o.agg(F.expr("percentile(o_totalprice, 0.5)").alias("m")).collect()[0]["m"]
    return o.agg(F.round(
        F.expr(f"percentile(abs(o_totalprice - {med!r}), 0.5)"), 4).alias("mad"))


@q("agg_global", """
SELECT (SELECT count(*) FROM documents) AS global_count,
       (SELECT count(*) FROM documents WHERE lang = 'en') AS bucket_count
""")
def agg_global(spark, sf_dir):
    """global agg (GlobalAggregator): escape the query filter — both the
    filtered bucket and the unfiltered global context in one result."""
    d = _docs(spark, sf_dir)
    return d.agg(
        F.count("*").alias("global_count"),
        F.count(F.when(F.col("lang") == "en", 1)).alias("bucket_count"))


@q("agg_adjacency_matrix", """
SELECT count(*) FILTER (WHERE event_type = 'click') AS a,
       count(*) FILTER (WHERE event_type = 'view') AS b,
       count(*) FILTER (WHERE value > 50.0) AS c,
       count(*) FILTER (WHERE event_type = 'click' AND value > 50.0) AS a_c,
       count(*) FILTER (WHERE event_type = 'view' AND value > 50.0) AS b_c
FROM events
""")
def agg_adjacency_matrix(spark, sf_dir):
    """adjacency_matrix (AdjacencyMatrixAggregator): counts for each named
    filter and each pairwise intersection."""
    ev = _t(spark, sf_dir, "events")
    a = F.col("event_type") == "click"
    b = F.col("event_type") == "view"
    c = F.col("value") > 50.0
    return ev.agg(
        F.count(F.when(a, 1)).alias("a"),
        F.count(F.when(b, 1)).alias("b"),
        F.count(F.when(c, 1)).alias("c"),
        F.count(F.when(a & c, 1)).alias("a_c"),
        F.count(F.when(b & c, 1)).alias("b_c"))


@q("agg_sampler", """
WITH sample AS (SELECT * FROM documents ORDER BY n_chars DESC, doc_id LIMIT 100)
SELECT lang, count(*) AS doc_count FROM sample GROUP BY lang ORDER BY lang
""")
def agg_sampler(spark, sf_dir):
    """sampler agg (SamplerAggregator): sub-aggs over the top-N docs by
    score (here: n_chars as the deterministic score)."""
    d = _docs(spark, sf_dir)
    sample = d.orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(100)
    return sample.groupBy("lang").agg(F.count("*").alias("doc_count")).orderBy("lang")


@q("agg_diversified_sampler", """
WITH ranked AS (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars DESC, doc_id) AS rn
    FROM documents),
sample AS (SELECT * FROM ranked WHERE rn <= 2)
SELECT lang, count(*) AS doc_count FROM sample GROUP BY lang ORDER BY lang
""")
def agg_diversified_sampler(spark, sf_dir):
    """diversified_sampler: at most max_docs_per_value (2) per dedup key
    (source) in the sample — Window dedup, then sub-agg."""
    d = _docs(spark, sf_dir)
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    sample = d.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 2)
    return sample.groupBy("lang").agg(F.count("*").alias("doc_count")).orderBy("lang")


@q("agg_significant_text", f"""
WITH {O.TOK_CTES},
fg AS (SELECT t.term, count(*) AS fg_count
       FROM tok2 t JOIN documents d USING (doc_id)
       WHERE d.lang = 'de' GROUP BY t.term),
bg AS (SELECT term, count(*) AS bg_count FROM tok2 GROUP BY term),
tot AS (SELECT (SELECT count(*) FROM tok2 t JOIN documents d USING (doc_id)
                WHERE d.lang = 'de') AS fg_total,
               (SELECT count(*) FROM tok2) AS bg_total)
SELECT f.term, f.fg_count, b.bg_count,
       round(((f.fg_count * 1.0 / fg_total) - (b.bg_count * 1.0 / bg_total))
             * ((f.fg_count * 1.0 / fg_total) / (b.bg_count * 1.0 / bg_total)), 6) AS jlh
FROM fg f JOIN bg b USING (term) CROSS JOIN tot
WHERE f.fg_count >= 5
ORDER BY jlh DESC, term LIMIT 10
""")
def agg_significant_text(spark, sf_dir):
    """significant_text (SignificantTextAggregationBuilder): JLH over
    analyzed tokens, foreground = lang 'de' docs vs the whole corpus."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", "lang",
                   F.explode(F.split(F.col("text"), r"\s+")).alias("term")) \
           .where(F.col("term") != "")
    fg = tok.where(F.col("lang") == "de").groupBy("term") \
            .agg(F.count("*").alias("fg_count"))
    bg = tok.groupBy("term").agg(F.count("*").alias("bg_count"))
    fg_total = tok.where(F.col("lang") == "de").count()
    bg_total = tok.count()
    fgp = F.col("fg_count") / F.lit(float(fg_total))
    bgp = F.col("bg_count") / F.lit(float(bg_total))
    return (fg.join(bg, "term").where(F.col("fg_count") >= 5)
            .select("term", "fg_count", "bg_count",
                    F.round((fgp - bgp) * (fgp / bgp), 6).alias("jlh"))
            .orderBy(F.desc("jlh"), "term").limit(10))


@q("agg_stream_window", """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type, count(*) AS n_events, round(sum(value), 4) AS value_sum
FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3
""")
def agg_stream_window(spark, sf_dir):
    """Event-time windowed counts via the Structured-Streaming code path
    (streaming/windows.py) run in batch mode — the SAME plan serves
    streaming (with watermark + state store) and backfill; late-data
    semantics tested in tests/test_streaming_windows.py."""
    from opensearch_spark.streaming.windows import windowed_event_counts

    e = _docs(spark, sf_dir, "events")
    return (windowed_event_counts(e, window="1 hour")
            .orderBy("window_start", "event_type"))


@q("agg_session_window", """
WITH x AS (
  SELECT event_type, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) >= 1800
              THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY event_type ORDER BY ts)
),
g AS (SELECT *, sum(brk) OVER (PARTITION BY event_type ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM x)
SELECT event_type, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events, round(sum(value), 4) AS value_sum
FROM g GROUP BY event_type, sid
ORDER BY event_type, session_start
""")
def agg_session_window(spark, sf_dir):
    """Session windows (F.session_window, streaming/windows.py) in batch
    mode: per-key activity sessions closing after 30 min of inactivity —
    dynamic-length windows fixed windows can't express. The oracle is the
    classic gaps-and-islands SQL (break when the gap >= the session gap,
    cumulative-sum session ids); Spark's session_window end = last ts +
    gap, mirrored as max(ts) + INTERVAL. Streaming merge/append semantics
    tested in tests/test_streaming_windows.py."""
    from opensearch_spark.streaming.windows import session_event_counts

    e = _docs(spark, sf_dir, "events")
    return (session_event_counts(e, gap="30 minutes")
            .select("event_type", "session_start", "session_end",
                    "n_events", "value_sum")
            .orderBy("event_type", "session_start"))


@q("agg_auto_date_histogram", """
WITH span AS (SELECT date_diff('day', min(ts), max(ts)) AS d FROM events),
b AS (SELECT CASE WHEN span.d < 10 THEN strftime(date_trunc('day', ts), '%Y-%m-%d')
                  WHEN span.d < 70 THEN strftime(date_trunc('week', ts), '%Y-%m-%d')
                  ELSE strftime(date_trunc('month', ts), '%Y-%m-%d') END AS bucket
      FROM events CROSS JOIN span)
SELECT bucket, count(*) AS doc_count FROM b GROUP BY bucket ORDER BY bucket
""")
def agg_auto_date_histogram(spark, sf_dir):
    """auto_date_histogram: pick the smallest calendar interval from the
    rounding ladder (day→week→month) that keeps bucket count under the
    target (10); interval chosen from a 2-row min/max agg."""
    ev = _t(spark, sf_dir, "events")
    row = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
    span_days = (row["hi"] - row["lo"]).days
    unit = "day" if span_days < 10 else ("week" if span_days < 70 else "month")
    return (ev.groupBy(F.date_format(F.date_trunc(unit, "ts"), "yyyy-MM-dd")
                       .alias("bucket"))
            .agg(F.count("*").alias("doc_count")).orderBy("bucket"))


@q("agg_date_range", """
SELECT CASE WHEN ts < TIMESTAMP '2024-01-10' THEN '*-2024-01-10'
            WHEN ts < TIMESTAMP '2024-01-20' THEN '2024-01-10-2024-01-20'
            ELSE '2024-01-20-*' END AS range_bucket,
       count(*) AS doc_count
FROM events GROUP BY range_bucket ORDER BY range_bucket
""")
def agg_date_range(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    bucket = (F.when(F.col("ts") < F.lit("2024-01-10").cast("timestamp"), "*-2024-01-10")
              .when(F.col("ts") < F.lit("2024-01-20").cast("timestamp"),
                    "2024-01-10-2024-01-20")
              .otherwise("2024-01-20-*")).alias("range_bucket")
    return (ev.groupBy(bucket).agg(F.count("*").alias("doc_count"))
            .orderBy("range_bucket"))


@q("agg_nested", f"""
WITH {O.TOK_CTES}
SELECT term, count(*) AS nested_count, count(DISTINCT doc_id) AS parent_count
FROM tok2 GROUP BY term ORDER BY nested_count DESC, term LIMIT 10
""")
def agg_nested(spark, sf_dir):
    """nested + reverse_nested (NestedAggregator): explode into the hidden
    sub-doc stream (tokens), agg there (nested_count), then step back to
    the parent scope (parent_count = reverse_nested doc count)."""
    d = _docs(spark, sf_dir)
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), r"\s+")).alias("term")) \
           .where(F.col("term") != "")
    return (tok.groupBy("term")
            .agg(F.count("*").alias("nested_count"),
                 F.countDistinct("doc_id").alias("parent_count"))
            .orderBy(F.desc("nested_count"), "term").limit(10))


@q("agg_scripted_metric", """
SELECT event_type,
       round(exp(avg(ln(value + 1.0))), 6) AS geo_mean
FROM events GROUP BY event_type ORDER BY event_type
""")
def agg_scripted_metric(spark, sf_dir):
    """scripted_metric UDAF (ScriptedMetricAggregator.java:64):
    init/map/combine/reduce as applyInPandas — geometric mean of value."""
    import numpy as np
    import pandas as pd

    ev = _t(spark, sf_dir, "events")

    def geo(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].to_numpy()
        return pd.DataFrame({
            "event_type": [pdf["event_type"].iloc[0]],
            "geo_mean": [round(float(np.exp(np.mean(np.log(v + 1.0)))), 6)],
        })

    return (ev.select("event_type", "value").groupBy("event_type")
            .applyInPandas(geo, "event_type string, geo_mean double")
            .orderBy("event_type"))


@q("agg_matrix_stats", """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 4) AS correlation,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS covariance
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")
def agg_matrix_stats(spark, sf_dir):
    """matrix_stats module (aggs-matrix-stats): correlation/covariance —
    Spark built-ins."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.corr("l_quantity", "l_extendedprice"), 4)
                 .alias("correlation"),
                 F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2)
                 .alias("covariance"))
            .orderBy("l_returnflag"))


# ---- pipeline aggs (window functions over bucket frames, SURVEY §2.8) ----
@q("agg_cumulative_sum", """
WITH daily AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                      count(*) AS doc_count
               FROM events GROUP BY day)
SELECT day, doc_count,
       CAST(sum(doc_count) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT)
       AS cum_count
FROM daily ORDER BY day
""")
def agg_cumulative_sum(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                        .alias("day")).agg(F.count("*").alias("doc_count")))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.withColumn("cum_count", F.sum("doc_count").over(w)).orderBy("day")


@q("agg_derivative", """
WITH daily AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                      count(*) AS doc_count
               FROM events GROUP BY day)
SELECT day, doc_count,
       doc_count - lag(doc_count) OVER (ORDER BY day) AS deriv
FROM daily ORDER BY day
""")
def agg_derivative(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                        .alias("day")).agg(F.count("*").alias("doc_count")))
    w = W.orderBy("day")
    return daily.withColumn(
        "deriv", F.col("doc_count") - F.lag("doc_count").over(w)).orderBy("day")


@q("agg_moving_fn", """
WITH daily AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                      count(*) AS doc_count
               FROM events GROUP BY day)
SELECT day, doc_count,
       round(avg(doc_count * 1.0) OVER (ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS mov_avg
FROM daily ORDER BY day
""")
def agg_moving_fn(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                        .alias("day")).agg(F.count("*").alias("doc_count")))
    w = W.orderBy("day").rowsBetween(-6, 0)
    return daily.withColumn(
        "mov_avg", F.round(F.avg(F.col("doc_count") * 1.0).over(w), 4)).orderBy("day")


@q("agg_moving_avg_ewma", """
WITH daily AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                      count(*) AS doc_count
               FROM events GROUP BY day),
seq AS (SELECT day, doc_count,
               row_number() OVER (ORDER BY day) AS r,
               first_value(doc_count) OVER (ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS x1
        FROM daily),
pre AS (SELECT *,
               coalesce(sum(CASE WHEN r >= 2
                                 THEN doc_count * power(1.0/0.7, r) END)
                        OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 0)
                   AS s
        FROM seq)
SELECT day, doc_count,
       round(0.3 * power(0.7, r) * s + power(0.7, r - 1) * x1, 4) AS ewma
FROM pre ORDER BY day
""")
def agg_moving_avg_ewma(spark, sf_dir):
    """moving_avg, EWMA model (MovAvgPipelineAggregationBuilder +
    EwmaModel.java: s_i = alpha*x_i + (1-alpha)*s_{i-1}, seeded with the
    first bucket; deprecated in the reference in favor of moving_fn but
    still registered — closed for literal 100% builder coverage). The
    recursion is re-expressed as a closed-form prefix sum so it runs as
    ONE window pass instead of a sequential loop:
    s_i = a*(1-a)^i * SUM_{j>=2} x_j*(1-a)^{-j} + (1-a)^{i-1}*x_1 —
    identical arithmetic in Spark and DuckDB, deterministic order, exact
    at the 4-decimal gate rounding for the ~30-bucket frame (the
    unpartitioned window runs on the BUCKET frame — dozens of rows —
    never the corpus)."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                        .alias("day")).agg(F.count("*").alias("doc_count")))
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    seq = daily.select(
        "day", "doc_count",
        F.row_number().over(W.orderBy("day")).alias("r"),
        F.first("doc_count").over(wcum).alias("x1"))
    pre = seq.withColumn(
        "s", F.coalesce(
            F.sum(F.when(F.col("r") >= 2,
                         F.col("doc_count") * F.pow(F.lit(1.0 / 0.7), "r")))
            .over(wcum), F.lit(0.0)))
    return (pre.select(
        "day", "doc_count",
        F.round(F.lit(0.3) * F.pow(F.lit(0.7), "r") * F.col("s")
                + F.pow(F.lit(0.7), F.col("r") - 1) * F.col("x1"), 4)
        .alias("ewma")).orderBy("day"))


@q("agg_bucket_selector", """
SELECT user_id, count(*) AS doc_count FROM events
GROUP BY user_id HAVING count(*) >= 30 ORDER BY user_id
""")
def agg_bucket_selector(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id").agg(F.count("*").alias("doc_count"))
            .where(F.col("doc_count") >= 30).orderBy("user_id"))


@q("agg_bucket_sort", """
SELECT user_id, count(*) AS doc_count FROM events
GROUP BY user_id ORDER BY doc_count DESC, user_id LIMIT 5
""")
def agg_bucket_sort(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id").agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), F.asc("user_id")).limit(5))


@q("agg_filter", """
SELECT count(*) AS doc_count,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS avg_value
FROM events WHERE event_type = 'click'
""")
def agg_filter(spark, sf_dir):
    """filter agg, singular (FilterAggregationBuilder — distinct builder
    from `filters`): one bucket narrowing the context for its sub-aggs.
    The predicate is pushed to the scan; the sub-agg is one partial-
    aggregated reduce to a single row."""
    ev = _t(spark, sf_dir, "events")
    dec = F.sum(F.col("value").cast("decimal(18,6)"))
    return (ev.where(F.col("event_type") == "click")
            .agg(F.count("*").alias("doc_count"),
                 F.round(dec.cast("double") / F.count("*"), 6)
                 .alias("avg_value")))


@q("agg_stats_bucket", """
WITH daily AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                      count(*) AS doc_count
               FROM events GROUP BY day)
SELECT count(*) AS n_buckets, min(doc_count) AS min_count,
       max(doc_count) AS max_count, CAST(sum(doc_count) AS BIGINT) AS sum_count,
       round(avg(doc_count * 1.0), 4) AS avg_count
FROM daily
""")
def agg_stats_bucket(spark, sf_dir):
    """stats_bucket / min_bucket / max_bucket / avg_bucket / sum_bucket:
    second-level agg over the bucket frame."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                        .alias("day")).agg(F.count("*").alias("doc_count")))
    return daily.agg(
        F.count("*").alias("n_buckets"),
        F.min("doc_count").alias("min_count"),
        F.max("doc_count").alias("max_count"),
        F.sum("doc_count").alias("sum_count"),
        F.round(F.avg(F.col("doc_count") * 1.0), 4).alias("avg_count"))


@q("agg_percentiles_bucket", """
WITH daily AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                      count(*) AS doc_count
               FROM events GROUP BY day)
SELECT round(quantile_cont(doc_count, 0.5), 4) AS p50,
       round(quantile_cont(doc_count, 0.9), 4) AS p90
FROM daily
""")
def agg_percentiles_bucket(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                        .alias("day")).agg(F.count("*").alias("doc_count")))
    return daily.agg(
        F.round(F.expr("percentile(doc_count, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(doc_count, 0.9)"), 4).alias("p90"))


@q("agg_serial_diff", """
WITH daily AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                      count(*) AS doc_count
               FROM events GROUP BY day)
SELECT day, doc_count,
       doc_count - lag(doc_count, 7) OVER (ORDER BY day) AS diff7
FROM daily ORDER BY day
""")
def agg_serial_diff(spark, sf_dir):
    """serial_diff pipeline agg: value - lag(value, n)."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                        .alias("day")).agg(F.count("*").alias("doc_count")))
    w = W.orderBy("day")
    return daily.withColumn(
        "diff7", F.col("doc_count") - F.lag("doc_count", 7).over(w)).orderBy("day")


@q("agg_bucket_script", """
SELECT l_returnflag,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6)
           AS price_per_unit
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""")
def agg_bucket_script(spark, sf_dir):
    """bucket_script: arithmetic over sibling metrics within each bucket."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double"),
                6).alias("price_per_unit"))
            .orderBy("l_returnflag"))


# --------------------------------------------------------------------------
# joins (SURVEY §2.5) — the reference's narrow join-likes, Spark-native
# --------------------------------------------------------------------------
@q("join_has_child", """
SELECT c.c_custkey, c.c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
ORDER BY c.c_custkey
""")
def join_has_child(spark, sf_dir):
    """has_child (HasChildQueryBuilder): parents with a matching child —
    left-semi join, strictly more general than the reference's same-shard
    global-ordinals join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .select("c_custkey", "c_name").orderBy("c_custkey"))


@q("join_has_child_inner_hits", """
WITH ch AS (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders WHERE o_totalprice > 400000
)
SELECT c.c_custkey, c.c_name, ch.o_orderkey AS hit_orderkey,
       round(ch.o_totalprice, 2) AS hit_totalprice, CAST(ch.rn AS INT) AS hit_rank
FROM customer c JOIN ch ON c.c_custkey = ch.o_custkey
WHERE ch.rn <= 2
ORDER BY c.c_custkey, hit_rank
""")
def join_has_child_inner_hits(spark, sf_dir):
    """has_child with inner_hits (HasChildQueryBuilder.innerHit(),
    InnerHitBuilder.java size param): each matching parent carries its
    top-N matching children ranked by the child sort. One shuffle: the
    per-parent top-N is a window rank over the FILTERED child side only
    (never the full child table), then parents join the bounded hits."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 400000)
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"),
                                           F.asc("o_orderkey"))
    top = (o.withColumn("hit_rank", F.row_number().over(w))
           .where(F.col("hit_rank") <= 2)
           .select("o_custkey", F.col("o_orderkey").alias("hit_orderkey"),
                   F.round("o_totalprice", 2).alias("hit_totalprice"),
                   "hit_rank"))
    return (c.join(top, c.c_custkey == top.o_custkey)
            .select("c_custkey", "c_name", "hit_orderkey",
                    "hit_totalprice", "hit_rank")
            .orderBy("c_custkey", "hit_rank"))


@q("join_has_parent", """
SELECT o.o_orderkey FROM orders o
WHERE EXISTS (SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
ORDER BY o.o_orderkey LIMIT 100
""")
def join_has_parent(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return (o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_semi")
            .select("o_orderkey").orderBy("o_orderkey").limit(100))


@q("join_parent_id", """
SELECT o_orderkey, o_orderstatus FROM orders WHERE o_custkey = 7
ORDER BY o_orderkey
""")
def join_parent_id(spark, sf_dir):
    """parent_id query (index/query/ParentIdQueryBuilder.java): all
    children of one parent doc. Under the join-field model this is an
    equality predicate on the routing/join key — pushed to the scan
    (PushedFilters), and when the child table is bucketed by the join
    key it prunes to one bucket; no join materializes at all."""
    o = _t(spark, sf_dir, "orders")
    return (o.where(F.col("o_custkey") == 7)
            .select("o_orderkey", "o_orderstatus").orderBy("o_orderkey"))


@q("join_terms_lookup", """
SELECT l.l_orderkey, l.l_partkey FROM lineitem l
WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 25)
ORDER BY l.l_orderkey, l.l_partkey LIMIT 100
""")
def join_terms_lookup(spark, sf_dir):
    """terms lookup (TermsLookup.java): term set fetched from another table
    → broadcast semi join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_size") == 25)
    return (li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
            .select("l_orderkey", "l_partkey")
            .orderBy("l_orderkey", "l_partkey").limit(100))


# --------------------------------------------------------------------------
# ingest processors ≈ scalar function library (SURVEY §2.10)
# --------------------------------------------------------------------------
_DS_CACHE: dict[str, object] = {}


def _event_stream(spark, sf_dir):
    """Build (or reuse) a DataStream over the events table: two appends
    split mid-month (generations carry disjoint ts ranges), analyzed
    field = event_type."""
    from opensearch_spark.index.datastream import DataStream

    key = os.path.abspath(sf_dir)
    if key in _DS_CACHE:
        return _DS_CACHE[key]
    out = os.path.join(INDEX_ROOT,
                       hashlib.sha256(key.encode()).hexdigest()[:16] + "_ds")
    cfg = IndexConfig(field="event_type", analyzer="standard", n_parts=2)
    ds = DataStream(out, cfg, rollover_max_docs=1 << 30)
    e = _docs(spark, sf_dir, "events")
    n_events = e.count()
    # validate the on-disk stream before reuse (the _load_or_build
    # discipline): a crash between the two appends, or stale state from
    # an older layout, must trigger a rebuild — generation count AND
    # total rows have to match exactly
    gens = ds.generations()
    if len(gens) != 2 or ds.doc_count() != n_events:
        import shutil
        shutil.rmtree(out, ignore_errors=True)
        ds = DataStream(out, cfg, rollover_max_docs=1 << 30)
        ds.append(spark, e.where(F.col("ts") < "2024-01-15")
                  .orderBy("event_id"), ts_col="ts")
        ds.append(spark, e.where(F.col("ts") >= "2024-01-15")
                  .orderBy("event_id"), ts_col="ts")
        # a rebuild that still doesn't account for every event would
        # otherwise be rebuilt (and served partial) on EVERY call —
        # fail loudly instead (caught a lossy append path once)
        if ds.doc_count() != n_events:
            raise RuntimeError(
                f"datastream rebuild lost rows: {ds.doc_count()} != "
                f"{n_events}")
    _DS_CACHE[key] = ds
    return ds


@q("stream_datastream_view", """
SELECT event_id, event_type FROM events
WHERE ts >= '2024-01-01' AND ts <= '2024-01-02 00:00:00'
ORDER BY event_id
""")
def stream_datastream_view(spark, sf_dir):
    """Data stream (DataStreamFieldMapper / RolloverAction analog):
    time-bounded read over generation segments — manifests prune
    non-overlapping generation directories, the surviving generation is
    row-filtered. The day-1 window lies inside generation 0 at every sf
    (generation 1 starts 2024-01-15), so generation 1 is never read
    (directory-level pruning exercised)."""
    ds = _event_stream(spark, sf_dir)
    assert len(ds._pruned_dirs("2024-01-01", "2024-01-02 00:00:00")) == 1
    return (ds.docs_view(spark, "2024-01-01", "2024-01-02 00:00:00")
            .select("event_id", "event_type").orderBy("event_id"))


@q("ingest_processors_final", """
WITH e AS (SELECT event_id, event_type, user_id, value FROM events
           WHERE event_type <> 'error' ORDER BY event_id LIMIT 100)
SELECT event_id,
       CAST(round(value) AS BIGINT) * 1024 AS size_bytes,
       string_split(event_type || ',' || CAST(user_id AS VARCHAR) || ',x',
                    ',')[2] AS csv_f2,
       event_type AS type_renamed,
       array_to_string(list_sort(['c', event_type, 'a']), '|') AS tags_sorted,
       len(['c', event_type, 'a'] || ['z']) AS tags_appended_n
FROM e ORDER BY event_id
""")
def ingest_processors_final(spark, sf_dir):
    """Final ingest-processor batch (ingest/common/*Processor.java):
    bytes ('1kb' → 1024, BytesProcessor), csv (CsvProcessor field
    extraction), rename (projection alias), sort (array_sort over a tag
    list), append (array concat), drop (DropProcessor = a WHERE filter
    on the conditional) — each a 1:1 Spark built-in, zero UDFs. The
    bytes/csv inputs are derived strings so the parse direction is real
    while the oracle states the closed-form result."""
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("event_type") != "error")  # drop processor
          .orderBy("event_id").limit(100))
    size_str = F.concat(F.round("value").cast("long"), F.lit("kb"))
    csv_str = F.concat_ws(",", "event_type",
                          F.col("user_id").cast("string"), F.lit("x"))
    tags = F.array(F.lit("c"), F.col("event_type"), F.lit("a"))
    return (ev.select(
        "event_id",
        # bytes processor: strip the unit suffix, scale by its factor
        (F.regexp_extract(size_str, r"^(\d+)kb$", 1).cast("long")
         * F.lit(1024)).alias("size_bytes"),
        F.split(csv_str, ",").getItem(1).alias("csv_f2"),
        F.col("event_type").alias("type_renamed"),
        # joined to one VARCHAR so the driver hash sees a scalar on both
        # sides (array serialization differs between Spark and DuckDB)
        F.array_join(F.array_sort(tags), "|").alias("tags_sorted"),
        # long, not int: the oracle's len() is BIGINT and the driver
        # serializes types — keep widths identical too
        F.size(F.concat(tags, F.array(F.lit("z")))).cast("long")
        .alias("tags_appended_n"),
    ).orderBy("event_id"))




@q("ingest_processors_extra", """
SELECT event_id,
       lower(trim(event_type)) AS et_norm,
       regexp_replace(event_type, '[aeiou]', '_', 'g') AS et_gsub,
       md5(concat(event_type, '|', CAST(user_id AS VARCHAR))) AS fp,
       concat(event_type, ',', CAST(event_id % 7 AS VARCHAR)) AS joined,
       string_split(props, '"')[2] AS first_key
FROM events ORDER BY event_id LIMIT 200
""")
def ingest_processors_extra(spark, sf_dir):
    """Third ingest-processor batch (ingest/common/*Processor.java):
    trim+lowercase, gsub, fingerprint (community fingerprint processor =
    hash of field values), join (concat separator), split+element —
    each a 1:1 Spark built-in, whole-stage codegen, no UDFs."""
    e = _docs(spark, sf_dir, "events")
    return (e.select(
        "event_id",
        F.lower(F.trim("event_type")).alias("et_norm"),
        F.regexp_replace("event_type", "[aeiou]", "_").alias("et_gsub"),
        F.md5(F.concat_ws("|", "event_type",
                          F.col("user_id").cast("string"))).alias("fp"),
        F.concat_ws(",", "event_type",
                    (F.col("event_id") % 7).cast("string")).alias("joined"),
        F.split("props", '"').getItem(1).alias("first_key"),
    ).orderBy("event_id").limit(200))


@q("ingest_processors_route", """
SELECT event_id,
       'logs-' || strftime(date_trunc('month', ts), '%Y-%m') AS idx_name,
       'user' AS dot_root,
       event_type AS dot_leaf,
       'q ' || event_type || '/v' AS url_decoded,
       upper(event_type) AS et_upper,
       CAST(CAST(user_id AS VARCHAR) AS BIGINT) AS uid_converted,
       value AS value_copy
FROM events ORDER BY event_id LIMIT 200
""")
def ingest_processors_route(spark, sf_dir):
    """Routing/plumbing ingest processors (ingest/common/*Processor.java):
    date_index_name (DateIndexNameProcessor: date rounded to the index
    granularity → target index suffix), dot_expander (DotExpanderProcessor:
    'a.b' key → nested root/leaf), urldecode (URLDecodeProcessor over a
    derived %-escaped string — the decode direction is real), uppercase,
    convert (string → long), copy (CopyProcessor projection duplicate).
    Each a 1:1 Spark built-in, codegen, zero UDFs."""
    ev = _t(spark, sf_dir, "events").orderBy("event_id").limit(200)
    dotted = F.concat(F.lit("user."), F.col("event_type"))
    enc = F.concat(F.lit("q%20"), F.col("event_type"), F.lit("%2Fv"))
    return (ev.select(
        "event_id",
        F.concat(F.lit("logs-"),
                 F.date_format(F.date_trunc("month", "ts"), "yyyy-MM"))
         .alias("idx_name"),
        F.split(dotted, r"\.").getItem(0).alias("dot_root"),
        F.split(dotted, r"\.").getItem(1).alias("dot_leaf"),
        F.url_decode(enc).alias("url_decoded"),
        F.upper("event_type").alias("et_upper"),
        F.col("user_id").cast("string").cast("long").alias("uid_converted"),
        F.col("value").alias("value_copy"),
    ).orderBy("event_id"))


@q("ingest_fail_remove", """
WITH e AS (SELECT event_id, event_type, value FROM events
           ORDER BY event_id LIMIT 200)
SELECT event_id,
       CASE WHEN event_type = 'error'
            THEN 'failed: fail processor [reject error events]'
            ELSE 'ok' END AS status,
       CASE WHEN event_type = 'error' THEN NULL
            ELSE round(value * 2, 4) END AS processed,
       'keep_type' AS kept_keys,
       event_type AS kept_val
FROM e ORDER BY event_id
""")
def ingest_fail_remove(spark, sf_dir):
    """fail + on_failure routing and remove_by_pattern
    (FailProcessor.java — raises into the pipeline's on_failure handler,
    which tags the document instead of dropping it;
    RemoveByPatternProcessor.java — drops fields whose names match the
    pattern). DataFrame model: the failure branch is a CASE route (no
    row loss — exactly the reference's on_failure semantics), field
    removal is map_filter over the field map with the glob compiled to
    a prefix test; the surviving key set is re-emitted in-plan."""
    ev = _t(spark, sf_dir, "events").orderBy("event_id").limit(200)
    failed = F.col("event_type") == "error"
    fields = F.create_map(
        F.lit("meta_ts"), F.lit("x"),
        F.lit("meta_src"), F.lit("y"),
        F.lit("keep_type"), F.col("event_type"),
    )
    kept = F.map_filter(fields, lambda k, _: ~k.startswith("meta_"))
    return (ev.select(
        "event_id",
        F.when(failed, F.lit("failed: fail processor [reject error events]"))
         .otherwise(F.lit("ok")).alias("status"),
        F.when(failed, F.lit(None).cast("double"))
         .otherwise(F.round(F.col("value") * 2, 4)).alias("processed"),
        F.array_join(F.array_sort(F.map_keys(kept)), ",").alias("kept_keys"),
        F.element_at(kept, F.lit("keep_type")).alias("kept_val"),
    ).orderBy("event_id"))


@q("ingest_pipeline", """
SELECT event_id,
       upper(event_type) AS event_type_up,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       round(value * 1.1, 4) AS value_adj,
       json_extract_string(props, '$.k') AS prop_k,
       regexp_extract(event_type, '^([a-z]+)', 1) AS etype_word,
       concat(CAST(user_id AS VARCHAR), ':', event_type) AS user_tag
FROM events ORDER BY event_id LIMIT 200
""")
def ingest_pipeline(spark, sf_dir):
    """ingest-common processors as a transform chain: uppercase, date,
    json, gsub/grok→regexp_extract, convert, set/concat
    (IngestCommonModulePlugin.java:81-111 → built-ins, SURVEY §2.10)."""
    # top-k first (TakeOrderedAndProject on the narrow key), THEN the wide
    # projection — at 100 TB the per-row functions run on 200 rows, not all.
    ev = _t(spark, sf_dir, "events").orderBy("event_id").limit(200)
    return (ev.select(
        "event_id",
        F.upper("event_type").alias("event_type_up"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 1.1, 4).alias("value_adj"),
        F.get_json_object("props", "$.k").alias("prop_k"),
        F.regexp_extract("event_type", "^([a-z]+)", 1).alias("etype_word"),
        F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("event_type"))
         .alias("user_tag"),
    ).orderBy("event_id"))


# --------------------------------------------------------------------------
# training-data pipeline ops: dedup / similarity / text analysis
# --------------------------------------------------------------------------
from opensearch_spark.ml import dedup as D  # noqa: E402
from opensearch_spark.ml import similarity as S  # noqa: E402
from opensearch_spark.ml import textstats as TS  # noqa: E402
from opensearch_spark.ml import curation as CU  # noqa: E402

# shared SQL fragments mirroring ml.dedup exactly
_SH2 = """
sh AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(len(string_split_regex(trim(text), '\\s+')) - 1),
               i -> string_split_regex(trim(text), '\\s+')[i + 1] || ' '
                    || string_split_regex(trim(text), '\\s+')[i + 2]))) AS shingle
    FROM documents
),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
"""

# capped twin for the EXACT-Jaccard gates: mirrors jaccard_pairs'
# hot-shingle guard (df > JACCARD_DF_CAP dropped before join AND sizes) —
# same sh/sz names so downstream SQL is shared. The MinHash/fuzzy oracles
# keep the uncapped _SH2 (signatures hash every shingle).
_SH2C = f"""
sh0 AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(len(string_split_regex(trim(text), '\\s+')) - 1),
               i -> string_split_regex(trim(text), '\\s+')[i + 1] || ' '
                    || string_split_regex(trim(text), '\\s+')[i + 2]))) AS shingle
    FROM documents
),
keep AS (SELECT shingle FROM sh0 GROUP BY shingle
         HAVING count(*) <= {D.JACCARD_DF_CAP}),
sh AS (SELECT doc_id, sh0.shingle FROM sh0 JOIN keep ON sh0.shingle = keep.shingle),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
"""


@q("dedup_chunks_global", """
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
nums AS (SELECT doc_id, t, unnest(range(CAST(ceil(len(t)/10.0) AS BIGINT))) AS chunk_no FROM toks),
chunks AS (SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
                  array_to_string(list_slice(t, chunk_no*10+1, chunk_no*10+10), ' ') AS chunk
           FROM nums),
ranked AS (SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_no) AS rn FROM chunks),
kept AS (SELECT doc_id, chunk_no, chunk FROM ranked WHERE rn = 1),
rebuilt AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY chunk_no) AS text_dedup,
                   count(*) AS n_kept
            FROM kept GROUP BY doc_id),
nc AS (SELECT doc_id, CAST(ceil(len(t)/10.0) AS INT) AS n_chunks FROM toks)
SELECT nc.doc_id, coalesce(r.text_dedup, '') AS text_dedup, nc.n_chunks,
       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
FROM nc LEFT JOIN rebuilt r ON r.doc_id = nc.doc_id
ORDER BY nc.doc_id LIMIT 50
""")
def dedup_chunks_global(spark, sf_dir):
    """Corpus-global chunk dedup (C4/RefinedWeb line-dedup shape): drop
    every repeated 10-token chunk except its first occurrence, re-join
    survivors per doc. One hash-shuffle first-occurrence agg — no
    corpus-wide window, no driver state."""
    d = _docs(spark, sf_dir)
    return (D.dedup_chunks_global(d, "text", "doc_id", chunk_tokens=10)
            .orderBy("doc_id").limit(50))


@q("dedup_substring_spans", """
WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
wins AS (SELECT doc_id, CAST(g AS INT) AS pos,
                array_to_string(list_slice(t, CAST(g AS INT) + 1, CAST(g AS INT) + 8), ' ') AS win
         FROM toks, LATERAL unnest(range(CASE WHEN len(t) >= 8
                                              THEN len(t) - 7 ELSE 0 END)) AS u(g)),
dup AS (SELECT win FROM wins GROUP BY win HAVING count(*) >= 2),
dw AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (win)),
covp AS (SELECT doc_id, pos,
                least(8, coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 8)) AS c
         FROM dw),
cov AS (SELECT doc_id, count(*) AS n_dup_windows,
               CAST(sum(c) AS BIGINT) AS dup_token_cov
        FROM covp GROUP BY doc_id),
stats AS (SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
                 CAST(CASE WHEN len(t) >= 8 THEN len(t) - 7 ELSE 0 END AS INT)
                     AS n_windows
          FROM toks)
SELECT s.doc_id, s.n_tokens, s.n_windows,
       CAST(coalesce(c.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(coalesce(c.dup_token_cov, 0) AS BIGINT) AS dup_token_cov
FROM stats s LEFT JOIN cov c USING (doc_id)
ORDER BY s.doc_id LIMIT 200
""")
def dedup_substring_spans(spark, sf_dir):
    """ExactSubstr duplicated-span detection (Lee et al. 2021 shape):
    sliding 8-token windows seen at >=2 corpus sites mark their spans;
    per doc: duplicated-window count + interval-union token coverage.
    One hash-shuffle count + semi-join + per-doc lead() — no suffix
    array, no corpus-wide state."""
    d = _docs(spark, sf_dir)
    return (D.substring_dup_spans(d, "text", "doc_id", window_tokens=8)
            .orderBy("doc_id").limit(200))


@q("dedup_exact", """
SELECT min(doc_id) AS doc_id, count(*) AS dup_count
FROM documents GROUP BY text ORDER BY doc_id
""")
def dedup_exact(spark, sf_dir):
    return D.exact_dedup(_docs(spark, sf_dir), "text").orderBy("doc_id")


@q("dedup_ngram_jaccard", f"""
WITH {_SH2C},
inter AS (
    SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id)
SELECT a, b, round(i * 1.0 / (x.sz + y.sz - i), 6) AS jaccard
FROM inter JOIN sz x ON inter.a = x.doc_id JOIN sz y ON inter.b = y.doc_id
WHERE i * 1.0 / (x.sz + y.sz - i) >= 0.5
ORDER BY a, b
""")
def dedup_ngram_jaccard(spark, sf_dir):
    sh = D.shingles(_docs(spark, sf_dir), "text", n=2)
    return D.jaccard_pairs(sh, threshold=0.5).orderBy("a", "b")


def _minhash_oracle() -> str:
    perms = D.perm_constants()
    vals = ", ".join(f"({j}, {a}, {b})" for j, a, b in perms)
    return f"""
WITH {_SH2},
perms(j, a, b) AS (VALUES {vals}),
x AS (SELECT doc_id, shingle,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT % {D.MOD_X} AS x
      FROM sh),
sig AS (SELECT doc_id, j, min((a * x + b) % {D.MOD_H}) AS mh
        FROM x CROSS JOIN perms GROUP BY doc_id, j),
banded AS (
    SELECT doc_id, j // {D.BAND_ROWS} AS band,
           string_agg(j || ':' || mh, ',' ORDER BY j || ':' || mh) AS sig
    FROM sig GROUP BY doc_id, j // {D.BAND_ROWS}),
bsz AS (SELECT band, sig, count(*) AS m, min(doc_id) AS minid
        FROM banded GROUP BY band, sig),
cand AS (
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM banded l
    JOIN banded r ON l.band = r.band AND l.sig = r.sig AND l.doc_id < r.doc_id
    JOIN bsz z ON z.band = l.band AND z.sig = l.sig
    WHERE z.m <= {D.LSH_MAX_BUCKET}
    UNION
    SELECT z.minid AS a, l.doc_id AS b
    FROM banded l JOIN bsz z ON z.band = l.band AND z.sig = l.sig
    WHERE z.m > {D.LSH_MAX_BUCKET} AND l.doc_id <> z.minid),
inter AS (SELECT c.a, c.b, count(*) AS i
          FROM cand c JOIN sh sa ON sa.doc_id = c.a
                      JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
          GROUP BY c.a, c.b)
SELECT a, b, round(i * 1.0 / (x.sz + y.sz - i), 6) AS jaccard
FROM inter JOIN sz x ON inter.a = x.doc_id JOIN sz y ON inter.b = y.doc_id
WHERE i * 1.0 / (x.sz + y.sz - i) >= 0.5
ORDER BY a, b
"""


def _fuzzy_decon_oracle() -> str:
    perms = D.perm_constants()
    vals = ", ".join(f"({j}, {a}, {b})" for j, a, b in perms)
    return f"""
WITH {_SH2},
perms(j, a, b) AS (VALUES {vals}),
x AS (SELECT doc_id, shingle,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT % {D.MOD_X} AS x
      FROM sh),
sig AS (SELECT doc_id, j, min((a * x + b) % {D.MOD_H}) AS mh
        FROM x CROSS JOIN perms GROUP BY doc_id, j),
banded AS (
    SELECT doc_id, j // {D.BAND_ROWS} AS band,
           string_agg(j || ':' || mh, ',' ORDER BY j || ':' || mh) AS sig
    FROM sig GROUP BY doc_id, j // {D.BAND_ROWS}),
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
         FROM banded l JOIN banded r ON l.band = r.band AND l.sig = r.sig
         WHERE l.doc_id % 50 <> 0 AND r.doc_id % 50 = 0),
inter AS (SELECT c.a, c.b, count(*) AS i
          FROM cand c JOIN sh sa ON sa.doc_id = c.a
                      JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
          GROUP BY c.a, c.b)
SELECT a AS doc_id, b AS eval_id,
       round(i * 1.0 / (x.sz + y.sz - i), 6) AS jaccard
FROM inter JOIN sz x ON inter.a = x.doc_id JOIN sz y ON inter.b = y.doc_id
WHERE i * 1.0 / (x.sz + y.sz - i) >= 0.5
ORDER BY doc_id, eval_id
"""


@q("curation_decontaminate_fuzzy", _fuzzy_decon_oracle())
def curation_decontaminate_fuzzy(spark, sf_dir):
    """Near-dup decontamination: MinHash-LSH candidates between the train
    split (doc_id % 50 != 0) and the eval split, verified at jaccard ≥
    0.5 on distinct bigram shingles."""
    d = _docs(spark, sf_dir)
    ev = d.where(F.col("doc_id") % 50 == 0)
    tr = d.where(F.col("doc_id") % 50 != 0)
    return (CU.decontaminate_fuzzy(tr, ev, "text", "doc_id",
                                   n=2, threshold=0.5)
            .orderBy("doc_id", "eval_id"))


@q("dedup_minhash_lsh", _minhash_oracle())
def dedup_minhash_lsh(spark, sf_dir):
    return D.minhash_lsh_pairs(
        _docs(spark, sf_dir), "text", n=2, threshold=0.5).orderBy("a", "b")


def _simhash_oracle() -> str:
    sums = ",\n       ".join(
        f"sum(((h >> {i}) & 1) * 2 - 1) AS s{i}" for i in range(32))
    bits = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {2 ** i}::BIGINT ELSE 0 END)" for i in range(32))
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
    FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
      FROM toks WHERE tok <> ''),
sums AS (SELECT doc_id,
       {sums}
       FROM h GROUP BY doc_id)
SELECT doc_id, ({bits}) AS simhash FROM sums ORDER BY doc_id
"""


@q("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark, sf_dir):
    # bits pinned to 32: the oracle mirrors the md5 32-bit hash bit-for-
    # bit; the library default (None) auto-postures to 64 at real size
    return D.simhash(_docs(spark, sf_dir), "text", bits=32).orderBy("doc_id")


def _simhash_pairs_oracle(max_hamming: int = 6) -> str:
    """Pigeonhole banding is exact (a pair within the hamming budget
    shares >= 1 band, then the verify filters precisely), so the oracle
    is the brute-force pair set over the simhash CTE."""
    sums = ",\n       ".join(
        f"sum(((h >> {i}) & 1) * 2 - 1) AS s{i}" for i in range(32))
    bits = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {2 ** i}::BIGINT ELSE 0 END)" for i in range(32))
    return f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
    FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
      FROM toks WHERE tok <> ''),
sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
sh AS (SELECT doc_id, ({bits}) AS simhash FROM sums)
SELECT l.doc_id AS a, r.doc_id AS b,
       CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
FROM sh l JOIN sh r ON l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
ORDER BY a, b
"""


@q("dedup_simhash_pairs", _simhash_pairs_oracle())
def dedup_simhash_pairs(spark, sf_dir):
    fp = D.simhash(_docs(spark, sf_dir), "text", bits=32)  # oracle-paired
    return D.simhash_pairs(fp, max_hamming=6, bits=32).orderBy("a", "b")


@q("curation_decontaminate", """
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents),
sh AS (SELECT doc_id, unnest(list_transform(range(greatest(len(t) - 2, 0)),
           i -> list_aggregate(t[i + 1:i + 3], 'string_agg', ' '))) AS shingle
       FROM toks),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 0)
SELECT doc_id, count(DISTINCT shingle) AS n_contaminated
FROM tr JOIN ev USING (shingle)
GROUP BY doc_id ORDER BY doc_id
""")
def curation_decontaminate(spark, sf_dir):
    """Eval-set decontamination gate: docs with doc_id % 50 == 0 play the
    held-out eval set; every other doc sharing a word trigram with them is
    flagged. n=3 keeps the gate non-vacuous on the ~31-term synthetic
    vocabulary (n=8, the GPT-3-style default, flags only the exact dups)."""
    d = _docs(spark, sf_dir)
    ev = d.where(F.col("doc_id") % 50 == 0)
    tr = d.where(F.col("doc_id") % 50 != 0)
    return CU.decontaminate(tr, ev, "text", "doc_id", n=3).orderBy("doc_id")


@q("curation_pack_sequences", """
WITH t AS (SELECT doc_id, lang,
                  len(string_split_regex(trim(text), '\\s+')) AS n_tokens
           FROM documents),
c AS (SELECT doc_id, lang, n_tokens,
             sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id) AS fin
      FROM t)
SELECT doc_id, lang, n_tokens,
       CAST((fin - n_tokens) // 64 AS BIGINT) AS start_seq,
       CAST((fin - 1) // 64 AS BIGINT) AS end_seq,
       CAST((fin - n_tokens) % 64 AS BIGINT) AS offset_in_seq
FROM c ORDER BY doc_id
""")
def curation_pack_sequences(spark, sf_dir):
    """Token-budget packing gate: per-lang token tapes chunked into 64-token
    training sequences; verifies every doc's (start_seq, end_seq, offset)."""
    return CU.pack_sequences(_docs(spark, sf_dir), 64, "text", "doc_id",
                             part_col="lang").orderBy("doc_id")


@q("curation_repetition", """
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents),
g AS (SELECT doc_id, len(t) AS n,
             unnest(list_transform(range(greatest(len(t) - 1, 0)),
                 i -> list_aggregate(t[i + 1:i + 2], 'string_agg', ' '))) AS gram
      FROM toks),
c AS (SELECT doc_id, any_value(n) AS n, gram, count(*) AS cnt
      FROM g GROUP BY doc_id, gram),
s AS (SELECT doc_id,
             round(least(CAST(1 AS DOUBLE), max(cnt) * 2.0 / any_value(n)), 6)
                 AS top2gram_frac,
             round(least(CAST(1 AS DOUBLE),
                         coalesce(sum(cnt) FILTER (cnt >= 2), 0) * 2.0
                         / any_value(n)), 6) AS dup2gram_frac
      FROM c GROUP BY doc_id)
SELECT t.doc_id, len(t.t) AS n_tokens,
       coalesce(s.top2gram_frac, 0.0) AS top2gram_frac,
       coalesce(s.dup2gram_frac, 0.0) AS dup2gram_frac
FROM toks t LEFT JOIN s USING (doc_id) ORDER BY t.doc_id
""")
def curation_repetition(spark, sf_dir):
    """Gopher-style repetition signals at n=2 (the synthetic corpus has no
    repeated 5-grams, so the classic dup-5gram variant would be vacuous)."""
    return (CU.repetition_stats(_docs(spark, sf_dir), "text", top_n=2, dup_n=2)
            .orderBy("doc_id"))


@q("curation_sample_stratified", """
WITH k AS (SELECT doc_id, source,
                  ('0x' || substr(md5(doc_id::VARCHAR || 'r2'), 1, 8))::BIGINT
                      AS key
           FROM documents)
SELECT doc_id, source FROM (
    SELECT doc_id, source,
           row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rk
    FROM k)
WHERE rk <= 5 ORDER BY doc_id
""")
def curation_sample_stratified(spark, sf_dir):
    """Deterministic per-source holdout draw: 5 docs per source, ranked by
    salted md5 — reproducible across engines and runs."""
    return (CU.sample_stratified(_docs(spark, sf_dir), "source", 5, salt="r2")
            .select("doc_id", "source").orderBy("doc_id"))


@q("curation_source_mix", """
WITH t AS (SELECT doc_id, source,
                  len(string_split_regex(trim(text), '\\s+'))::BIGINT AS tok
           FROM documents),
shares(source, share) AS (VALUES
    ('src0', CAST(0.35 AS DOUBLE)), ('src1', CAST(0.1 AS DOUBLE)),
    ('src2', CAST(0.25 AS DOUBLE)), ('src3', CAST(0.1 AS DOUBLE)),
    ('src4', CAST(0.2 AS DOUBLE))),
tot AS (SELECT source, sum(tok) AS st FROM t
        WHERE source IN (SELECT source FROM shares)
        GROUP BY source),
g AS (SELECT sum(st) AS grand FROM tot),
r AS (SELECT source,
             round(least(CAST(1 AS DOUBLE), share * grand / st), 9) AS keep_rate
      FROM tot JOIN shares USING (source), g)
SELECT doc_id, source, keep_rate
FROM t JOIN r USING (source)
WHERE ('0x' || substr(md5(doc_id::VARCHAR || 'mix'), 1, 8))::BIGINT
      / 4294967296.0 < keep_rate
ORDER BY doc_id
""")
def curation_source_mix(spark, sf_dir):
    """Data-mixing rebalance: five sources get target share 0.35/0.1/0.25/
    0.1/0.2 of the kept-token budget (the other fifteen are dropped);
    src0's rate caps at 1.0, the rest thin deterministically."""
    shares = {"src0": 0.35, "src1": 0.1, "src2": 0.25,
              "src3": 0.1, "src4": 0.2}
    return (CU.source_mix(_docs(spark, sf_dir), shares, salt="mix")
            .select("doc_id", "source", "keep_rate").orderBy("doc_id"))


@q("curation_temperature_mix", """
WITH t AS (SELECT source,
                  len(string_split_regex(trim(text), '\\s+'))::BIGINT AS tok
           FROM documents),
per AS (SELECT source, sum(tok)::BIGINT AS tokens FROM t GROUP BY source),
tot AS (SELECT sum(tokens)::BIGINT AS grand,
               sum(pow(tokens, 0.5)) AS z FROM per)
SELECT source, tokens,
       round(tokens / grand, 6) AS natural_share,
       round(pow(tokens, 0.5) / z, 6) AS temp_share,
       round(pow(tokens, 0.5) / z * grand / tokens, 6) AS sample_factor
FROM per, tot ORDER BY source
""")
def curation_temperature_mix(spark, sf_dir):
    """Temperature-scaled source mixing (α=0.5, the multilingual/recipe
    smoothing of LLaMA/PaLM-style pipelines): w_i = t_i^α / Σ t_j^α over
    per-source token counts; sample_factor >1 = the source repeats
    epochs. One corpus scan (map-side partial token sums) + arithmetic
    on the |sources|-row frame — ml/curation.temperature_mix."""
    return CU.temperature_mix(_docs(spark, sf_dir), alpha=0.5)


_URL_DERIVE_SQL = (
    "'HTTP://WWW.SRC' || CAST(doc_id % 5 AS VARCHAR)"
    " || '.EXAMPLE.COM:80/p/' || CAST(doc_id % 13 AS VARCHAR)"
    " || '/?id=' || CAST(doc_id % 3 AS VARCHAR)"
    " || '&utm_source=feed' || CAST(doc_id % 2 AS VARCHAR)"
    " || '#s' || CAST(doc_id AS VARCHAR)")


@q("dedup_url", f"""
WITH u AS (SELECT doc_id, {_URL_DERIVE_SQL} AS url FROM documents),
s1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS x FROM u),
-- utm rules run on the QUERY part only: '&' is a legal unencoded PATH
-- character (mirrors ml/dedup.canonical_url exactly)
s1b AS (SELECT doc_id, regexp_extract(x, '^[^?]*', 0) AS pre,
               substr(x, length(regexp_extract(x, '^[^?]*', 0)) + 1) AS qp
        FROM s1),
s2 AS (SELECT doc_id,
              pre || regexp_replace(
                  regexp_replace(
                      regexp_replace(qp, '&utm_[a-z_]+=[^&#]*', '', 'g'),
                      '\\?utm_[a-z_]+=[^&#]*&', '?'),
                  '\\?utm_[a-z_]+=[^&#]*$', '') AS x
       FROM s1b),
s3 AS (SELECT doc_id,
              lower(regexp_extract(x, '^([^/]*//[^/]+)', 1)) AS head,
              regexp_replace(x, '^[^/]*//[^/]+', '') AS tail
       FROM s2),
s4 AS (SELECT doc_id,
              CASE WHEN head LIKE 'http://%'
                        THEN regexp_replace(head, ':80$', '')
                   WHEN head LIKE 'https://%'
                        THEN regexp_replace(head, ':443$', '')
                   ELSE head END AS head,
              regexp_extract(tail, '^[^?]*', 0) AS path,
              substr(tail,
                     length(regexp_extract(tail, '^[^?]*', 0)) + 1) AS qry
       FROM s3),
s5 AS (SELECT doc_id,
              head || CASE WHEN length(qry) > 0
                           THEN regexp_replace(path, '/$', '')
                           ELSE path END || qry AS canon_url
       FROM s4)
SELECT canon_url, min(doc_id) AS keep_id, count(*)::BIGINT AS n_dups
FROM s5 GROUP BY canon_url
ORDER BY canon_url
""")
def dedup_url(spark, sf_dir):
    """URL-canonicalization dedup (the CommonCrawl/web-pipeline step):
    drop #fragment, strip utm_* tracking params, drop the default :80
    port, lowercase scheme+host, collapse '/?'; keep min doc_id per
    canonical URL. Derived URL column (corpus has none) exercises every
    rule; the canonicalizer itself (ml/dedup.canonical_url) is generic.
    Plan: pure regexp codegen + ONE hash-shuffle groupBy — exact_dedup's
    scale shape."""
    from opensearch_spark.ml.dedup import url_dedup

    d = _docs(spark, sf_dir).select("doc_id")
    url = F.concat(
        F.lit("HTTP://WWW.SRC"), (F.col("doc_id") % 5).cast("string"),
        F.lit(".EXAMPLE.COM:80/p/"), (F.col("doc_id") % 13).cast("string"),
        F.lit("/?id="), (F.col("doc_id") % 3).cast("string"),
        F.lit("&utm_source=feed"), (F.col("doc_id") % 2).cast("string"),
        F.lit("#s"), F.col("doc_id").cast("string"))
    return url_dedup(d.withColumn("url", url)).orderBy("canon_url")


@q("text_token_stats", """
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
           FROM documents)
SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_unique,
       round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS unique_ratio,
       round(list_sum(list_transform(toks, x -> length(x))) * 1.0
             / len(toks), 6) AS mean_token_len
FROM t ORDER BY doc_id
""")
def text_token_stats(spark, sf_dir):
    return TS.token_stats(_docs(spark, sf_dir), "text").orderBy("doc_id")


@q("text_quality", f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
           FROM documents),
x AS (SELECT doc_id, len(toks) AS n,
             len(list_distinct(toks)) AS nd,
             len(list_intersect(toks,
                 {TS.STOPWORDS_EN!r})) AS n_stop
      FROM t)
SELECT doc_id, n AS n_tokens, n_stop AS n_stopwords,
       round((CASE WHEN n BETWEEN 10 AND 1000 THEN 0.4 ELSE 0.0 END)
             + round(CAST(0.3 AS DOUBLE) * nd / n, 6)
             + (CASE WHEN n_stop >= 1 THEN 0.3 ELSE 0.0 END), 6) AS quality
FROM x ORDER BY doc_id
""")
def text_quality(spark, sf_dir):
    return TS.quality_score(_docs(spark, sf_dir), "text").orderBy("doc_id")


@q("pipeline_training_data", f"""
WITH t AS (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS toks
           FROM documents),
x AS (SELECT doc_id, lang, len(toks) AS n,
             len(list_distinct(toks)) AS nd,
             len(list_intersect(toks,
                 {TS.STOPWORDS_EN!r})) AS n_stop,
             md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
      FROM t),
scored AS (SELECT doc_id, lang, n AS n_tokens, fp,
                  round((CASE WHEN n BETWEEN 10 AND 1000 THEN 0.4 ELSE 0.0 END)
                        + round(CAST(0.3 AS DOUBLE) * nd / n, 6)
                        + (CASE WHEN n_stop >= 1 THEN 0.3 ELSE 0.0 END), 6) AS quality
           FROM x),
filtered AS (SELECT * FROM scored WHERE lang = 'en' AND quality >= 0.8),
kept AS (SELECT fp, min(doc_id) AS doc_id FROM filtered GROUP BY fp)
SELECT f.doc_id, f.n_tokens, f.quality
FROM filtered f JOIN kept k ON f.doc_id = k.doc_id AND f.fp = k.fp
ORDER BY f.doc_id
""")
def pipeline_training_data(spark, sf_dir):
    """Composed training-data pipeline (the north-star end-to-end shape):
    language filter -> quality-score filter -> corpus-global exact dedup
    (first occurrence per content fingerprint) -> curated doc set. Each
    stage is an existing operator; the composition stays one declarative
    plan (filters push into the scan, dedup is the only shuffle)."""
    d = _docs(spark, sf_dir)
    qs = TS.quality_score(d, "text").select("doc_id", "n_tokens", "quality")
    fp = TS.fingerprint(d, "text")
    filtered = (d.where(F.col("lang") == "en").select("doc_id")
                .join(qs.where(F.col("quality") >= 0.8), "doc_id")
                .join(fp, "doc_id"))
    kept = filtered.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    return (filtered.join(kept, ["fingerprint", "doc_id"])
            .select("doc_id", "n_tokens", "quality").orderBy("doc_id"))


@q("corpus_stats", """
WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
flat AS (SELECT unnest(toks) AS term FROM t)
SELECT (SELECT count(*) FROM t) AS n_docs,
       (SELECT CAST(sum(len(toks)) AS BIGINT) FROM t) AS n_tokens,
       (SELECT count(DISTINCT text) FROM t) AS n_distinct_docs,
       (SELECT count(DISTINCT term) FROM flat) AS vocab_size,
       (SELECT round(avg(len(toks)), 4) FROM t) AS avg_dl
""")
def corpus_stats(spark, sf_dir):
    """Dataset-curation summary (the _stats/_cat corpus view a training
    pipeline starts from): docs, tokens, exact-distinct docs, vocabulary
    size, mean doc length — one pass + two distinct aggs, all partial/
    final HashAggregate (the distincts are the only shuffles)."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    base = d.select("text", F.size(toks).alias("_dl"), toks.alias("_toks"))
    main = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("_dl").alias("n_tokens"),
        F.countDistinct("text").alias("n_distinct_docs"),
        F.round(F.avg("_dl"), 4).alias("avg_dl"))
    vocab = (base.select(F.explode("_toks").alias("term"))
             .agg(F.countDistinct("term").alias("vocab_size")))
    return main.crossJoin(vocab).select(
        "n_docs", "n_tokens", "n_distinct_docs", "vocab_size", "avg_dl")


@q("text_fingerprint", """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(
           string_split_regex(trim(text), '\\s+'))), ' ')) AS fingerprint
FROM documents ORDER BY doc_id
""")
def text_fingerprint(spark, sf_dir):
    return TS.fingerprint(_docs(spark, sf_dir), "text").orderBy("doc_id")


def _langid_oracle() -> str:
    hit_cols = []
    for lang in sorted(TS.LANG_MARKERS):
        hit_cols.append(
            f"len(list_intersect(list_distinct(toks), "
            f"{TS.LANG_MARKERS[lang]!r})) AS h_{lang}")
    # sequential argmax identical to textstats.lang_id (later wins strictly)
    best, best_n = "'und'", "0"
    for lang in sorted(TS.LANG_MARKERS):
        best = f"CASE WHEN h_{lang} > {best_n} THEN '{lang}' ELSE {best} END"
        best_n = f"greatest(h_{lang}, {best_n})"
    return f"""
WITH t AS (SELECT doc_id,
                  list_transform(
                      string_split_regex(trim(lower(text)), '\\s+'),
                      t -> regexp_replace(t, '^[^a-z0-9]+|[^a-z0-9]+$',
                                          '', 'g')) AS toks
           FROM documents),
x AS (SELECT doc_id, {', '.join(hit_cols)} FROM t)
SELECT doc_id, ({best}) AS pred_lang FROM x ORDER BY doc_id
"""


@q("text_lang_id", _langid_oracle())
def text_lang_id(spark, sf_dir):
    return TS.lang_id(_docs(spark, sf_dir), "text").orderBy("doc_id")


@q("sim_hybrid_rrf", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','table') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','table') GROUP BY term),
scored AS (SELECT tf.doc_id, sum({O.bm25_term()}) AS raw_score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY tf.doc_id),
bm AS (SELECT doc_id, round(raw_score, 4) AS score FROM scored
       ORDER BY round(raw_score, 4) DESC, doc_id LIMIT 50),
bm_r AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r_bm FROM bm),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (SELECT e.vec_id, unnest(CAST(e.embedding AS DOUBLE[])) AS x,
                 unnest(qv.qe) AS y
          FROM embeddings e CROSS JOIN qv),
sums AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
         FROM pairs GROUP BY vec_id),
cosv AS (SELECT vec_id, round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cosine FROM sums
         ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 4) DESC, vec_id LIMIT 50),
cos_r AS (SELECT vec_id AS doc_id,
          row_number() OVER (ORDER BY cosine DESC, vec_id) AS r_cos FROM cosv),
fused AS (SELECT coalesce(bm_r.doc_id, cos_r.doc_id) AS doc_id,
                 round(coalesce(1.0 / (60 + r_bm), 0)
                       + coalesce(1.0 / (60 + r_cos), 0), 6) AS rrf_score
          FROM bm_r FULL OUTER JOIN cos_r ON bm_r.doc_id = cos_r.doc_id)
SELECT doc_id, rrf_score FROM fused
ORDER BY rrf_score DESC, doc_id LIMIT 10
""")
def sim_hybrid_rrf(spark, sf_dir):
    """Hybrid BM25 + vector-cosine retrieval fused by reciprocal rank
    (the neural-search hybrid query with rank-based normalization)."""
    s = get_searcher(spark, sf_dir)
    emb = _docs(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return S.hybrid_rrf(s, Match(field="text", text="spark table"),
                        emb, qv, k=10, n_candidates=50, rrf_k=60)


@q("sim_hybrid_minmax", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','table') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','table') GROUP BY term),
scored AS (SELECT tf.doc_id, sum({O.bm25_term()}) AS raw_score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
           GROUP BY tf.doc_id),
bm AS (SELECT doc_id, round(raw_score, 4) AS score FROM scored
       ORDER BY round(raw_score, 4) DESC, doc_id LIMIT 50),
bm_n AS (SELECT doc_id, CASE WHEN max(score) OVER () > min(score) OVER ()
             THEN CASE WHEN score = min(score) OVER () THEN 0.001
                  ELSE (score - min(score) OVER ()) / (max(score) OVER () - min(score) OVER ()) END
             ELSE 1.0 END AS n_bm FROM bm),
qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (SELECT e.vec_id, unnest(CAST(e.embedding AS DOUBLE[])) AS x,
                 unnest(qv.qe) AS y
          FROM embeddings e CROSS JOIN qv),
sums AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
         FROM pairs GROUP BY vec_id),
cosv AS (SELECT vec_id, round(dot / (sqrt(nx) * sqrt(ny)), 4) AS score FROM sums
         ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 4) DESC, vec_id LIMIT 50),
cos_n AS (SELECT vec_id AS doc_id, CASE WHEN max(score) OVER () > min(score) OVER ()
              THEN CASE WHEN score = min(score) OVER () THEN 0.001
                   ELSE (score - min(score) OVER ()) / (max(score) OVER () - min(score) OVER ()) END
              ELSE 1.0 END AS n_cos FROM cosv),
fused AS (SELECT coalesce(bm_n.doc_id, cos_n.doc_id) AS doc_id,
                 round(coalesce(n_bm, 0) * 0.5 + coalesce(n_cos, 0) * 0.5, 6) AS hybrid_score
          FROM bm_n FULL OUTER JOIN cos_n ON bm_n.doc_id = cos_n.doc_id)
SELECT doc_id, hybrid_score FROM fused
ORDER BY hybrid_score DESC, doc_id LIMIT 10
""")
def sim_hybrid_minmax(spark, sf_dir):
    """Hybrid retrieval, min-max normalization + weighted-sum combination
    (normalization-processor technique=min_max)."""
    s = get_searcher(spark, sf_dir)
    emb = _docs(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return S.hybrid_minmax(s, Match(field="text", text="spark table"),
                           emb, qv, k=10, n_candidates=50)


@q("sim_cosine_topk", """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (SELECT e.vec_id,
                 unnest(CAST(e.embedding AS DOUBLE[])) AS x,
                 unnest(q.qe) AS y
          FROM embeddings e CROSS JOIN q),
s AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
      FROM pairs GROUP BY vec_id)
SELECT vec_id, round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cosine
FROM s WHERE vec_id <> 0
ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 4) DESC, vec_id LIMIT 10
""")
def sim_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return S.cosine_topk(emb, qv, k=10, exclude_id=0)


@q("sim_sq8_topk", """
WITH st AS (
    SELECT min(x) AS mn, (max(x) - min(x)) / 255.0 AS scale
    FROM (SELECT unnest(CAST(embedding AS DOUBLE[])) AS x FROM embeddings)
),
dq AS (
    SELECT e.vec_id,
           list_transform(
               CAST(e.embedding AS DOUBLE[]),
               x -> st.mn + round((x - st.mn) / st.scale) * st.scale) AS v
    FROM embeddings e CROSS JOIN st
),
q AS (SELECT v AS qv FROM dq WHERE vec_id = 0),
pairs AS (SELECT d.vec_id, unnest(d.v) AS x, unnest(q.qv) AS y
          FROM dq d CROSS JOIN q),
s AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
      FROM pairs GROUP BY vec_id)
SELECT vec_id, round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cosine
FROM s WHERE vec_id <> 0
ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 4) DESC, vec_id LIMIT 10
""")
def sim_sq8_topk(spark, sf_dir):
    """int8 scalar-quantized cosine top-k (the reference's byte-quantized
    knn_vector path; Lucene-style scalar quantizer with a global range):
    quantize→dequantize round-trip on both sides, exact SQL twin — unlike
    LSH/IVF this ANN variant is hash-gated, not recall-gated."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return S.sq8_topk(emb, qv, k=10, exclude_id=0)


# embeddings-fixture vector dimension (datagen.py writes dim-64 vectors).
# Shared by _ivf_fixed_sql and sim_ivf_fixed_topk so the oracle's inlined
# centroids and the engine's can never silently diverge if the fixture
# dimension changes — sim_ivf_fixed_topk asserts the data matches.
EMB_DIM = 64


def _ivf_fixed_sql() -> str:
    """Oracle for sim_ivf_fixed_topk: the same md5-derived centroids as
    literal arrays, argmin-by-(dist², j) assignment, 2-probe, exact cosine
    re-rank — every step SQL-expressible because the centroids are fixed
    (unlike the Lloyd-refined sim_ivf_topk, which stays rows-only)."""
    from opensearch_spark.ml.similarity import hyperplanes

    cents = hyperplanes(8, EMB_DIM)
    lits = ", ".join(
        f"({j}, [{', '.join(repr(x) for x in c)}])"
        for j, c in enumerate(cents))
    return f"""
WITH cents(j, cv) AS (VALUES {lits}),
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
probe AS (
    SELECT j FROM cents CROSS JOIN q
    ORDER BY list_dot_product(qv, qv) - 2 * list_dot_product(qv, cv)
             + list_dot_product(cv, cv) ASC, j ASC
    LIMIT 2
),
assign AS (
    SELECT vec_id, j, row_number() OVER (
        PARTITION BY vec_id
        ORDER BY list_dot_product(x, x) - 2 * list_dot_product(x, cv)
                 + list_dot_product(cv, cv) ASC, j ASC) AS rn
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings) e
    CROSS JOIN cents
),
cand AS (SELECT vec_id FROM assign
         WHERE rn = 1 AND j IN (SELECT j FROM probe)),
pairs AS (SELECT e.vec_id, unnest(CAST(e.embedding AS DOUBLE[])) AS x,
                 unnest(q.qv) AS y
          FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN q),
s AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
      FROM pairs GROUP BY vec_id)
SELECT vec_id, round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cosine
FROM s WHERE vec_id <> 0
ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 4) DESC, vec_id LIMIT 10
"""


@q("sim_ivf_fixed_topk", _ivf_fixed_sql())
def sim_ivf_fixed_topk(spark, sf_dir):
    """IVF probe with FIXED md5-derived coarse centroids (no Lloyd
    refinement): assignment, probe selection, and re-rank are all
    deterministic and reproduced exactly by the SQL oracle — the
    hash-gated twin of the rows-only kmeans++ sim_ivf_topk."""
    from opensearch_spark.ml.similarity import hyperplanes

    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    if len(qv) != EMB_DIM:  # keep engine + oracle centroid dims in lockstep
        raise ValueError(
            f"embeddings dim {len(qv)} != EMB_DIM {EMB_DIM}; update EMB_DIM")
    return S.ivf_topk(emb, qv, k=10, nprobe=2, exclude_id=0,
                      centroids=hyperplanes(8, EMB_DIM))


#: PQ gate geometry — 4 subspaces × 8 codewords over the 64-dim fixture
#: (subdim 16). Shared by the oracle builder and the gate so engine and
#: SQL codebooks/query can never diverge.
PQ_NSUB, PQ_KSUB = 4, 8


def _pq_query_vec() -> list[float]:
    """Deterministic PQ query vector (md5-derived constants, 'pqq:' salt):
    the gate's query is a FIXED literal, so the oracle's ADC distance
    table inlines the byte-identical doubles the engine computes —
    stronger parity than a data-drawn query (no float-drift surface at
    all in the final summed value)."""
    import hashlib as _h

    return [(int(_h.md5(f"pqq:{d}".encode()).hexdigest()[:8], 16)
             / float(2 ** 32)) * 2.0 - 1.0 for d in range(EMB_DIM)]


def _pq_fixed_sql() -> str:
    """Oracle for sim_pq_topk — every PQ stage is SQL-expressible because
    codebooks AND query are fixed constants: per-subspace code = first-max
    argmax of (2·dot(sub, c_j) − ||c_j||²) via row_number (the exact
    ``_pq_code_expr`` fold), ADC = a literal-array lookup chain whose
    distance-table doubles are computed by the SAME Python loop that
    builds the engine's literals."""
    subdim = EMB_DIM // PQ_NSUB
    books = S.pq_codebooks_fixed(PQ_NSUB, PQ_KSUB, subdim)
    qv = _pq_query_vec()
    cbs, assigns, joins, qd_lookups = [], [], [], []
    for m, book in enumerate(books):
        lits = ", ".join(
            f"({j}, [{', '.join(repr(x) for x in c)}], "
            f"{sum(x * x for x in c)!r})"
            for j, c in enumerate(book))
        cbs.append(f"cb{m}(j, cv, c2) AS (VALUES {lits})")
        lo, hi = m * subdim + 1, (m + 1) * subdim
        assigns.append(f"""a{m} AS (
    SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id
        ORDER BY 2 * list_dot_product(v[{lo}:{hi}], cv) - c2 DESC, j ASC
    ) AS rn FROM e CROSS JOIN cb{m})""")
        joins.append(
            f"JOIN (SELECT vec_id, j AS code{m} FROM a{m} WHERE rn = 1) "
            f"c{m} USING (vec_id)")
        qsub = qv[lo - 1:hi]
        dists = []
        for c in book:
            s = 0.0
            for x, y in zip(qsub, c):
                s += (float(x) - float(y)) ** 2
            dists.append(s)
        qd_lookups.append(
            f"list_extract([{', '.join(repr(d) for d in dists)}], "
            f"code{m} + 1)")
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{', '.join(cbs)},
{', '.join(assigns)},
sel AS (SELECT e.vec_id{''.join(f', code{m}' for m in range(PQ_NSUB))}
        FROM e {' '.join(joins)})
SELECT vec_id, CAST(round({' + '.join(qd_lookups)}, 6) AS DOUBLE) AS adc
FROM sel ORDER BY adc ASC, vec_id ASC LIMIT 10
"""


@q("sim_pq_topk", _pq_fixed_sql())
def sim_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (k-NN plugin faiss IVF-PQ encoder
    family, `PQ4x3` geometry here; Jegou et al. TPAMI 2011) with FIXED
    md5-derived codebooks — the hash-gated twin of the Lloyd-trained
    ``pq_train`` path (rows-only recall-tested in tests/test_ml.py,
    mirroring the ivf_topk / ivf_fixed_topk split). Encoding is one
    codegen scan (codes materializable at build time: 64-dim float32 →
    4 small codes, the 100 TB memory story); the query never touches raw
    vectors — ADC is a literal distance-table lookup chain."""
    emb = _t(spark, sf_dir, "embeddings")
    dim = int(emb.select(F.size("embedding").alias("d")).first()["d"])
    if dim != EMB_DIM:  # keep engine + oracle codebook dims in lockstep
        raise ValueError(f"embeddings dim {dim} != EMB_DIM {EMB_DIM}")
    return _pq_index(spark, sf_dir).topk(spark, _pq_query_vec(), k=10)


_PQ_CACHE: dict[str, "S.PqIndex"] = {}


def _pq_index(spark, sf_dir) -> "S.PqIndex":
    """Build (or reuse) the materialized PQ codes for sf_dir — the gate
    serves from codes-only scans (PqIndex discipline: the encode scan
    runs once at build, queries never read the embedding column)."""
    key = os.path.abspath(sf_dir)
    if key in _PQ_CACHE:
        return _PQ_CACHE[key]
    out = os.path.join(INDEX_ROOT,
                       hashlib.sha256(key.encode()).hexdigest()[:16] + "_pq")
    if os.path.exists(os.path.join(out, "meta.json")):
        idx = S.PqIndex(out)
    else:
        books = S.pq_codebooks_fixed(PQ_NSUB, PQ_KSUB, EMB_DIM // PQ_NSUB)
        idx = S.PqIndex.build(_t(spark, sf_dir, "embeddings"), out, books)
    _PQ_CACHE[key] = idx
    return idx


#: IVF-PQ gate geometry: 8 fixed coarse centroids (the md5 hyperplane
#: constants, `_ivf_fixed_sql` posture) over the sim_pq_topk 4×8 residual
#: codebooks. nprobe=2 — the query reads 2 of 8 inverted lists.
IVFPQ_NCENT, IVFPQ_NPROBE = 8, 2


def _ivfpq_fixed_sql() -> str:
    """Oracle for sim_ivfpq_topk — the full faiss-IVFPQ pipeline is
    SQL-expressible because coarse centroids, residual codebooks, AND the
    query are fixed constants: coarse assignment = the `_ivf_fixed_sql`
    row_number argmin; residual codes avoid per-row vector subtraction by
    the dot decomposition dot(sub(v)−sub(c), b) = dot(sub(v), b) − const —
    each per-m codebook CTE carries adj = 2·dot(sub(c), b) + ||b||² keyed
    by the row's assignment; ADC inlines per-probe distance tables
    computed by the SAME Python loop that builds the engine's literals
    (``ivfpq_adc_tables``), selected by a CASE on the assignment."""
    from opensearch_spark.ml.similarity import (hyperplanes,
                                                ivfpq_adc_tables,
                                                pq_codebooks_fixed)

    subdim = EMB_DIM // PQ_NSUB
    cents = hyperplanes(IVFPQ_NCENT, EMB_DIM)
    books = pq_codebooks_fixed(PQ_NSUB, PQ_KSUB, subdim)
    qv = _pq_query_vec()

    def d2(c):
        return sum((float(x) - float(y)) ** 2 for x, y in zip(qv, c))

    probes = sorted(range(IVFPQ_NCENT),
                    key=lambda j: (d2(cents[j]), j))[:IVFPQ_NPROBE]
    tables = ivfpq_adc_tables(qv, cents, books, probes)

    cent_lits = ", ".join(
        f"({j}, [{', '.join(repr(x) for x in c)}])"
        for j, c in enumerate(cents))
    cbs, rs, joins = [], [], []
    for m, book in enumerate(books):
        rows = []
        for cj, c in enumerate(cents):
            for j, b in enumerate(book):
                adj = (2.0 * sum(cx * bx for cx, bx in
                                 zip(c[m * subdim:(m + 1) * subdim], b))
                       + sum(x * x for x in b))
                rows.append(
                    f"({cj}, {j}, [{', '.join(repr(x) for x in b)}], "
                    f"{adj!r})")
        cbs.append(f"cb{m}(cj, j, bv, adj) AS (VALUES {', '.join(rows)})")
        lo, hi = m * subdim + 1, (m + 1) * subdim
        rs.append(f"""r{m} AS (
    SELECT vec_id, cb{m}.j, row_number() OVER (PARTITION BY vec_id
        ORDER BY 2 * list_dot_product(v[{lo}:{hi}], bv) - adj DESC,
                 cb{m}.j ASC) AS rn
    FROM ev JOIN cb{m} ON cb{m}.cj = ev.cj)""")
        joins.append(
            f"JOIN (SELECT vec_id, j AS code{m} FROM r{m} WHERE rn = 1) "
            f"s{m} USING (vec_id)")

    def lookup_chain(p: int) -> str:
        return " + ".join(
            f"list_extract([{', '.join(repr(d) for d in tables[p][m])}], "
            f"code{m} + 1)" for m in range(PQ_NSUB))

    case = (f"CASE WHEN cj = {probes[0]} THEN {lookup_chain(probes[0])} "
            f"ELSE {lookup_chain(probes[1])} END")
    return f"""
WITH cents(j, cv) AS (VALUES {cent_lits}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
assign AS (
    SELECT vec_id, j, row_number() OVER (
        PARTITION BY vec_id
        ORDER BY list_dot_product(v, v) - 2 * list_dot_product(v, cv)
                 + list_dot_product(cv, cv) ASC, j ASC) AS rn
    FROM e CROSS JOIN cents
),
ev AS (SELECT e.vec_id, e.v, a.j AS cj
       FROM e JOIN assign a ON a.vec_id = e.vec_id AND a.rn = 1
       WHERE a.j IN ({probes[0]}, {probes[1]})),
{', '.join(cbs)},
{', '.join(rs)},
sel AS (SELECT ev.vec_id, ev.cj{''.join(f', code{m}' for m in range(PQ_NSUB))}
        FROM ev {' '.join(joins)})
SELECT vec_id, CAST(round({case}, 6) AS DOUBLE) AS adc
FROM sel ORDER BY adc ASC, vec_id ASC LIMIT 10
"""


@q("sim_ivfpq_topk", _ivfpq_fixed_sql())
def sim_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN (k-NN plugin faiss `ivf,pq` method;
    `KNNMethodContext`/faiss IndexIVFPQ; Jegou et al. TPAMI 2011): coarse
    quantizer → inverted lists, residual product quantization inside each
    list, nprobe-pruned ADC scan. The serving posture is the 100 TB
    story twice over: the codes table is partitioned by the coarse
    assignment (probe set = directory pruning, plan-asserted in
    tests/test_ml.py), and the pruned scan reads 4 small ints per row —
    no raw vectors, no shuffle, one TakeOrderedAndProject."""
    from opensearch_spark.ml.similarity import hyperplanes

    emb = _t(spark, sf_dir, "embeddings")
    dim = int(emb.select(F.size("embedding").alias("d")).first()["d"])
    if dim != EMB_DIM:  # keep engine + oracle constants in lockstep
        raise ValueError(f"embeddings dim {dim} != EMB_DIM {EMB_DIM}")
    return _ivfpq_index(spark, sf_dir).topk(
        spark, _pq_query_vec(), k=10, nprobe=IVFPQ_NPROBE)


_IVFPQ_CACHE: dict[str, "S.IvfPqIndex"] = {}


def _ivfpq_index(spark, sf_dir) -> "S.IvfPqIndex":
    """Build (or reuse) the materialized IVF-PQ codes for sf_dir —
    assignment is a parquet PARTITION column, codes the only data cols."""
    key = os.path.abspath(sf_dir)
    if key in _IVFPQ_CACHE:
        return _IVFPQ_CACHE[key]
    out = os.path.join(INDEX_ROOT,
                       hashlib.sha256(key.encode()).hexdigest()[:16] + "_ivfpq")
    if os.path.exists(os.path.join(out, "meta.json")):
        idx = S.IvfPqIndex(out)
    else:
        cents = S.hyperplanes(IVFPQ_NCENT, EMB_DIM)
        books = S.pq_codebooks_fixed(PQ_NSUB, PQ_KSUB, EMB_DIM // PQ_NSUB)
        idx = S.IvfPqIndex.build(_t(spark, sf_dir, "embeddings"), out,
                                 cents, books)
    _IVFPQ_CACHE[key] = idx
    return idx


_ANN_CACHE: dict[str, "S.AnnIndex"] = {}


def _ann_index(spark, sf_dir) -> "S.AnnIndex":
    """Build (or reuse) the materialized ANN index for sf_dir — bucket and
    IVF assignment are parquet PARTITION columns, so probe sets become
    directory pruning instead of a per-query full-scan re-hash."""
    key = os.path.abspath(sf_dir)
    if key in _ANN_CACHE:
        return _ANN_CACHE[key]
    out = os.path.join(INDEX_ROOT,
                       hashlib.sha256(key.encode()).hexdigest()[:16] + "_ann")
    if os.path.exists(os.path.join(out, "meta.json")):
        idx = S.AnnIndex(out)
    else:
        idx = S.AnnIndex.build(_t(spark, sf_dir, "embeddings"), out,
                               n_planes=6, n_centroids=8)
    _ANN_CACHE[key] = idx
    return idx


def _lsh_oracle_sql(n_planes: int = 6, dim: int = 64) -> str:
    """Full-fidelity DuckDB twin of the materialized-LSH probe: the
    deterministic hyperplanes are inlined as double literals, bucket =
    sign pattern of the plane dots, multiprobe=2 ≡ hamming(bucket,
    query_bucket) <= 2, exact cosine re-rank inside the candidates."""
    planes = S.hyperplanes(n_planes, dim)

    def lit(p):
        return "[" + ", ".join(repr(x) for x in p) + "]"

    bexpr = " + ".join(
        f"(CASE WHEN list_dot_product(v, {lit(p)}) > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bk AS (SELECT vec_id, v, ({bexpr})::BIGINT AS b FROM e),
qb AS (SELECT b AS qb, v AS qv FROM bk WHERE vec_id = 0),
cand AS (SELECT bk.vec_id, bk.v, qb.qv FROM bk CROSS JOIN qb
         WHERE bit_count(xor(bk.b, qb.qb)) <= 2 AND bk.vec_id <> 0),
pairs AS (SELECT vec_id, unnest(v) AS x, unnest(qv) AS y FROM cand),
s AS (SELECT vec_id, sum(x*y) AS dot, sum(x*x) AS nx, sum(y*y) AS ny
      FROM pairs GROUP BY vec_id)
SELECT vec_id, round(dot / (sqrt(nx)*sqrt(ny)), 4) AS cosine
FROM s ORDER BY round(dot / (sqrt(nx)*sqrt(ny)), 4) DESC, vec_id LIMIT 10
"""


@q("sim_lsh_topk", _lsh_oracle_sql())
def sim_lsh_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return _ann_index(spark, sf_dir).lsh_topk(spark, qv, k=10, multiprobe=2,
                                              exclude_id=0)


_HNSW_CACHE: dict[str, object] = {}


def _hnsw_index(spark, sf_dir):
    """Build (or reuse) the per-segment HNSW graph table for sf_dir —
    one packed binary blob per deterministic hash segment, the graph
    equivalent of the LSH/IVF materialized indexes above."""
    from opensearch_spark.ml.hnsw import HnswIndex

    key = os.path.abspath(sf_dir)
    if key in _HNSW_CACHE:
        return _HNSW_CACHE[key]
    out = os.path.join(INDEX_ROOT,
                       hashlib.sha256(key.encode()).hexdigest()[:16] + "_hnsw")
    import shutil

    # freshness: pre-round-4 caches hold pickle-format blobs the safe
    # npz reader refuses — rebuild on format mismatch
    if os.path.exists(os.path.join(out, "meta.json")) and \
            HnswIndex(out).meta.get("blob_format") == 2:
        idx = HnswIndex(out)
    else:
        shutil.rmtree(out, ignore_errors=True)
        idx = HnswIndex.build(_t(spark, sf_dir, "embeddings"), out,
                              m=8, ef_construction=64, n_segments=4)
    _HNSW_CACHE[key] = idx
    return idx


_HNSW_EXACT_ORACLE = """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (SELECT e.vec_id,
                 unnest(CAST(e.embedding AS DOUBLE[])) AS x,
                 unnest(q.qe) AS y
          FROM embeddings e CROSS JOIN q {extra_where_join}),
s AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
      FROM pairs GROUP BY vec_id)
SELECT vec_id, round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cosine
FROM s WHERE vec_id <> 0 {extra_where}
ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 4) DESC, vec_id LIMIT 10
"""


@q("sim_hnsw_topk", _HNSW_EXACT_ORACLE.format(extra_where_join="",
                                              extra_where=""))
def sim_hnsw_topk(spark, sf_dir):
    """Graph-ANN top-k over per-segment HNSW (the reference's
    events-correlation-engine correlation_vector field: per-segment
    Lucene99 HNSW graphs with m/ef_construction, per-leaf kNN + global
    TopDocs merge — CorrelationParamsContext.java:25-46,
    CorrelationQueryBuilder.java). ef_search=512 covers every segment at
    all test scales, so the beam visits each connected graph exhaustively
    and the DuckDB exact-cosine twin is a FULL oracle, not a recall gate
    (same discipline as sim_sq8_topk)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return _hnsw_index(spark, sf_dir).topk(spark, qv, k=10, ef_search=512,
                                           exclude_id=0)


@q("sim_hnsw_filtered", _HNSW_EXACT_ORACLE.format(
    extra_where_join="WHERE e.vec_id % 3 = 1",
    extra_where="AND vec_id % 3 = 1"))
def sim_hnsw_filtered(spark, sf_dir):
    """Filtered graph-ANN: CorrelationQueryBuilder.java's optional
    ``filter`` becomes an acceptOrds mask inside each segment's beam —
    the walk TRAVERSES every node but COLLECTS only accepted ones
    (Lucene's filtered-kNN posture), so a selective predicate cannot
    strand the search on an island of rejected nodes."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in
          emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return _hnsw_index(spark, sf_dir).topk(
        spark, qv, k=10, ef_search=512, exclude_id=0,
        accept_fn=lambda ids: ids % 3 == 1)


def _near_dup_oracle_sql(threshold: float = 0.42, n_planes: int = 8,
                         dim: int = 64) -> str:
    """DuckDB twin of embedding_near_dup_pairs: inlined-hyperplane
    bucket self-join (candidates = same sign-bucket) + exact cosine
    verify. Threshold 0.42 chosen so the gate is non-vacuous at every
    test sf (1/3/6 pairs at sf0.001/0.01/0.1)."""
    planes = S.hyperplanes(n_planes, dim)

    def lit(p):
        return "[" + ", ".join(repr(x) for x in p) + "]"

    bexpr = " + ".join(
        f"(CASE WHEN list_dot_product(v, {lit(p)}) > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bk AS (SELECT vec_id, v, ({bexpr})::BIGINT AS b FROM e),
cand AS (SELECT l.vec_id AS a, r.vec_id AS bb, l.v AS va, r.v AS vb
         FROM bk l JOIN bk r ON l.b = r.b AND l.vec_id < r.vec_id),
s AS (SELECT a, bb, list_dot_product(va, vb) AS dot,
             sqrt(list_dot_product(va, va)) AS na,
             sqrt(list_dot_product(vb, vb)) AS nb FROM cand)
SELECT a, bb AS b, round(dot / (na * nb), 4) AS cosine
FROM s WHERE round(dot / (na * nb), 4) >= {threshold} ORDER BY a, b
"""


@q("sim_near_dup_pairs", _near_dup_oracle_sql())
def sim_near_dup_pairs(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs(emb, threshold=0.42).orderBy("a", "b")


def _semantic_dedup_oracle_sql(threshold: float = 0.42, n_planes: int = 8,
                               dim: int = 64) -> str:
    """DuckDB twin of semantic_dedup: the near-dup-pair CTE (inlined
    hyperplane buckets, exact cosine verify) feeding an anti-join that
    keeps the min-id representative of every near-dup group."""
    planes = S.hyperplanes(n_planes, dim)

    def lit(p):
        return "[" + ", ".join(repr(x) for x in p) + "]"

    bexpr = " + ".join(
        f"(CASE WHEN list_dot_product(v, {lit(p)}) > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bk AS (SELECT vec_id, v, ({bexpr})::BIGINT AS b FROM e),
cand AS (SELECT l.vec_id AS a, r.vec_id AS bb, l.v AS va, r.v AS vb
         FROM bk l JOIN bk r ON l.b = r.b AND l.vec_id < r.vec_id),
s AS (SELECT a, bb, list_dot_product(va, vb) AS dot,
             sqrt(list_dot_product(va, va)) AS na,
             sqrt(list_dot_product(vb, vb)) AS nb FROM cand),
rm AS (SELECT DISTINCT bb AS vec_id FROM s
       WHERE round(dot / (na * nb), 4) >= {threshold})
SELECT vec_id, label FROM embeddings
WHERE vec_id NOT IN (SELECT vec_id FROM rm)
ORDER BY vec_id
"""


@q("dedup_semantic", _semantic_dedup_oracle_sql())
def dedup_semantic(spark, sf_dir):
    """SemDeDup (arXiv:2303.09540) as a first-class curation operator:
    cluster (LSH sign-bucket) → within-cluster cosine pairs → keep the
    min-id representative. Returns the surviving corpus rows."""
    emb = _t(spark, sf_dir, "embeddings")
    return (S.semantic_dedup(emb, threshold=0.42)
            .select("vec_id", "label").orderBy("vec_id"))


@q("sim_ivf_topk", """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (SELECT e.vec_id,
                 unnest(CAST(e.embedding AS DOUBLE[])) AS x,
                 unnest(q.qe) AS y
          FROM embeddings e CROSS JOIN q),
s AS (SELECT vec_id, sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
      FROM pairs GROUP BY vec_id)
SELECT vec_id, round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cosine
FROM s WHERE vec_id <> 0
ORDER BY round(dot / (sqrt(nx) * sqrt(ny)), 4) DESC, vec_id LIMIT 10
""")
def sim_ivf_topk(spark, sf_dir):
    """IVF ANN over the materialized index: deterministic k-means++-style
    seeding + Lloyd, assignment as a parquet partition column, probe =
    partition pruning, exact re-rank inside the probed lists.

    The gate probes ALL 8 inverted lists (nprobe = nlist), so the result
    is the exact cosine top-k REGARDLESS of where k-means placed the
    centroids — which makes the plain cosine SQL a full value-hash oracle
    (4dp rounding + vec_id tie-break) while the engine path still
    exercises k-means build, assignment partitioning, probe-set pruning,
    and per-list re-rank + merge.  The approximate nprobe < nlist leg is
    hash-gated by the fixed-centroid twin ``sim_ivf_fixed_topk`` and by
    the in-repo recall tests."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return _ann_index(spark, sf_dir).ivf_topk(spark, qv, k=10, nprobe=8,
                                              exclude_id=0)


@q("text_token_count_bpe", f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{TS.BPE_ISH}')) AS n_bpe_tokens
FROM documents ORDER BY doc_id
""")
def text_token_count_bpe(spark, sf_dir):
    return TS.token_count_bpe(_docs(spark, sf_dir), "text").orderBy("doc_id")


@q("mm_feature_extract", """
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 48),
grid AS (SELECT doc_id, x, y
         FROM ids,
              (SELECT unnest(generate_series(0, 15)) AS x),
              (SELECT unnest(generate_series(0, 15)) AS y)),
px AS (SELECT doc_id, x // 4 AS gx, y // 4 AS gy,
              (doc_id + x) % 256 AS r, (doc_id * 3 + y) % 256 AS g,
              (doc_id + x * y) % 256 AS b FROM grid),
cells AS (SELECT doc_id, gy, gx,
                 avg(r) AS mr, avg(g) AS mg, avg(b) AS mb
          FROM px GROUP BY doc_id, gy, gx)
SELECT doc_id, CAST((gy * 4 + gx) * 3 + ch.i AS INT) AS cell,
       CAST(CASE ch.i WHEN 0 THEN mr WHEN 1 THEN mg ELSE mb END AS DOUBLE)
           AS val
FROM cells, (SELECT unnest([0, 1, 2]) AS i) ch
ORDER BY doc_id, cell
""")
def mm_feature_extract(spark, sf_dir):
    """Multimodal image pipeline END-TO-END REAL (upgrades the round-2
    fake-decode stub): encode each derived 16×16 RGB image as a true PNG
    (cycling row filters), DECODE it back (ml/codecs.py zlib inflate +
    all five unfilters via real_decode), then extract 4×4-grid mean-RGB
    feature cells (ml/multimodal.py extract_features). The oracle never
    sees the bytes — it recomputes every cell mean closed-form from the
    pixel formula, so the hash match certifies decoder + featurizer.
    Cell means are multiples of 1/16 < 256, exactly representable in
    float32 AND double, so the compare is exact, not rounded."""
    from opensearch_spark.ml import multimodal as MM

    d = _docs(spark, sf_dir).select("doc_id").where(F.col("doc_id") < 48)
    media = _png_media(d).select(
        "doc_id", F.lit("image").alias("media_type"), "payload",
        F.lit(16).alias("width"), F.lit(16).alias("height"))
    feats = MM.extract_features(media, decoder=MM.real_decode, grid=4)
    return (feats.select("doc_id", F.posexplode("feat").alias("cell", "val"))
            .select("doc_id", F.col("cell").cast("int").alias("cell"),
                    F.col("val").cast("double").alias("val"))
            .orderBy("doc_id", "cell"))


# --------------------------------------------------------------------------
# search pipelines / ingest processor chains / reindex family
# --------------------------------------------------------------------------
@q("pipeline_hybrid_normalization", f"""
WITH {O.TOK_CTES},
tf1 AS (SELECT doc_id, term, count(*) AS tf FROM tok2
        WHERE term IN ('spark') GROUP BY doc_id, term),
df1 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
        WHERE term IN ('spark') GROUP BY term),
s1 AS (SELECT tf1.doc_id, round(sum({O.bm25_term(tf='tf1.tf')}), 6) AS s
       FROM tf1 JOIN df1 USING (term) JOIN dl ON tf1.doc_id = dl.doc_id
       CROSS JOIN stats GROUP BY tf1.doc_id
       ORDER BY s DESC, tf1.doc_id LIMIT 50),
tf2 AS (SELECT doc_id, term, count(*) AS tf FROM tok2
        WHERE term IN ('table','batch') GROUP BY doc_id, term),
df2 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
        WHERE term IN ('table','batch') GROUP BY term),
s2 AS (SELECT tf2.doc_id, round(sum({O.bm25_term(tf='tf2.tf')}), 6) AS s
       FROM tf2 JOIN df2 USING (term) JOIN dl ON tf2.doc_id = dl.doc_id
       CROSS JOIN stats GROUP BY tf2.doc_id
       ORDER BY s DESC, tf2.doc_id LIMIT 50),
n1 AS (SELECT doc_id, CASE WHEN max(s) OVER () = min(s) OVER () THEN 1.0
            WHEN s = min(s) OVER () THEN 0.001
            ELSE (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
       END AS ns FROM s1),
n2 AS (SELECT doc_id, CASE WHEN max(s) OVER () = min(s) OVER () THEN 1.0
            WHEN s = min(s) OVER () THEN 0.001
            ELSE (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
       END AS ns FROM s2),
fused AS (SELECT coalesce(n1.doc_id, n2.doc_id) AS doc_id,
                 (0.7 * coalesce(n1.ns, 0) + 0.3 * coalesce(n2.ns, 0))
                     / 1.0 AS sc
          FROM n1 FULL OUTER JOIN n2 ON n1.doc_id = n2.doc_id)
SELECT doc_id, round(sc, 4) AS score FROM fused
ORDER BY round(sc, 4) DESC, doc_id LIMIT 10
""")
def pipeline_hybrid_normalization(spark, sf_dir):
    """Hybrid search via the normalization processor (search-pipeline
    phase: per-sub-query min_max normalization + weighted arithmetic-mean
    combination, missing sub-query scores as 0) — lexical+lexical here,
    the identical mechanism that fuses lexical+vector. Every post-search
    frame is bounded by top_n, so the fuse costs nothing at corpus
    scale."""
    from opensearch_spark.search.pipeline import hybrid_search

    s = get_searcher(spark, sf_dir)
    return hybrid_search(
        s, [Match(field="text", text="spark"),
            Match(field="text", text="table batch")],
        k=10, top_n=50, weights=[0.7, 0.3], round_scores=4)


@q("pipeline_search", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'table' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'table'),
scored AS (SELECT tf.doc_id, round({O.bm25_term()}, 4) AS score
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
filtered AS (SELECT s.doc_id, s.score, d.source
             FROM scored s JOIN documents d USING (doc_id) WHERE d.lang = 'en'),
top30 AS (SELECT * FROM filtered ORDER BY score DESC, doc_id LIMIT 30),
collapsed AS (SELECT *, row_number() OVER (PARTITION BY source
                        ORDER BY score DESC, doc_id) AS rn FROM top30)
SELECT doc_id, score, source FROM collapsed WHERE rn = 1
ORDER BY score DESC, doc_id LIMIT 5
""")
def pipeline_search(spark, sf_dir):
    """Search pipeline (SearchPipelineCommonModulePlugin.java:37-55):
    filter_query + oversample request processors, collapse + truncate_hits
    response processors around one search."""
    from opensearch_spark.search.pipeline import (
        CollapseProcessor, FilterQueryProcessor, OversampleProcessor,
        SearchPipeline, TruncateHitsProcessor,
    )

    s = get_searcher(spark, sf_dir)
    pipe = SearchPipeline([
        FilterQueryProcessor(filter=Term(field="lang", value="en")),
        OversampleProcessor(sample_factor=3.0),
        CollapseProcessor(field="source"),
        TruncateHitsProcessor(target_size=5),
    ])
    out = pipe.search(s, Match(field="text", text="table"), k=10,
                      mode="exhaustive", round_scores=4)
    return out.select("doc_id", "score", "source") \
              .orderBy(F.desc("score"), F.asc("doc_id"))


@q("ingest_processors_kv", """
SELECT event_id,
       CAST(user_id AS VARCHAR) AS uid,
       event_type AS html_stripped,
       event_type AS tag_type,
       round(value * 6, 4) AS foreach_sum
FROM events ORDER BY event_id LIMIT 100
""")
def ingest_processors_kv(spark, sf_dir):
    """kv / html_strip / dissect / foreach+script ingest processors
    (IngestCommonModulePlugin.java:81-111): the Spark side exercises the
    actual mechanisms (str_to_map, tag-strip regex, split, transform +
    aggregate); the oracle states the expected values directly."""
    ev = _t(spark, sf_dir, "events").orderBy("event_id").limit(100)
    kv = F.concat(F.lit("type="), F.col("event_type"),
                  F.lit(";uid="), F.col("user_id").cast("string"))
    html = F.concat(F.lit("<b>"), F.col("event_type"), F.lit("</b>"))
    tag = F.concat(F.col("user_id").cast("string"), F.lit(":"), F.col("event_type"))
    arr = F.transform(F.sequence(F.lit(1), F.lit(3)),
                      lambda i: F.col("value") * i.cast("double"))
    return (ev.select(
        "event_id",
        F.element_at(F.str_to_map(kv, F.lit(";"), F.lit("=")), F.lit("uid"))
         .alias("uid"),
        F.regexp_replace(html, "<[^>]*>", "").alias("html_stripped"),
        F.split(tag, ":").getItem(1).alias("tag_type"),
        F.round(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x), 4)
         .alias("foreach_sum"),
    ).orderBy("event_id"))


@q("reindex_delete_by_query", """
SELECT lang, count(*) AS cnt FROM documents
WHERE lang <> 'zh' GROUP BY lang ORDER BY lang
""")
def reindex_delete_by_query(spark, sf_dir):
    """delete_by_query (modules/reindex Reindexer.java:91): filter-out +
    rewrite — in Spark the anti-filtered scan IS the new table."""
    d = _docs(spark, sf_dir)
    remaining = d.where(~(F.col("lang") == "zh"))
    return remaining.groupBy("lang").agg(F.count("*").alias("cnt")).orderBy("lang")


@q("reindex_update_by_query", """
SELECT event_id,
       round(CASE WHEN event_type = 'click' THEN value * 2 ELSE value END, 4)
           AS value2
FROM events ORDER BY event_id LIMIT 100
""")
def reindex_update_by_query(spark, sf_dir):
    """update_by_query: scripted in-place transform of matching docs."""
    ev = _t(spark, sf_dir, "events").orderBy("event_id").limit(100)
    return (ev.select(
        "event_id",
        F.round(F.when(F.col("event_type") == "click", F.col("value") * 2)
                .otherwise(F.col("value")), 4).alias("value2"))
            .orderBy("event_id"))


# --------------------------------------------------------------------------
# round-2 operators: sloppy phrase, span algebra, intervals, multi_match
# cross_fields/phrase, function_score functions, sort modes, suggesters,
# nested inner_hits, new agg gates
# --------------------------------------------------------------------------
@q("search_phrase_slop", f"""
WITH {O.TOK_CTES},
{_POS_CTE},
m0 AS (
    SELECT a.doc_id, a.p AS p0, min(b.p) AS p1
    FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p > a.p AND b.term = 'table'
    WHERE a.term = 'spark'
    GROUP BY a.doc_id, a.p
),
m AS (SELECT doc_id, sum(1.0 / (1.0 + (p1 - p0 - 1))) AS ptf
      FROM m0 WHERE p1 - p0 - 1 <= 2 GROUP BY doc_id),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','table') GROUP BY term),
idfsum AS (SELECT sum(ln(1.0 + (stats.N - df + 0.5) / (df + 0.5))) AS idf_sum
           FROM dfreq CROSS JOIN stats)
SELECT m.doc_id,
       round(idf_sum * (1.2 + 1.0) * ptf
             / (ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)), 4) AS score
FROM m JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN idfsum
ORDER BY score DESC, doc_id LIMIT 10
""")
def search_phrase_slop(spark, sf_dir):
    """Sloppy phrase (MatchPhraseQueryBuilder.java slop param; behavior
    pinned by rest-api-spec 200_index_phrase_search.yml): matches = start
    positions whose greedy minimal ordered chain fits the slop window,
    ptf = Σ 1/(1+gap) over them (Lucene PhraseScorer sloppy-freq) — the
    oracle mirrors the greedy chain as min(b.p > a.p) and the weighting
    as sum(1.0/(1.0+(p1-p0-1)))."""
    s = get_searcher(spark, sf_dir)
    return s.search(MatchPhrase(field="text", text="spark table", slop=2),
                    k=10, mode="exhaustive", round_scores=4)


@q("search_span_first", f"""
WITH {_POS_CTE}
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score FROM pos
WHERE term = 'spark' AND p + 1 <= 2 ORDER BY doc_id
""")
def search_span_first(spark, sf_dir):
    """span_first (SpanFirstQueryBuilder.java): term span ending within
    the first 2 positions."""
    from opensearch_spark.search import SpanFirst

    s = get_searcher(spark, sf_dir)
    return s.score(SpanFirst(field="text", value="spark", end=2)).orderBy("doc_id")


@q("search_span_or", f"""
WITH {_POS_CTE}
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score FROM pos
WHERE term IN ('spark', 'vector') ORDER BY doc_id
""")
def search_span_or(spark, sf_dir):
    """span_or (SpanOrQueryBuilder.java): position-set union."""
    from opensearch_spark.search import SpanOr

    s = get_searcher(spark, sf_dir)
    return s.score(SpanOr(field="text", values=["spark", "vector"])).orderBy("doc_id")


@q("search_span_not", f"""
WITH {_POS_CTE}
SELECT DISTINCT a.doc_id, CAST(1.0 AS DOUBLE) AS score FROM pos a
WHERE a.term = 'spark' AND NOT EXISTS (
    SELECT 1 FROM pos b WHERE b.doc_id = a.doc_id AND b.term = 'table'
    AND b.p BETWEEN a.p AND a.p + 1)
ORDER BY a.doc_id
""")
def search_span_not(spark, sf_dir):
    """span_not (SpanNotQueryBuilder.java) with post=1: 'spark' spans not
    immediately followed by 'table'."""
    from opensearch_spark.search import SpanNot

    s = get_searcher(spark, sf_dir)
    return s.score(SpanNot(field="text", include="spark", exclude="table",
                           pre=0, post=1)).orderBy("doc_id")


@q("search_span_near_multi", f"""
WITH {_POS_CTE}
SELECT DISTINCT a.doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos a JOIN pos b ON a.doc_id = b.doc_id
WHERE a.term = 'spark' AND b.term IN ('table', 'vector')
  AND b.p > a.p AND (b.p - a.p) - 1 <= 4
ORDER BY a.doc_id
""")
def search_span_near_multi(spark, sf_dir):
    """span_near with an inlined span_or clause (alternatives): 'spark'
    followed within slop=4 by 'table' OR 'vector'. Exercises the clause-
    alternative path of the sorted-merge enumerator."""
    s = get_searcher(spark, sf_dir)
    return s.score(SpanNear(field="text",
                            clauses=["spark", ["table", "vector"]],
                            slop=4, in_order=True)).orderBy("doc_id")


@q("search_intervals", f"""
WITH {_POS_CTE}
SELECT DISTINCT a.doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos a JOIN pos b ON a.doc_id = b.doc_id
WHERE a.term = 'spark' AND b.term = 'table'
  AND b.p > a.p AND b.p - a.p - 1 <= 2
ORDER BY a.doc_id
""")
def search_intervals(spark, sf_dir):
    """intervals match rule, ordered, max_gaps=2
    (IntervalQueryBuilder.java)."""
    from opensearch_spark.search import Intervals

    s = get_searcher(spark, sf_dir)
    return s.score(Intervals(field="text", text="spark table",
                             max_gaps=2, ordered=True)).orderBy("doc_id")


@q("search_intervals_any_of", f"""
WITH {_POS_CTE}
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score FROM pos
WHERE term IN ('vector', 'stream') ORDER BY doc_id
""")
def search_intervals_any_of(spark, sf_dir):
    """intervals any_of combinator (IntervalsSourceProvider.Disjunction):
    a single clause with alternatives — matches where ANY source
    interval matches."""
    from opensearch_spark.search import Intervals

    s = get_searcher(spark, sf_dir)
    return s.score(Intervals(field="text",
                             sources=(("vector", "stream"),))).orderBy("doc_id")


@q("search_intervals_all_of", f"""
WITH {_POS_CTE}
SELECT DISTINCT a.doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos a JOIN pos b ON a.doc_id = b.doc_id
WHERE a.term = 'merge' AND b.term IN ('table', 'window')
  AND b.p > a.p AND b.p - a.p - 1 <= 2
ORDER BY a.doc_id
""")
def search_intervals_all_of(spark, sf_dir):
    """intervals all_of with a nested any_of
    (IntervalsSourceProvider.Combine + Disjunction): 'merge' followed by
    ('table' | 'window') within max_gaps=2, ordered — the combinator
    runs on the same sorted-merge span enumerator."""
    from opensearch_spark.search import Intervals

    s = get_searcher(spark, sf_dir)
    return s.score(Intervals(field="text",
                             sources=("merge", ("table", "window")),
                             ordered=True, max_gaps=2)).orderBy("doc_id")


@q("search_intervals_unordered", f"""
WITH {_POS_CTE}
SELECT DISTINCT a.doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos a JOIN pos b ON a.doc_id = b.doc_id
WHERE a.term = 'key' AND b.term = 'value'
  AND a.p <> b.p AND greatest(a.p, b.p) - least(a.p, b.p) - 1 <= 1
ORDER BY a.doc_id
""")
def search_intervals_unordered(spark, sf_dir):
    """intervals match rule, unordered, max_gaps=1."""
    from opensearch_spark.search import Intervals

    s = get_searcher(spark, sf_dir)
    return s.score(Intervals(field="text", text="key value",
                             max_gaps=1, ordered=False)).orderBy("doc_id")


def _cross_fields_oracle() -> str:
    return f"""
WITH {O.TOK_CTES},
{_TITLE_CTES},
tf_a AS (SELECT doc_id, term, count(*) AS tf FROM tok2
         WHERE term IN ('merge','spark') GROUP BY doc_id, term),
df_a AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
         WHERE term IN ('merge','spark') GROUP BY term),
sa AS (SELECT tf_a.doc_id, tf_a.term, {O.bm25_term(tf='tf_a.tf')} AS ts
       FROM tf_a JOIN df_a USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
tf_b AS (SELECT doc_id, term, count(*) AS tf FROM ttok2
         WHERE term IN ('merge','spark') GROUP BY doc_id, term),
df_b AS (SELECT term, count(DISTINCT doc_id) AS df FROM ttok2
         WHERE term IN ('merge','spark') GROUP BY term),
sb AS (SELECT tf_b.doc_id, tf_b.term,
              ln(1.0 + (tstats.N - df + 0.5) / (df + 0.5)) * (1.2 + 1.0) * tf_b.tf
              / (tf_b.tf + 1.2 * (1.0 - 0.75 + 0.75 * tdl.dl / tstats.avgdl)) AS ts
       FROM tf_b JOIN df_b USING (term) JOIN tdl USING (doc_id) CROSS JOIN tstats),
u AS (SELECT * FROM sa UNION ALL SELECT * FROM sb),
pt AS (SELECT doc_id, term, max(ts) AS mx, sum(ts) AS sm
       FROM u GROUP BY doc_id, term),
sc AS (SELECT doc_id, sum(mx + 0.3 * (sm - mx)) AS raw FROM pt GROUP BY doc_id)
SELECT doc_id, round(raw, 4) AS score FROM sc
ORDER BY round(raw, 4) DESC, doc_id LIMIT 10
"""


@q("search_multi_match_cross", _cross_fields_oracle())
def search_multi_match_cross(spark, sf_dir):
    """multi_match cross_fields (MultiMatchQueryBuilder.java:74): term-
    centric dis_max over per-field term scores with tie_breaker, summed
    over terms."""
    s = get_searcher(spark, sf_dir)
    return s.search(
        MultiMatch(fields=["text", "title"], text="spark merge",
                   type="cross_fields", tie_breaker=0.3),
        k=10, mode="exhaustive", round_scores=4)


def _mm_phrase_oracle() -> str:
    return f"""
WITH {O.TOK_CTES},
{_TITLE_CTES},
{_POS_CTE},
ma AS (
    SELECT a.doc_id, count(*) AS ptf
    FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
    WHERE a.term = 'spark' AND b.term = 'table'
    GROUP BY a.doc_id
),
df_a AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
         WHERE term IN ('spark','table') GROUP BY term),
idf_a AS (SELECT CASE WHEN count(*) = 2
                      THEN sum(ln(1.0 + (stats.N - df + 0.5) / (df + 0.5)))
                      ELSE NULL END AS idf_sum
          FROM df_a CROSS JOIN stats),
sa AS (SELECT ma.doc_id,
              idf_a.idf_sum * (1.2 + 1.0) * ptf
              / (ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
       FROM ma JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN idf_a
       WHERE idf_a.idf_sum IS NOT NULL),
tpos AS (
    SELECT doc_id,
           unnest(list_slice(string_split_regex(trim(text), '\\s+'), 1, 8)) AS term,
           unnest(range(len(list_slice(string_split_regex(trim(text), '\\s+'), 1, 8)))) AS p
    FROM documents
),
mb AS (
    SELECT a.doc_id, count(*) AS ptf
    FROM tpos a JOIN tpos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
    WHERE a.term = 'spark' AND b.term = 'table'
    GROUP BY a.doc_id
),
df_b AS (SELECT term, count(DISTINCT doc_id) AS df FROM ttok2
         WHERE term IN ('spark','table') GROUP BY term),
idf_b AS (SELECT CASE WHEN count(*) = 2
                      THEN sum(ln(1.0 + (tstats.N - df + 0.5) / (df + 0.5)))
                      ELSE NULL END AS idf_sum
          FROM df_b CROSS JOIN tstats),
sb AS (SELECT mb.doc_id,
              idf_b.idf_sum * (1.2 + 1.0) * ptf
              / (ptf + 1.2 * (1.0 - 0.75 + 0.75 * tdl.dl / tstats.avgdl)) AS s
       FROM mb JOIN tdl USING (doc_id) CROSS JOIN tstats CROSS JOIN idf_b
       WHERE idf_b.idf_sum IS NOT NULL)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       round(greatest(coalesce(a.s, -1e18), coalesce(b.s, -1e18)), 4) AS score
FROM sa a FULL OUTER JOIN sb b ON a.doc_id = b.doc_id
ORDER BY round(greatest(coalesce(a.s, -1e18), coalesce(b.s, -1e18)), 4) DESC,
         coalesce(a.doc_id, b.doc_id) LIMIT 10
"""


@q("search_multi_match_phrase", _mm_phrase_oracle())
def search_multi_match_phrase(spark, sf_dir):
    """multi_match type=phrase (MultiMatchQueryBuilder.java:139): dis_max
    over per-field match_phrase scores."""
    s = get_searcher(spark, sf_dir)
    return s.search(
        MultiMatch(fields=["text", "title"], text="spark table", type="phrase"),
        k=10, mode="exhaustive", round_scores=4)


@q("search_multi_match_phrase_prefix", f"""
WITH {O.TOK_CTES},
{_TITLE_CTES},
{_POS_CTE},
ma AS (
    SELECT a.doc_id, count(DISTINCT a.p) AS ptf
    FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
    WHERE a.term = 'spark' AND b.term LIKE 'ta%'
    GROUP BY a.doc_id
),
dfx_a AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'spark'),
dfe_a AS (SELECT max(ln(1.0 + (stats.N - df + 0.5) / (df + 0.5))) AS max_idf
          FROM (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
                WHERE term LIKE 'ta%' GROUP BY term) CROSS JOIN stats),
idf_a AS (SELECT ln(1.0 + (stats.N - dfx_a.df + 0.5) / (dfx_a.df + 0.5))
                 + dfe_a.max_idf AS idf_sum
          FROM dfx_a CROSS JOIN dfe_a CROSS JOIN stats),
sa AS (SELECT ma.doc_id,
              idf_a.idf_sum * (1.2 + 1.0) * ptf
              / (ptf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
       FROM ma JOIN dl USING (doc_id) CROSS JOIN stats CROSS JOIN idf_a),
tpos AS (
    SELECT doc_id,
           unnest(list_slice(string_split_regex(trim(text), '\\s+'), 1, 8)) AS term,
           unnest(range(len(list_slice(string_split_regex(trim(text), '\\s+'), 1, 8)))) AS p
    FROM documents
),
mb AS (
    SELECT a.doc_id, count(DISTINCT a.p) AS ptf
    FROM tpos a JOIN tpos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
    WHERE a.term = 'spark' AND b.term LIKE 'ta%'
    GROUP BY a.doc_id
),
dfx_b AS (SELECT count(DISTINCT doc_id) AS df FROM ttok2 WHERE term = 'spark'),
dfe_b AS (SELECT max(ln(1.0 + (tstats.N - df + 0.5) / (df + 0.5))) AS max_idf
          FROM (SELECT term, count(DISTINCT doc_id) AS df FROM ttok2
                WHERE term LIKE 'ta%' GROUP BY term) CROSS JOIN tstats),
idf_b AS (SELECT ln(1.0 + (tstats.N - dfx_b.df + 0.5) / (dfx_b.df + 0.5))
                 + dfe_b.max_idf AS idf_sum
          FROM dfx_b CROSS JOIN dfe_b CROSS JOIN tstats),
sb AS (SELECT mb.doc_id,
              idf_b.idf_sum * (1.2 + 1.0) * ptf
              / (ptf + 1.2 * (1.0 - 0.75 + 0.75 * tdl.dl / tstats.avgdl)) AS s
       FROM mb JOIN tdl USING (doc_id) CROSS JOIN tstats CROSS JOIN idf_b)
SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
       round(greatest(coalesce(a.s, -1e18), coalesce(b.s, -1e18)), 4) AS score
FROM sa a FULL OUTER JOIN sb b ON a.doc_id = b.doc_id
ORDER BY round(greatest(coalesce(a.s, -1e18), coalesce(b.s, -1e18)), 4) DESC,
         coalesce(a.doc_id, b.doc_id) LIMIT 10
""")
def search_multi_match_phrase_prefix(spark, sf_dir):
    """multi_match type=phrase_prefix (MultiMatchQueryBuilder.java:130-151):
    dis_max over per-field match_phrase_prefix scores — all five reference
    multi_match types now gated."""
    s = get_searcher(spark, sf_dir)
    return s.search(
        MultiMatch(fields=["text", "title"], text="spark ta",
                   type="phrase_prefix"),
        k=10, mode="exhaustive", round_scores=4)


@q("search_fn_field_value", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'spark' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'spark'),
scored AS (SELECT tf.doc_id, {O.bm25_term()} AS raw
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats)
SELECT s.doc_id, round(s.raw * log10(0.01 * d.n_chars + 1.0), 4) AS score
FROM scored s JOIN documents d USING (doc_id)
ORDER BY round(s.raw * log10(0.01 * d.n_chars + 1.0), 4) DESC, s.doc_id LIMIT 10
""")
def search_fn_field_value(spark, sf_dir):
    """function_score field_value_factor
    (FieldValueFactorFunctionBuilder.java): log1p(0.01 * n_chars),
    boost_mode=multiply."""
    from opensearch_spark.search import FunctionScore, ScoreFunction

    s = get_searcher(spark, sf_dir)
    query = FunctionScore(
        query=Match(field="text", text="spark"),
        functions=[ScoreFunction(kind="field_value_factor", field="n_chars",
                                 factor=0.01, modifier="log1p")],
        boost_mode="multiply")
    return s.search(query, k=10, mode="exhaustive", round_scores=4)


@q("search_fn_random", """
SELECT doc_id,
       round(((doc_id * 48271 + 42) % 2147483647) / 2147483647.0, 4) AS score
FROM documents
ORDER BY round(((doc_id * 48271 + 42) % 2147483647) / 2147483647.0, 4) DESC,
         doc_id LIMIT 10
""")
def search_fn_random(spark, sf_dir):
    """function_score random_score (RandomScoreFunctionBuilder.java):
    deterministic seeded per-doc value (MINSTD LCG on doc_id — the
    reference hashes _seq_no with the seed, equally deterministic)."""
    from opensearch_spark.search import FunctionScore, ScoreFunction

    s = get_searcher(spark, sf_dir)
    query = FunctionScore(
        query=MatchAll(),
        functions=[ScoreFunction(kind="random_score", seed=42)],
        boost_mode="replace")
    return s.search(query, k=10, mode="exhaustive", round_scores=4)


_GAUSS_2SIGMA2 = 2.0 * (-(150.0 ** 2) / (2.0 * __import__("math").log(0.5)))


@q("search_fn_decay", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'table' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'table'),
scored AS (SELECT tf.doc_id, {O.bm25_term()} AS raw
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats)
SELECT s.doc_id,
       round(s.raw * exp(-(greatest(abs(d.n_chars - 300.0), 0.0)
                           * greatest(abs(d.n_chars - 300.0), 0.0))
                         / {_GAUSS_2SIGMA2!r}), 4) AS score
FROM scored s JOIN documents d USING (doc_id)
ORDER BY round(s.raw * exp(-(greatest(abs(d.n_chars - 300.0), 0.0)
                             * greatest(abs(d.n_chars - 300.0), 0.0))
                           / {_GAUSS_2SIGMA2!r}), 4) DESC, s.doc_id LIMIT 10
""")
def search_fn_decay(spark, sf_dir):
    """function_score gauss decay (DecayFunctionBuilder.java): origin=300,
    scale=150, decay=0.5 over n_chars, boost_mode=multiply."""
    from opensearch_spark.search import FunctionScore, ScoreFunction

    s = get_searcher(spark, sf_dir)
    query = FunctionScore(
        query=Match(field="text", text="table"),
        functions=[ScoreFunction(kind="gauss", field="n_chars",
                                 origin=300.0, scale=150.0, decay=0.5)],
        boost_mode="multiply")
    return s.search(query, k=10, mode="exhaustive", round_scores=4)


@q("search_sort_missing", """
SELECT doc_id, nullif(lang, 'en') AS lang_key FROM documents
ORDER BY lang_key ASC NULLS LAST, doc_id LIMIT 20
""")
def search_sort_missing(spark, sf_dir):
    """Field sort with missing-value placement (FieldSortBuilder.java
    ``missing`` param): docs with a null key sort last (_last)."""
    d = _docs(spark, sf_dir)
    return (d.select("doc_id", F.expr("nullif(lang, 'en')").alias("lang_key"))
            .orderBy(F.col("lang_key").asc_nulls_last(), F.asc("doc_id"))
            .limit(20))


@q("search_sort_multivalue", """
SELECT doc_id,
       round(list_sum(list_transform(string_split_regex(trim(text), '\\s+'),
                                     t -> length(t))) * 1.0
             / len(string_split_regex(trim(text), '\\s+')), 4) AS sort_key
FROM documents
ORDER BY sort_key DESC, doc_id LIMIT 10
""")
def search_sort_multivalue(spark, sf_dir):
    """Multi-value sort mode (search/MultiValueMode.java, mode=avg): sort
    docs by the average over a multi-valued field (token lengths)."""
    d = _docs(spark, sf_dir)
    # CAST to double before the divide: a bare `* 1.0` in SQL text is a
    # DECIMAL(2,1) literal in Spark, and a decimal sort_key would
    # hash-mismatch the oracle's DOUBLE at the driver (the r4 HUGEINT
    # failure class, caught by the r5 type-kind contract check)
    key = F.expr(
        "round(cast(aggregate(transform(split(trim(text), '\\\\s+'), "
        "t -> length(t)), 0L, (a, t) -> a + t) as double) "
        "/ size(split(trim(text), '\\\\s+')), 4)")
    return (d.select("doc_id", key.alias("sort_key"))
            .orderBy(F.desc("sort_key"), F.asc("doc_id")).limit(10))


@q("search_suggest_phrase", f"""
WITH {O.TOK_CTES},
{_POS_CTE},
voc AS (SELECT term, count(*) AS cf FROM tok2 GROUP BY term),
vt AS (SELECT (SELECT count(*) FROM voc) AS V, (SELECT sum(cf) FROM voc) AS T),
c1 AS (SELECT term AS t1, cf AS t1_cf FROM voc
       WHERE levenshtein(term, 'sparc') <= 1
       QUALIFY row_number() OVER (
           ORDER BY levenshtein(term, 'sparc') ASC, cf DESC, term ASC) <= 5),
c2 AS (SELECT term AS t2 FROM voc
       WHERE levenshtein(term, 'tabl') <= 1
       QUALIFY row_number() OVER (
           ORDER BY levenshtein(term, 'tabl') ASC, cf DESC, term ASC) <= 5),
big AS (SELECT a.term AS t1, b.term AS t2, count(*) AS bc
        FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
        WHERE a.term IN (SELECT t1 FROM c1) AND b.term IN (SELECT t2 FROM c2)
        GROUP BY a.term, b.term),
pairs AS (SELECT c1.t1, c1.t1_cf, c2.t2, coalesce(big.bc, 0) AS bc
          FROM c1 CROSS JOIN c2
          LEFT JOIN big ON big.t1 = c1.t1 AND big.t2 = c2.t2),
scored AS (SELECT t1 || ' ' || t2 AS suggestion,
                  round(ln((t1_cf + 1.0) / (T + V))
                        + ln((bc + 1.0) / (t1_cf + V)), 6) AS score
           FROM pairs CROSS JOIN vt)
SELECT suggestion, score,
       CAST(row_number() OVER (ORDER BY score DESC, suggestion) AS INT) AS rank
FROM scored QUALIFY rank <= 3 ORDER BY rank
""")
def search_suggest_phrase(spark, sf_dir):
    """Phrase suggester (search/suggest/phrase/): per-token candidates +
    Laplace bigram LM over the corpus."""
    from opensearch_spark.search import phrase_suggest

    s = get_searcher(spark, sf_dir)
    return phrase_suggest(s, "sparc tabl", size=3, max_edits=1,
                          num_candidates=5).orderBy("rank")


@q("search_suggest_phrase_3gram", f"""
WITH {O.TOK_CTES},
{_POS_CTE},
voc AS (SELECT term, count(*) AS cf FROM tok2 GROUP BY term),
vt AS (SELECT (SELECT count(*) FROM voc) AS V, (SELECT sum(cf) FROM voc) AS T),
c1 AS (SELECT term AS t1, cf AS t1_cf FROM voc
       WHERE levenshtein(term, 'sparc') <= 1
       QUALIFY row_number() OVER (
           ORDER BY levenshtein(term, 'sparc') ASC, cf DESC, term ASC) <= 4),
c2 AS (SELECT term AS t2, cf AS t2_cf FROM voc
       WHERE levenshtein(term, 'tabl') <= 1
       QUALIFY row_number() OVER (
           ORDER BY levenshtein(term, 'tabl') ASC, cf DESC, term ASC) <= 4),
c3 AS (SELECT term AS t3 FROM voc
       WHERE levenshtein(term, 'merg') <= 1
       QUALIFY row_number() OVER (
           ORDER BY levenshtein(term, 'merg') ASC, cf DESC, term ASC) <= 4),
big12 AS (SELECT a.term AS t1, b.term AS t2, count(*) AS bc
          FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
          WHERE a.term IN (SELECT t1 FROM c1) AND b.term IN (SELECT t2 FROM c2)
          GROUP BY a.term, b.term),
big23 AS (SELECT a.term AS t2, b.term AS t3, count(*) AS bc
          FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
          WHERE a.term IN (SELECT t2 FROM c2) AND b.term IN (SELECT t3 FROM c3)
          GROUP BY a.term, b.term),
tuples AS (SELECT c1.t1, c1.t1_cf, c2.t2, c2.t2_cf, c3.t3,
                  coalesce(b12.bc, 0) AS bc1, coalesce(b23.bc, 0) AS bc2
           FROM c1 CROSS JOIN c2 CROSS JOIN c3
           LEFT JOIN big12 b12 ON b12.t1 = c1.t1 AND b12.t2 = c2.t2
           LEFT JOIN big23 b23 ON b23.t2 = c2.t2 AND b23.t3 = c3.t3),
scored AS (SELECT t1 || ' ' || t2 || ' ' || t3 AS suggestion,
                  round(ln((t1_cf + 1.0) / (T + V))
                        + ln((bc1 + 1.0) / (t1_cf + V))
                        + ln((bc2 + 1.0) / (t2_cf + V)), 6) AS score
           FROM tuples CROSS JOIN vt)
SELECT suggestion, score,
       CAST(row_number() OVER (ORDER BY score DESC, suggestion) AS INT) AS rank
FROM scored QUALIFY rank <= 3 ORDER BY rank
""")
def search_suggest_phrase_3gram(spark, sf_dir):
    """Phrase suggester on a 3-token input: the bigram LM chains pairwise
    (PhraseSuggestionBuilder/LaplaceScorer shingle chain) —
    ln P(c1) + ln P(c2|c1) + ln P(c3|c2), candidates per token, combined
    by bounded crossJoin."""
    from opensearch_spark.search import phrase_suggest

    s = get_searcher(spark, sf_dir)
    return phrase_suggest(s, "sparc tabl merg", size=3, max_edits=1,
                          num_candidates=4).orderBy("rank")


@q("search_suggest_completion_fuzzy", """
WITH comp AS (
  SELECT lower(array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 8), ' ')) AS suggestion,
         n_chars AS weight
  FROM documents
),
dedup AS (SELECT suggestion, max(weight) AS weight FROM comp
          WHERE length(suggestion) >= 5
            AND levenshtein(substr(suggestion, 1, 6), 'tible ') <= 1
          GROUP BY suggestion),
ranked AS (SELECT suggestion, weight,
           CAST(row_number() OVER (ORDER BY weight DESC, suggestion) AS INT) AS rank
           FROM dedup)
SELECT suggestion, weight, rank FROM ranked WHERE rank <= 5 ORDER BY rank
""")
def search_suggest_completion_fuzzy(spark, sf_dir):
    """Fuzzy completion (FuzzyCompletionQuery via
    CompletionSuggestionBuilder.fuzziness): the misspelled prefix
    'tible ' still autocompletes 'table …' entries — edit distance on
    the same-length input slice, length lower bound pruned first."""
    from opensearch_spark.search import completion_suggest

    d = with_title(_docs(spark, sf_dir))
    return completion_suggest(
        d, prefix="tible ", size=5, input_col="title",
        weight_col="n_chars", fuzziness=1,
        skip_duplicates=True).orderBy("rank")


@q("search_suggest_completion", """
WITH comp AS (
  SELECT lower(array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 8), ' ')) AS suggestion,
         n_chars AS weight
  FROM documents
),
dedup AS (SELECT suggestion, max(weight) AS weight FROM comp
          WHERE suggestion LIKE 'table %' GROUP BY suggestion),
ranked AS (SELECT suggestion, weight,
           CAST(row_number() OVER (ORDER BY weight DESC, suggestion) AS INT) AS rank
           FROM dedup)
SELECT suggestion, weight, rank FROM ranked WHERE rank <= 5 ORDER BY rank
""")
def search_suggest_completion(spark, sf_dir):
    """Completion suggester (CompletionSuggestionBuilder.java /
    CompletionFieldMapper.java): weighted prefix autocomplete over the
    derived title field, weight = n_chars, duplicates skipped."""
    from opensearch_spark.search import completion_suggest

    d = with_title(_docs(spark, sf_dir))
    return completion_suggest(
        d, prefix="table ", size=5, input_col="title",
        weight_col="n_chars", skip_duplicates=True).orderBy("rank")


@q("search_suggest_completion_context", """
WITH comp AS (
  SELECT lower(array_to_string(list_slice(regexp_split_to_array(trim(text), '\\s+'), 1, 8), ' ')) AS suggestion,
         n_chars AS weight, lang
  FROM documents
),
ctx AS (SELECT suggestion,
               CAST(weight * CASE lang WHEN 'de' THEN 3 ELSE 1 END AS BIGINT) AS weight
        FROM comp WHERE suggestion LIKE 'table %' AND lang IN ('en', 'de')),
dedup AS (SELECT suggestion, max(weight) AS weight FROM ctx GROUP BY suggestion),
ranked AS (SELECT suggestion, weight,
           CAST(row_number() OVER (ORDER BY weight DESC, suggestion) AS INT) AS rank
           FROM dedup)
SELECT suggestion, weight, rank FROM ranked WHERE rank <= 5 ORDER BY rank
""")
def search_suggest_completion_context(spark, sf_dir):
    """Completion suggester with category contexts
    (CategoryContextMapping.java + CategoryQueryContext +
    ContextMappings.java): query contexts FILTER candidates to matching
    context values and multiply each match's weight by its context's
    boost — here lang∈{en, de} with de boosted 3×, so German entries can
    outrank longer English ones. Filter is a scan-pushable isin, boost a
    literal map lookup: contexts add zero shuffles."""
    from opensearch_spark.search import completion_suggest

    d = with_title(_docs(spark, sf_dir))
    return completion_suggest(
        d, prefix="table ", size=5, input_col="title",
        weight_col="n_chars", skip_duplicates=True,
        context_col="lang",
        contexts=[{"value": "de", "boost": 3}, "en"]).orderBy("rank")


@q("search_highlight_fvh", f"""
WITH {_POS_CTE},
m AS (SELECT doc_id, p FROM pos WHERE term IN ('spark','merge') AND doc_id < 40),
w AS (SELECT a.doc_id, a.p AS start, CAST(count(*) AS BIGINT) AS n_matches
      FROM m a JOIN m b ON a.doc_id = b.doc_id AND b.p >= a.p AND b.p < a.p + 8
      GROUP BY a.doc_id, a.p),
best AS (SELECT doc_id, start, n_matches,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n_matches DESC, start) AS rn FROM w),
toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents)
SELECT b.doc_id, b.n_matches,
       array_to_string(list_transform(list_slice(t, start + 1, start + 8),
            x -> CASE WHEN lower(x) IN ('spark','merge')
                 THEN '<em>' || lower(x) || '</em>' ELSE lower(x) END), ' ') AS fragment
FROM best b JOIN toks ON b.doc_id = toks.doc_id
WHERE rn = 1 ORDER BY b.doc_id
""")
def search_highlight_fvh(spark, sf_dir):
    """FastVectorHighlighter analog: best-window fragment selection from
    the positions table (term vectors), no text re-analysis."""
    from opensearch_spark.search import fvh_highlight

    s = get_searcher(spark, sf_dir)
    return fvh_highlight(s, ["spark", "merge"], doc_ids=list(range(40)),
                         window_tokens=8).orderBy("doc_id")


@q("search_nested_inner_hits", f"""
WITH {_POS_CTE},
h AS (SELECT doc_id, p,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p) AS INT)
                 AS inner_rank
      FROM pos WHERE term = 'spark')
SELECT doc_id, inner_rank, p FROM h WHERE inner_rank <= 3
ORDER BY doc_id, inner_rank
""")
def search_nested_inner_hits(spark, sf_dir):
    """nested query inner_hits (NestedQueryBuilder.java): parents whose
    nested token stream matches, returning the top-3 matching nested hits
    (positions) per parent — the query-side inner_hits projection."""
    s = get_searcher(spark, sf_dir)
    pos = s.index.positions(spark)
    hits = (pos.where(F.col("term") == "spark")
            .select("doc_id", F.explode("positions").alias("p")))
    w = W.partitionBy("doc_id").orderBy("p")
    return (hits.withColumn("inner_rank", F.row_number().over(w).cast("int"))
            .where(F.col("inner_rank") <= 3)
            .select("doc_id", "inner_rank", "p")
            .orderBy("doc_id", "inner_rank"))


@q("search_span_multi", f"""
WITH {_POS_CTE}
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score FROM pos
WHERE term LIKE 's%' ORDER BY doc_id
""")
def search_span_multi(spark, sf_dir):
    """span_multi (SpanMultiTermQueryBuilder.java): prefix query wrapped
    as a span clause — bounded expansion, position-set union."""
    from opensearch_spark.search import SpanMulti

    s = get_searcher(spark, sf_dir)
    return s.score(SpanMulti(field="text",
                             match=Prefix(field="text", value="s")))             .orderBy("doc_id")


@q("search_span_containing", f"""
WITH {_POS_CTE}
SELECT DISTINCT a.doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos a JOIN pos b ON a.doc_id = b.doc_id
           JOIN pos c ON a.doc_id = c.doc_id
WHERE a.term = 'spark' AND b.term = 'merge' AND c.term = 'table'
  AND b.p > a.p AND b.p - a.p - 1 <= 5
  AND c.p BETWEEN a.p AND b.p
ORDER BY a.doc_id
""")
def search_span_containing(spark, sf_dir):
    """span_containing (SpanContainingQueryBuilder.java): 'spark NEAR/5
    merge' spans that contain a 'table' span."""
    from opensearch_spark.search import SpanContaining

    s = get_searcher(spark, sf_dir)
    return s.score(SpanContaining(field="text", big=("spark", "merge"),
                                  slop=5, little="table")).orderBy("doc_id")


@q("search_span_within", f"""
WITH {_POS_CTE}
SELECT DISTINCT a.doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos a JOIN pos b ON a.doc_id = b.doc_id
           JOIN pos c ON a.doc_id = c.doc_id
WHERE a.term = 'key' AND b.term = 'window' AND c.term = 'value'
  AND b.p > a.p AND b.p - a.p - 1 <= 6
  AND c.p BETWEEN a.p AND b.p
ORDER BY a.doc_id
""")
def search_span_within(spark, sf_dir):
    """span_within (SpanWithinQueryBuilder.java): 'value' spans inside a
    'key NEAR/6 window' span (doc-level witness shared with
    span_containing, see spans.span_containing_docs)."""
    from opensearch_spark.search import SpanWithin

    s = get_searcher(spark, sf_dir)
    return s.score(SpanWithin(field="text", big=("key", "window"),
                              slop=6, little="value")).orderBy("doc_id")


@q("search_dfr", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark','batch') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark','batch') GROUP BY term),
scored AS (SELECT tf.doc_id,
           sum((tf * log2(1.0 + 1.0 * avgdl / dl))
               * log2((N + 1.0) / (df + 0.5))
               / ((tf * log2(1.0 + 1.0 * avgdl / dl)) + 1.0)) AS raw
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id)
SELECT doc_id, round(raw, 4) AS score FROM scored
ORDER BY round(raw, 4) DESC, doc_id LIMIT 10
""")
def search_dfr(spark, sf_dir):
    """DFR similarity I(n)/L/H2 (SimilarityProviders.parseDFRSimilarity)."""
    s = get_searcher(spark, sf_dir)
    scores = s.score_dfr(Match(field="text", text="spark batch"), c=1.0)
    return (scores.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


@q("search_ib", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('merge','vector') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('merge','vector') GROUP BY term),
scored AS (SELECT tf.doc_id,
           sum(-log2( ((df + 1.0) / (N + 1.0))
               / (((df + 1.0) / (N + 1.0))
                  + tf * log2(1.0 + 1.0 * avgdl / dl)) )) AS raw
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id)
SELECT doc_id, round(raw, 4) AS score FROM scored
ORDER BY round(raw, 4) DESC, doc_id LIMIT 10
""")
def search_ib(spark, sf_dir):
    """IB similarity LL/DF/H2 (SimilarityProviders.parseIBSimilarity)."""
    s = get_searcher(spark, sf_dir)
    scores = s.score_ib(Match(field="text", text="merge vector"), c=1.0)
    return (scores.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


@q("search_scripted_similarity", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('sort','window') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('sort','window') GROUP BY term),
cf AS (SELECT term, count(*) AS cf FROM tok2
       WHERE term IN ('sort','window') GROUP BY term),
scored AS (SELECT tf.doc_id,
           sum(sqrt(tf) * ln((N + 1.0) / (df + 1.0)) * (cf * 1.0 / N) ) AS raw
           FROM tf JOIN dfreq USING (term) JOIN cf USING (term)
           JOIN dl USING (doc_id) CROSS JOIN stats GROUP BY tf.doc_id)
SELECT doc_id, round(raw, 4) AS score FROM scored
ORDER BY round(raw, 4) DESC, doc_id LIMIT 10
""")
def search_scripted_similarity(spark, sf_dir):
    """Scripted similarity (ScriptedSimilarity.java): arbitrary expression
    over (tf, df, cf, dl, N, avgdl) per matching term."""
    s = get_searcher(spark, sf_dir)
    scores = s.score_scripted_similarity(
        Match(field="text", text="sort window"),
        "sqrt(tf) * ln((N + 1.0) / (df + 1.0)) * (cf * 1.0 / N)")
    return (scores.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


@q("search_dfi", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('scan','group') GROUP BY doc_id, term),
cfreq AS (SELECT term, count(*) AS cf FROM tok2
          WHERE term IN ('scan','group') GROUP BY term),
scored AS (SELECT tf.doc_id,
           sum(CASE WHEN tf <= ((cf + 1.0) * dl / (N * avgdl + 1.0)) THEN 0.0
               ELSE log2( (tf - ((cf + 1.0) * dl / (N * avgdl + 1.0)))
                          * (tf - ((cf + 1.0) * dl / (N * avgdl + 1.0)))
                          / ((cf + 1.0) * dl / (N * avgdl + 1.0)) + 1.0 )
               END) AS raw
           FROM tf JOIN cfreq USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id)
SELECT doc_id, round(raw, 4) AS score FROM scored
ORDER BY round(raw, 4) DESC, doc_id LIMIT 10
""")
def search_dfi(spark, sf_dir):
    """DFI similarity, chi-squared independence measure
    (SimilarityProviders.createDfiSimilarity:320-323): terms scoring at or
    below their expected-under-independence frequency contribute 0."""
    s = get_searcher(spark, sf_dir)
    scores = s.score_dfi(Match(field="text", text="scan group"))
    return (scores.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))


@q("agg_percentile_ranks", """
SELECT o_orderpriority,
       round(100.0 * count(CASE WHEN o_totalprice <= 150000 THEN 1 END)
             / count(*), 4) AS rank_150k,
       round(100.0 * count(CASE WHEN o_totalprice <= 300000 THEN 1 END)
             / count(*), 4) AS rank_300k
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""")
def agg_percentile_ranks(spark, sf_dir):
    """percentile_ranks (AbstractTDigestPercentilesAggregator.java): exact
    fraction of values <= x, per bucket (the reference's t-digest is the
    approximate scale path)."""
    o = _t(spark, sf_dir, "orders")
    return (o.groupBy("o_orderpriority")
            .agg(F.round(100.0 * F.count(F.when(F.col("o_totalprice") <= 150000, 1))
                         / F.count("*"), 4).alias("rank_150k"),
                 F.round(100.0 * F.count(F.when(F.col("o_totalprice") <= 300000, 1))
                         / F.count("*"), 4).alias("rank_300k"))
            .orderBy("o_orderpriority"))


@q("agg_extended_stats_bucket", """
WITH daily AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                      count(*) AS doc_count
               FROM events GROUP BY day)
SELECT count(*) AS n_buckets,
       min(doc_count) AS min_count, max(doc_count) AS max_count,
       CAST(sum(doc_count) AS BIGINT) AS sum_count,
       round(avg(doc_count * 1.0), 4) AS avg_count,
       round((sum(doc_count * doc_count)
              - sum(doc_count) * 1.0 * sum(doc_count) / count(*))
             / count(*), 4) AS variance_pop
FROM daily
""")
def agg_extended_stats_bucket(spark, sf_dir):
    """extended_stats_bucket pipeline agg: second-level extended stats over
    the bucket frame (variance from exact integer sums)."""
    ev = _t(spark, sf_dir, "events")
    daily = (ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                        .alias("day")).agg(F.count("*").alias("doc_count")))
    n = F.count("*")
    s1 = F.sum("doc_count")
    s2 = F.sum(F.col("doc_count") * F.col("doc_count"))
    return daily.agg(
        n.alias("n_buckets"),
        F.min("doc_count").alias("min_count"),
        F.max("doc_count").alias("max_count"),
        s1.alias("sum_count"),
        F.round(F.avg(F.col("doc_count") * 1.0), 4).alias("avg_count"),
        F.round((s2 - s1 * 1.0 * s1 / n) / n, 4).alias("variance_pop"))


@q("agg_cardinality_approx", """
SELECT count(DISTINCT user_id) AS exact_uniques, true AS approx_ok FROM events
""")
def agg_cardinality_approx(spark, sf_dir):
    """cardinality via HLL++ (HyperLogLogPlusPlus.java:66-79 ≈ Spark
    approx_count_distinct, same sketch family): the gate certifies the
    sketch lands within 5% of exact (precision_threshold→rsd=0.02) —
    value-equality across different HLL hash seeds is meaningless, the
    bound is the contract."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.agg(
        F.countDistinct("user_id").alias("exact_uniques"),
        F.approx_count_distinct("user_id", 0.02).alias("_approx"))
    return agg.select(
        "exact_uniques",
        (F.abs(F.col("_approx") - F.col("exact_uniques"))
         <= 0.05 * F.col("exact_uniques")).alias("approx_ok"))


@q("dedup_cluster", f"""
WITH RECURSIVE {_SH2C},
inter AS (
    SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id),
pairs AS (
    SELECT a, b FROM inter JOIN sz x ON inter.a = x.doc_id
                JOIN sz y ON inter.b = y.doc_id
    WHERE i * 1.0 / (x.sz + y.sz - i) >= 0.5),
edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
nodes AS (SELECT DISTINCT a AS node FROM edges),
reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT reach.node, e.b FROM reach JOIN edges e ON e.a = reach.r
)
SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
ORDER BY doc_id
""")
def dedup_cluster(spark, sf_dir):
    """Transitive dedup clustering: near-dup pairs (2-gram Jaccard >= 0.5)
    → connected components (iterative min-label propagation + pointer
    jumping, ml/dedup.py dup_clusters) → cluster id = min member. The
    oracle computes the same components with a recursive CTE."""
    sh = D.shingles(_docs(spark, sf_dir), "text", n=2)
    pairs = D.jaccard_pairs(sh, threshold=0.5)
    return D.dup_clusters(pairs).orderBy("doc_id")


@q("sim_knn_join", """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings),
pairs AS (
    SELECT q.query_id, c.neighbor_id,
           round(list_dot_product(q.qv, c.cv)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(c.cv, c.cv))), 4) AS cosine
    FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id),
ranked AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
           FROM pairs)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
ORDER BY query_id, rank
""")
def sim_knn_join(spark, sf_dir):
    """Batch kNN join (every query → top-k neighbors): exact baseline over
    the first 20 query vectors; knn_join_lsh is the bucketed scale path
    (recall-tested)."""
    emb = _t(spark, sf_dir, "embeddings")
    out = S.knn_join_exact(emb.where(F.col("vec_id") < 20), emb, k=3)
    return out.orderBy("query_id", "rank")


def _knn_join_lsh_oracle(k: int = 3, n_planes: int = 6, dim: int = 64) -> str:
    """DuckDB twin of the multiprobe LSH kNN join: query probes its own
    bucket + every 1-bit flip ≡ candidate buckets within hamming 1."""
    planes = S.hyperplanes(n_planes, dim)

    def lit(p):
        return "[" + ", ".join(repr(x) for x in p) + "]"

    bexpr = " + ".join(
        f"(CASE WHEN list_dot_product(v, {lit(p)}) > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bk AS (SELECT vec_id, v, ({bexpr})::BIGINT AS b FROM e),
scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(list_dot_product(q.v, c.v)
                        / (sqrt(list_dot_product(q.v, q.v))
                           * sqrt(list_dot_product(c.v, c.v))), 4) AS cosine
           FROM bk q JOIN bk c
             ON bit_count(xor(q.b, c.b)) <= 1 AND q.vec_id <> c.vec_id),
ranked AS (SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
           FROM scored)
SELECT query_id, neighbor_id, cosine, rank FROM ranked
WHERE rank <= {k} ORDER BY query_id, rank
"""


@q("sim_knn_join_lsh", _knn_join_lsh_oracle())
def sim_knn_join_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return S.knn_join_lsh(emb, k=3, n_planes=6).orderBy("query_id", "rank")


_PII_TEXT = ("concat(text, CASE WHEN doc_id % 7 = 0 "
             "THEN ' mail user' || doc_id || '@example.com' "
             "WHEN doc_id % 11 = 0 THEN ' call 555-123-4567' "
             "WHEN doc_id % 13 = 0 THEN ' host 10.0.0.1' ELSE '' END)")


@q("text_pii_scrub", f"""
WITH src AS (SELECT doc_id, {_PII_TEXT} AS t FROM documents),
x AS (SELECT doc_id,
             CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
                  + len(regexp_extract_all(
                        regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[PII]', 'g'),
                        '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))
                  + len(regexp_extract_all(
                        regexp_replace(
                            regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[PII]', 'g'),
                            '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '[PII]', 'g'),
                        '\\+?\\d[\\d\\- ]{{7,}}\\d')) AS INT) AS n_pii,
             regexp_replace(
                 regexp_replace(
                     regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[PII]', 'g'),
                     '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '[PII]', 'g'),
                 '\\+?\\d[\\d\\- ]{{7,}}\\d', '[PII]', 'g') AS clean_text
      FROM src)
SELECT doc_id, n_pii, clean_text FROM x WHERE n_pii > 0 ORDER BY doc_id
""")
def text_pii_scrub(spark, sf_dir):
    """PII scrubbing (training-data hygiene): email/IPv4/phone spans →
    placeholder, per-doc hit counts; synthetic PII injected
    deterministically since the corpus has none."""
    d = _docs(spark, sf_dir).select("doc_id", F.expr(_PII_TEXT).alias("text2"))
    out = TS.pii_scrub(d, "text2")
    return out.where(F.col("n_pii") > 0).orderBy("doc_id")


@q("mm_frame_signatures", """
WITH f AS (
    SELECT doc_id,
           unnest(range(0, greatest(1, length(text) // 64), 2)) AS frame_idx
    FROM documents WHERE doc_id < 50)
SELECT f.doc_id, CAST(f.frame_idx AS INT) AS frame_idx,
       md5(substring(d.text, f.frame_idx * 64 + 1, 64)) AS frame_sig
FROM f JOIN documents d USING (doc_id)
ORDER BY doc_id, frame_idx
""")
def mm_frame_signatures(spark, sf_dir):
    """Multimodal frame sampling with per-frame fingerprints: binary
    payload → mapInPandas frame slicing + md5 (ml/multimodal.py). The
    oracle reproduces the byte-range hashes in SQL (ascii payload)."""
    from opensearch_spark.ml import multimodal as MM

    d = (_docs(spark, sf_dir).where(F.col("doc_id") < 50)
         .select("doc_id", F.encode(F.col("text"), "utf-8").alias("payload")))
    return MM.frame_signatures(d, frame_bytes=64, every_n=2)              .orderBy("doc_id", "frame_idx")


@q("search_termvectors_artificial", f"""
WITH {O.TOK_CTES},
req AS (SELECT unnest(string_split_regex(
            'spark table query spark zzzzunseen', '\\s+')) AS term),
rtf AS (SELECT term, count(*) AS tf FROM req GROUP BY term),
idx AS (SELECT term, count(DISTINCT doc_id) AS df, count(*) AS ttf
        FROM tok2 GROUP BY term)
SELECT r.term, CAST(r.tf AS INT) AS tf,
       CAST(coalesce(i.df, 0) AS BIGINT) AS df,
       CAST(coalesce(i.ttf, 0) AS BIGINT) AS ttf
FROM rtf r LEFT JOIN idx i USING (term)
ORDER BY term
""")
def search_termvectors_artificial(spark, sf_dir):
    """_termvectors with an inline (artificial) document — and the
    per-entry form of _mtermvectors (action/termvectors/
    TermVectorsRequest.java `doc`, TransportMultiTermVectorsAction): the
    provided text is analyzed on the fly, each term decorated with the
    INDEX's df/ttf via a term-pruned dictionary lookup; a term the index
    has never seen reports df=0/ttf=0 (probative: the oracle recomputes
    both statistics from the raw corpus)."""
    s = get_searcher(spark, sf_dir)
    return s.termvectors_artificial("spark table query spark zzzzunseen")


@q("search_termvectors", f"""
WITH {O.TOK_CTES}
SELECT doc_id, term, count(*) AS tf FROM tok2
WHERE doc_id IN (3, 7) GROUP BY doc_id, term ORDER BY doc_id, term
""")
def search_termvectors(spark, sf_dir):
    """_termvectors API (TermVectorsRequest): per-doc (term, tf) vectors
    for requested ids — re-analysis of the stored field, like the
    reference's on-the-fly term-vector computation when vectors are not
    indexed."""
    s = get_searcher(spark, sf_dir)
    return s._flat_for_docs([3, 7]).orderBy("doc_id", "term")


@q("index_stats", f"""
WITH {O.TOK_CTES}
SELECT (SELECT count(*) FROM documents) AS doc_count,
       (SELECT count(DISTINCT term) FROM tok2) AS vocab_size,
       (SELECT count(*) FROM tok2) AS total_tokens,
       round((SELECT count(*) FROM tok2) * 1.0
             / (SELECT count(*) FROM documents), 6) AS avgdl
""")
def index_stats(spark, sf_dir):
    """_stats API (IndicesStatsAction analog): engine-held collection
    statistics, cross-checked against recomputation from the raw corpus."""
    s = get_searcher(spark, sf_dir)
    vocab = s.index.dictionary(spark).count()
    return spark.createDataFrame(
        [(s.N, vocab, s.sum_dl, round(s.sum_dl / s.N, 6))],
        "doc_count long, vocab_size long, total_tokens long, avgdl double")


@q("search_terminate_after", f"""
WITH {O.TOK_CTES},
m AS (SELECT count(DISTINCT doc_id) AS cnt FROM tok2 WHERE term = 'spark')
SELECT least(cnt, 50) AS total_hits, cnt >= 50 AS terminated_early FROM m
""")
def search_terminate_after(spark, sf_dir):
    """terminate_after (QueryPhase early termination): stop collecting
    after N matching docs — LIMIT inside the plan, capped count + flag."""
    s = get_searcher(spark, sf_dir)
    n = s.matching_docs(Match(field="text", text="spark")).limit(50).count()
    return spark.createDataFrame([(n, n >= 50)],
                                 "total_hits long, terminated_early boolean")


@q("search_intervals_prefix", f"""
WITH {_POS_CTE}
SELECT DISTINCT a.doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos a JOIN pos b ON a.doc_id = b.doc_id
WHERE a.term = 'spark' AND b.term LIKE 'ta%'
  AND b.p > a.p AND b.p - a.p - 1 <= 1
ORDER BY a.doc_id
""")
def search_intervals_prefix(spark, sf_dir):
    """intervals `prefix` rule (IntervalsSourceProvider.Prefix): the last
    term expands to its dictionary completions, used as clause
    alternatives in the same minimal-window algebra."""
    from opensearch_spark.search import Intervals

    s = get_searcher(spark, sf_dir)
    return s.score(Intervals(field="text", text="spark ta", max_gaps=1,
                             ordered=True, last_prefix=True)).orderBy("doc_id")


@q("search_intervals_fuzzy", f"""
WITH {_POS_CTE}
SELECT DISTINCT a.doc_id, CAST(1.0 AS DOUBLE) AS score
FROM pos a JOIN pos b ON a.doc_id = b.doc_id
WHERE a.term = 'spark' AND damerau_levenshtein(b.term, 'tabl') <= 1
  AND b.p > a.p AND b.p - a.p - 1 <= 1
ORDER BY a.doc_id
""")
def search_intervals_fuzzy(spark, sf_dir):
    """intervals `fuzzy` rule (IntervalsSourceProvider.Fuzzy): the last
    token expands to its bounded dictionary matches within edit distance
    (AUTO: 1 edit for a 4-char term; Damerau — the rule uses FuzzyQuery's
    DEFAULT_TRANSPOSITIONS like the engine's Fuzzy default, so the oracle
    is damerau_levenshtein, not classic levenshtein), as clause
    alternatives in the same minimal-window algebra."""
    from opensearch_spark.search import Intervals

    s = get_searcher(spark, sf_dir)
    return s.score(Intervals(field="text", text="spark tabl", max_gaps=1,
                             ordered=True, last_rule="fuzzy")).orderBy("doc_id")


@q("search_profile")  # rows-only: timing measurements have no value oracle
def search_profile(spark, sf_dir):
    """_search?profile=true analog (QueryProfiler.java): per-phase timing
    rows (rewrite/stats/execute/fetch/total) for one WAND search."""
    s = get_searcher(spark, sf_dir)
    return s.profile(Match(field="text", text="spark table"), k=10,
                     mode="wand").select("phase", "detail")


@q("search_rank_feature", """
SELECT doc_id, round(2.0 * n_chars / (n_chars + 200.0), 4) AS score
FROM documents WHERE n_chars > 0
ORDER BY round(2.0 * n_chars / (n_chars + 200.0), 4) DESC, doc_id LIMIT 10
""")
def search_rank_feature(spark, sf_dir):
    """rank_feature query (RankFeatureQueryBuilder.java): saturation
    scoring over a numeric feature column."""
    from opensearch_spark.search import RankFeature

    s = get_searcher(spark, sf_dir)
    return s.search(RankFeature(field="n_chars", pivot=200.0, boost=2.0),
                    k=10, mode="exhaustive", round_scores=4)


@q("search_distance_feature", """
SELECT doc_id, round(100.0 / (100.0 + abs(n_chars - 250.0)), 4) AS score
FROM documents
ORDER BY round(100.0 / (100.0 + abs(n_chars - 250.0)), 4) DESC, doc_id LIMIT 10
""")
def search_distance_feature(spark, sf_dir):
    """distance_feature query (DistanceFeatureQueryBuilder.java):
    closeness to an origin on a numeric column."""
    from opensearch_spark.search import DistanceFeature

    s = get_searcher(spark, sf_dir)
    return s.search(DistanceFeature(field="n_chars", origin=250.0, pivot=100.0),
                    k=10, mode="exhaustive", round_scores=4)


@q("field_caps", """
SELECT * FROM (VALUES
    ('doc_id', 'long', false, true),
    ('lang', 'keyword', true, true),
    ('n_chars', 'long', false, true),
    ('source', 'keyword', true, true),
    ('text', 'text', true, false)
) AS t(field, type, searchable, aggregatable) ORDER BY field
""")
def field_caps(spark, sf_dir):
    """_field_caps API (FieldCapabilitiesRequest): per-field type and
    capability flags, derived from the built index's actual mapping
    (analyzed field, keyword_cols, numeric stored fields)."""
    s = get_searcher(spark, sf_dir)
    rows = [(s.field, "text", True, False)]  # analyzed: searchable, no doc-values
    for c in sorted(s.index.meta.get("keyword_cols", [])):
        rows.append((c, "keyword", True, True))
    for f in s.index.docs(spark).schema.fields:  # numeric doc-value fields
        if f.name in ("doc_id", "n_chars") and f.dataType.simpleString() == "bigint":
            rows.append((f.name, "long", False, True))
    return (spark.createDataFrame(
        sorted(set(rows)),
        "field string, type string, searchable boolean, aggregatable boolean")
        .orderBy("field"))


# --------------------------------------------------------------------------
# geo family over the deterministic derived geo_point (search/geo.py):
# GeoDistanceQueryBuilder / GeoBoundingBoxQueryBuilder / GeoTileGrid /
# GeoCentroid / GeoBounds / GeoDistanceSortBuilder
# --------------------------------------------------------------------------
from opensearch_spark.search.geo import (  # noqa: E402
    BIG_POLYGON, ENVELOPE_SQL_CTE, GEO_SQL_CTE, POLYGON, SMALL_POLYGON,
    envelope_relation, envelope_relation_sql, geo_bounding_box, geo_distance,
    geo_polygon, geotile_sql, geotile_xy, haversine_sql,
    polygon_envelope_relation, polygon_envelope_relation_sql, polygon_sql,
    with_envelope, with_geo,
)

_GEO_X4, _GEO_Y4 = geotile_sql(4)


@q("search_geo_distance", f"""
WITH {GEO_SQL_CTE},
d AS (SELECT doc_id, round({haversine_sql(10.0, 20.0)}, 3) AS dist_km FROM g)
SELECT doc_id, dist_km FROM d WHERE dist_km <= 3000
ORDER BY dist_km, doc_id LIMIT 10
""")
def search_geo_distance(spark, sf_dir):
    """geo_distance query + geo-distance sort (GeoDistanceQueryBuilder.java,
    GeoDistanceSortBuilder.java): nearest 10 docs within 3000 km of
    (10, 20). Plan: bounding-box range prefilter (parquet-pushable) →
    haversine (codegen trig) → TakeOrderedAndProject."""
    docs = with_geo(_docs(spark, sf_dir))
    return (geo_distance(docs, 10.0, 20.0, 3000.0)
            .select("doc_id", "dist_km")
            .orderBy("dist_km", "doc_id").limit(10))


@q("search_geo_bounding_box", f"""
WITH {GEO_SQL_CTE}
SELECT doc_id, round(lat, 2) AS lat, round(lon, 2) AS lon FROM g
WHERE lat <= 30.0 AND lat >= -10.0 AND lon >= -40.0 AND lon <= 40.0
ORDER BY doc_id LIMIT 25
""")
def search_geo_bounding_box(spark, sf_dir):
    """geo_bounding_box (GeoBoundingBoxQueryBuilder.java): pure range
    predicates — pushes to the scan."""
    docs = with_geo(_docs(spark, sf_dir))
    return (geo_bounding_box(docs, top=30.0, left=-40.0, bottom=-10.0, right=40.0)
            .select("doc_id", F.round("lat", 2).alias("lat"),
                    F.round("lon", 2).alias("lon"))
            .orderBy("doc_id").limit(25))


@q("agg_geotile_grid", f"""
WITH {GEO_SQL_CTE},
t AS (SELECT {_GEO_X4} AS tile_x, {_GEO_Y4} AS tile_y FROM g)
SELECT tile_x, tile_y, count(*) AS doc_count
FROM t GROUP BY tile_x, tile_y
ORDER BY doc_count DESC, tile_x, tile_y LIMIT 15
""")
def agg_geotile_grid(spark, sf_dir):
    """geotile_grid bucket agg at zoom 4 (GeoTileGridAggregationBuilder.java,
    tile math GeoTileUtils.longEncode): two integer exprs + one hash agg."""
    docs = with_geo(_docs(spark, sf_dir))
    x, y = geotile_xy(F.col("lat"), F.col("lon"), 4)
    return (docs.select(x.alias("tile_x"), y.alias("tile_y"))
            .groupBy("tile_x", "tile_y")
            .agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), "tile_x", "tile_y").limit(15))


@q("agg_geo_centroid", f"""
WITH {GEO_SQL_CTE}
SELECT lang, round(avg(lat), 4) AS centroid_lat,
       round(avg(lon), 4) AS centroid_lon, count(*) AS doc_count
FROM g GROUP BY lang ORDER BY lang
""")
def agg_geo_centroid(spark, sf_dir):
    """geo_centroid metric agg per lang bucket
    (GeoCentroidAggregationBuilder.java): arithmetic mean of the points."""
    docs = with_geo(_docs(spark, sf_dir))
    return (docs.groupBy("lang")
            .agg(F.round(F.avg("lat"), 4).alias("centroid_lat"),
                 F.round(F.avg("lon"), 4).alias("centroid_lon"),
                 F.count("*").alias("doc_count"))
            .orderBy("lang"))


@q("agg_geo_bounds", f"""
WITH {GEO_SQL_CTE}
SELECT lang, round(max(lat), 2) AS top_lat, round(min(lat), 2) AS bottom_lat,
       round(min(lon), 2) AS left_lon, round(max(lon), 2) AS right_lon
FROM g GROUP BY lang ORDER BY lang
""")
def agg_geo_bounds(spark, sf_dir):
    """geo_bounds metric agg (GeoBoundsAggregator.java): min/max envelope
    per bucket — exact min/max, order-insensitive at any parallelism."""
    docs = with_geo(_docs(spark, sf_dir))
    return (docs.groupBy("lang")
            .agg(F.round(F.max("lat"), 2).alias("top_lat"),
                 F.round(F.min("lat"), 2).alias("bottom_lat"),
                 F.round(F.min("lon"), 2).alias("left_lon"),
                 F.round(F.max("lon"), 2).alias("right_lon"))
            .orderBy("lang"))


@q("agg_geo_distance_range", f"""
WITH {GEO_SQL_CTE},
dd AS (SELECT doc_id, n_chars, round({haversine_sql(0.0, 0.0)}, 3) AS dist FROM g)
SELECT CASE WHEN dist < 3000 THEN '0-3000' WHEN dist < 8000 THEN '3000-8000'
            WHEN dist < 14000 THEN '8000-14000' ELSE '14000+' END AS bucket,
       count(*) AS doc_count, round(avg(n_chars), 2) AS avg_chars
FROM dd GROUP BY 1 ORDER BY bucket
""")
def agg_geo_distance_range(spark, sf_dir):
    """geo_distance range bucket agg (GeoDistanceAggregationBuilder.java):
    distance-to-origin CASE buckets + per-bucket metrics — one codegen
    expression and one hash agg, same shape as the numeric range agg."""
    from opensearch_spark.search.geo import haversine_km

    docs = with_geo(_docs(spark, sf_dir))
    dist = F.round(haversine_km(F.col("lat"), F.col("lon"), 0.0, 0.0), 3)
    bucket = (F.when(dist < 3000, "0-3000")
               .when(dist < 8000, "3000-8000")
               .when(dist < 14000, "8000-14000")
               .otherwise("14000+"))
    return (docs.select(bucket.alias("bucket"), "n_chars")
            .groupBy("bucket")
            .agg(F.count("*").alias("doc_count"),
                 F.round(F.avg("n_chars"), 2).alias("avg_chars"))
            .orderBy("bucket"))


from opensearch_spark.search.geo import geohash_col, geohash_sql_parts  # noqa: E402

_GH_LONQ, _GH_LATQ, _GH_V, _GH_CHARS = geohash_sql_parts(4)


@q("agg_geohash_grid", f"""
WITH {GEO_SQL_CTE},
qz AS (SELECT {_GH_LONQ} AS lonq, {_GH_LATQ} AS latq FROM g),
vv AS (SELECT {_GH_V} AS v FROM qz),
h AS (SELECT {_GH_CHARS} AS geohash FROM vv)
SELECT geohash, count(*) AS doc_count
FROM h GROUP BY geohash
ORDER BY doc_count DESC, geohash LIMIT 15
""")
def agg_geohash_grid(spark, sf_dir):
    """geohash_grid bucket agg at precision 4 (modules/geo/.../geogrid/
    GeoHashGridAggregationBuilder.java, GeoHashGridAggregator.java): cell
    id = MSB-first interleave of the binary lon/lat subdivision, base32 —
    pure integer shift/mask expressions + one hash agg, no UDF. Encoding
    property-tested against the textbook interval-halving geohash."""
    docs = with_geo(_docs(spark, sf_dir))
    return (docs.select(geohash_col(F.col("lat"), F.col("lon"), 4)
                        .alias("geohash"))
            .groupBy("geohash").agg(F.count("*").alias("doc_count"))
            .orderBy(F.desc("doc_count"), "geohash").limit(15))


@q("search_geo_polygon", f"""
WITH {GEO_SQL_CTE}
SELECT doc_id, round(lat, 2) AS lat, round(lon, 2) AS lon FROM g
WHERE {polygon_sql(POLYGON)}
ORDER BY doc_id LIMIT 50
""")
def search_geo_polygon(spark, sf_dir):
    """geo_polygon query (GeoPolygonQueryBuilder.java): PNPOLY ray cast
    over the derived points — bbox range prefilter (parquet-pushable, the
    BKD-tree analog) then V unrolled crossing indicators + a parity test,
    all whole-stage codegen. Oracle inlines the identical edge constants
    (slopes computed once driver-side) so both engines compare the same
    doubles."""
    docs = with_geo(_docs(spark, sf_dir))
    return (geo_polygon(docs)
            .select("doc_id", F.round("lat", 2).alias("lat"),
                    F.round("lon", 2).alias("lon"))
            .orderBy("doc_id").limit(50))


# relation-specific query envelopes, each sized so its relation is
# non-vacuous at every test sf (doc envelopes are 0.5-6.5 x 0.6-10.6 deg)
_ENV_INTER = (0.0, 20.0, -40.0, 10.0)    # intersects / disjoint
_ENV_WITHIN = (0.0, 30.0, -60.0, 0.0)    # large: some doc envs fit inside
# small env placed strictly inside doc 76's derived envelope
# (lat [-41.56, -35.06], lon [-145.96, -135.36]) so CONTAINS is
# non-vacuous at every sf
_ENV_CONTAINS = (-40.0, -36.0, -144.0, -137.0)


@q("search_geo_shape", f"""
WITH {ENVELOPE_SQL_CTE}
SELECT 'contains' AS relation,
       sum(CASE WHEN {envelope_relation_sql(*_ENV_CONTAINS, 'contains')}
           THEN 1 ELSE 0 END)::BIGINT AS n_docs FROM env
UNION ALL
SELECT 'disjoint',
       sum(CASE WHEN {envelope_relation_sql(*_ENV_INTER, 'disjoint')}
           THEN 1 ELSE 0 END)::BIGINT FROM env
UNION ALL
SELECT 'intersects',
       sum(CASE WHEN {envelope_relation_sql(*_ENV_INTER, 'intersects')}
           THEN 1 ELSE 0 END)::BIGINT FROM env
UNION ALL
SELECT 'within',
       sum(CASE WHEN {envelope_relation_sql(*_ENV_WITHIN, 'within')}
           THEN 1 ELSE 0 END)::BIGINT FROM env
""")
def search_geo_shape(spark, sf_dir):
    """geo_shape ENVELOPE query under all four ShapeRelation.java
    relations (GeoShapeQueryBuilder.java). The shape field is the derived
    per-doc envelope; each relation is exact 2-D interval algebra — four
    pushable range predicates and a count, no shuffle beyond the agg.
    (Full polygon shapes via the Lucene BKD triangle tree are a documented
    non-goal; envelopes cover the relation algebra the builder exposes.)"""
    d = with_envelope(_docs(spark, sf_dir).select("doc_id"))
    outs = []
    for rel, env in (("contains", _ENV_CONTAINS), ("disjoint", _ENV_INTER),
                     ("intersects", _ENV_INTER), ("within", _ENV_WITHIN)):
        outs.append(envelope_relation(d, *env, rel)
                    .agg(F.count("*").alias("n_docs"))
                    .select(F.lit(rel).alias("relation"), "n_docs"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("relation")


@q("search_geo_shape_polygon", f"""
WITH {ENVELOPE_SQL_CTE}
SELECT 'contains' AS relation,
       sum(CASE WHEN {polygon_envelope_relation_sql(SMALL_POLYGON, 'contains')}
           THEN 1 ELSE 0 END)::BIGINT AS n_docs FROM env
UNION ALL
SELECT 'disjoint',
       sum(CASE WHEN {polygon_envelope_relation_sql(BIG_POLYGON, 'disjoint')}
           THEN 1 ELSE 0 END)::BIGINT FROM env
UNION ALL
SELECT 'intersects',
       sum(CASE WHEN {polygon_envelope_relation_sql(BIG_POLYGON, 'intersects')}
           THEN 1 ELSE 0 END)::BIGINT FROM env
UNION ALL
SELECT 'within',
       sum(CASE WHEN {polygon_envelope_relation_sql(BIG_POLYGON, 'within')}
           THEN 1 ELSE 0 END)::BIGINT FROM env
""")
def search_geo_shape_polygon(spark, sf_dir):
    """geo_shape POLYGON-geometry query under all four ShapeRelation.java
    relations (GeoShapeQueryBuilder.java; the reference answers these via
    the Lucene LatLonShape BKD triangle tree). Doc shapes are the derived
    envelopes, so polygon-vs-rectangle reduces to exact algebra: per-edge
    segment-vs-rectangle side crossings (slopes are Python-computed
    constants shared with the oracle) + the PNPOLY ray cast — all
    whole-stage codegen, no UDF. Unit-tested against an independent
    orientation-sign segment-intersection oracle in
    tests/test_geo_shapes.py."""
    d = with_envelope(_docs(spark, sf_dir).select("doc_id"))
    outs = []
    for rel, poly in (("contains", SMALL_POLYGON), ("disjoint", BIG_POLYGON),
                      ("intersects", BIG_POLYGON), ("within", BIG_POLYGON)):
        outs.append(polygon_envelope_relation(d, poly, rel)
                    .agg(F.count("*").alias("n_docs"))
                    .select(F.lit(rel).alias("relation"), "n_docs"))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("relation")


# --------------------------------------------------------------------------
# ip + range field types over derived deterministic columns —
# IpFieldMapper / RangeFieldMapper / BinaryRangeAggregator (ip_range)
# --------------------------------------------------------------------------
from opensearch_spark.search import ipfield as IPF  # noqa: E402

# numeric derivation shared with the oracles (uint32 Knuth spread)
_IP_SQL = (f"(doc_id * {IPF.IP_HASH_MULT}) % {IPF.IP_SPACE}")
_IP_STR_SQL = ("((ip_num >> 24) % 256) || '.' || ((ip_num >> 16) % 256)"
               " || '.' || ((ip_num >> 8) % 256) || '.' || (ip_num % 256)")
_CIDR = "160.0.0.0/4"
_CIDR_LO, _CIDR_HI = IPF.parse_cidr(_CIDR)
_IPR_SPECS = [
    {"key": "low", "to": "64.0.0.0"},
    {"key": "mid", "from": "64.0.0.0", "to": "192.0.0.0"},
    {"key": "high", "from": "192.0.0.0"},
    {"key": "block", "mask": "128.0.0.0/2"},
]


@q("search_ip_cidr", f"""
WITH ips AS (SELECT doc_id, {_IP_SQL} AS ip_num FROM documents)
SELECT doc_id, {_IP_STR_SQL} AS ip
FROM ips WHERE ip_num BETWEEN {_CIDR_LO} AND {_CIDR_HI}
ORDER BY doc_id LIMIT 50
""")
def search_ip_cidr(spark, sf_dir):
    """CIDR term query on a derived ip field (IpFieldMapper.termQuery
    with a mask → InetAddressPoint.newPrefixQuery): one numeric BETWEEN
    on a long column — parquet-pushable, codegen, no shuffle."""
    d = IPF.with_ip(_docs(spark, sf_dir).select("doc_id"))
    return (IPF.ip_cidr(d, _CIDR).select("doc_id", "ip")
            .orderBy("doc_id").limit(50))


def _ip_range_agg_sql() -> str:
    cases = []
    for spec in _IPR_SPECS:
        if "mask" in spec:
            lo, hi = IPF.parse_cidr(spec["mask"])
            cond = f"ip_num BETWEEN {lo} AND {hi}"
        else:
            parts = []
            if spec.get("from") is not None:
                parts.append(f"ip_num >= {IPF.parse_ip(spec['from'])}")
            if spec.get("to") is not None:
                parts.append(f"ip_num < {IPF.parse_ip(spec['to'])}")
            cond = " AND ".join(parts)
        cases.append(
            f"SELECT '{spec['key']}' AS key, "
            f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END)::BIGINT AS doc_count "
            f"FROM ips")
    union = " UNION ALL ".join(cases)
    return f"""
WITH ips AS (SELECT {_IP_SQL} AS ip_num FROM documents)
{union}
"""


@q("agg_ip_range", _ip_range_agg_sql())
def agg_ip_range(spark, sf_dir):
    """ip_range aggregation (BinaryRangeAggregator; [from,to) ES bucket
    semantics, CIDR masks inclusive): ONE conditional-sum aggregate emits
    every keyed bucket — no per-bucket scans, empty buckets included."""
    d = IPF.with_ip(_docs(spark, sf_dir).select("doc_id"))
    return IPF.ip_range_agg(d, _IPR_SPECS)


@q("search_range_field", f"""
WITH r AS (SELECT doc_id,
                  (doc_id % {IPF.RANGE_LO_MOD}) * 10 AS r_lo,
                  (doc_id % {IPF.RANGE_LO_MOD}) * 10 + 5
                      + (doc_id % {IPF.RANGE_SPAN_MOD}) AS r_hi
           FROM documents)
SELECT 'contains' AS relation,
       sum(CASE WHEN r_lo <= 200 AND r_hi >= 260 THEN 1 ELSE 0 END)::BIGINT AS n_docs
FROM r
UNION ALL
SELECT 'intersects',
       sum(CASE WHEN r_lo <= 260 AND r_hi >= 200 THEN 1 ELSE 0 END)::BIGINT FROM r
UNION ALL
SELECT 'within',
       sum(CASE WHEN r_lo >= 200 AND r_hi <= 260 THEN 1 ELSE 0 END)::BIGINT FROM r
""")
def search_range_field(spark, sf_dir):
    """Range FIELD queried with a range under all three relations
    (RangeFieldMapper.RangeType × RangeQueryBuilder.relation): the field
    is a derived per-doc [r_lo, r_hi] interval; each relation is a pair
    of comparisons — pushable, codegen, one count shuffle per relation."""
    d = IPF.with_range_field(_docs(spark, sf_dir).select("doc_id"))
    outs = []
    for rel in ("contains", "intersects", "within"):
        outs.append(
            IPF.range_field_query(d, 200, 260, rel)
            .agg(F.count("*").alias("n_docs"))
            .select(F.lit(rel).alias("relation"), "n_docs"))
    a, b, c = outs
    return a.unionByName(b).unionByName(c).orderBy("relation")


_CID_FLIP = "(src_num > dst_num OR (src_num = dst_num AND sport > dport))"


@q("ingest_community_id", f"""
WITH f AS (SELECT event_id,
                  (user_id * {IPF.IP_HASH_MULT}) % {IPF.IP_SPACE} AS src_num,
                  (event_id * {IPF.IP_HASH_MULT}) % {IPF.IP_SPACE} AS dst_num,
                  1024 + (event_id % 50000) AS sport,
                  443 AS dport
           FROM events),
c AS (SELECT event_id,
             CASE WHEN {_CID_FLIP} THEN dst_num ELSE src_num END AS a_num,
             CASE WHEN {_CID_FLIP} THEN src_num ELSE dst_num END AS b_num,
             CASE WHEN {_CID_FLIP} THEN dport ELSE sport END AS a_port,
             CASE WHEN {_CID_FLIP} THEN sport ELSE dport END AS b_port
      FROM f),
s AS (SELECT event_id, a_port, b_port,
             {_IP_STR_SQL.replace('ip_num', 'a_num')} AS a_ip,
             {_IP_STR_SQL.replace('ip_num', 'b_num')} AS b_ip
      FROM c)
SELECT event_id, a_ip, a_port, b_ip, b_port,
       md5(a_ip || ':' || CAST(a_port AS VARCHAR)
           || '>' || b_ip || ':' || CAST(b_port AS VARCHAR)) AS flow_fp,
       TRUE AS cid_ok
FROM s ORDER BY event_id LIMIT 200
""")
def ingest_community_id(spark, sf_dir):
    """community_id ingest processor (CommunityIdProcessor.java:214-222
    canonical endpoint ordering, :413-431 seed·src·dst·proto·pad·ports →
    SHA-1 → base64 "1:" digest). The derived flow tuple exercises both
    swap branches; the gate hash-verifies the canonical ordering and a
    cross-engine flow fingerprint, runs the real SHA-1 digest and checks
    its shape in-plan (``cid_ok``); digest bytes themselves are pinned
    against an independent hashlib construction in
    tests/test_ingest_net.py. All codegen — no UDFs."""
    from opensearch_spark.ingest.netflow import (
        PROTO_TCP, canonical_endpoints, community_id,
    )

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    f = ev.select(
        "event_id",
        ((F.col("user_id").cast("long") * IPF.IP_HASH_MULT)
         % IPF.IP_SPACE).alias("src_num"),
        ((F.col("event_id").cast("long") * IPF.IP_HASH_MULT)
         % IPF.IP_SPACE).alias("dst_num"),
        (F.lit(1024) + F.col("event_id") % 50000).cast("long").alias("sport"),
        F.lit(443).cast("long").alias("dport"),
    )
    # displayed endpoints come from the SAME helper community_id hashes
    # with, so the gate can't drift from the processor's ordering rule
    a_num, b_num, a_port, b_port = canonical_endpoints(
        F.col("src_num"), F.col("dst_num"), F.col("sport"), F.col("dport"))
    c = f.select(
        "event_id",
        a_num.alias("a_num"), b_num.alias("b_num"),
        a_port.alias("a_port"), b_port.alias("b_port"),
        community_id(F.col("src_num"), F.col("dst_num"),
                     F.col("sport"), F.col("dport"), PROTO_TCP).alias("cid"),
    )
    s = c.select(
        "event_id", "a_port", "b_port", "cid",
        IPF.ip_str_expr(F.col("a_num")).alias("a_ip"),
        IPF.ip_str_expr(F.col("b_num")).alias("b_ip"),
    )
    return (s.select(
        "event_id", "a_ip", "a_port", "b_ip", "b_port",
        F.md5(F.concat(
            F.col("a_ip"), F.lit(":"), F.col("a_port").cast("string"),
            F.lit(">"), F.col("b_ip"), F.lit(":"),
            F.col("b_port").cast("string"))).alias("flow_fp"),
        F.col("cid").rlike(r"^1:[A-Za-z0-9+/]{27}=$").alias("cid_ok"),
    ).orderBy("event_id").limit(200))


@q("curation_unigram_logppl", """
WITH tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
    FROM documents
),
tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
cf AS (SELECT term, count(*) AS cf FROM tok2 GROUP BY term),
tot AS (SELECT sum(cf) AS total FROM cf),
p AS (SELECT term, cf * 1.0 / total AS p FROM cf CROSS JOIN tot),
d AS (SELECT doc_id, -avg(ln(p)) AS logppl, count(*) AS n_tokens
      FROM tok2 JOIN p USING (term) GROUP BY doc_id)
SELECT doc_id, round(logppl, 4) AS logppl, n_tokens FROM d
ORDER BY round(logppl, 4) DESC, doc_id LIMIT 15
""")
def curation_unigram_logppl(spark, sf_dir):
    """Perplexity-proxy quality filter (order-0 CCNet shape): the 15 most
    lexically atypical docs under the corpus's own unigram LM — the tail a
    curation pipeline would drop/down-weight. ml/curation.unigram_logppl."""
    from opensearch_spark.ml.curation import unigram_logppl

    out = unigram_logppl(_docs(spark, sf_dir))
    return (out.select("doc_id", F.round("logppl", 4).alias("logppl"), "n_tokens")
            .orderBy(F.desc(F.round("logppl", 4)), "doc_id").limit(15))


_COSINE_CTES = """
q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
pairs AS (SELECT e.vec_id, e.label,
                 unnest(CAST(e.embedding AS DOUBLE[])) AS x,
                 unnest(q.qe) AS y
          FROM embeddings e CROSS JOIN q),
s AS (SELECT vec_id, any_value(label) AS label,
             sum(x * y) AS dot, sum(x * x) AS nx, sum(y * y) AS ny
      FROM pairs GROUP BY vec_id),
sc AS (SELECT vec_id, label,
              round(dot / (sqrt(nx) * sqrt(ny)), 4) AS cosine
       FROM s WHERE vec_id <> 0)
"""


@q("sim_knn_filtered", f"""
WITH {_COSINE_CTES}
SELECT vec_id, cosine FROM sc WHERE label = 2
ORDER BY cosine DESC, vec_id LIMIT 10
""")
def sim_knn_filtered(spark, sf_dir):
    """Filtered kNN (k-NN plugin filtered search — KNNQueryBuilder.java
    `filter` param): metadata predicate applied BEFORE scoring, so the
    top-k is over the filtered candidate set (not post-filtered results).
    Plan: pushable filter → single-scan JVM cosine fold →
    TakeOrderedAndProject."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return S.cosine_topk(emb.where(F.col("label") == 2), qv, k=10, exclude_id=0)


@q("sim_radius_search", f"""
WITH {_COSINE_CTES}
SELECT vec_id, cosine FROM sc WHERE cosine >= 0.25
ORDER BY cosine DESC, vec_id
""")
def sim_radius_search(spark, sf_dir):
    """Radial search (k-NN plugin min_score bounded retrieval): every
    vector with rounded cosine ≥ 0.25 — result size is data-driven, not
    k-capped. Single scan + filter, no shuffle."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    return (S.radius_search(emb, qv, 0.25, exclude_id=0)
            .orderBy(F.desc("cosine"), "vec_id"))


# --------------------------------------------------------------------------
# percolator (reverse search): stored queries matched against streaming
# documents — modules/percolator/PercolateQueryBuilder.java,
# PercolatorFieldMapper.java (term-extraction prefilter: QueryAnalyzer.java)
# --------------------------------------------------------------------------
def _perc_queries():
    from opensearch_spark.search.percolate import PercQuery

    return [
        PercQuery(1, "match", "text", terms=("dup", "vector"), min_should_match=1),
        PercQuery(2, "match", "text", terms=("dup", "merge"), min_should_match=2),
        PercQuery(3, "match", "text", terms=("batch", "stream", "window"),
                  min_should_match=2),
        PercQuery(4, "term", "lang", value="es"),
        PercQuery(5, "term", "source", value="src1"),
        PercQuery(6, "range", "n_chars", lo=100.0, hi=200.0),
        PercQuery(7, "range", "n_chars", hi=64.0),
    ]


_PERC_PAIR_CTES = """
d AS (SELECT * FROM documents {doc_filter}),
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term FROM d
),
dterm AS (SELECT DISTINCT doc_id, term FROM tok WHERE term <> ''),
m1 AS (SELECT doc_id, 1 AS query_id FROM dterm
       WHERE term IN ('dup', 'vector') GROUP BY doc_id HAVING count(*) >= 1),
m2 AS (SELECT doc_id, 2 AS query_id FROM dterm
       WHERE term IN ('dup', 'merge') GROUP BY doc_id HAVING count(*) >= 2),
m3 AS (SELECT doc_id, 3 AS query_id FROM dterm
       WHERE term IN ('batch', 'stream', 'window')
       GROUP BY doc_id HAVING count(*) >= 2),
m4 AS (SELECT doc_id, 4 AS query_id FROM d WHERE lang = 'es'),
m5 AS (SELECT doc_id, 5 AS query_id FROM d WHERE source = 'src1'),
m6 AS (SELECT doc_id, 6 AS query_id FROM d WHERE n_chars BETWEEN 100 AND 200),
m7 AS (SELECT doc_id, 7 AS query_id FROM d WHERE n_chars <= 64),
pairs AS (
    SELECT * FROM m1 UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3
    UNION ALL SELECT * FROM m4 UNION ALL SELECT * FROM m5
    UNION ALL SELECT * FROM m6 UNION ALL SELECT * FROM m7
)
"""


@q("search_percolate", f"""
WITH {_PERC_PAIR_CTES.format(doc_filter="")}
SELECT CAST(query_id AS BIGINT) AS query_id, count(*) AS n_matches,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc
FROM pairs GROUP BY query_id ORDER BY query_id
""")
def search_percolate(spark, sf_dir):
    """Percolate the whole documents table against 7 stored queries
    (match or/and/msm, keyword term, numeric range) and return each
    query's match-set fingerprint. Ref: PercolateQueryBuilder.java;
    prefilter design from PercolatorFieldMapper.EXTRACTED_TERMS_FIELD +
    QueryAnalyzer.java, re-expressed as a broadcast term-index join."""
    from opensearch_spark.search.percolate import percolate_counts

    return percolate_counts(spark, _perc_queries(), _docs(spark, sf_dir))


@q("search_percolate_pairs", f"""
WITH {_PERC_PAIR_CTES.format(doc_filter="WHERE doc_id < 40")}
SELECT doc_id, CAST(query_id AS BIGINT) AS query_id
FROM pairs ORDER BY doc_id, query_id
""")
def search_percolate_pairs(spark, sf_dir):
    """Pair-level percolate parity on a bounded doc slice (the per-doc
    'which alerts fire' shape of the reference API)."""
    from opensearch_spark.search.percolate import percolate

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 40)
    return (percolate(spark, _perc_queries(), docs)
            .orderBy("doc_id", "query_id"))


# --------------------------------------------------------------------------
# reference plugin parity: events-correlation-engine, mapper-size,
# mapper-murmur3
# --------------------------------------------------------------------------
@q("events_correlation", """
WITH a AS (SELECT event_id AS a_id, epoch_us(ts) AS ta
           FROM events WHERE event_type = 'error'),
     b AS (SELECT event_id AS b_id, epoch_us(ts) AS tb
           FROM events WHERE event_type = 'purchase' AND value > 50)
SELECT a_id, b_id, CAST(tb - ta AS BIGINT) AS dt_us
FROM a JOIN b ON abs(tb - ta) <= 300000000
ORDER BY a_id, b_id LIMIT 50
""")
def events_correlation(spark, sf_dir):
    """Events-correlation rule (plugins/events-correlation-engine;
    CorrelationRule.java:27-44, EventsCorrelationSettings.java:37-41
    default 5-minute window): leg A = error events, leg B = high-value
    purchases; pairs within the window. Executed as a time-bucketed hash
    equi-join (leg B expanded to bucket±1) — never a theta/cross join;
    shuffles on the time bucket, AQE splits a hot-spike bucket."""
    from opensearch_spark.search.correlation import correlate_events

    ev = _t(spark, sf_dir, "events")
    leg_a = ev.where(F.col("event_type") == "error")
    leg_b = ev.where((F.col("event_type") == "purchase")
                     & (F.col("value") > 50))
    return (correlate_events(leg_a, leg_b, window_sec=300)
            .orderBy("a_id", "b_id").limit(50))


@q("agg_cardinality_murmur3", """
SELECT source, count(DISTINCT text) AS distinct_texts
FROM documents GROUP BY source ORDER BY source
""")
def agg_cardinality_murmur3(spark, sf_dir):
    """murmur3 hash field (plugins/mapper-murmur3 Murmur3FieldMapper.java:
    stores a 64-bit hash of the value at index time so cardinality aggs
    count hashes instead of re-hashing long strings per query). Spark
    stand-in hash: xxhash64 (same contract — stable 64-bit hash column;
    collision odds ~n²/2⁶⁵, nil at any tested scale). The agg runs
    entirely on the 8-byte hash column; the oracle counts the raw values
    — equal by injectivity at this scale."""
    d = _docs(spark, sf_dir).select(
        "source", F.xxhash64("text").alias("text_hash"))
    return (d.groupBy("source")
            .agg(F.countDistinct("text_hash").alias("distinct_texts"))
            .orderBy("source"))


# --------------------------------------------------------------------------
# mapping-level field types: constant_keyword
# --------------------------------------------------------------------------
@q("search_constant_keyword", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('spark') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('spark') GROUP BY term),
scored AS (SELECT tf.doc_id, sum({O.bm25_term()}) AS raw_score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id)
SELECT 'hot_filter' AS scenario, doc_id, round(raw_score, 4) AS score
FROM scored ORDER BY round(raw_score, 4) DESC, doc_id LIMIT 10
""")
def search_constant_keyword(spark, sf_dir):
    """constant_keyword field (ConstantKeywordFieldMapper.java:35-160,
    ConstantFieldType.java:74-140): the per-index constant `tier: hot`
    folds term/prefix/wildcard/exists leaves to MatchAll and the
    mismatching `tier: cold` branch to MatchNone at rewrite time —
    zero per-doc storage touched, exactly the reference's
    Regex.simpleMatch fold. The hot branch's plan is the plain match
    plan; the cold branch plans to an empty relation (no scan at all)."""
    from opensearch_spark.index.mapping import resolve_constant_fields
    from opensearch_spark.search import Exists

    s = get_searcher(spark, sf_dir)
    consts = {"tier": "hot"}
    hot = resolve_constant_fields(
        Bool(must=[Match(field="text", text="spark")],
             filter=[Term(field="tier", value="hot"),
                     Wildcard(field="tier", value="h*t"),
                     Prefix(field="tier", value="ho"),
                     Exists(field="tier")]),
        consts)
    cold = resolve_constant_fields(
        Bool(must=[Match(field="text", text="spark")],
             filter=[Term(field="tier", value="cold")]),
        consts)
    hot_df = (s.search(hot, k=10, mode="exhaustive", round_scores=4)
              .select(F.lit("hot_filter").alias("scenario"),
                      "doc_id", "score"))
    cold_df = (s.search(cold, k=10, mode="exhaustive", round_scores=4)
               .select(F.lit("cold_filter").alias("scenario"),
                       "doc_id", "score"))
    return hot_df.unionByName(cold_df)


def _phonetic_oracle_sql() -> str:
    from opensearch_spark.analysis.phonetic import soundex_py, soundex_sql

    codes = ", ".join(f"'{soundex_py(t)}'" for t in ("merj", "tabel"))
    return f"""
WITH {O.TOK_CTES},
codes AS (SELECT doc_id, {soundex_sql('term', 'duckdb')} AS code FROM tok2)
SELECT DISTINCT doc_id, CAST(1.0 AS DOUBLE) AS score FROM codes
WHERE code IN ({codes}) ORDER BY doc_id
"""


@q("search_phonetic_match", _phonetic_oracle_sql())
def search_phonetic_match(spark, sf_dir):
    """Phonetic (sound-alike) match — plugins/analysis-phonetic,
    PhoneticTokenFilterFactory.java: misspelled query tokens ('merj',
    'tabel') match terms with the same simplified-soundex code ('merge',
    'table', ...). The code is a vocabulary-level map, so expansion is a
    dictionary scan with a codegen expression — the SAME generated SQL
    spelling the DuckDB oracle runs (parity by construction); scoring is
    the standard constant-score multi-term rewrite."""
    from opensearch_spark.search import Phonetic

    s = get_searcher(spark, sf_dir)
    return s.score(ConstantScore(filter=Bool(should=[
        Phonetic(field="text", value="merj"),
        Phonetic(field="text", value="tabel"),
    ]))).orderBy("doc_id")


@q("curation_quality_classifier", r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ts
  FROM documents
),
idx AS (SELECT doc_id, ts, unnest(generate_series(1, len(ts))) AS i FROM toks),
feats AS (
  SELECT doc_id, ts[i] AS f FROM idx
  UNION ALL
  SELECT doc_id, ts[i] || '_' || ts[i+1] AS f FROM idx WHERE i < len(ts)
),
weights AS (
  SELECT b, ((b * 2654435761) % 2000001) / 1000000.0 - 1.0 AS w
  FROM (SELECT unnest(generate_series(0, 1023)) AS b)
),
bucketed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(f), 1, 8))::BIGINT % 1024 AS BIGINT) AS b
  FROM feats
),
scored AS (
  SELECT doc_id, count(*) AS n_features, avg(w) AS mw
  FROM bucketed JOIN weights USING (b) GROUP BY doc_id
)
SELECT doc_id, CAST(n_features AS BIGINT) AS n_features,
       round(1.0 / (1.0 + exp(-(mw - 0.1))), 6) AS quality,
       (1.0 / (1.0 + exp(-(mw - 0.1)))) >= 0.5 AS keep
FROM scored ORDER BY doc_id LIMIT 200
""")
def curation_quality_classifier(spark, sf_dir):
    """Model-based quality filter (the fastText-classifier step of
    CCNet / LLaMA / FineWeb-Edu pipelines): hashed unigram+bigram bag,
    broadcast weight-table lookup, mean-pooled sigmoid score. One corpus
    scan, all-codegen feature arrays, dim-row broadcast join, one
    hash-agg — the exact plan a loaded model would run; weights here are
    the documented deterministic stand-in."""
    out = CU.quality_classifier(_docs(spark, sf_dir), "text")
    return (out.select("doc_id", "n_features",
                       F.round("quality", 6).alias("quality"), "keep")
            .orderBy("doc_id").limit(200))


# --------------------------------------------------------------------------
# reference module/plugin parity: ingest-user-agent, ingest-geoip,
# mapper-annotated-text
# --------------------------------------------------------------------------
from opensearch_spark import enrich as EN  # noqa: E402
from opensearch_spark.search import annotated as AN  # noqa: E402


def _user_agent_sql() -> str:
    return f"""
WITH ua_src AS (SELECT event_id, {EN.ua_sql('event_id')} AS ua
                FROM events WHERE event_id < 200)
SELECT event_id, ua, {EN.parse_user_agent_sql('ua')}
FROM ua_src ORDER BY event_id
"""


@q("ingest_user_agent", _user_agent_sql())
def ingest_user_agent(spark, sf_dir):
    """user_agent ingest processor (modules/ingest-user-agent,
    UserAgentProcessor.java:95-243): parse a UA string into
    name/major/os/device with an ordered first-match-wins rule list
    (UserAgentParser.java applies uap-core's regexes.yml the same way;
    Edge before Chrome before Safari). The UA column is derived (corpus
    has none); the parse is a fixed LIKE+regexp_extract CASE chain —
    whole-stage codegen, zero UDFs, zero shuffles, so at 100 TB it is a
    constant-cost projection and needs no UserAgentCache."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_id") < 200)
    df = EN.parse_user_agent(ev.withColumn("ua", EN.ua_expr("event_id")))
    return df.select(
        "event_id", "ua", "user_agent_name", "user_agent_major",
        "user_agent_os", "user_agent_device").orderBy("event_id")


def _geoip_sql() -> str:
    return f"""
WITH ips AS (SELECT event_id,
                    (event_id * {IPF.IP_HASH_MULT}) % {IPF.IP_SPACE} AS ip_num
             FROM events WHERE event_id < 500),
r AS {EN.geoip_ranges_sql()}
SELECT event_id, {_IP_STR_SQL} AS ip,
       coalesce(country_iso_code, 'ZZ') AS country_iso_code,
       coalesce(city_name, '') AS city_name,
       coalesce(lat, 0.0) AS lat, coalesce(lon, 0.0) AS lon
FROM ips LEFT JOIN r ON ip_num BETWEEN lo AND hi
ORDER BY event_id
"""


@q("ingest_geoip", _geoip_sql())
def ingest_geoip(spark, sf_dir):
    """geoip ingest processor (modules/ingest-geoip, GeoIpProcessor.java:
    MaxMind range lookup adding country_iso_code/city_name/location).
    Executed as a bucketed broadcast hash EQUI-join — ranges exploded
    across the /8 prefixes they span, joined on the prefix, containment
    verified as a post-filter — never a BroadcastNestedLoopJoin, so a
    3M-block GeoLite2 table against 10^12 events stays a hash join
    (plan-asserted in tests/test_enrich.py). LEFT join keeps unmatched
    ips with NULL geo fields (ignore_missing semantics)."""
    ev = IPF.with_ip(
        _t(spark, sf_dir, "events").where(F.col("event_id") < 500)
        .select("event_id"), id_col="event_id")
    out = EN.geoip_enrich(ev, EN.geoip_table(spark))
    # unmatched ips carry NULL geo fields (ignore_missing); the gate pins
    # them to sentinels so the hash-compare is total-order safe
    return out.select(
        "event_id", "ip",
        F.coalesce("country_iso_code", F.lit("ZZ")).alias("country_iso_code"),
        F.coalesce("city_name", F.lit("")).alias("city_name"),
        F.coalesce("lat", F.lit(0.0)).alias("lat"),
        F.coalesce("lon", F.lit(0.0)).alias("lon"),
    ).orderBy("event_id")


def _annotated_sql() -> str:
    return f"""
WITH ann AS ({AN.annotated_sql_cte('documents')}),
parsed AS (SELECT doc_id, {AN.parse_annotated_sql('annotated')} FROM ann)
SELECT doc_id, anno, n_annos, substr(plain, 1, 40) AS plain_prefix
FROM parsed WHERE anno = 'src2_en'
ORDER BY doc_id LIMIT 50
"""


@q("search_annotated_text", _annotated_sql())
def search_annotated_text(spark, sf_dir):
    """annotated_text field (plugins/mapper-annotated-text,
    AnnotatedTextFieldMapper.java:190-240): markdown-like markup is
    parsed with the reference's exact pattern (:200) into markup-stripped
    plain text + annotation values queryable as terms. The annotated
    source is derived (prepended `[src](entity=src_lang)` mention);
    markup-shaped substrings already in the code text are parsed as
    annotations too — the reference's behavior on that input. Query =
    equality on the extracted annotation value; all regexp projections
    are whole-stage codegen, no UDFs, no shuffle."""
    d = AN.parse_annotated(AN.with_annotated(_docs(spark, sf_dir)))
    return (d.where(F.col("anno") == "src2_en")
            .select("doc_id", "anno", "n_annos",
                    F.substring("plain", 1, 40).alias("plain_prefix"))
            .orderBy("doc_id").limit(50))


from opensearch_spark.search import flatobject as FO  # noqa: E402


def _flat_json_col():
    """Deterministic derived flat_object source (corpus has no JSON
    object columns — same derivation posture as the geo/ip families):
    a depth-3 object over existing columns, every leaf a string."""
    return F.to_json(F.struct(
        F.struct(
            F.col("source").alias("src"),
            F.concat(F.lit("b"), (F.col("n_chars") % 5).cast("string"))
            .alias("band")).alias("app"),
        F.col("lang").alias("lang"),
        F.struct(F.struct(
            F.concat(F.lit("t"), (F.col("doc_id") % 3).cast("string"))
            .alias("tag")).alias("x")).alias("deep"),
    ))


@q("api_flat_object_flatten", """
WITH d AS (SELECT doc_id, source, lang, n_chars FROM documents
           WHERE doc_id < 15),
leaves AS (
  SELECT doc_id, 'app.src' AS path, source AS value FROM d
  UNION ALL
  SELECT doc_id, 'app.band', 'b' || CAST(n_chars % 5 AS VARCHAR) FROM d
  UNION ALL
  SELECT doc_id, 'lang', lang FROM d
  UNION ALL
  SELECT doc_id, 'deep.x.tag', 't' || CAST(doc_id % 3 AS VARCHAR) FROM d)
SELECT doc_id, path, value FROM leaves ORDER BY doc_id, path
""")
def api_flat_object_flatten(spark, sf_dir):
    """flat_object leaf extraction (FlatObjectFieldMapper.java): the
    GENERIC bounded-depth flattener (iterated from_json map parse +
    explode, pure codegen — `search/flatobject.py`) run over the derived
    depth-3 JSON; the oracle enumerates the same leaves directly from
    the base columns. Output is the (doc_id, dotted path, value) triple
    stream the mapper would index as its _valueAndPath terms."""
    d = _docs(spark, sf_dir).withColumn("_fo", _flat_json_col())
    return (FO.flatten_json(d.where(F.col("doc_id") < 15), "_fo")
            .orderBy("doc_id", "path"))


@q("search_flat_object", """
SELECT doc_id, source FROM documents
WHERE doc_id % 3 = 1 AND n_chars % 5 = 2 ORDER BY doc_id
""")
def search_flat_object(spark, sf_dir):
    """flat_object term queries, both streams of the mapper: a
    dotted-path term (deep.x.tag = 't1' — the _valueAndPath stream) AND
    a value-only term ('b2' matching ANY leaf — the root-field stream),
    intersected in filter context. The flatten runs once per stream over
    the derived JSON (materializable at build time); matching is a
    filter + distinct + semi-join — no scoring, keyword semantics."""
    d = _docs(spark, sf_dir).withColumn("_fo", _flat_json_col())
    by_path = FO.flat_object_match(d, "_fo", "t1", path="deep.x.tag")
    by_value = FO.flat_object_match(d, "_fo", "b2")
    return (d.join(by_path, "doc_id", "left_semi")
            .join(by_value, "doc_id", "left_semi")
            .select("doc_id", "source").orderBy("doc_id"))


from opensearch_spark.index import mapping as MAP  # noqa: E402


@q("api_infer_mapping",
   MAP.infer_mapping_sql(f"SELECT {MAP.DERIVED_DOC_SQL} AS doc FROM events"))
def api_infer_mapping(spark, sf_dir):
    """Dynamic mapping / `_mapping` API (DocumentParser.java:65,229 —
    was a declared non-goal, now closed): infer each JSON field's mapping
    type over the corpus with the reference's detection order (boolean,
    long, double, date, object/array, text) and numeric widening
    (long+double → double); incompatible mixes degrade to text
    (surfacing the reference's mapper-conflict). Derived JSON docs
    (events.props is a single fixed int key). One generic map parse +
    explode + regexp CASE (codegen) + one tiny-cardinality groupBy."""
    ev = _t(spark, sf_dir, "events").withColumn("doc", MAP.derived_doc_expr())
    return MAP.infer_mapping(ev, "doc").orderBy("key")


@q("ingest_attachment", f"""
WITH att AS (SELECT doc_id,
                    {EN.attachment_expr_sql('text', 'doc_id')} AS data
             FROM documents WHERE doc_id < 60)
SELECT doc_id, {EN.process_attachment_sql('data')}
FROM att ORDER BY doc_id
""")
def ingest_attachment(spark, sf_dir):
    """attachment ingest processor (plugins/ingest-attachment,
    AttachmentProcessor.java: Tika parse → content / content_type /
    content_length). The media-type sniff (magic bytes, Tika's
    detection front door) and plain-text passthrough are real codegen;
    rich-format extraction (PDF/PNG internals) needs Tika-class parsers
    absent from this environment — those rows carry status='stub'
    honestly (the mm_feature_extract posture). Derived binary column."""
    d = (_docs(spark, sf_dir).where(F.col("doc_id") < 60)
         .select("doc_id", EN.attachment_expr("text", "doc_id").alias("data")))
    return (EN.process_attachment(d)
            .select("doc_id", "content_type", "content_length", "content",
                    "status")
            .orderBy("doc_id"))


@q("search_token_count_field", r"""
WITH tc AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents)
SELECT doc_id, n_tokens FROM tc
WHERE n_tokens BETWEEN 40 AND 60
ORDER BY n_tokens DESC, doc_id LIMIT 20
""")
def search_token_count_field(spark, sf_dir):
    """token_count field type (modules/mapper-extras
    TokenCountFieldMapper.java:173-188 — indexes the analyzed token
    count of a text field, queryable numerically). Whitespace-analyzer
    count as one codegen size(split) projection — pushable range filter,
    TakeOrderedAndProject top-k, no UDF."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.filter(F.split(F.trim("text"), r"\s+"),
                        lambda x: x != "")).cast("long").alias("n_tokens"))
    return (d.where((F.col("n_tokens") >= 40) & (F.col("n_tokens") <= 60))
            .orderBy(F.desc("n_tokens"), F.asc("doc_id")).limit(20))


@q("search_scaled_float", """
WITH sf AS (SELECT event_id,
                   CAST(round(value * 100) AS BIGINT) AS scaled
            FROM events)
SELECT event_id, scaled, scaled / 100.0 AS value_decoded
FROM sf WHERE scaled >= 5000 AND scaled < 5500
ORDER BY scaled, event_id LIMIT 50
""")
def search_scaled_float(spark, sf_dir):
    """scaled_float field type (modules/mapper-extras
    ScaledFloatFieldMapper.java:97-180 — stores round(value ×
    scaling_factor) as a long; queries translate bounds into the scaled
    long domain, trading precision for integer-point performance).
    Range semantics run on the scaled longs; decode = scaled/factor.
    All codegen, pushable long comparisons."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("scaled"))
    return (ev.where((F.col("scaled") >= 5000) & (F.col("scaled") < 5500))
            .select("event_id", "scaled",
                    (F.col("scaled") / 100.0).alias("value_decoded"))
            .orderBy("scaled", "event_id").limit(50))


@q("api_top_queries", """
SELECT event_type AS query_shape,
       CAST(count(*) AS BIGINT) AS n_calls,
       round(avg(value), 4) AS mean_latency,
       round(quantile_cont(value, 0.99), 4) AS p99_latency,
       round(sum(value), 4) AS total_latency
FROM events GROUP BY event_type
ORDER BY total_latency DESC, query_shape LIMIT 5
""")
def api_top_queries(spark, sf_dir):
    """top_queries API (plugins/query-insights TopQueriesService: ranks
    queries by latency/cpu/memory over a window). The query-log stand-in
    is the events table (shape=event_type, latency=value); the operator
    is the real one — one partial-aggregated groupBy over the log, exact
    interpolated p99 (QuantileSummaries), top-N by total cost. At 100 TB
    of query logs this is one shuffle on a tiny shape cardinality."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.col("event_type").alias("query_shape"))
            .agg(F.count("*").cast("long").alias("n_calls"),
                 F.round(F.avg("value"), 4).alias("mean_latency"),
                 F.round(F.expr("percentile(value, 0.99)"), 4)
                  .alias("p99_latency"),
                 F.round(F.sum("value"), 4).alias("total_latency"))
            .orderBy(F.desc("total_latency"), F.asc("query_shape"))
            .limit(5))


@q("curation_dsir", r"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS t
  FROM documents),
bk AS (SELECT doc_id, source,
              ('0x' || substr(md5(t), 1, 8))::BIGINT % 1024 AS b FROM toks),
raw_b AS (SELECT b, count(*) AS n_raw FROM bk GROUP BY b),
tgt_b AS (SELECT b, count(*) AS n_tgt FROM bk WHERE source = 'src1'
          GROUP BY b),
grid AS (SELECT unnest(generate_series(0, 1023)) AS b),
dist AS (SELECT g.b, coalesce(n_raw, 0) AS n_raw, coalesce(n_tgt, 0) AS n_tgt
         FROM grid g LEFT JOIN raw_b USING (b) LEFT JOIN tgt_b USING (b)),
tot AS (SELECT sum(n_raw) AS t_raw, sum(n_tgt) AS t_tgt FROM dist),
w AS (SELECT b, ln((n_tgt + 0.5) / (t_tgt + 512.0))
             - ln((n_raw + 0.5) / (t_raw + 512.0)) AS w
      FROM dist CROSS JOIN tot),
scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                  sum(w) AS li
           FROM bk JOIN w USING (b) GROUP BY doc_id)
SELECT doc_id, n_tokens, round(li, 6) AS log_importance, li > 0 AS keep
FROM scored ORDER BY doc_id LIMIT 200
""")
def curation_dsir(spark, sf_dir):
    """DSIR domain selection (Xie et al. 2023, arXiv:2302.03169 — the
    importance-resampling selector of modern pretraining pipelines):
    hashed-unigram distributions over raw corpus vs a target-domain
    sample (source='src1'), add-alpha smoothed; per-doc score =
    Σ ln p_tgt(b) − ln p_raw(b). Gumbel draw replaced by a deterministic
    importance threshold (documented divergence). Two codegen corpus
    scans + dim-row broadcast weights, totals in-plan — the 100 TB
    shape."""
    d = _docs(spark, sf_dir)
    out = CU.dsir_log_importance(d, d.where(F.col("source") == "src1"))
    return (out.select("doc_id", "n_tokens",
                       F.round("log_importance", 6).alias("log_importance"),
                       "keep")
            .orderBy("doc_id").limit(200))


_CJK_BASE = 0x4E00
_CJK_VOCAB_N = 32


def _with_cjk(corpus):
    """Append a deterministic 4-ideograph tail (vocab of 32 CJK chars,
    c_j = base + (doc_id + 7j) % 32) — the derived-column precedent for
    a corpus with no CJK text."""
    arr = F.array(*[F.lit(chr(_CJK_BASE + i)) for i in range(_CJK_VOCAB_N)])
    parts = [
        F.element_at(
            arr, ((F.col("doc_id") + 7 * j) % _CJK_VOCAB_N + 1).cast("int"))
        for j in range(4)]
    return corpus.withColumn(
        "text", F.concat(F.col("text"), F.lit(" "), *parts))


def _cjk_bigram_sql() -> str:
    mk = (lambda j: f"chr(CAST({_CJK_BASE} + (doc_id + {7 * j})"
                    f" % {_CJK_VOCAB_N} AS INTEGER))")
    q = f"chr({_CJK_BASE + 5}::INTEGER) || chr({_CJK_BASE + 12}::INTEGER)"
    return f"""
WITH c AS (SELECT doc_id,
                  {mk(0)} || {mk(1)} || {mk(2)} || {mk(3)} AS cjk
           FROM documents)
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM c
WHERE substr(cjk, 1, 2) = {q} OR substr(cjk, 2, 2) = {q}
   OR substr(cjk, 3, 2) = {q}
ORDER BY doc_id
"""


@q("search_cjk_bigram", _cjk_bigram_sql())
def search_cjk_bigram(spark, sf_dir):
    """cjk_bigram token filter (analysis-common
    CommonAnalysisModulePlugin.java; Lucene CJKBigramFilter — the
    dictionary-less CJK strategy behind the reference's CJK analyzer,
    and the fallback posture of the analysis-kuromoji/nori/smartcn
    plugin family whose dictionaries are absent here): ideographs index
    as overlapping bigrams, so a two-ideograph query is one postings
    lookup. Derived CJK tails; constant-score term match; oracle
    enumerates the bigram windows in SQL."""
    from opensearch_spark.search import ConstantScore, Match

    s = _alt_searcher(spark, sf_dir, "cjk", "cjk_bigram",
                      transform=_with_cjk)
    q = chr(_CJK_BASE + 5) + chr(_CJK_BASE + 12)
    return (s.score(ConstantScore(filter=Match(field="text", text=q)))
            .orderBy("doc_id"))


# --------------------------------------------------------------------------
# real media decode gates: the engine generates PNG/WAV bytes, DECODES
# them with ml/codecs.py (real zlib inflate + unfilter / RIFF walk), and
# the oracle recomputes the expected features CLOSED-FORM from the
# generative formulas — any decoder defect breaks the hash match.
# --------------------------------------------------------------------------

def _png_media(docs):
    """doc_id → 16×16 RGB PNG payload; pixel (x,y) = ((id+x)%256,
    (id*3+y)%256, (id+x·y)%256); row filters cycle 0-4 so every decoder
    unfilter path runs inside the gate."""
    import numpy as np
    import pandas as pd

    from opensearch_spark.ml.codecs import encode_png

    def gen(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                xs, ys = np.meshgrid(np.arange(16), np.arange(16))
                img = np.stack([(d + xs) % 256, (d * 3 + ys) % 256,
                                (d + xs * ys) % 256], axis=2).astype(np.uint8)
                payloads.append(encode_png(img, filter_type=None))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.mapInPandas(gen, "doc_id long, payload binary")


@q("mm_png_features", """
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 48),
grid AS (SELECT doc_id, x, y
         FROM ids,
              (SELECT unnest(generate_series(0, 15)) AS x),
              (SELECT unnest(generate_series(0, 15)) AS y)),
px AS (SELECT doc_id, (doc_id + x) % 256 AS r, (doc_id * 3 + y) % 256 AS g,
              (doc_id + x * y) % 256 AS b FROM grid)
SELECT doc_id, CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
       CAST(sum(r) AS BIGINT) AS sum_r, CAST(sum(g) AS BIGINT) AS sum_g,
       CAST(sum(b) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id ORDER BY doc_id
""")
def mm_png_features(spark, sf_dir):
    """REAL image decode (upgrades the round-2 stub): the engine encodes
    each derived 16×16 RGB image as a true PNG (zlib deflate, per-row
    filters cycling 0-4) and DECODES it back in ml/codecs.py — chunk
    walk, CRC verify, inflate, all five unfilters incl. Paeth — then
    emits exact integer features. The oracle never sees the bytes: it
    recomputes the features closed-form from the pixel formula, so the
    hash match certifies the decoder. Arrow-batched mapInPandas,
    partition-parallel, shuffle-free (the 100 TB shape)."""
    from opensearch_spark.ml import multimodal as MM

    d = _docs(spark, sf_dir).select("doc_id").where(F.col("doc_id") < 48)
    return MM.png_features(_png_media(d)).orderBy("doc_id")


def _wav_media(docs, n: int = 4000, rate: int = 8000):
    """doc_id → PCM16 WAV payload; sample i = ((id·31 + i·7) % 2001) −
    1000 (integer-exact, so the oracle can replay it in SQL)."""
    import numpy as np
    import pandas as pd

    from opensearch_spark.ml.codecs import encode_wav

    def gen(batches):
        for pdf in batches:
            payloads = []
            i = np.arange(n, dtype=np.int64)
            for did in pdf["doc_id"]:
                s = ((int(did) * 31 + i * 7) % 2001 - 1000).astype(np.int16)
                payloads.append(encode_wav(s, rate))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.mapInPandas(gen, "doc_id long, payload binary")


@q("mm_wav_features", """
WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 24),
s AS (SELECT doc_id, i, ((doc_id * 31 + i * 7) % 2001) - 1000 AS v
      FROM ids, (SELECT unnest(generate_series(0, 3999)) AS i)),
lagd AS (SELECT doc_id, v,
                lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s)
SELECT doc_id, CAST(8000 AS INTEGER) AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
       CAST(max(abs(v)) AS BIGINT) AS max_abs,
       CAST(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sign_changes
FROM lagd GROUP BY doc_id ORDER BY doc_id
""")
def mm_wav_features(spark, sf_dir):
    """REAL audio decode: the engine encodes a deterministic PCM16
    stream as a true RIFF/WAVE file and DECODES it back (chunk walk,
    fmt parse) in ml/codecs.py, emitting exact integer features
    (Σ|s|, max|s|, sign changes). Oracle replays the sample formula in
    SQL — closed-form, byte-blind. Same Arrow-batched, shuffle-free
    shape as the image path."""
    from opensearch_spark.ml import multimodal as MM

    d = _docs(spark, sf_dir).select("doc_id").where(F.col("doc_id") < 24)
    return MM.wav_features(_wav_media(d)).orderBy("doc_id")


def _common_terms_sql(terms: list[str], cutoff: float, k: int = 10) -> str:
    """Oracle twin of Searcher._common_terms AT THE DEFAULT OPERATORS
    (low/high_freq_operator OR, msm 1 — what the gate exercises;
    non-default operators are pinned engine-side in
    tests/test_common_terms.py): df-classify the (inlined) analyzed
    query terms against the corpus — cutoff >= 1 is an absolute df bound
    exactly like the engine — require >=1 low-frequency match, score
    BM25 over every matched term. Absent query terms coalesce to df 0
    (low) exactly like the engine's dict miss."""
    max_df = (str(float(cutoff)) if cutoff >= 1.0
              else f"{cutoff} * (SELECT N FROM stats)")
    tl = "(" + ", ".join(f"'{t}'" for t in sorted(set(terms))) + ")"
    qvals = ", ".join(f"('{t}')" for t in sorted(set(terms)))
    return f"""
WITH {O.TOK_CTES},
qterms AS (SELECT * FROM (VALUES {qvals}) AS t(term)),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN {tl} GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN {tl} GROUP BY term),
cls AS (SELECT q.term, coalesce(d.df, 0) AS df,
               coalesce(d.df, 0) <= {max_df} AS is_low
        FROM qterms q LEFT JOIN dfreq d USING (term)),
nlow AS (SELECT sum(CASE WHEN is_low THEN 1 ELSE 0 END) AS total_low FROM cls),
scored AS (SELECT tf.doc_id,
                  sum({O.bm25_term()}) AS raw_score,
                  sum(CASE WHEN is_low THEN 1 ELSE 0 END) AS n_low,
                  count(*) AS nt
           FROM tf JOIN cls USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id)
SELECT doc_id, round(raw_score, 4) AS score
FROM scored CROSS JOIN nlow
WHERE CASE WHEN total_low > 0 THEN n_low >= 1 ELSE nt >= 1 END
ORDER BY round(raw_score, 4) DESC, doc_id LIMIT {k}
"""


@q("search_common_terms",
   _common_terms_sql(["dup", "zzzmissingterm", "merge", "batch"], 0.5))
def search_common_terms(spark, sf_dir):
    """common terms query (CommonTermsQueryBuilder.java:77-108; was the
    one deliberately-skipped §2 row — now implemented for 100% coverage):
    'dup' (rare) and 'zzzmissingterm' (absent → df 0) classify LOW at
    cutoff 0.5 and are required; 'merge'/'batch' (df ≈ 80%) are HIGH and
    only score. The engine rewrites to the same bool-over-df-split the
    reference builds; classification costs one dictionary lookup."""
    from opensearch_spark.search import CommonTerms

    s = get_searcher(spark, sf_dir)
    return s.search(
        CommonTerms(field="text", text="dup zzzmissingterm merge batch",
                    cutoff_frequency=0.5),
        k=10, mode="exhaustive", round_scores=4)


@q("agg_children", """
WITH pb AS (SELECT c_mktsegment AS segment, count(*) AS parent_count
            FROM customer GROUP BY 1),
cs AS (SELECT c.c_mktsegment AS segment, count(*) AS child_count,
              round(avg(o.o_totalprice), 2) AS avg_child_total
       FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
       GROUP BY 1)
SELECT pb.segment, pb.parent_count,
       coalesce(cs.child_count, 0) AS child_count, cs.avg_child_total
FROM pb LEFT JOIN cs USING (segment) ORDER BY segment
""")
def agg_children(spark, sf_dir):
    """`children` aggregation (modules/parent-join
    ChildrenAggregationBuilder.java:61, ParentToChildrenAggregator.java):
    bucket the PARENT docs (terms on c_mktsegment), then descend into each
    bucket's children and run child-scope sub-aggregations (doc_count +
    avg over the children). The reference joins parent→child through
    same-shard global ordinals; here the child side joins the broadcast
    parent dimension (one narrow broadcast join, one hash agg on the tiny
    bucket key — no shuffle of the child fact beyond the agg itself), and
    childless parent buckets survive via the left join, as the reference's
    buckets do."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    pb = (c.groupBy(F.col("c_mktsegment").alias("segment"))
          .agg(F.count("*").alias("parent_count")))
    cs = (o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
                 o.o_custkey == F.col("c_custkey"))
          .groupBy(F.col("c_mktsegment").alias("segment"))
          .agg(F.count("*").alias("child_count"),
               F.round(F.avg("o_totalprice"), 2).alias("avg_child_total")))
    return (pb.join(cs, "segment", "left")
            .select("segment", "parent_count",
                    F.coalesce("child_count", F.lit(0)).alias("child_count"),
                    "avg_child_total")
            .orderBy("segment"))


@q("agg_parent", """
WITH pp AS (SELECT DISTINCT o.o_orderstatus AS status, c.c_custkey, c.c_acctbal
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey)
SELECT status, count(*) AS parent_count,
       round(avg(c_acctbal), 2) AS avg_acctbal
FROM pp GROUP BY status ORDER BY status
""")
def agg_parent(spark, sf_dir):
    """`parent` aggregation (modules/parent-join
    ParentAggregationBuilder.java, ChildrenToParentAggregator.java, dedup
    semantics in ParentJoinAggregator.java — each parent ordinal is
    collected ONCE per child bucket regardless of how many of its
    children land there): bucket the CHILD docs (terms on
    o_orderstatus), join up to parents, and run parent-scope sub-aggs
    over the deduplicated parents. Spark-first: distinct on
    (bucket, parent-key) BEFORE the join shrinks the join input to one
    row per (bucket, parent) — one shuffle for the distinct, a broadcast
    of the parent dim, then a tiny hash agg."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    pp = (o.select(F.col("o_orderstatus").alias("status"), "o_custkey")
          .distinct()
          .join(F.broadcast(c.select("c_custkey", "c_acctbal")),
                F.col("o_custkey") == F.col("c_custkey")))
    return (pp.groupBy("status")
            .agg(F.count("*").alias("parent_count"),
                 F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"))
            .orderBy("status"))


@q("search_expression_score", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'table' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'table'),
scored AS (SELECT tf.doc_id, {O.bm25_term()} AS raw
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
sc AS (SELECT s.doc_id, s.raw * 2.0 / log10(10 + d.n_chars) AS v
       FROM scored s JOIN documents d USING (doc_id))
SELECT doc_id, round(v, 4) AS score FROM sc
ORDER BY round(v, 4) DESC, doc_id LIMIT 10
""")
def search_expression_score(spark, sf_dir):
    """script_score with lang "expression" (modules/lang-expression,
    ExpressionScriptEngine.java + Lucene JavascriptCompiler): bare Math
    function names, bare param variables, doc['f'] with optional .value —
    the reference's fast numeric-only script language. The adapter
    (painless.expression_to_sql) rewrites the dialect onto the painless
    grammar, so expression scripts compile to the same whole-stage-codegen
    Catalyst expression as painless — zero Python in the scoring path.
    Formula order matches the SQL twin literally (w inlined as 2.0)."""
    from opensearch_spark.search.queries import from_dsl

    s = get_searcher(spark, sf_dir)
    query = from_dsl({"script_score": {
        "query": {"match": {"text": "table"}},
        "script": {
            "source": "_score * w / log10(10 + doc['n_chars'].value)",
            "lang": "expression", "params": {"w": 2.0}},
        "fields": ["n_chars"]}})
    return s.search(query, k=10, round_scores=4)


@q("api_stored_script", f"""
WITH {O.TOK_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM tok2 WHERE term = 'spark' GROUP BY doc_id),
dfreq AS (SELECT count(DISTINCT doc_id) AS df FROM tok2 WHERE term = 'spark'),
scored AS (SELECT tf.doc_id, {O.bm25_term()} AS raw
           FROM tf CROSS JOIN dfreq JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
sc AS (SELECT s.doc_id, s.raw * 3.0 / sqrt(1.0 + d.n_chars) AS v
       FROM scored s JOIN documents d USING (doc_id))
SELECT doc_id, round(v, 4) AS score FROM sc
ORDER BY round(v, 4) DESC, doc_id LIMIT 10
""")
def api_stored_script(spark, sf_dir):
    """Stored scripts (_scripts API: PutStoredScriptRequest,
    StoredScriptSource.java, ScriptService.putStoredScript) + use-by-id
    (Script.java ScriptType.STORED): put a painless source under an id
    (compiled/validated at put time, like the reference's script cache),
    then reference it from script_score as {"id", "params"} — params ride
    the REQUEST, never the stored source. The resolved source compiles to
    the same Catalyst expression the inline path uses (search/painless.py);
    identical float ops in identical order as the SQL twin."""
    from opensearch_spark.search.apis import put_stored_script
    from opensearch_spark.search.queries import from_dsl

    put_stored_script(
        "boost-by-brevity",
        "_score * params.w / Math.sqrt(1.0 + doc['n_chars'].value)",
        lang="painless")
    s = get_searcher(spark, sf_dir)
    query = from_dsl({"script_score": {
        "query": {"match": {"text": "spark"}},
        "script": {"id": "boost-by-brevity", "params": {"w": 3.0}},
        "fields": ["n_chars"]}})
    return s.search(query, k=10, round_scores=4)


@q("ingest_grok", """
WITH ev AS (SELECT * FROM events ORDER BY event_id LIMIT 200)
SELECT event_id,
       CASE WHEN event_id % 7 = 0 THEN NULL
            ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S') END AS log_ts,
       CASE WHEN event_id % 7 = 0 THEN NULL
            WHEN event_type = 'error' THEN 'ERROR'
            WHEN event_type = 'click' THEN 'DEBUG' ELSE 'INFO' END AS level,
       CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id END AS uid,
       CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS val,
       CASE WHEN event_id % 7 = 0 THEN NULL
            ELSE concat('10.', CAST(user_id % 200 AS VARCHAR), '.',
                        CAST(event_id % 250 AS VARCHAR), '.7') END AS ip,
       CASE WHEN event_id % 7 = 0 THEN NULL
            ELSE concat(event_type, ' happened') END AS msg
FROM ev ORDER BY event_id
""")
def ingest_grok(spark, sf_dir):
    """grok ingest processor (GrokProcessor.java over libs/grok Grok.java:
    %{SYNTAX:name:type} bank expansion to named regex groups, typed
    captures). A log line is synthesized deterministically from the events
    columns, then grok-parsed BACK into typed fields — the oracle states
    the expected field values directly, so the gate only passes if the
    compiled regex really extracts and type-casts every capture. Every
    7th line is replaced with garbage that fails the whole-string match:
    all captures must come back NULL (the ignore_failure posture).
    Scale: compile is driver-side; extraction is g regexp_extract codegen
    expressions per row (like the reference, one regex pass per processor
    — here one per capture, still zero Python in the hot path)."""
    from opensearch_spark.ingest.grok import grok_columns

    ev = _t(spark, sf_dir, "events").orderBy("event_id").limit(200)
    level = (F.when(F.col("event_type") == "error", "ERROR")
             .when(F.col("event_type") == "click", "DEBUG")
             .otherwise("INFO"))
    line = F.when(F.col("event_id") % 7 == 0, F.lit("<garbage line>")) \
        .otherwise(F.concat(
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit(" "),
            level,
            F.lit(" uid="), F.col("user_id").cast("string"),
            F.lit(" v="), F.col("value").cast("string"),
            F.lit(" client=10."), (F.col("user_id") % 200).cast("string"),
            F.lit("."), (F.col("event_id") % 250).cast("string"),
            F.lit(".7 "), F.col("event_type"), F.lit(" happened")))
    cols = grok_columns(
        F.col("line"),
        "%{TIMESTAMP_ISO8601:log_ts} %{LOGLEVEL:level} uid=%{INT:uid:int} "
        "v=%{NUMBER:val:float} client=%{IP:ip} %{GREEDYDATA:msg}")
    return (ev.withColumn("line", line)
            .select("event_id", *[c.alias(n) for n, c in cols.items()])
            .orderBy("event_id"))


@q("ingest_dissect", """
WITH ev AS (SELECT * FROM events ORDER BY event_id LIMIT 200)
SELECT event_id,
       event_type AS etype,
       CAST(user_id AS VARCHAR) AS uid,
       concat(CAST(event_id % 250 AS VARCHAR), '_',
              CAST(user_id % 200 AS VARCHAR)) AS shard,
       concat('v=', CAST(value AS VARCHAR)) AS rest
FROM ev ORDER BY event_id
""")
def ingest_dissect(spark, sf_dir):
    """dissect ingest processor (DissectProcessor.java over libs/dissect
    DissectParser.java; key modifiers DissectKey.java:173-177). The
    synthesized line exercises the full modifier set: a plain key, a
    right-padding key (``->`` absorbing the variable-width space run), a
    skip key (``%{?session}``), and append-with-order keys
    (``%{+shard/2}`` + ``%{+shard/1}`` reassembled in order position, not
    pattern position, joined with the append_separator). The oracle states
    each expected field from the source columns directly."""
    from opensearch_spark.ingest.grok import dissect_columns

    ev = _t(spark, sf_dir, "events").orderBy("event_id").limit(200)
    pad = F.expr("repeat(' ', CAST(event_id % 3 AS INT) + 1)")
    line = F.concat(
        F.col("event_type"), F.lit("|"), pad,
        F.col("user_id").cast("string"), F.lit("|sess-"),
        (F.col("event_id") % 17).cast("string"), F.lit("|"),
        (F.col("user_id") % 200).cast("string"), F.lit(">"),
        (F.col("event_id") % 250).cast("string"), F.lit("|v="),
        F.col("value").cast("string"))
    cols = dissect_columns(
        F.col("line"),
        "%{etype}|%{->}%{uid}|%{?session}|%{+shard/2}>%{+shard/1}|%{rest}",
        append_separator="_")
    return (ev.withColumn("line", line)
            .select("event_id", *[c.alias(n) for n, c in cols.items()])
            .orderBy("event_id"))


def _frenchified(corpus: DataFrame) -> DataFrame:
    """Spark twin of O.FRENCHIFY_SQL: inject elided/plural French forms so
    the french chain (elision + stop + light stemmer) has real work. The
    corpus is capped to doc_id < 1200 on BOTH sides (the oracle's src CTE
    carries the same predicate and computes N/avgdl over the capped set),
    and the oracle's src/tok2 CTEs are MATERIALIZED: DuckDB inlines CTEs
    by default, so the six downstream references (tf/dfreq/dl + the stats
    scalar subqueries) each re-ran the whole stemmer pipeline — ~6x the
    work and a nondeterministic allocator failure under that concurrency
    (reproduced: 20+ s / 2.2 GB / sporadic bad_alloc inlined vs 2 s /
    0.4 GB / stable materialized)."""
    out = F.regexp_replace(F.col("text"), r"\bwindow\b", "d'fenêtres")
    out = F.regexp_replace(out, r"\bmerge\b", "les fusions")
    out = F.regexp_replace(out, r"\bsort\b", "qu'journaux")
    return corpus.where(F.col("doc_id") < 1200).withColumn("text", out)


@q("search_match_french", f"""
WITH src AS MATERIALIZED (
    SELECT doc_id, {O.FRENCHIFY_SQL} AS text2 FROM documents
    WHERE doc_id < 1200),
rawtok AS (SELECT doc_id, unnest(string_split_regex(trim(text2), '\\s+')) AS rt
           FROM src),
tok1 AS (SELECT doc_id, {O.french_elide_sql('rt')} AS t0
         FROM rawtok WHERE rt <> ''),
tok1f AS (SELECT doc_id, t0 FROM tok1
          WHERE t0 <> '' AND t0 NOT IN {O.FRENCH_STOP_SQL}),
st AS (SELECT doc_id, {O.french_stem_select('t0')} FROM tok1f),
tok2 AS MATERIALIZED (SELECT doc_id, term FROM st),
dl AS (SELECT doc_id, count(*) AS dl FROM tok2 GROUP BY doc_id),
stats AS (
    SELECT (SELECT count(*) FROM src) AS N,
           (SELECT sum(dl) FROM dl) * 1.0
           / (SELECT count(*) FROM src) AS avgdl
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok2
       WHERE term IN ('fenêtr','fusion','journal') GROUP BY doc_id, term),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok2
          WHERE term IN ('fenêtr','fusion','journal') GROUP BY term),
scored AS (SELECT tf.doc_id, sum({O.bm25_term()}) AS raw_score
           FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
           CROSS JOIN stats GROUP BY tf.doc_id)
SELECT doc_id, round(raw_score, 4) AS score
FROM scored ORDER BY round(raw_score, 4) DESC, doc_id LIMIT 10
""")
def search_match_french(spark, sf_dir):
    """`french` analyzer end-to-end (analysis-common language provider:
    Lucene FrenchAnalyzer = elision + stop + light stemmer; registration
    in indices/analysis/AnalysisModule.java). Elided plural forms
    (d'fenêtres, les fusions, qu'journaux) are injected deterministically;
    the query carries different inflections (fenêtre / fusions /
    journaux, the -aux→-al rule) so the match only lands if elision, the
    french stop list, and every stemmer rule fire identically at index
    and query time. Full BM25 over the french token stream, dl/avgdl
    post-chain."""
    s = _alt_searcher(spark, sf_dir, "french", "french",
                      transform=_frenchified)
    return s.search(Match(field="text", text="fenêtre fusions journaux"),
                    k=10, mode="wand", round_scores=4)


@q("api_analyze_german", f"""
WITH src AS (SELECT doc_id,
                    concat(replace(text, 'table', 'tische'),
                           ' die größe') AS text2
             FROM documents WHERE doc_id < 30),
t AS (SELECT doc_id, string_split_regex(trim(text2), '\\s+') AS toks
      FROM src),
u AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS INT) AS p0,
             unnest(toks) AS rt FROM t),
norm AS (SELECT doc_id, p0, {O.german_normalize_sql('rt')} AS t0
         FROM u WHERE rt <> ''),
kept AS (SELECT doc_id, p0, {O.german_stem_sql('t0')} AS token
         FROM norm WHERE t0 NOT IN {O.GERMAN_STOP_SQL})
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p0) - 1 AS INT)
           AS position,
       token
FROM kept ORDER BY doc_id, position
""")
def api_analyze_german(spark, sf_dir):
    """`german` analyzer chain (analysis-common: GermanNormalizationFilter
    umlaut/ß folding + german stop + minimal stemmer). Umlaut forms (die
    größe) and plural inflections (tische) are injected; the token stream
    must show größe→gros (normalize then suffix strip), the stopped `die`
    renumbering positions, and the suffix stemmer acting on the corpus
    words too."""
    from opensearch_spark.search.apis import analyze_api

    d = (_docs(spark, sf_dir).where(F.col("doc_id") < 30)
         .select("doc_id",
                 F.concat(F.regexp_replace("text", "table", "tische"),
                          F.lit(" die größe")).alias("text")))
    return analyze_api(d, "text", "german").orderBy("doc_id", "position")


@q("api_analyze_spanish", f"""
WITH src AS (SELECT doc_id,
                    concat(replace(replace(text, 'table', 'tablas'),
                                   'window', 'canción'),
                           ' las luces') AS text2
             FROM documents WHERE doc_id < 30),
t AS (SELECT doc_id, string_split_regex(trim(text2), '\\s+') AS toks
      FROM src),
u AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS INT) AS p0,
             unnest(toks) AS rt FROM t),
norm AS (SELECT doc_id, p0, strip_accents(rt) AS t0 FROM u WHERE rt <> ''),
kept0 AS (SELECT doc_id, p0, t0 FROM norm
          WHERE t0 NOT IN {O.SPANISH_STOP_SQL}),
st AS (SELECT doc_id, p0, {O.spanish_stem_select('t0')} FROM kept0)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p0) - 1 AS INT)
           AS position,
       term AS token
FROM st ORDER BY doc_id, position
""")
def api_analyze_spanish(spark, sf_dir):
    """`spanish` analyzer chain (analysis-common: deaccent + spanish stop
    + light stemmer). Injected canción must deaccent to cancion (so the
    accented singular conflates with an unaccented plural's stem),
    tablas→tabl, luces→luz via the -ces→-z rule, and `las` is stopped —
    each step visible in the position-renumbered token stream."""
    from opensearch_spark.search.apis import analyze_api

    d = (_docs(spark, sf_dir).where(F.col("doc_id") < 30)
         .select("doc_id",
                 F.concat(
                     F.regexp_replace(
                         F.regexp_replace("text", "table", "tablas"),
                         "window", "canción"),
                     F.lit(" las luces")).alias("text")))
    return analyze_api(d, "text", "spanish").orderBy("doc_id", "position")


@q("api_request_cache", O.match_sql(["filter", "batch"], k=10))
def api_request_cache(spark, sf_dir):
    """Shard request cache (IndicesRequestCache.java; tiered storage per
    cache-common/cache-ehcache): the request runs once (miss → result
    materialized content-addressed under the index generation) and is
    then served from the cache — the returned frame is the CACHE-SERVED
    one, so the oracle only matches if the materialized entry is the
    correct result. Both paths are exercised every run (clear → miss →
    hit) and the stats counters are asserted."""
    from opensearch_spark.search.request_cache import RequestCache

    s = get_searcher(spark, sf_dir)
    cache = RequestCache(s.index)
    cache.clear()
    request = {"query": {"match": {"text": "filter batch"}}, "size": 10}

    def compute():
        return s.search(Match(field="text", text="filter batch"),
                        k=10, mode="wand", round_scores=4)

    cache.get_or_compute(spark, request, compute)          # miss, writes
    served = cache.get_or_compute(spark, request, compute)  # hit, reads
    st = cache.stats()
    assert st["hits"] == 1 and st["misses"] == 1 and st["entries"] == 1, st
    return served.orderBy(F.desc("score"), F.asc("doc_id"))


@q("api_snapshot_url_restore", O.match_sql(["merge", "stream"], k=10))
def api_snapshot_url_restore(spark, sf_dir):
    """repository-url plugin-module (URLRepository.java): a READ-ONLY
    snapshot repository addressed by URL — restore streams every
    manifest-listed blob from ``file://<snap>/<rel>`` and verifies
    size+md5 per blob; write attempts raise. The url-restored index
    serves the query with oracle-identical scores. Freshness/crash-safety
    via the shared marker-last discipline (_restore_via)."""
    import shutil

    from opensearch_spark.index.build import InvertedIndex
    from opensearch_spark.index.snapshot import UrlRepository, snapshot_index

    s = get_searcher(spark, sf_dir)
    src = s.index.path
    snap = src + "_urlsnap"

    def rebuild(rest):
        shutil.rmtree(snap, ignore_errors=True)
        snapshot_index(src, snap)
        repo = UrlRepository("file://" + snap)
        try:
            repo.snapshot()
        except NotImplementedError:
            pass  # read-only by contract — the write path must refuse
        else:  # pragma: no cover - contract violation
            raise AssertionError("url repository accepted a write")
        repo.restore(rest)  # manifest lists blobs only, never itself
        shutil.rmtree(snap, ignore_errors=True)

    rest = _restore_via(s, src + "_urlrestored", rebuild)
    restored = Searcher(spark, InvertedIndex(rest))
    return restored.search(Match(field="text", text="merge stream"),
                           k=10, mode="wand", round_scores=4)


@q("api_analyze_polish", f"""
WITH src AS (SELECT doc_id,
                    concat(replace(text, 'table', 'stołami'),
                           ' w stołów') AS text2
             FROM documents WHERE doc_id < 30),
t AS (SELECT doc_id, string_split_regex(trim(text2), '\\s+') AS toks
      FROM src),
u AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS INT) AS p0,
             unnest(toks) AS rt FROM t),
norm AS (SELECT doc_id, p0, {O.polish_normalize_sql('rt')} AS t0
         FROM u WHERE rt <> ''),
kept AS (SELECT doc_id, p0, {O.polish_stem_sql('t0')} AS token
         FROM norm WHERE t0 NOT IN {O.POLISH_STOP_SQL})
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p0) - 1 AS INT)
           AS position,
       token
FROM kept ORDER BY doc_id, position
""")
def api_analyze_polish(spark, sf_dir):
    """`polish` analyzer (analysis-stempel plugin registration shape;
    the trained stempel tables are absent, so the engine's documented
    light variant runs: diacritic fold including ł→l — NOT reachable via
    accent stripping — + stop + one-suffix stemmer). Injected distinct
    inflections stołami/stołów must both fold+stem to `stol`, and the
    stopped `w` renumbers positions."""
    from opensearch_spark.search.apis import analyze_api

    d = (_docs(spark, sf_dir).where(F.col("doc_id") < 30)
         .select("doc_id",
                 F.concat(F.regexp_replace("text", "table", "stołami"),
                          F.lit(" w stołów")).alias("text")))
    return analyze_api(d, "text", "polish").orderBy("doc_id", "position")


@q("api_analyze_ukrainian", f"""
WITH src AS (SELECT doc_id,
                    concat(replace(text, 'window', 'вікнами'),
                           ' і столи') AS text2
             FROM documents WHERE doc_id < 30),
t AS (SELECT doc_id, string_split_regex(trim(text2), '\\s+') AS toks
      FROM src),
u AS (SELECT doc_id, CAST(unnest(range(len(toks))) AS INT) AS p0,
             unnest(toks) AS rt FROM t),
kept AS (SELECT doc_id, p0, {O.ukrainian_stem_sql('rt')} AS token
         FROM u WHERE rt <> '' AND rt NOT IN {O.UKRAINIAN_STOP_SQL})
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p0) - 1 AS INT)
           AS position,
       token
FROM kept ORDER BY doc_id, position
""")
def api_analyze_ukrainian(spark, sf_dir):
    """`ukrainian` analyzer (analysis-ukrainian plugin registration
    shape; the morfologik dictionary is absent, so the engine's
    documented light variant runs: stop + one-suffix stemmer over the
    Cyrillic stream — the standard tokenizer's \\w covers Cyrillic).
    Injected вікнами→вікн and столи→стол; the stopped `і` renumbers
    positions."""
    from opensearch_spark.search.apis import analyze_api

    d = (_docs(spark, sf_dir).where(F.col("doc_id") < 30)
         .select("doc_id",
                 F.concat(F.regexp_replace("text", "window", "вікнами"),
                          F.lit(" і столи")).alias("text")))
    return analyze_api(d, "text", "ukrainian").orderBy("doc_id", "position")


def _cjk_lex_sql() -> tuple[str, str]:
    from opensearch_spark.analysis.analyzer import CJK_DEMO_LEXICON
    lex = "[" + ", ".join(f"'{w}'" for w in CJK_DEMO_LEXICON) + "]"
    oov = "[" + ", ".join(f"'{chr(0x6C00 + k)}'" for k in range(5)) + "]"
    return lex, oov


_CJK_LEX_SQL, _CJK_OOV_SQL = _cjk_lex_sql()


@q("api_analyze_cjk_dict", f"""
WITH ids AS (SELECT doc_id, split_part(trim(text), ' ', 1) AS first_tok
             FROM documents WHERE doc_id < 40),
seq AS (SELECT doc_id, CAST(unnest(range(5)) AS INT) AS j FROM ids)
SELECT doc_id, CAST(0 AS INT) AS position, first_tok AS token FROM ids
UNION ALL
SELECT doc_id, CAST(1 + j AS INT),
       list_extract({_CJK_LEX_SQL},
                    CAST((doc_id * 7 + j * 3) % 14 + 1 AS INT))
FROM seq
UNION ALL
SELECT doc_id, CAST(6 AS INT),
       list_extract({_CJK_OOV_SQL}, CAST(doc_id % 5 + 1 AS INT))
FROM ids
ORDER BY doc_id, position
""")
def api_analyze_cjk_dict(spark, sf_dir):
    """Dictionary-driven CJK word segmentation — the mechanism of the
    analysis-smartcn (HMMChineseTokenizer), analysis-kuromoji
    (JapaneseTokenizer dictionary lattice) and analysis-nori plugins,
    demonstrated with a deterministic demo lexicon (the shipped
    dictionaries aren't in this environment). Each doc's text is a latin
    token followed by five lexicon words CONCATENATED WITHOUT SEPARATORS
    plus one out-of-vocabulary ideograph; the analyzer must segment the
    unbroken ideographic run back into exactly those words (greedy
    longest-match, mixed 2/3-char entries) and emit the OOV char as a
    unigram. The oracle reconstructs the expected stream from the same
    doc_id arithmetic, so any mis-segmentation hash-mismatches."""
    from opensearch_spark.analysis.analyzer import CJK_DEMO_LEXICON
    from opensearch_spark.search.apis import analyze_api

    lex_arr = F.array(*[F.lit(w) for w in CJK_DEMO_LEXICON])
    oov_arr = F.array(*[F.lit(chr(0x6C00 + k)) for k in range(5)])
    parts = [F.split(F.trim(F.col("text")), r"\s+").getItem(0), F.lit(" ")]
    for j in range(5):
        parts.append(F.element_at(
            lex_arr,
            ((F.col("doc_id") * 7 + j * 3) % 14 + 1).cast("int")))
    parts.append(F.element_at(oov_arr, (F.col("doc_id") % 5 + 1).cast("int")))
    d = (_docs(spark, sf_dir).where(F.col("doc_id") < 40)
         .select("doc_id", F.concat(*parts).alias("text")))
    return analyze_api(d, "text", "cjk_dict").orderBy("doc_id", "position")


@q("api_ingest_simulate", """
WITH base AS (SELECT event_id, event_type FROM events WHERE event_id < 50),
s1 AS (SELECT event_id, upper(event_type) AS v FROM base),
s2 AS (SELECT event_id, replace(v, '_', '-') AS v FROM s1),
s3 AS (SELECT event_id, concat(v, ':sim') AS v FROM s2),
trace AS (
  SELECT event_id, 1 AS step, 'uppercase' AS processor_tag, v FROM s1
  UNION ALL
  SELECT event_id, 2, 'gsub', v FROM s2
  UNION ALL
  SELECT event_id, 3, 'set_suffix', v FROM s3)
SELECT event_id, CAST(step AS INT) AS step, processor_tag,
       v AS event_type_value
FROM trace ORDER BY event_id, step
""")
def api_ingest_simulate(spark, sf_dir):
    """_ingest/pipeline/_simulate?verbose=true (SimulatePipelineRequest,
    SimulateExecutionService.java — run a pipeline over sample docs
    WITHOUT indexing and return each document's state after EVERY
    processor). The trace is one projection per processor stage over the
    sample frame, exploded to (doc, step, processor_tag, value) rows via
    a stack of the staged columns — no writes, no shuffle beyond the
    final sort, and each stage's expression builds on the previous
    stage's column exactly like the chained-processor execution."""
    ev = (_t(spark, sf_dir, "events").where(F.col("event_id") < 50)
          .select("event_id", "event_type"))
    v1 = F.upper("event_type")
    v2 = F.regexp_replace(v1, "_", "-")
    v3 = F.concat(v2, F.lit(":sim"))
    staged = ev.select(
        "event_id", v1.alias("_s1"), v2.alias("_s2"), v3.alias("_s3"))
    trace = staged.select(
        "event_id",
        F.expr("stack(3, 1, 'uppercase', _s1, 2, 'gsub', _s2,"
               " 3, 'set_suffix', _s3) AS (step, processor_tag,"
               " event_type_value)"))
    return (trace.select("event_id", F.col("step").cast("int").alias("step"),
                         "processor_tag", "event_type_value")
            .orderBy("event_id", "step"))


@q("api_cat_segments", """
WITH n AS (SELECT count(*) AS cnt FROM documents),
spans AS (SELECT CAST(ceil(cnt * 1.0 / 4) AS BIGINT) AS span FROM n)
SELECT CAST(doc_id // span AS INT) AS segment_id,
       count(*) AS docs,
       CAST(1 AS INT) AS attempt,
       'committed' AS status
FROM documents, spans GROUP BY 1 ORDER BY 1
""")
def api_cat_segments(spark, sf_dir):
    """_segments / _cat/segments (RestIndicesSegmentsAction,
    RestSegmentsAction — per-segment shard rows): reported FROM THE
    RESUMABLE BUILD'S LINEAGE MANIFESTS (index/segments.py), which puts
    the north-rule checkpoint path itself behind a value-hash oracle:
    the oracle recomputes each segment's doc population from the
    doc_id-range partitioning contract, so a segment that lost or
    double-committed rows — or re-ran when it should have resumed
    (attempt > 1) — hash-mismatches. The build runs once per sf dir and
    is reused via the manifests' own freshness information."""
    import shutil

    from opensearch_spark.index.build import IndexConfig
    from opensearch_spark.index.segments import build_segments, read_manifest

    out = os.path.join(
        INDEX_ROOT,
        hashlib.sha256(os.path.abspath(sf_dir).encode()).hexdigest()[:16]
        + "_segcat")
    corpus = _docs(spark, sf_dir).select("doc_id", "text")
    n = corpus.count()
    m = read_manifest(out)
    if len(m) != 4 or sum(v["rows"] for v in m.values()) != n:
        shutil.rmtree(out, ignore_errors=True)
        build_segments(
            spark, corpus, out,
            IndexConfig(field="text", analyzer="standard", id_col="doc_id",
                        n_parts=4, bucket_span=1 << 12), n_segments=4)
        m = read_manifest(out)
    rows = [(int(s), int(v["rows"]), int(v.get("attempt", 1)), v["status"])
            for s, v in sorted(m.items())]
    return spark.createDataFrame(
        rows, "segment_id int, docs long, attempt int, status string")


@q("agg_terms_unsigned_long", """
WITH u AS (
  SELECT CAST(9223372036854775308 AS DECIMAL(20,0))
         + CAST(o_custkey AS DECIMAL(20,0)) * 7 AS ukey
  FROM orders
),
g AS (SELECT ukey, count(*) AS doc_count FROM u GROUP BY ukey)
SELECT CAST(ukey AS VARCHAR) AS key, doc_count
FROM g ORDER BY ukey DESC LIMIT 10
""")
def agg_terms_unsigned_long(spark, sf_dir):
    """unsigned_long field type + UnsignedLongTerms agg
    (NumberFieldMapper.java:980 UNSIGNED_LONG, UnsignedLongTerms.java:32,
    DocValueFormat.java:564 UNSIGNED_LONG_SHIFTED): 64-bit unsigned values
    are STORED as their raw two's-complement bits in a signed long column
    (values above 2^63-1 wrap negative) and decoded back to the unsigned
    domain at reduce time, exactly the reference's shifted-docvalue
    contract. The derived key straddles 2^63 (2^63-500 + o_custkey*7), so
    a signed-ordered engine returns a DIFFERENT key-descending top-10 —
    the gate pins the unsigned decode + ordering, not just the grouping.
    Keys are reported as strings (they exceed BIGINT range)."""
    TWO63 = "9223372036854775807"
    TWO64 = "18446744073709551616"
    orders = _t(spark, sf_dir, "orders")
    u = orders.select(
        F.expr("CAST(9223372036854775308 AS DECIMAL(20,0))"
               " + CAST(o_custkey AS DECIMAL(20,0)) * 7").alias("ukey"))
    # index-time storage: raw unsigned bits in a signed 64-bit column
    stored = u.select(
        F.expr(f"CASE WHEN ukey > {TWO63}"
               f" THEN CAST(ukey - {TWO64} AS BIGINT)"
               " ELSE CAST(ukey AS BIGINT) END").alias("bits"))
    g = stored.groupBy("bits").agg(F.count("*").alias("doc_count"))
    # reduce-time decode: negative bits are the large unsigned values
    dec = g.withColumn(
        "_u", F.expr(f"CASE WHEN bits < 0"
                     f" THEN CAST(bits AS DECIMAL(20,0)) + {TWO64}"
                     " ELSE CAST(bits AS DECIMAL(20,0)) END"))
    return (dec.orderBy(F.desc("_u")).limit(10)
            .select(F.col("_u").cast("string").alias("key"), "doc_count"))


@q("search_highlight_matched_fields", f"""
WITH src AS (SELECT doc_id, {O.PLURALIZE_SQL} AS text2 FROM documents),
toks AS (SELECT doc_id, string_split_regex(trim(text2), '\\s+') AS t
         FROM src),
m AS (SELECT doc_id,
             length(list_filter(t, x -> x = 'tables'
                 OR {O.stem_minimal_sql('x')} = 'query')) AS n_matches,
             array_to_string(list_transform(t,
                 x -> CASE WHEN x = 'tables'
                            OR {O.stem_minimal_sql('x')} = 'query'
                      THEN '<em>' || x || '</em>' ELSE x END), ' ')
                 AS highlight
      FROM toks)
SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches, highlight
FROM m WHERE n_matches > 0
ORDER BY n_matches DESC, doc_id LIMIT 10
""")
def search_highlight_matched_fields(spark, sf_dir):
    """highlight matched_fields (AbstractHighlighterBuilder.java:96
    MATCHED_FIELDS_FIELD; FastVectorHighlighter.java:181-187 blends each
    matched field's FieldPhraseList onto the base field's offsets): query
    terms matched under DIFFERENT analyzers — the exact base field
    ('tables') and its stemmed subfield (query 'query' matching both
    'query' and 'queries' tokens) — combine into ONE match-position set,
    rendered token-wise on the base field's content. Tokenizations align
    position-for-position (the stemmer is token-local), which is the
    reference's requirement that matched_fields share the base field's
    offsets. Pluralized corpus twin of O.PLURALIZE_SQL; all-Catalyst
    (split/filter/transform), runs on the bounded hit page ordering."""
    stem = O.stem_minimal_sql("x")
    cond = f"x = 'tables' OR {stem} = 'query'"
    d = _pluralized(_docs(spark, sf_dir).select("doc_id", "text"))
    toks = d.select(
        "doc_id", F.expr(r"split(trim(text), '\\s+')").alias("t"))
    m = toks.select(
        "doc_id",
        F.expr(f"CAST(size(filter(t, x -> {cond})) AS BIGINT)")
         .alias("n_matches"),
        F.expr(f"array_join(transform(t, x -> CASE WHEN {cond}"
               " THEN concat('<em>', x, '</em>') ELSE x END), ' ')")
         .alias("highlight"))
    return (m.where(F.col("n_matches") > 0)
            .orderBy(F.desc("n_matches"), F.asc("doc_id")).limit(10))


@q("api_resolve_index", """
WITH n AS (SELECT count(*) AS c FROM documents),
en AS (SELECT count(*) AS c FROM documents WHERE lang = 'en'),
g1 AS (SELECT count(*) AS c FROM events WHERE ts < '2024-01-15'),
g2 AS (SELECT count(*) AS c FROM events WHERE ts >= '2024-01-15')
SELECT * FROM (
  SELECT '.ds-events_ds-000001' AS name, 'backing_index' AS kind,
         'events_ds' AS detail, (SELECT c FROM g1) AS docs
  UNION ALL SELECT '.ds-events_ds-000002', 'backing_index', 'events_ds',
         (SELECT c FROM g2)
  UNION ALL SELECT 'docs', 'concrete_index', 'open', (SELECT c FROM n)
  UNION ALL SELECT 'docs_en', 'alias', 'docs', (SELECT c FROM en)
  UNION ALL SELECT 'docs_title', 'concrete_index', 'open', (SELECT c FROM n)
  UNION ALL SELECT 'events_ds', 'data_stream', 'ts:2',
         (SELECT c FROM g1) + (SELECT c FROM g2)
) ORDER BY name
""")
def api_resolve_index(spark, sf_dir):
    """indices.resolve_index (ResolveIndexAction.java: resolves name
    expressions to concrete indices with status, aliases with their
    target, and data streams with timestamp field + backing generations):
    expressions ['docs*', 'events_ds'] against the engine catalog. Every
    row carries the ENGINE'S OWN doc accounting — index meta doc_count,
    datastream generation manifests, the indexed keyword-term count for
    the filtered alias — which the oracle recomputes from the raw
    tables, so a stale meta, a lost generation row, or a wrong alias
    filter hash-mismatches rather than passing on names alone."""
    s = get_searcher(spark, sf_dir)
    ds = _event_stream(spark, sf_dir)
    gens = ds.generations()
    rows = [(f".ds-events_ds-{i + 1:06d}", "backing_index", "events_ds",
             int(m["rows"])) for i, m in enumerate(gens)]
    n_docs = int(s.index.meta["doc_count"])
    n_title = int(s.extra_fields["title"].index.meta["doc_count"])
    n_en = s.score(Term(field="lang", value="en")).count()
    rows += [("docs", "concrete_index", "open", n_docs),
             ("docs_en", "alias", "docs", int(n_en)),
             ("docs_title", "concrete_index", "open", n_title),
             ("events_ds", "data_stream", f"ts:{len(gens)}",
              int(ds.doc_count()))]
    return spark.createDataFrame(
        rows, "name string, kind string, detail string, docs long"
    ).orderBy("name")


@q("api_datastream_rollover", """
WITH ranked AS (
  SELECT event_id, row_number() OVER (ORDER BY event_id) - 1 AS rn
  FROM events WHERE ts < '2024-01-15'
)
SELECT CAST(rn // 2500 AS INT) AS generation,
       count(*) AS docs,
       CAST(min(rn) AS BIGINT) AS doc_base
FROM ranked GROUP BY 1 ORDER BY generation
""")
def api_datastream_rollover(spark, sf_dir):
    """Data-stream rollover split (RolloverAction / the reference's
    max_docs rollover condition; index/datastream.py `_append_chunks`):
    ONE append whose batch exceeds rollover_max_docs=2500 must split
    into ceil(n/2500) generations of exactly 2500 docs each (last one
    partial), with contiguous docBase offsets — the Lucene docBase
    discipline. The gate reports each generation's (docs, doc_base) FROM
    THE MANIFESTS; the oracle recomputes the split from the raw events
    by global event_id rank, so a generation that lost rows, split at
    the wrong boundary, or mis-assigned its base hash-mismatches. Also
    pins the append row-conservation invariant end-to-end (the AQE
    row-loss regression this round surfaced)."""
    import math
    import shutil

    from opensearch_spark.index.datastream import DataStream

    key = os.path.abspath(sf_dir)
    out = os.path.join(INDEX_ROOT,
                       hashlib.sha256(key.encode()).hexdigest()[:16]
                       + "_dsroll")
    e = _docs(spark, sf_dir, "events").where(F.col("ts") < "2024-01-15")
    n = e.count()
    want_gens = math.ceil(n / 2500)
    cfg = IndexConfig(field="event_type", analyzer="standard", n_parts=2)
    ds = DataStream(out, cfg, rollover_max_docs=2500)
    gens = ds.generations()
    if len(gens) != want_gens or ds.doc_count() != n:
        shutil.rmtree(out, ignore_errors=True)
        ds = DataStream(out, cfg, rollover_max_docs=2500)
        ds.append(spark, e.orderBy("event_id"), ts_col="ts")
        gens = ds.generations()
        if ds.doc_count() != n:
            raise RuntimeError("rollover append lost rows")
    rows = [(int(m["segment_id"]), int(m["rows"]), int(m["doc_base"]))
            for m in gens]
    return spark.createDataFrame(
        rows, "generation int, docs long, doc_base long"
    ).orderBy("generation")


# --------------------------------------------------------------------------
# driver-window rotation: the driver's CORRECTNESS gate verifies the first
# ~50 queries() entries each round. Gates with a green row in
# CORRECTNESS_r01.json are rotated to the back so every unverified gate
# reaches the window across rounds (VERDICT r1 item 1).
# --------------------------------------------------------------------------
_DRIVER_VERIFIED_R1 = frozenset({
    "search_match_or", "search_match_and", "search_match_msm", "search_bool",
    "search_term_keyword", "search_range_keyword", "search_prefix",
    "search_wildcard", "search_fuzzy", "search_phrase",
    "search_phrase_shingle", "search_dis_max", "search_boosting",
    "search_constant_score", "search_function_score", "search_terms_set",
    "search_collapse", "search_after", "search_rescore", "search_match_all",
    "search_terms_keyword", "search_ids", "search_exists", "search_regexp",
    "search_multi_match_best", "search_multi_match_most",
    "search_match_phrase_prefix", "search_match_bool_prefix",
    "search_span_near", "search_span_near_unordered", "search_query_string",
    "search_lmdirichlet", "search_suggest_term", "search_highlight",
    "search_rank_eval", "search_sort_field", "search_fetch", "search_explain",
    "search_slice", "search_lm_jelinek_mercer", "search_count",
    "search_msearch", "search_terms_enum", "search_script_filter",
    "search_script_sort", "search_matched_queries", "search_min_score",
    "search_wrapper", "search_derived_field",
})


def _driver_verified() -> frozenset:
    """Union of every green row recorded by any past round's driver
    correctness run (CORRECTNESS_r*.json at the repo root) — rounds
    after r1 need zero manual bookkeeping; the static R1 set is the
    fallback for environments without the files."""
    import glob
    import json as _json

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen = set(_DRIVER_VERIFIED_R1)
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                data = _json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict) or row.get("err") is not None:
                continue
            # verified = the strongest check recorded actually PASSED:
            # value-hash match for oracle gates; row-count for gates the
            # driver compared rows-only; a bare rows-only run (no oracle)
            # counts only if the driver recorded a produced row count.
            # A hash_match=false row is a live FAILURE and must stay in
            # the window to be re-run, never retired.
            if row.get("hash_match") is True:
                seen.add(name)
            elif row.get("hash_match") is None:
                if row.get("rows_match") is True:
                    seen.add(name)
                elif (row.get("rows_match") is None
                        and row.get("spark_rows") is not None):
                    seen.add(name)
    return frozenset(seen)


# The LLM-training-data operator families (dedup/sim/text/curation/mm/
# pipeline + corpus_stats) are the engine's north-star additions; after
# three rounds of newest-first rotation, 50 of their 54 gates had never
# been inside a driver window (VERDICT r3, Next round #1).  Front-load
# them among the unverified gates so the round-4 window drains that debt
# first; remaining unverified gates follow in catalogue order.
_ML_FAMILY_PREFIXES = (
    "dedup_", "sim_", "text_", "curation_", "mm_", "pipeline_",
)


def _is_ml_family(name: str) -> bool:
    return name.startswith(_ML_FAMILY_PREFIXES) or name == "corpus_stats"


#: EVERY gate whose ORACLE SQL (or Spark twin) changed in round 5 — the
#: HUGEINT→BIGINT / DECIMAL→DOUBLE canonicalization sweep, the decimal
#: sort-key fix, the ivf all-lists oracle, and the array→string
#: canonicalization. Changed-oracle gates carry the round's only real
#: red risk, so the still-unverified among them outrank unchanged
#: never-verified gates for the window slots (already-verified members
#: are unaffected — the verified tier still sorts last).
_R5_ORACLE_TOUCHED = frozenset({
    "curation_pack_sequences", "corpus_stats", "agg_cumulative_sum",
    "agg_stats_bucket", "agg_extended_stats_bucket", "sim_ivf_topk",
    "ingest_processors_final", "search_sort_multivalue",
    "search_cjk_bigram", "search_constant_score", "search_exists",
    "search_fuzzy", "search_fuzzy_transpositions", "search_ids",
    "search_intervals", "search_intervals_all_of",
    "search_intervals_any_of", "search_intervals_fuzzy",
    "search_intervals_prefix", "search_intervals_unordered",
    "search_match_all", "search_painless_filter",
    "search_phonetic_match", "search_prefix", "search_regexp",
    "search_slice", "search_span_containing",
    "search_span_field_masking", "search_span_first", "search_span_gap",
    "search_span_multi", "search_span_near", "search_span_near_multi",
    "search_span_near_unordered", "search_span_not", "search_span_or",
    "search_span_within", "search_sparse_vector",
    "search_term_case_insensitive", "search_term_keyword",
    "search_terms_keyword", "search_wildcard", "search_wildcard_accel",
    "sim_ivfpq_topk", "sim_pq_topk",
})


def _rotate_verified_to_back() -> None:
    global QUERIES, ORACLES
    verified = _driver_verified()
    unverified = [k for k in QUERIES if k not in verified]
    rest = [k for k in unverified if not _is_ml_family(k)]
    order = ([k for k in unverified if _is_ml_family(k)]
             + [k for k in rest if k in _R5_ORACLE_TOUCHED]
             + [k for k in rest if k not in _R5_ORACLE_TOUCHED]
             + [k for k in QUERIES if k in verified])
    QUERIES = {k: QUERIES[k] for k in order}
    ORACLES = {k: ORACLES[k] for k in order if k in ORACLES}


_rotate_verified_to_back()
