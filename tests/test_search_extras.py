"""Tests for query_string parsing, search pipelines, suggester/highlight
edge cases, IVF recall, and BPE token counting."""

import pytest
from pyspark.sql import functions as F

from opensearch_spark.search import queries as Q
from opensearch_spark.search.fetchphase import source_filter
from opensearch_spark.search.query_string import parse_query_string


# ---------------- query_string parser ----------------
def test_qs_single_term():
    ast = parse_query_string("spark", default_field="text")
    assert ast == Q.Match(field="text", text="spark")


def test_qs_and_or_precedence():
    ast = parse_query_string("a AND b OR c", default_field="f")
    assert isinstance(ast, Q.Bool)
    assert len(ast.should) == 2
    left = ast.should[0]
    assert isinstance(left, Q.Bool) and len(left.must) == 2


def test_qs_field_phrase_prefix():
    ast = parse_query_string('lang:de "merge sort" pre*', default_field="text")
    kinds = {type(c).__name__ for c in ast.should}
    assert kinds == {"Match", "MatchPhrase", "Prefix"}
    m = [c for c in ast.should if isinstance(c, Q.Match)][0]
    assert m.field == "lang" and m.text == "de"


def test_qs_negation_and_parens():
    ast = parse_query_string("(a OR b) -c", default_field="f")
    assert isinstance(ast, Q.Bool)
    assert len(ast.must_not) == 1 and isinstance(ast.must_not[0], Q.Match)


def test_qs_whitespace_tolerance():
    # Lucene's parser tolerates surrounding whitespace; an empty /
    # whitespace-only string yields an empty BooleanQuery (matches nothing).
    assert parse_query_string("spark table  ", default_field="f") == \
        parse_query_string("spark table", default_field="f")
    assert parse_query_string("   ", default_field="f") == Q.MatchNone()
    assert parse_query_string("", default_field="f") == Q.MatchNone()


def test_qs_default_operator_and():
    ast = parse_query_string("a b", default_field="f", default_operator="and")
    assert isinstance(ast, Q.Bool) and len(ast.must) == 2 and not ast.should


def test_qs_errors():
    with pytest.raises(ValueError):
        parse_query_string("(a", default_field="f")


def test_qs_boost_suffix():
    ast = parse_query_string("spark^2 table", default_field="f")
    boosted = [c for c in ast.should if c.boost == 2.0]
    assert len(boosted) == 1 and boosted[0].text == "spark"
    # boosts multiply through parens (QueryParserBase#handleBoost)
    ast = parse_query_string("(a OR b)^3", default_field="f")
    assert isinstance(ast, Q.Bool) and ast.boost == 3.0
    ast = parse_query_string('"merge sort"^1.5', default_field="f")
    assert isinstance(ast, Q.MatchPhrase) and ast.boost == 1.5


def test_qs_fuzzy_suffix():
    ast = parse_query_string("roam~", default_field="f")
    assert ast == Q.Fuzzy(field="f", value="roam", fuzziness=None)  # AUTO
    ast = parse_query_string("roam~1^2", default_field="f")
    assert isinstance(ast, Q.Fuzzy) and ast.fuzziness == 1 and ast.boost == 2.0


def test_qs_phrase_slop():
    ast = parse_query_string('"jakarta apache"~3', default_field="f")
    assert isinstance(ast, Q.MatchPhrase) and ast.slop == 3
    # bare '~' is the fuzzy marker — meaningless on a phrase, ignored
    ast = parse_query_string('"jakarta apache"~', default_field="f")
    assert isinstance(ast, Q.MatchPhrase) and ast.slop == 0


def test_qs_range_brackets():
    ast = parse_query_string("n_chars:[200 TO 400]", default_field="f")
    assert ast == Q.Range(field="n_chars", gte=200, lte=400)
    ast = parse_query_string("n_chars:{200 TO 400]", default_field="f")
    assert ast == Q.Range(field="n_chars", gt=200, lte=400)
    ast = parse_query_string("lang:[de TO *}", default_field="f")
    assert ast == Q.Range(field="lang", gte="de")
    with pytest.raises(ValueError):
        parse_query_string("n_chars:[200 400]", default_field="f")
    with pytest.raises(ValueError):
        parse_query_string("n_chars:[200 TO 400", default_field="f")


def test_qs_plus_must_marker():
    ast = parse_query_string("+a b -c", default_field="f")
    assert [m.text for m in ast.must] == ["a"]
    assert [m.text for m in ast.should] == ["b"]
    assert [m.text for m in ast.must_not] == ["c"]
    # interior +/- stay inside the term (c++, half-open)
    ast = parse_query_string("c++", default_field="f")
    assert ast == Q.Match(field="f", text="c++")


# ---------------- engine paths over the real corpus ----------------
@pytest.fixture(scope="module")
def searcher(spark, sf_dir):
    from opensearch_spark.entry_queries import get_searcher

    return get_searcher(spark, sf_dir)


def _ranked(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_wand_equals_exhaustive_on_qs_match(searcher, spark_leg):
    q = Q.Match(field="text", text="spark table merge")
    wand = _ranked(searcher.search(q, k=10, mode="wand", round_scores=4))
    with spark_leg():
        refused = _ranked(searcher.search(q, k=10, mode="wand", round_scores=4))
    exh = _ranked(searcher.search(q, k=10, mode="exhaustive", round_scores=4))
    assert wand == refused == exh


def test_span_near_subset_of_phrase(searcher, spark, sf_dir):
    """slop=0 in-order span_near of adjacent terms == phrase match set."""
    phrase = searcher.score(Q.MatchPhrase(field="text", text="spark table"))
    span = searcher.score(Q.SpanNear(field="text", clauses=["spark", "table"],
                                     slop=0, in_order=True))
    pd_ids = {r["doc_id"] for r in phrase.select("doc_id").collect()}
    sp_ids = {r["doc_id"] for r in span.select("doc_id").collect()}
    assert pd_ids == sp_ids


def test_suggest_missing_mode_skips_known(searcher):
    from opensearch_spark.search import term_suggest

    out = term_suggest(searcher, "spark", suggest_mode="missing")
    assert out.count() == 0
    out2 = term_suggest(searcher, "spark", suggest_mode="always")
    assert out2.count() > 0


def test_highlight_fragments(searcher, spark):
    from opensearch_spark.search import highlight_fragments

    hits = searcher.search(Q.Match(field="text", text="spark"), k=3)
    fetched = source_filter(searcher.index.docs(spark), hits,
                            includes=["text"])
    out = highlight_fragments(fetched, "text", ["spark"], fragment_size=40,
                              number_of_fragments=2).collect()
    for r in out:
        assert len(r["fragments"]) >= 1
        assert all("<em>spark</em>" in f for f in r["fragments"])
        assert all(len(f) <= 40 + len("<em></em>") * 8 for f in r["fragments"])


def test_search_pipeline_invariants(searcher):
    from opensearch_spark.search.pipeline import (
        CollapseProcessor, FilterQueryProcessor, OversampleProcessor,
        SearchPipeline, TruncateHitsProcessor,
    )

    pipe = SearchPipeline([
        FilterQueryProcessor(filter=Q.Term(field="lang", value="en")),
        OversampleProcessor(sample_factor=3.0),
        CollapseProcessor(field="source"),
        TruncateHitsProcessor(target_size=5),
    ])
    rows = pipe.search(searcher, Q.Match(field="text", text="table"),
                       k=10, mode="exhaustive").collect()
    assert len(rows) <= 5
    sources = [r["source"] for r in rows]
    assert len(sources) == len(set(sources))  # collapsed: one hit per source
    docs = searcher.index.docs(searcher.spark)
    langs = {r["lang"] for r in docs.where(
        F.col("doc_id").isin([x["doc_id"] for x in rows])).select("lang").collect()}
    assert langs <= {"en"}


def test_lm_dirichlet_matches_numpy(searcher, spark, sf_dir):
    import numpy as np

    q = Q.Match(field="text", text="spark")
    out = {r["doc_id"]: r["score"]
           for r in searcher.score_lm_dirichlet(q, mu=500.0).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").collect()
    toks = {r["doc_id"]: r["text"].split() for r in docs}
    cf = sum(t.count("spark") for t in toks.values())
    total = sum(len(t) for t in toks.values())
    p = (cf + 1.0) / (total + 1.0)
    for did, tk in toks.items():
        tf = tk.count("spark")
        if tf == 0:
            assert did not in out
            continue
        exp = np.log(1.0 + tf / (500.0 * p)) + np.log(500.0 / (len(tk) + 500.0))
        assert abs(out[did] - exp) < 1e-6


# ---------------- IVF ANN ----------------
def test_ivf_recall_vs_brute_force(spark, sf_dir):
    from opensearch_spark.ml import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    exact = {r["vec_id"] for r in
             S.cosine_topk(emb, qv, k=10, exclude_id=3).collect()}
    approx = {r["vec_id"] for r in
              S.ivf_topk(emb, qv, k=10, n_centroids=8, nprobe=4,
                         exclude_id=3).collect()}
    assert len(approx) > 0
    recall = len(exact & approx) / 10.0
    assert recall >= 0.5, f"IVF recall {recall} too low"


def test_ivf_full_probe_is_exact(spark, sf_dir):
    from opensearch_spark.ml import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    exact = [r["vec_id"] for r in S.cosine_topk(emb, qv, k=5, exclude_id=1).collect()]
    allprobe = [r["vec_id"] for r in
                S.ivf_topk(emb, qv, k=5, n_centroids=4, nprobe=4,
                           exclude_id=1).collect()]
    assert exact == allprobe  # probing every list degenerates to brute force


# ---------------- BPE-ish token count ----------------
def test_token_count_bpe(spark):
    from opensearch_spark.ml import textstats as TS

    df = spark.createDataFrame(
        [(0, "hello world42 x-y!"), (1, "")], "doc_id long, text string")
    out = {r["doc_id"]: r["n_bpe_tokens"]
           for r in TS.token_count_bpe(df, "text").collect()}
    # hello, world, 42, x, -, y, ! → 7
    assert out[0] == 7
    assert out[1] == 0


# ---------------- completion suggester ----------------
def test_completion_prefix_and_weight_order(spark):
    from opensearch_spark.search import completion_suggest

    df = spark.createDataFrame(
        [("Spark Shell", 5), ("spark submit", 9), ("spark submit", 2),
         ("sparrow", 7), ("flink run", 8)],
        "input string, weight int")
    out = completion_suggest(df, "spark", size=3, weight_col="weight",
                             skip_duplicates=True).collect()
    assert [(r["suggestion"], r["weight"], r["rank"]) for r in out] == [
        ("spark submit", 9, 1), ("spark shell", 5, 2)]


def test_completion_category_contexts(spark):
    """CategoryContextMapping + CategoryQueryContext: contexts FILTER to
    matching values and boost-multiply the weight; entries outside every
    query context never surface; duplicate context values keep the max
    boost; contexts without context_col raise."""
    import pytest

    from opensearch_spark.search import completion_suggest

    df = spark.createDataFrame(
        [("spark shell", 5, "en"), ("spark submit", 4, "de"),
         ("spark sql", 9, "fr"), ("spark conf", 1, "de")],
        "input string, weight int, lang string")
    out = completion_suggest(
        df, "spark", size=5, weight_col="weight", context_col="lang",
        contexts=[{"value": "de", "boost": 3}, "en"]).collect()
    # fr entry filtered despite top raw weight; de weights tripled
    assert [(r["suggestion"], r["weight"]) for r in out] == [
        ("spark submit", 12, ), ("spark shell", 5), ("spark conf", 3)]
    # duplicate context values: max boost wins
    out2 = completion_suggest(
        df, "spark", size=5, weight_col="weight", context_col="lang",
        contexts=["de", {"value": "de", "boost": 2}]).collect()
    assert [(r["suggestion"], r["weight"]) for r in out2] == [
        ("spark submit", 8), ("spark conf", 2)]
    with pytest.raises(ValueError, match="context_col"):
        completion_suggest(df, "spark", contexts=["en"])


def test_completion_fuzzy_prefix(spark):
    from opensearch_spark.search import completion_suggest

    df = spark.createDataFrame(
        [("spark shell", 5), ("spork shell", 6), ("flink", 9)],
        "input string, weight int")
    out = completion_suggest(df, "spark", size=5, weight_col="weight",
                             fuzziness=1).collect()
    assert {r["suggestion"] for r in out} == {"spark shell", "spork shell"}


def test_completion_topk_plan_is_take_ordered(spark):
    from opensearch_spark.search import completion_suggest

    df = spark.range(1000).select(
        F.concat(F.lit("spark "), F.col("id")).alias("input"),
        F.col("id").alias("weight"))
    plan = completion_suggest(df, "spark", size=5, weight_col="weight")
    s = plan._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in s


# ---------------- scroll cursor ----------------
def test_scroll_pages_partition_full_ranking(searcher):
    from opensearch_spark.search import scroll as open_scroll

    q = Q.Match(field="text", text="spark table")
    full = [r["doc_id"] for r in
            searcher.score(q).orderBy(
                F.desc("score"), F.asc("doc_id")).limit(25).collect()]
    sc = open_scroll(searcher, q, size=10)
    paged = []
    for _ in range(3):
        paged.extend(r["doc_id"] for r in
                     sc.next().orderBy(F.desc("score"), F.asc("doc_id")).collect())
    assert paged[:25] == full


def test_scroll_exhaustion_returns_empty(searcher):
    from opensearch_spark.search import scroll as open_scroll

    sc = open_scroll(searcher, Q.Term(field="lang", value="de"), size=10_000)
    first = sc.next().count()
    assert first > 0
    assert sc.next().count() == 0
    assert sc.next().count() == 0


# ---------------- fused msearch ----------------
def test_msearch_fused_equals_independent(searcher):
    qs = {
        "a": Q.Match(field="text", text="spark table"),
        "b": Q.Match(field="text", text="merge", boost=2.0),
        "c": Q.Match(field="text", text="spark merge", operator="and"),
    }
    fused = searcher.msearch(qs, k=7, round_scores=4).collect()
    got = {}
    for r in fused:
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qs.items():
        solo = [(r["doc_id"], r["score"]) for r in
                searcher.search(q, k=7, mode="exhaustive",
                                round_scores=4).collect()]
        assert sorted(got.get(qid, [])) == sorted(solo), qid


def test_msearch_mixed_falls_back(searcher):
    qs = {"m": Q.Match(field="text", text="spark"),
          "t": Q.Term(field="lang", value="de")}
    out = searcher.msearch(qs, k=5, round_scores=4).collect()
    assert {r["query_id"] for r in out} == {"m", "t"}


# ---------------- profile API ----------------
def test_profile_phases(searcher):
    out = searcher.profile(Q.Match(field="text", text="spark table"),
                           k=5, mode="wand").collect()
    phases = [r["phase"] for r in out]
    assert phases == ["rewrite", "stats", "execute", "fetch", "total"]
    total = [r for r in out if r["phase"] == "total"][0]
    assert total["time_ms"] > 0
    assert sum(r["time_ms"] for r in out if r["phase"] != "total") <= \
        total["time_ms"] + 1.0


def test_msearch_extra_field_routes_correctly(searcher):
    """A Match on the derived title field must NOT be scored against the
    text index's postings (fused-path field guard)."""
    q = Q.Match(field="title", text="spark")
    fused = searcher.msearch({"t": q}, k=5, round_scores=4).collect()
    solo = searcher.search(q, k=5, mode="exhaustive",
                           round_scores=4).collect()
    assert [(r["doc_id"], r["score"]) for r in fused] == \
           [(r["doc_id"], r["score"]) for r in solo]


def test_wand_extra_field_routes_correctly(searcher, spark_leg):
    """Regression: search() with mode='wand' on an extra analyzed field
    must dispatch to that field's index — the WAND fast path used to read
    the MAIN index's postings for title terms (only score()/exhaustive
    dispatched), silently returning text-field scores."""
    q = Q.Match(field="title", text="merge window")
    wd = searcher.search(q, k=10, mode="wand", round_scores=4).collect()
    with spark_leg():
        refused = _ranked(searcher.search(q, k=10, mode="wand", round_scores=4))
    ex = searcher.search(q, k=10, mode="exhaustive", round_scores=4).collect()
    assert [(r["doc_id"], r["score"]) for r in wd] == refused == \
           [(r["doc_id"], r["score"]) for r in ex]
    tx = searcher.search(Q.Match(field="text", text="merge window"),
                         k=10, mode="wand", round_scores=4).collect()
    assert [(r["doc_id"], r["score"]) for r in wd] != \
           [(r["doc_id"], r["score"]) for r in tx]


def test_match_field_routing_matrix(searcher):
    """Match routing under every mode: keyword columns degenerate to term
    queries (reference: match on a keyword field is an exact term), and
    unknown fields raise a clean KeyError on BOTH the wand and exhaustive
    paths (wand used to silently score the text index's postings)."""
    kw = searcher.search(Q.Match(field="lang", text="de"),
                         k=5, mode="wand").collect()
    assert len(kw) > 0 and all(r["score"] == 1.0 for r in kw)
    for m in ("wand", "exhaustive", "auto"):
        with pytest.raises(KeyError):
            searcher.search(Q.Match(field="nosuch", text="spark"), k=5, mode=m)


def test_fvh_fragment_tokens_align_with_analyzer_positions(spark, tmp_path):
    """snake_case docs: analyzer emits 3 positions per token, whitespace
    split 1 — the fragment must come from the analyzed stream."""
    from opensearch_spark.index.build import IndexConfig, build_index
    from opensearch_spark.search import fvh_highlight
    from opensearch_spark.search.executor import Searcher

    df = spark.createDataFrame(
        [(0, "alpha_beta_gamma spark merge zz qq"),
         (1, "noise words only here")],
        "doc_id long, content string")
    idx = build_index(
        spark, df, str(tmp_path / "fvhidx"),
        IndexConfig(field="content", analyzer="standard_code",
                    id_col="doc_id", with_positions=True, n_parts=2))
    s = Searcher(spark, idx)
    # fvh is a fetch sub-phase: the top-k id page is required (corpus-wide
    # highlighting without it raises)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="doc_ids"):
        fvh_highlight(s, ["spark"], window_tokens=3)
    out = {r["doc_id"]: r["fragment"] for r in
           fvh_highlight(s, ["spark", "merge"], doc_ids=[0, 1],
                         window_tokens=3).collect()}
    # analyzed stream: alpha beta gamma spark merge zz qq → best window
    # starts at 'spark' (pos 3) and must contain BOTH tagged terms
    assert out[0] == "<em>spark</em> <em>merge</em> zz"


# ---------------- aux APIs ----------------
def test_render_search_template_missing_param():
    from opensearch_spark.search.apis import render_search_template

    with pytest.raises(ValueError):
        render_search_template('{"match": {"f": "{{missing}}"}}', {})
    body = render_search_template(
        '{"range": {"n": {"gte": {{lo}}}}}', {"lo": 5})
    assert body == {"range": {"n": {"gte": 5}}}


def test_validate_query_renders_bool(spark):
    from opensearch_spark.search.apis import validate_query

    out = {r["query_id"]: (r["valid"], r["explanation"]) for r in
           validate_query(spark, {
               "b": {"bool": {"must": [{"term": {"lang": "en"}}],
                              "must_not": [{"match": {"text": "x"}}]}},
               "bad": {"nope": {}},
           }).collect()}
    assert out["b"] == (True, "+lang:en -text:x")
    assert out["bad"][0] is False


def test_graded_metrics_rejects_overrange_grade(spark):
    from opensearch_spark.search.rankeval import graded_metrics

    ranked = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    grades = spark.createDataFrame([(1, 4)], "doc_id long, grade int")
    with pytest.raises(ValueError):
        graded_metrics(ranked, grades, k=2, max_grade=3).collect()


def test_sparse_topk_matches_manual(spark, searcher):
    """sparse_topk = sum of w*tf over the postings (neural_sparse-style
    impact dot product) — verified against a hand-computed frame."""
    from pyspark.sql import functions as F

    s = searcher
    w = {"spark": 2.0, "table": 1.0}
    got = {r["doc_id"]: r["score"]
           for r in s.sparse_topk(w, k=5, round_scores=4).collect()}
    flat = s._flat_postings(list(w)).collect()
    manual = {}
    for r in flat:
        manual[r["doc_id"]] = manual.get(r["doc_id"], 0.0) + w[r["term"]] * r["tf"]
    want = dict(sorted(manual.items(),
                       key=lambda kv: (-kv[1], kv[0]))[:5])
    assert got == {k: round(v, 4) for k, v in want.items()}


def test_sparse_topk_absent_terms_empty(spark, searcher):
    assert searcher.sparse_topk({"zzznotaterm": 3.0}, k=5).count() == 0


def test_wildcard_accel_prefilter_is_superset(spark, sf_dir):
    """Trigram candidates ⊇ verified matches, and both agree with the
    direct per-token LIKE scan (the two-phase wildcard-field plan)."""
    from opensearch_spark.entry_queries import QUERIES, _alt_searcher

    tri = _alt_searcher(spark, sf_dir, "tri", "char_trigram")
    cand = {r["doc_id"] for r in tri.matching_docs(
        Q.Match(field="text", text="erge", operator="and")).collect()}
    verified = {r["doc_id"]
                for r in QUERIES["search_wildcard_accel"](spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    direct = {r["doc_id"] for r in docs.where(
        F.expr("exists(split(trim(text), '\\\\s+'), t -> t LIKE '%erge%')")).collect()}
    assert verified == direct
    assert verified <= cand


def test_msearch_fused_respects_analyzer_override(spark, searcher):
    """Regression: the msearch fused path must route the match query's
    analyzer param like search() does — synonym batch == direct batch."""
    syn = searcher.msearch(
        {"q": Q.Match(field="text", text="tbl rapid", analyzer="synonym_demo")},
        k=5, round_scores=4).collect()
    direct = searcher.msearch(
        {"q": Q.Match(field="text", text="table fast")},
        k=5, round_scores=4).collect()
    assert sorted(map(tuple, syn)) == sorted(map(tuple, direct))


@pytest.mark.parametrize("similarity", [
    "score_lm_dirichlet", "score_lm_jelinek_mercer", "score_dfr", "score_ib",
    "score_dfi", "score_scripted_similarity"])
def test_similarity_respects_analyzer_override(searcher, similarity):
    """Every similarity resolves its terms through the match query's
    analyzer: a synonym query scores like the query it expands to."""
    fn = getattr(searcher, similarity)
    args = (("tf * ln(1.0 + N / (df + 1.0))",)
            if similarity == "score_scripted_similarity" else ())

    def rows(q):
        return sorted((r["doc_id"], round(r["score"], 9))
                      for r in fn(q, *args).collect())

    syn = rows(Q.Match(field="text", text="tbl rapid", analyzer="synonym_demo"))
    direct = rows(Q.Match(field="text", text="table fast"))
    assert direct and syn == direct


def test_dsl_parses_new_query_options():
    from opensearch_spark.search import from_dsl

    q = from_dsl({"match": {"text": {"query": "tbl", "analyzer": "synonym_demo"}}})
    assert q == Q.Match(field="text", text="tbl", analyzer="synonym_demo")
    t = from_dsl({"term": {"lang": {"value": "DE", "case_insensitive": True}}})
    assert t == Q.Term(field="lang", value="DE", case_insensitive=True)


# ---------------- ip + range field types ----------------
def test_ipfield_parse_and_term(spark, sf_dir):
    from opensearch_spark.search import ipfield as IPF

    assert IPF.parse_ip("1.2.3.4") == (1 << 24) | (2 << 16) | (3 << 8) | 4
    with pytest.raises(ValueError):
        IPF.parse_ip("1.2.3.999")
    assert IPF.parse_cidr("10.0.0.0/8") == (10 << 24, (11 << 24) - 1)
    assert IPF.parse_cidr("1.2.3.4/32") == (IPF.parse_ip("1.2.3.4"),) * 2
    assert IPF.parse_cidr("5.6.7.8/0") == (0, IPF.IP_SPACE - 1)
    with pytest.raises(ValueError):
        IPF.parse_cidr("1.2.3.4/33")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = IPF.with_ip(docs)
    # term query: doc 42's derived ip round-trips string -> parse -> match
    ip42 = d.where(F.col("doc_id") == 42).first()["ip"]
    hits = IPF.ip_term(d, ip42).select("doc_id").collect()
    assert 42 in {r["doc_id"] for r in hits}
    # ip_range [gte, lt) slices consistently with cidr
    n_cidr = IPF.ip_cidr(d, "128.0.0.0/1").count()
    n_rng = IPF.ip_range(d, gte="128.0.0.0", lt=None).count()
    assert n_cidr == n_rng > 0


def test_range_field_relations(spark, sf_dir):
    from opensearch_spark.search import ipfield as IPF

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = IPF.with_range_field(docs)
    n_int = IPF.range_field_query(d, 200, 260, "intersects").count()
    n_within = IPF.range_field_query(d, 200, 260, "within").count()
    n_contains = IPF.range_field_query(d, 200, 260, "contains").count()
    # within ⊆ intersects and contains ⊆ intersects, strictly here
    assert n_within <= n_int and n_contains <= n_int and n_int > 0
    with pytest.raises(ValueError):
        IPF.range_field_query(d, 0, 1, "overlaps")


def test_ip_predicates_push_to_scan(spark, sf_dir):
    """The CIDR between on the derived long column must reach the parquet
    scan's data filters once the ip column is materialized (here: the
    filter is a plain range on a codegen expression — assert no Python
    eval nodes and a single scan)."""
    from opensearch_spark.search import ipfield as IPF
    from tests.test_plans import explain_str

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    plan = explain_str(IPF.ip_cidr(IPF.with_ip(docs), "160.0.0.0/4"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Location: InMemoryFileIndex") == 1  # single scan
    assert "Filter [codegen" in plan  # predicate stays in codegen


# ---------------- simple_query_string parser ----------------
def test_sqs_operators_and_precedence():
    from opensearch_spark.search.query_string import parse_simple_query_string as p

    ast = p('spark + table | "merge sort" -rain', default_field="text")
    assert isinstance(ast, Q.Bool) and len(ast.should) == 2
    a, b = ast.should
    assert [m.text for m in a.must] == ["spark", "table"]
    assert isinstance(b.should[0], Q.MatchPhrase)
    assert [m.text for m in b.must_not] == ["rain"]


def test_sqs_suffixes():
    from opensearch_spark.search.query_string import parse_simple_query_string as p

    ast = p('"a b"~2', default_field="f")
    assert isinstance(ast, Q.MatchPhrase) and ast.slop == 2
    ast = p("roam~1", default_field="f")
    assert isinstance(ast, Q.Fuzzy) and ast.fuzziness == 1
    ast = p("pre*", default_field="f")
    assert ast == Q.Prefix(field="f", value="pre")


def test_sqs_lenient_never_throws():
    from opensearch_spark.search.query_string import parse_simple_query_string as p

    # malformed specials degrade to plain word matching, never an error
    assert p("((broken", default_field="f") == Q.Match(field="f", text="broken")
    assert p('a "unclosed', default_field="f") == \
        Q.Match(field="f", text="a unclosed")
    assert p("|||", default_field="f") == Q.MatchNone() or \
        isinstance(p("|||", default_field="f"), Q.Query)
    assert p("   ", default_field="f") == Q.MatchNone()


def test_sqs_default_operator_and():
    from opensearch_spark.search.query_string import parse_simple_query_string as p

    ast = p("a b", default_field="f", default_operator="and")
    assert isinstance(ast, Q.Bool) and len(ast.must) == 2 and not ast.should


# ---------------- script_score query ----------------
def test_dsl_parses_script_score():
    from opensearch_spark.search import from_dsl

    q = from_dsl({"script_score": {
        "query": {"match": {"text": "spark"}},
        "script": {"source": "ln(1.0 + n_chars)"},
        "fields": ["n_chars"], "min_score": 1.5}})
    assert isinstance(q, Q.ScriptScore)
    assert q.script == "ln(1.0 + n_chars)"
    assert q.fields == ("n_chars",) and q.min_score == 1.5
    assert q.query == Q.Match(field="text", text="spark")


def test_script_score_replaces_and_filters(searcher):
    """The script REPLACES the query score (vs function_score combining),
    and min_score drops hits before top-k (ScriptScoreQuery.java)."""
    base = Q.Match(field="text", text="spark")
    q = Q.ScriptScore(query=base, script="ln(1.0 + n_chars)",
                      fields=("n_chars",))
    rows = searcher.score(q).collect()
    assert rows, "script_score returned no hits"
    # every score must be ln(1+n_chars) of that doc — independent of BM25
    docs = dict(searcher.index.docs(searcher.spark)
                .select("doc_id", "n_chars").collect())
    import math
    for r in rows:
        assert abs(r.score - math.log(1.0 + docs[r.doc_id])) < 1e-9
    # same match set as the wrapped query
    base_ids = {r.doc_id for r in searcher.score(base).collect()}
    assert {r.doc_id for r in rows} == base_ids
    # min_score strictly filters
    cut = sorted(r.score for r in rows)[len(rows) // 2]
    filtered = searcher.score(
        Q.ScriptScore(query=base, script="ln(1.0 + n_chars)",
                      fields=("n_chars",), min_score=cut)).collect()
    assert filtered and all(r.score >= cut for r in filtered)
    assert len(filtered) < len(rows)


def test_script_score_boost_scales(searcher):
    q1 = Q.ScriptScore(query=Q.Match(field="text", text="spark"),
                       script="score")  # identity: keep BM25
    q2 = Q.ScriptScore(query=Q.Match(field="text", text="spark"),
                       script="score", boost=2.0)
    s1 = {r.doc_id: r.score for r in searcher.score(q1).collect()}
    s2 = {r.doc_id: r.score for r in searcher.score(q2).collect()}
    assert s1.keys() == s2.keys()
    assert all(abs(s2[d] - 2.0 * s1[d]) < 1e-9 for d in s1)


def test_hybrid_search_modes(searcher):
    """normalization processor: l2 + geometric/harmonic combinations and
    the single-score min_max edge (normalizes to 1.0)."""
    import math

    from opensearch_spark.search import queries as Q
    from opensearch_spark.search.pipeline import hybrid_search

    qs = [Q.Match(field="text", text="spark"),
          Q.Match(field="text", text="table")]
    # l2: each sub-query's normalized vector has unit norm over its top_n
    out = hybrid_search(searcher, qs, k=5, top_n=20, normalization="l2",
                        combination="arithmetic_mean")
    rows = out.collect()
    assert rows and all(0.0 <= r["score"] <= 1.0 for r in rows)
    # geometric mean: docs present in only one sub-query score 0 -> the
    # survivors must match BOTH queries
    both = hybrid_search(searcher, qs, k=50, top_n=50,
                         combination="geometric_mean").where("score > 0")
    a = {r["doc_id"] for r in searcher.search(qs[0], k=50).collect()}
    b = {r["doc_id"] for r in searcher.search(qs[1], k=50).collect()}
    assert {r["doc_id"] for r in both.collect()} <= (a & b)
    # harmonic: same zero-annihilation property
    h = hybrid_search(searcher, qs, k=50, top_n=50,
                      combination="harmonic_mean").where("score > 0")
    assert {r["doc_id"] for r in h.collect()} <= (a & b)
    # weights validation
    import pytest as _pt
    with _pt.raises(ValueError):
        hybrid_search(searcher, qs, weights=[1.0])


def test_flatten_json_generic_shapes(spark):
    """Generic flat_object flattener: depth recursion, dotted paths,
    multiple leaves, depth-cap remnants kept as raw terms."""
    from opensearch_spark.search import flatobject as FO

    rows = [
        (1, '{"a": "x", "b": {"c": "y", "d": {"e": "z"}}}'),
        (2, '{"only": "leaf"}'),
        (3, '{"deep": {"l2": {"l3": {"l4": "kept-raw"}}}}'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, j string")
    got = {(r["doc_id"], r["path"], r["value"])
           for r in FO.flatten_json(df, "j", max_depth=3).collect()}
    assert (1, "a", "x") in got
    assert (1, "b.c", "y") in got
    assert (1, "b.d.e", "z") in got
    assert (2, "only", "leaf") in got
    # depth 3 cap: the level-3 object survives as its raw JSON term
    raw = [v for d, p, v in got if d == 3 and p == "deep.l2.l3"]
    assert raw and raw[0].startswith("{")
    # term matching over both streams
    ids = {r["doc_id"] for r in
           FO.flat_object_match(df, "j", "y", path="b.c").collect()}
    assert ids == {1}
    any_leaf = {r["doc_id"] for r in
                FO.flat_object_match(df, "j", "leaf").collect()}
    assert any_leaf == {2}


def test_flatten_json_malformed_and_null_leaves_kept(spark):
    """'{'-prefixed strings that are NOT valid JSON objects stay leaves
    (from_json would null them out of a blind descend), null-valued
    leaves survive the three-valued startswith predicate, and '{}'
    yields no leaves (empty-object semantics) — no silent drops."""
    from opensearch_spark.search import flatobject as FO

    rows = [
        (1, '{"a": "{oops", "b": "ok"}'),
        (2, '{"n": null, "m": "v"}'),
        (3, '{"empty": "{}", "real": {"k": "w"}}'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, j string")
    got = {(r["doc_id"], r["path"], r["value"])
           for r in FO.flatten_json(df, "j", max_depth=3).collect()}
    assert (1, "a", "{oops") in got          # unparseable stays a leaf
    assert (1, "b", "ok") in got
    assert (2, "n", None) in got             # null leaf kept, not dropped
    assert (2, "m", "v") in got
    assert (3, "real.k", "w") in got
    # '{}' parses to an empty map: contributes no leaves, like the ref
    assert not [p for d, p, v in got if d == 3 and p == "empty"]
    # and the value stream can match the malformed-string leaf
    ids = {r["doc_id"] for r in FO.flat_object_match(df, "j", "{oops").collect()}
    assert ids == {1}


def test_hybrid_minmax_clamps_min_hit(searcher, spark):
    """min_max normalization maps each sub-query's minimum-scoring hit to
    MIN_SCORE=0.001 (reference MinMaxScoreNormalizationTechnique), never
    0.0 — under geometric_mean a doc that matched EVERY sub-query must
    not be annihilated into indistinguishability from a partial match."""
    from opensearch_spark.search import queries as Q
    from opensearch_spark.search.pipeline import hybrid_search

    qs = [Q.Match(field="text", text="spark"),
          Q.Match(field="text", text="table")]
    # arithmetic mean: no doc that matched a leg contributes exactly 0
    # from that leg, so a doc in BOTH legs strictly outranks the same
    # doc restricted to one leg's min + absent from the other
    h = hybrid_search(searcher, qs, k=200, top_n=50,
                      combination="geometric_mean").collect()
    scores = {r["doc_id"]: r["score"] for r in h}
    both = [r for r in searcher.search(qs[0], k=50).collect()
            if r["doc_id"] in {x["doc_id"]
                               for x in searcher.search(qs[1], k=50).collect()}]
    assert both, "fixture: need at least one doc matching both legs"
    for r in both:
        assert scores.get(r["doc_id"], 0.0) > 0.0, \
            f"doc {r['doc_id']} matched both legs but scored 0"


def test_from_dsl_fuzzy_transpositions_flag():
    """The DSL 'transpositions' option must reach the Fuzzy dataclass:
    false selects classic Levenshtein expansion, absent defaults to the
    reference's DEFAULT_TRANSPOSITIONS=true (Damerau)."""
    from opensearch_spark.search.queries import from_dsl

    q = from_dsl({"fuzzy": {"text": {
        "value": "psark", "fuzziness": 1, "transpositions": False}}})
    assert q.transpositions is False and q.fuzziness == 1
    assert from_dsl({"fuzzy": {"text": {"value": "psark"}}}).transpositions


def test_stored_scripts_registry():
    """_scripts API: put validates painless at put time (compile check,
    ScriptService.putStoredScript), get raises on unknown id, the DSL
    resolves {"id", "params"} with request-time params, and params are
    never stored."""
    import pytest

    from opensearch_spark.search.apis import (delete_stored_script,
                                              get_stored_script,
                                              put_stored_script)
    from opensearch_spark.search.queries import from_dsl

    # put-time compile failure (unterminated call) never lands in the store
    with pytest.raises(ValueError):
        put_stored_script("bad", "Math.sqrt(", lang="painless")
    with pytest.raises(KeyError):
        get_stored_script("bad")
    # params.X compiles at put time without bound values
    put_stored_script("t-boost", "_score * params.f", lang="painless")
    assert get_stored_script("t-boost") == {
        "lang": "painless", "source": "_score * params.f"}
    q = from_dsl({"script_score": {
        "query": {"match_all": {}},
        "script": {"id": "t-boost", "params": {"f": 2.5}}}})
    assert "2.5" in q.script  # request params inlined into the resolved source
    # missing id at request time surfaces as KeyError
    with pytest.raises(KeyError):
        from_dsl({"script_score": {"query": {"match_all": {}},
                                   "script": {"id": "nope"}}})
    delete_stored_script("t-boost")
    with pytest.raises(KeyError):
        get_stored_script("t-boost")


def test_completion_contexts_accept_non_string_plain_values(spark):
    """A plain context value that isn't a string (int category id) is a
    bare boost-1 context, not a subscript error."""
    from opensearch_spark.search import completion_suggest

    df = spark.createDataFrame(
        [("spark shell", 5, 1), ("spark sql", 9, 2)],
        "input string, weight int, cat int")
    out = completion_suggest(df, "spark", size=5, weight_col="weight",
                             context_col="cat", contexts=[1]).collect()
    assert [(r["suggestion"], r["weight"]) for r in out] == [
        ("spark shell", 5)]


def test_highlight_empty_terms_is_a_noop(spark):
    """No analyzed terms (e.g. all stopwords) → text unchanged, no
    zero-width tag spray at every word boundary."""
    from opensearch_spark.search import highlight_field
    from opensearch_spark.search.highlight import highlight_fragments

    df = spark.createDataFrame([("hello world",)], "text string")
    r = highlight_field(df, "text", []).first()
    assert r["highlight"] == "hello world"
    r2 = highlight_fragments(df, "text", []).first()
    assert r2["fragments"] == []


def test_fragment_never_consumes_a_truncated_match(spark):
    """A match whose text extends past the window end is not counted as
    covered — a later window must still render it whole."""
    from opensearch_spark.search.highlight import highlight_fragments

    text = "x" * 90 + " abcdefghij rest of the tail here abcdefghij end"
    df = spark.createDataFrame([(text,)], "text string")
    out = df
    rows = highlight_fragments(
        out, "text", ["abcdefghij"], fragment_size=100,
        number_of_fragments=3).first()["fragments"]
    # every selected fragment that contains the term shows it TAGGED whole
    assert any("<em>abcdefghij</em>" in f for f in rows)
    for f in rows:
        assert "abcdefghi" not in f.replace("<em>abcdefghij</em>", "")


def test_term_on_text_field_is_literal_unanalyzed(spark, sf_dir):
    """Reference TermQuery semantics on an analyzed field: the value is
    NOT analyzed — a single literal dictionary lookup. Regression: the
    old Term->Match rewrite analyzed the value (multi-token values
    silently became an OR; query and filter context disagreed because
    the filter path compared whole-document equality)."""
    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.search import Term, Terms

    s = get_searcher(spark, sf_dir)
    one = s.score(Term(field="text", value="spark")).count()
    assert one > 0
    # literal semantics: multi-word and cased values match nothing
    assert s.score(Term(field="text", value="spark table")).count() == 0
    assert s.score(Term(field="text", value="Spark")).count() == 0
    # filter context routes to the same postings lookup
    assert s.matching_docs(Term(field="text", value="spark")).count() == one
    # terms = constant-score union of literal postings
    t = s.matching_docs(Terms(field="text", values=["spark", "merge"]))
    assert t.count() >= one


def test_render_search_template_json_escapes(spark):
    """String params are JSON-escaped (quotes/backslashes can't break or
    inject structure); non-strings render as JSON literals, not Python
    reprs."""
    from opensearch_spark.search.apis import render_search_template

    body = render_search_template(
        '{"match": {"text": "{{q}}"}, "flag": {{b}}, "n": {{n}}}',
        {"q": 'say "hi" \\ there', "b": True, "n": 2.5})
    assert body["match"]["text"] == 'say "hi" \\ there'
    assert body["flag"] is True and body["n"] == 2.5


def test_query_string_question_mark_body_is_wildcard(spark):
    """te?t* must parse as a Wildcard ('?' = single-char wildcard), not a
    Prefix with a literal question mark."""
    from opensearch_spark.search.query_string import parse_query_string

    assert type(parse_query_string("te?t*")).__name__ == "Wildcard"


def test_function_score_script_only_honors_boost_modes(spark, sf_dir):
    """The script-only function_score branch applies q.boost and the full
    boost_mode algebra (max previously degraded silently to replace)."""
    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.search import FunctionScore, Match

    s = get_searcher(spark, sf_dir)
    base = {r["doc_id"]: r["score"]
            for r in s.score(Match(field="text", text="spark")).collect()}
    fs = FunctionScore(query=Match(field="text", text="spark"),
                       script="0.0", boost_mode="max", boost=2.0)
    out = {r["doc_id"]: r["score"] for r in s.score(fs).collect()}
    assert out.keys() == base.keys()
    for d, v in out.items():
        assert abs(v - 2.0 * max(base[d], 0.0)) < 1e-9


class TestRound4DslFixes:
    def test_boosts_parsed_for_previously_dropped_kinds(self):
        from opensearch_spark.search.queries import from_dsl

        assert from_dsl({"dis_max": {"queries": [
            {"term": {"lang": "en"}}], "boost": 3.0}}).boost == 3.0
        assert from_dsl({"span_near": {"clauses": [
            {"span_term": {"text": "a"}}, {"span_term": {"text": "b"}}],
            "boost": 2.5}}).boost == 2.5
        assert from_dsl({"exists": {"field": "lang",
                                    "boost": 2.0}}).boost == 2.0
        p = from_dsl({"prefix": {"text": {"value": "sp", "boost": 4.0,
                                          "max_expansions": 7}}})
        assert p.boost == 4.0 and p.max_expansions == 7

    def test_percentage_msm_and_auto_fuzziness_ranges(self):
        from opensearch_spark.search.queries import from_dsl

        m = from_dsl({"match": {"text": {
            "query": "a b c d", "minimum_should_match": "75%"}}})
        assert m.minimum_should_match == "75%"
        fz = from_dsl({"fuzzy": {"text": {"value": "spark",
                                          "fuzziness": "AUTO:3,6"}}})
        assert fz.fuzziness == 1  # len 5: 3 <= 5 < 6 -> one edit
        fz2 = from_dsl({"fuzzy": {"text": {"value": "sparkling",
                                           "fuzziness": "AUTO:3,6"}}})
        assert fz2.fuzziness == 2

    def test_percentage_msm_executes(self, spark, sf_dir):
        from opensearch_spark.entry_queries import get_searcher
        from opensearch_spark.search import queries as Q

        s = get_searcher(spark, sf_dir)
        # 4 distinct terms, 75% -> requires 3 (Lucene rounds down)
        q_pct = Q.Match(field="text", text="spark table merge sort",
                        minimum_should_match="75%")
        q_int = Q.Match(field="text", text="spark table merge sort",
                        minimum_should_match=3)
        a = {r["doc_id"] for r in s.search(q_pct, k=50).collect()}
        b = {r["doc_id"] for r in s.search(q_int, k=50).collect()}
        assert a == b and a

    def test_unsupported_forms_raise_not_silently_drop(self):
        from opensearch_spark.search.queries import from_dsl

        import pytest as _pt
        with _pt.raises(NotImplementedError, match="terms_set"):
            from_dsl({"terms_set": {"tags": {
                "terms": ["a", "b"],
                "minimum_should_match_script": {
                    "source": "params.num_required_matches"}}}})
        with _pt.raises(NotImplementedError, match="filter"):
            from_dsl({"function_score": {
                "query": {"match_all": {}},
                "functions": [{"filter": {"term": {"lang": "en"}},
                               "weight": 2.0}]}})
        with _pt.raises(NotImplementedError, match="span_containing"):
            from_dsl({"span_containing": {
                "big": {"span_near": {"clauses": [
                    {"span_term": {"text": "a"}},
                    {"span_term": {"text": "b"}},
                    {"span_term": {"text": "c"}}], "slop": 2}},
                "little": {"span_term": {"text": "x"}}}})

    def test_span_field_masking_alias_resolution(self):
        from opensearch_spark.search.queries import (SpanFieldMasking,
                                                     SpanNear,
                                                     resolve_field_aliases)

        q = SpanNear(field="text", clauses=[
            "a", SpanFieldMasking(inner_field="t_alias", value="b")])
        r = resolve_field_aliases(q, {"t_alias": "title"})
        assert r.clauses[1].inner_field == "title"

    def test_highlight_fragment_edges_do_not_fabricate_matches(self, spark):
        from opensearch_spark.search.highlight import highlight_fragments

        filler = "x " * 30
        text = f"blueberry {filler}berry pie"
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = highlight_fragments(df, "text", ["berry"],
                                  fragment_size=40).collect()[0]["fragments"]
        joined = " || ".join(out)
        assert "<em>berry</em> pie" in joined
        # the tail of 'blueberry' must never be tagged, even when a
        # fragment boundary slices through the word
        assert "blue<em>berry</em>" not in joined
