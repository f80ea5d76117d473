"""Round-2 operator tests: span algebra (sorted-merge enumerator vs brute
force, no-blowup on hot terms), sloppy phrase, intervals, multi_match
types, function_score functions, bounded expansion, phrase suggester,
query_string fixes."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from opensearch_spark.search import queries as Q
from opensearch_spark.search.query_string import parse_query_string
from opensearch_spark.search.spans import (
    _greedy_ordered, _unordered_exists,
)


# ---------------- greedy span enumerator vs brute force ----------------
def brute_ordered_starts(arrs, slop):
    """Count of clause-0 starts with ANY valid ordered chain in window."""
    n = len(arrs)
    count = 0
    for p0 in arrs[0]:
        found = False
        for combo in itertools.product(*[list(a) for a in arrs[1:]]):
            chain = [p0, *combo]
            if all(chain[i] > chain[i - 1] for i in range(1, n)) \
                    and chain[-1] - chain[0] - (n - 1) <= slop:
                found = True
                break
        if found:
            count += 1
    return count


def brute_unordered_exists(arr_needs, slop):
    """Any distinct-position assignment covering every clause label with
    its multiplicity within the slop window."""
    pools = []
    for a, need in arr_needs:
        pools.extend([list(a)] * need)
    n = len(pools)
    for combo in itertools.product(*pools):
        if len(set(combo)) != n:
            continue
        if max(combo) - min(combo) - (n - 1) <= slop:
            return True
    return False


@pytest.mark.parametrize("seed", range(20))
def test_greedy_ordered_matches_brute_force(seed):
    rng = np.random.default_rng(seed)
    n_clauses = int(rng.integers(2, 4))
    arrs = [np.unique(rng.integers(0, 30, size=rng.integers(1, 8)))
            for _ in range(n_clauses)]
    slop = int(rng.integers(0, 6))
    assert _greedy_ordered(arrs, slop) == brute_ordered_starts(arrs, slop)


@pytest.mark.parametrize("seed", range(20))
def test_unordered_window_matches_brute_force(seed):
    rng = np.random.default_rng(seed)
    a = np.unique(rng.integers(0, 25, size=rng.integers(1, 6)))
    b = np.unique(rng.integers(0, 25, size=rng.integers(1, 6)))
    slop = int(rng.integers(0, 5))
    got = _unordered_exists([(a, 1), (b, 1)], slop)
    want = brute_unordered_exists([(a, 1), (b, 1)], slop)
    assert got == want


def test_unordered_duplicate_clause_needs_two_positions():
    # clauses ['x','x']: one occurrence cannot satisfy both
    a = np.array([5])
    assert not _unordered_exists([(a, 2)], 10)
    b = np.array([5, 6])
    assert _unordered_exists([(b, 2)], 0)


# ---------------- engine span paths over the corpus ----------------
@pytest.fixture(scope="module")
def searcher(spark, sf_dir):
    from opensearch_spark.entry_queries import get_searcher

    return get_searcher(spark, sf_dir)


def test_span_near_no_position_cartesian(searcher, distributed_wand):
    """Hot term × long doc must not blow up: the distributed plan is one
    doc_id repartition feeding a batched MapInPandas (doc groups stitched
    inside batches) — no join of two exploded position streams (the
    round-1 cartesian shape), no per-group pandas overhead. The driver
    leg runs the same merge and returns a JVM-local relation."""
    q = Q.SpanNear(field="text", clauses=["spark", "table", "merge"],
                   slop=5, in_order=True)
    with distributed_wand():
        df = searcher.score(q)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoop" not in plan
    driver = searcher.score(q)._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in driver and "MapInPandas" not in driver
    assert sorted(searcher.score(q).collect()) == sorted(df.collect())


def test_span_near_matches_python_reference(searcher, spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").collect()
    want = set()
    for r in docs:
        toks = r["text"].split()
        a = np.array([i for i, t in enumerate(toks) if t == "spark"])
        b = np.array([i for i, t in enumerate(toks) if t == "table"])
        c = np.array([i for i, t in enumerate(toks) if t == "merge"])
        if len(a) and len(b) and len(c) \
                and brute_ordered_starts([a, b, c], 5) > 0:
            want.add(r["doc_id"])
    got = {r["doc_id"] for r in searcher.score(
        Q.SpanNear(field="text", clauses=["spark", "table", "merge"],
                   slop=5, in_order=True)).collect()}
    assert got == want


def test_phrase_slop_zero_equals_exact_path(searcher):
    exact = searcher.score(Q.MatchPhrase(field="text", text="spark table"))
    sloppy = searcher._phrase_sloppy(
        Q.MatchPhrase(field="text", text="spark table", slop=0),
        ["spark", "table"])
    e = {(r["doc_id"], round(r["score"], 6)) for r in exact.collect()}
    s = {(r["doc_id"], round(r["score"], 6)) for r in sloppy.collect()}
    assert e == s


def test_sloppy_freq_weighting_pinned():
    """Lucene sloppy-freq: each in-window greedy-chain match contributes
    1/(1+matchLength) — adjacency weighs 1.0, gap g weighs 1/(1+g)."""
    from opensearch_spark.search.spans import _doc_sloppy_freq

    # one adjacent match (gap 0) + one gap-2 match, slop=2
    a = np.array([0, 10])
    b = np.array([1, 13])
    assert _doc_sloppy_freq([a, b], 2) == pytest.approx(1.0 + 1.0 / 3.0)
    # out-of-window chain contributes nothing
    assert _doc_sloppy_freq([np.array([0]), np.array([5])], 2) == 0.0
    # missing clause → 0
    assert _doc_sloppy_freq([a, None], 2) == 0.0
    # 3-term chain 0,2,3: matchLength = 3-0-2 = 1 → 1/2
    assert _doc_sloppy_freq(
        [np.array([0]), np.array([2]), np.array([3])], 2) \
        == pytest.approx(0.5)


def test_phrase_slop_widens_match_set(searcher):
    s0 = {r["doc_id"] for r in searcher.score(
        Q.MatchPhrase(field="text", text="spark table")).collect()}
    s3 = {r["doc_id"] for r in searcher.score(
        Q.MatchPhrase(field="text", text="spark table", slop=3)).collect()}
    assert s0 <= s3


def test_positions_guard_raises_without_positions(spark, sf_dir, tmp_path):
    from opensearch_spark.index.build import IndexConfig, build_index
    from opensearch_spark.search import Searcher

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    idx = build_index(spark, corpus, str(tmp_path / "nopos"),
                      IndexConfig(field="text", analyzer="standard",
                                  id_col="doc_id", n_parts=2,
                                  with_positions=False))
    s = Searcher(spark, idx)
    with pytest.raises(ValueError, match="without positions"):
        s.score(Q.MatchPhrase(field="text", text="spark table"))
    with pytest.raises(ValueError, match="without positions"):
        s.score(Q.SpanNear(field="text", clauses=["spark", "table"], slop=1))


# ---------------- bounded multi-term expansion ----------------
def test_expansion_cap_keeps_top_df(searcher):
    all_terms = searcher.expand_terms(Q.Prefix(field="text", value=""))
    if len(all_terms) < 3:
        pytest.skip("vocabulary too small")
    capped = searcher.expand_terms(
        Q.Prefix(field="text", value="", max_expansions=2))
    assert len(capped) == 2
    dfs = searcher.term_dfs(all_terms)
    top2 = sorted(all_terms, key=lambda t: (-dfs[t], t))[:2]
    assert sorted(capped) == sorted(top2)


def test_expansion_spark_path_has_limit(spark, sf_dir, searcher):
    """The non-preloaded (scale) path must bound the collect inside the
    plan — no unbounded driver expansion."""
    from opensearch_spark.search import Searcher

    s2 = Searcher(spark, searcher.index, preload_dictionary=False)
    capped = s2.expand_terms(Q.Wildcard(field="text", value="*", max_expansions=3))
    assert len(capped) == 3


# ---------------- function_score functions ----------------
def test_function_score_field_value_factor(searcher, spark):
    q = Q.FunctionScore(
        query=Q.MatchAll(),
        functions=[Q.ScoreFunction(kind="field_value_factor", field="n_chars",
                                   factor=2.0, modifier="sqrt", weight=3.0)],
        boost_mode="replace")
    out = {r["doc_id"]: r["score"] for r in searcher.score(q).limit(500).collect()}
    docs = {r["doc_id"]: r["n_chars"]
            for r in searcher.index.docs(spark).select("doc_id", "n_chars").collect()}
    for did, sc in list(out.items())[:20]:
        assert abs(sc - 3.0 * np.sqrt(2.0 * docs[did])) < 1e-9


def test_function_score_random_deterministic(searcher):
    q = Q.FunctionScore(
        query=Q.MatchAll(),
        functions=[Q.ScoreFunction(kind="random_score", seed=7)],
        boost_mode="replace")
    a = sorted((r["doc_id"], r["score"]) for r in searcher.score(q).collect())
    b = sorted((r["doc_id"], r["score"]) for r in searcher.score(q).collect())
    assert a == b
    for did, sc in a[:50]:
        assert sc == pytest.approx(((did * 48271 + 7) % 2147483647) / 2147483647.0)


def test_function_score_decay_modes(searcher):
    import math

    for kind in ("gauss", "linear", "exp"):
        q = Q.FunctionScore(
            query=Q.MatchAll(),
            functions=[Q.ScoreFunction(kind=kind, field="n_chars",
                                       origin=200.0, scale=100.0,
                                       offset=5.0, decay=0.5)],
            boost_mode="replace")
        rows = searcher.score(q).limit(100).collect()
        assert rows
        for r in rows:
            assert 0.0 <= r["score"] <= 1.0 + 1e-12
    # spot-check gauss math at origin → 1.0
    qg = Q.FunctionScore(
        query=Q.MatchAll(),
        functions=[Q.ScoreFunction(kind="gauss", field="doc_id",
                                   origin=0.0, scale=10.0, decay=0.5)],
        boost_mode="replace")
    sc = {r["doc_id"]: r["score"] for r in searcher.score(qg).collect()}
    assert sc[0] == pytest.approx(1.0)
    sigma2 = -(10.0 ** 2) / (2.0 * math.log(0.5))
    assert sc[5] == pytest.approx(math.exp(-25.0 / (2 * sigma2)))


def test_function_score_modes_combine(searcher):
    q = Q.FunctionScore(
        query=Q.Match(field="text", text="spark"),
        functions=[
            Q.ScoreFunction(kind="field_value_factor", field="n_chars",
                            factor=1.0, modifier="none"),
            Q.ScoreFunction(kind="field_value_factor", field="n_chars",
                            factor=2.0, modifier="none"),
        ],
        score_mode="max", boost_mode="sum")
    base = {r["doc_id"]: r["score"]
            for r in searcher.score(Q.Match(field="text", text="spark")).collect()}
    docs = {r["doc_id"]: r["n_chars"] for r in
            searcher.index.docs(searcher.spark).select("doc_id", "n_chars").collect()}
    out = {r["doc_id"]: r["score"] for r in searcher.score(q).collect()}
    for did in list(out)[:20]:
        assert out[did] == pytest.approx(base[did] + 2.0 * docs[did])


# ---------------- multi_match types ----------------
def test_multi_match_cross_fields_sums_term_dismax(searcher):
    out = searcher.score(Q.MultiMatch(
        fields=["text", "title"], text="spark merge", type="cross_fields",
        tie_breaker=0.0))
    rows = out.collect()
    assert rows
    # tie 0 → per-term max; any doc matching in text only must equal its
    # per-term text score sum
    assert all(r["score"] > 0 for r in rows)


def test_multi_match_phrase_prefix_and_bool_prefix_types(searcher):
    for t in ("phrase_prefix", "bool_prefix"):
        rows = searcher.score(Q.MultiMatch(
            fields=["text", "title"], text="spark ta", type=t)).collect()
        assert rows, t


# ---------------- query_string fixes ----------------
def test_qs_trailing_whitespace_ok():
    ast = parse_query_string("spark table ", default_field="f")
    assert isinstance(ast, Q.Bool)
    ast2 = parse_query_string("  spark  ", default_field="f")
    assert ast2 == Q.Match(field="f", text="spark")


def test_qs_and_binds_adjacent_pair_only():
    ast = parse_query_string("a AND b c", default_field="f")
    assert isinstance(ast, Q.Bool)
    assert {m.text for m in ast.must} == {"a", "b"}
    assert {s.text for s in ast.should} == {"c"}


# ---------------- phrase suggester ----------------
def test_phrase_suggest_corrects_both_tokens(searcher):
    from opensearch_spark.search import phrase_suggest

    out = phrase_suggest(searcher, "sparc tabl", size=3).collect()
    assert out
    top = [r["suggestion"] for r in out]
    assert any(s.startswith("spark ") for s in top)


def test_phrase_suggest_requires_two_tokens(searcher):
    from opensearch_spark.search import phrase_suggest

    with pytest.raises(ValueError):
        phrase_suggest(searcher, "only", size=3)


def test_phrase_suggest_lattice_charges_breaker(searcher):
    """The num_candidates^n combination lattice must trip the request
    circuit breaker when a caller blows up the defaults, instead of
    accumulating driver memory (VERDICT r3 cosmetic #4, now enforced)."""
    from opensearch_spark.common.breaker import CircuitBreakingException
    from opensearch_spark.search import phrase_suggest

    with pytest.raises(CircuitBreakingException):
        phrase_suggest(searcher, "sparc tabl merge sort windo batc",
                       num_candidates=5000)


# ---------------- materialized ANN index ----------------
@pytest.fixture(scope="module")
def ann_index(spark, sf_dir, tmp_path_factory):
    from opensearch_spark.ml.similarity import AnnIndex

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = str(tmp_path_factory.mktemp("ann") / "idx")
    return AnnIndex.build(emb, out, n_planes=6, n_centroids=8)


def test_ann_index_prunes_partitions(ann_index, spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 2).first()["embedding"]]
    df = ann_index.ivf_topk(spark, qv, k=5, nprobe=2, exclude_id=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_c" in plan.split("PartitionFilters")[1][:200]


def test_ann_index_lsh_recall(ann_index, spark, sf_dir):
    from opensearch_spark.ml import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    exact = {r["vec_id"] for r in S.cosine_topk(emb, qv, k=10, exclude_id=0).collect()}
    approx = {r["vec_id"] for r in
              ann_index.lsh_topk(spark, qv, k=10, multiprobe=2, exclude_id=0).collect()}
    assert len(exact & approx) / 10.0 >= 0.5


def test_ann_index_matches_inline_ivf_full_probe(ann_index, spark, sf_dir):
    from opensearch_spark.ml import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 1).first()["embedding"]]
    exact = [r["vec_id"] for r in S.cosine_topk(emb, qv, k=5, exclude_id=1).collect()]
    allprobe = [r["vec_id"] for r in
                ann_index.ivf_topk(spark, qv, k=5, nprobe=8, exclude_id=1).collect()]
    assert exact == allprobe


def test_kmeanspp_deterministic(spark, sf_dir):
    from opensearch_spark.ml.similarity import kmeanspp_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    a = kmeanspp_centroids(emb, n_centroids=4, n_iters=1)
    b = kmeanspp_centroids(emb, n_centroids=4, n_iters=1)
    assert a == b
    assert len(a) == 4 and len({tuple(c) for c in a}) == 4


# ---------------- WAND over the buffer cap ----------------
def test_wand_streaming_fallback_identical(searcher, monkeypatch,
                                          distributed_wand):
    """With the buffer cap forced tiny, the driver's block set and every
    distributed partition are scored as many frames (each its complete
    buckets, θ carried across frames) — results must still equal the
    exhaustive oracle in rank order (strict bounds prune identically)."""
    from opensearch_spark.search import wand as wand_mod

    q = Q.Match(field="text", text="spark table merge")
    exh = searcher.search(q, k=10, mode="exhaustive", round_scores=4).collect()
    monkeypatch.setattr(wand_mod, "MAX_BUFFER_ROWS", 2)
    got = searcher.search(q, k=10, mode="wand", round_scores=4).collect()
    with distributed_wand():
        dist = searcher.search(q, k=10, mode="wand",
                               round_scores=4).collect()
    assert [(r["doc_id"], r["score"]) for r in got] == \
           [(r["doc_id"], r["score"]) for r in dist] == \
           [(r["doc_id"], r["score"]) for r in exh]


# ---------------- segment-merge build path ----------------
def test_segment_merge_blocks_identical_to_row_path(spark, sf_dir):
    """Both inputs of the segment-merge encoder (per-doc arrays, as
    build_index feeds it, and flat posting rows, as merge_segments feeds
    it) must produce block rows bit-identical to the per-group reference
    ``codec.make_blocks`` over the collected flat postings."""
    from collections import defaultdict

    import numpy as np

    from opensearch_spark.analysis import termfreq_udf
    from opensearch_spark.index.build import (encode_blocks_flat,
                                              encode_blocks_segmented)
    from opensearch_spark.index.codec import make_blocks

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet")
    analyzed = corpus.withColumn(
        "_tf", termfreq_udf("standard", False)(F.col("text"))).persist()
    row = analyzed.agg(F.count("*").alias("n"), F.sum("_tf.dl").alias("s")).collect()[0]
    avgdl = row["s"] / row["n"]
    flat = analyzed.select(
        "doc_id", F.col("_tf.dl").alias("dl"),
        F.explode(F.expr("arrays_zip(_tf.terms, _tf.tfs)")).alias("z"),
    ).select(F.col("z.terms").alias("term"), "doc_id",
             F.col("z.tfs").cast("long").alias("tf"), "dl")
    span, k1, b = 1 << 9, 1.2, 0.75

    groups = defaultdict(list)
    for r in flat.collect():
        groups[(r["term"], r["doc_id"] // span)].append(
            (r["doc_id"], r["tf"], r["dl"]))
    expected = []
    for (term, bucket), posts in groups.items():
        d, tf, dl = (np.array(c, dtype=np.int64) for c in zip(*posts))
        tf64 = tf.astype(np.float64)
        imp = tf64 / (tf64 + k1 * (1.0 - b + b * dl.astype(np.float64) / avgdl))
        expected += [(term, bucket) + r for r in make_blocks(d, tf, imp, dls=dl)]
    expected = sorted(e[:7] + (round(e[7], 10),) + e[8:] for e in expected)

    def norm(rows):
        return sorted(
            (r["term"], r["bucket"], r["block_seq"], r["first_doc"], r["last_doc"],
             r["n"], r["max_tf"], round(r["max_impact"], 10),
             bytes(r["docs_vb"]), bytes(r["tfs_vb"]), bytes(r["dls_vb"]))
            for r in rows)

    per_doc = encode_blocks_segmented(analyzed, span, k1, b, avgdl, 8).collect()
    flat_rows = encode_blocks_flat(flat, span, k1, b, avgdl, 8).collect()
    assert len(expected) > len(groups) > 0
    assert norm(per_doc) == expected
    assert norm(flat_rows) == expected
    analyzed.unpersist()


# ---------------- span_containing / span_within / span_multi ----------------
def test_span_containing_matches_brute(searcher, spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text").collect()
    slop = 4
    want = set()
    for r in docs:
        toks = r["text"].split()
        A = [i for i, t in enumerate(toks) if t == "spark"]
        B = [i for i, t in enumerate(toks) if t == "merge"]
        C = [i for i, t in enumerate(toks) if t == "table"]
        if any(pa < pb <= pa + 1 + slop and pa <= pc <= pb
               for pa in A for pb in B for pc in C):
            want.add(r["doc_id"])
    got = {r["doc_id"] for r in searcher.score(
        Q.SpanContaining(field="text", big=("spark", "merge"),
                         slop=slop, little="table")).collect()}
    assert got == want


def test_span_multi_equals_prefix_docs(searcher):
    sm = {r["doc_id"] for r in searcher.score(
        Q.SpanMulti(field="text", match=Q.Prefix(field="text", value="sp"))).collect()}
    pf = {r["doc_id"] for r in searcher.score(
        Q.Prefix(field="text", value="sp")).collect()}
    assert sm == pf


def test_dfr_ib_scripted_positive_and_deterministic(searcher):
    q = Q.Match(field="text", text="spark table")
    for fn in (lambda: searcher.score_dfr(q),
               lambda: searcher.score_ib(q),
               lambda: searcher.score_scripted_similarity(
                   q, "tf * ln(1.0 + N / (df + 1.0))")):
        a = sorted((r["doc_id"], round(r["score"], 9)) for r in fn().collect())
        b = sorted((r["doc_id"], round(r["score"], 9)) for r in fn().collect())
        assert a == b and len(a) > 0
        assert all(s > 0 for _, s in a)


def test_similarity_boost_applied_once(searcher):
    """Every built-in similarity (BM25, LM, DFR, IB, DFI) multiplies by the
    query boost exactly once; a scripted expression is evaluated as
    written, so boost leaves it unchanged. Two terms per doc at most, so
    the per-doc sums are exact and doubling is bit-exact."""
    def scores(fn, boost):
        q = Q.Match(field="text", text="spark table", boost=boost)
        return dict((r["doc_id"], r["score"]) for r in fn(q).collect())

    for fn in (searcher.score, searcher.score_lm_dirichlet,
               searcher.score_lm_jelinek_mercer, searcher.score_dfr,
               searcher.score_ib, searcher.score_dfi):
        one, two = scores(fn, 1.0), scores(fn, 2.0)
        assert one and two == {d: 2.0 * v for d, v in one.items()}

    def scripted(q):
        return searcher.score_scripted_similarity(
            q, "tf * ln(1.0 + N / (df + 1.0))")
    assert scores(scripted, 2.0) == scores(scripted, 1.0)


def test_dfi_zeroes_at_or_below_expectation(searcher):
    """DFI: a matching doc whose every term sits at or below its
    independence expectation scores exactly 0 (still matches); others
    score log2(chi2 + 1) > 0. Verified against a per-doc recompute."""
    q = Q.Match(field="text", text="spark table")
    got = {r["doc_id"]: r["score"] for r in searcher.score_dfi(q).collect()}
    assert got, "query must match"
    docs = searcher.index.docs(searcher.spark).select("doc_id", "text", "dl")
    rows = docs.collect()
    toks_by_doc = {r["doc_id"]: r["text"].lower().split() for r in rows}
    dl_by_doc = {r["doc_id"]: r["dl"] for r in rows}
    N = len(rows)
    sum_dl = sum(dl_by_doc.values())
    import math
    for term in ("spark", "table"):
        cf = sum(t.count(term) for t in toks_by_doc.values())
        for doc_id, toks in toks_by_doc.items():
            tf = toks.count(term)
            if not tf:
                continue
            e = (cf + 1.0) * dl_by_doc[doc_id] / (sum_dl + 1.0)
            want = 0.0 if tf <= e else math.log2((tf - e) ** 2 / e + 1.0)
            assert doc_id in got
            got[doc_id] -= want
    assert all(abs(v) < 1e-6 for v in got.values())


# ---------------- dedup clustering / knn join / pii / frames ----------------
def test_dup_clusters_matches_networkx_free_reference(spark):
    from opensearch_spark.ml.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (8, 9), (9, 10), (10, 11)], "a long, b long")
    out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 8, 9: 8, 10: 8, 11: 8}


def test_dup_clusters_long_chain_converges(spark):
    from opensearch_spark.ml.dedup import dup_clusters

    n = 40  # path graph: worst diameter case for label propagation
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], "a long, b long")
    out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert set(out.values()) == {0} and len(out) == n + 1


def test_knn_join_lsh_recall(spark, sf_dir):
    from opensearch_spark.ml import similarity as S

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(200)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             S.knn_join_exact(emb.where(F.col("vec_id") < 20), emb, k=3).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              S.knn_join_lsh(emb, k=3, n_planes=4).collect()
              if r["query_id"] < 20}
    assert len(exact & approx) / max(len(exact), 1) >= 0.4


def test_pii_scrub_patterns(spark):
    from opensearch_spark.ml.textstats import pii_scrub

    df = spark.createDataFrame(
        [(0, "write to bob@corp.io or 10.1.2.3 or +44 1234 567890 now"),
         (1, "clean text only")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_pii"], r["clean_text"]) for r in
           pii_scrub(df, "text").collect()}
    assert out[0][0] == 3
    assert "@" not in out[0][1] and "10.1.2.3" not in out[0][1]
    assert out[1] == (0, "clean text only")


def test_frame_signatures_deterministic(spark):
    import hashlib

    from opensearch_spark.ml.multimodal import frame_signatures

    payload = b"x" * 200
    df = spark.createDataFrame([(0, payload)], "doc_id long, payload binary")
    rows = frame_signatures(df, frame_bytes=64, every_n=1).collect()
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    assert rows[0]["frame_sig"] == hashlib.md5(payload[0:64]).hexdigest()


def test_intervals_prefix_rule(searcher):
    got = {r["doc_id"] for r in searcher.score(
        Q.Intervals(field="text", text="spark ta", max_gaps=1,
                    ordered=True, last_prefix=True)).collect()}
    plain = {r["doc_id"] for r in searcher.score(
        Q.Intervals(field="text", text="spark table", max_gaps=1,
                    ordered=True)).collect()}
    assert plain <= got  # 'table' is one completion of 'ta'


# ---------------- streaming stateful dedup ----------------
def test_streaming_dedup_across_microbatches(spark, tmp_path):
    import time

    from opensearch_spark.streaming.state import streaming_dedup

    src = str(tmp_path / "src")
    out_tbl = "dedup_out_" + str(abs(hash(str(tmp_path))) % 10**8)
    os_mk = __import__("os").makedirs
    os_mk(src, exist_ok=True)
    # batch 1: two docs, one duplicate pair
    spark.createDataFrame(
        [(0, "aaa"), (1, "bbb"), (2, "aaa")], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src + "/b1")
    # batch 2: repeats 'aaa' and 'bbb', adds 'ccc'
    spark.createDataFrame(
        [(3, "aaa"), (4, "ccc"), (5, "bbb")], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(src + "/b2")

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(src + "/b*"))
    q = (streaming_dedup(stream).writeStream.format("memory")
         .queryName(out_tbl).outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            q.processAllAvailable()
            rows = spark.sql(f"SELECT * FROM {out_tbl}").collect()
            if len(rows) >= 3:
                break
            time.sleep(1)
    finally:
        q.stop()
    got = {r["doc_id"] for r in spark.sql(f"SELECT * FROM {out_tbl}").collect()}
    # one emission per distinct content; first-seen doc wins within a batch
    assert len(got) == 3
    assert 4 in got                      # 'ccc'
    assert got & {0, 2} and got & {1, 5}


# ---------------- DSL parse layer for round-2 operators ----------------
def test_from_dsl_round2_kinds():
    from opensearch_spark.search import from_dsl

    q = from_dsl({"span_first": {"match": {"span_term": {"text": "spark"}}, "end": 2}})
    assert q.__class__.__name__ == "SpanFirst" and q.end == 2
    q = from_dsl({"span_or": {"clauses": [
        {"span_term": {"text": "a"}}, {"span_term": {"text": "b"}}]}})
    assert q.values == ["a", "b"]
    q = from_dsl({"span_not": {"include": {"span_term": {"text": "a"}},
                               "exclude": {"span_term": {"text": "b"}},
                               "post": 1}})
    assert (q.include, q.exclude, q.pre, q.post) == ("a", "b", 0, 1)
    q = from_dsl({"span_near": {"clauses": [
        {"span_term": {"text": "a"}},
        {"span_or": {"clauses": [{"span_term": {"text": "b"}},
                                 {"span_term": {"text": "c"}}]}}],
        "slop": 3}})
    assert q.clauses == ["a", ["b", "c"]] and q.slop == 3
    q = from_dsl({"span_multi": {"match": {"prefix": {"text": "sp"}}}})
    assert q.__class__.__name__ == "SpanMulti" and q.match.value == "sp"
    q = from_dsl({"span_containing": {
        "big": {"span_near": {"clauses": [{"span_term": {"text": "a"}},
                                          {"span_term": {"text": "b"}}],
                              "slop": 4}},
        "little": {"span_term": {"text": "c"}}}})
    assert q.big == ("a", "b") and q.slop == 4 and q.little == "c"
    q = from_dsl({"intervals": {"text": {"match": {
        "query": "a b", "max_gaps": 2, "ordered": True}}}})
    assert q.max_gaps == 2 and q.ordered
    q = from_dsl({"function_score": {
        "query": {"match_all": {}},
        "functions": [
            {"field_value_factor": {"field": "n", "factor": 2.0,
                                    "modifier": "sqrt"}},
            {"random_score": {"seed": 9}, "weight": 0.5},
            {"gauss": {"n": {"origin": 10, "scale": 5, "decay": 0.5}}},
        ],
        "score_mode": "sum", "boost_mode": "multiply"}})
    kinds = [f.kind for f in q.functions]
    assert kinds == ["field_value_factor", "random_score", "gauss"]
    assert q.functions[1].weight == 0.5 and q.score_mode == "sum"


def test_from_dsl_multi_match_types():
    from opensearch_spark.search import from_dsl

    q = from_dsl({"multi_match": {"query": "a b", "fields": ["x", "y"],
                                  "type": "cross_fields", "tie_breaker": 0.3}})
    assert q.type == "cross_fields" and q.tie_breaker == 0.3


def test_intervals_wildcard_rule_matches_prefix(searcher):
    """last_rule='wildcard' with 'ta*' ≡ last_prefix with 'ta'."""
    import opensearch_spark.search.queries as Q
    a = searcher.score(Q.Intervals(field="text", text="spark ta", max_gaps=1,
                                   ordered=True, last_prefix=True))
    b = searcher.score(Q.Intervals(field="text", text="spark ta*", max_gaps=1,
                                   ordered=True, last_rule="wildcard"))
    assert ({r["doc_id"] for r in a.collect()}
            == {r["doc_id"] for r in b.collect()})


def test_intervals_unknown_rule_raises(searcher):
    import opensearch_spark.search.queries as Q
    import pytest
    with pytest.raises(ValueError):
        searcher.score(Q.Intervals(field="text", text="spark ta",
                                   last_rule="regexp_nope"))


# ---------------- field_masking_span ----------------
def test_field_masking_span_restricts_to_sibling_positions(spark, sf_dir):
    """The masked clause must read the SIBLING field's positions: a doc
    whose 'spark' occurs only past the 8-token title prefix matches the
    plain span_near but NOT the masked one (title has no such position)."""
    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.search import SpanFieldMasking, SpanNear

    s = get_searcher(spark, sf_dir)
    plain = {r["doc_id"] for r in s.score(SpanNear(
        field="text", clauses=["spark", "table"],
        slop=5, in_order=True)).collect()}
    masked = {r["doc_id"] for r in s.score(SpanNear(
        field="text",
        clauses=[SpanFieldMasking(inner_field="title", value="spark"),
                 "table"],
        slop=5, in_order=True)).collect()}
    assert masked <= plain
    # the mask is a real constraint on this corpus (title = first 8
    # tokens): at least one plain match has its 'spark' beyond the title
    assert masked != plain, "mask did not restrict anything — fixture too weak"


# ---------------- fuzzy transpositions (Damerau-Levenshtein) ----------------
def test_damerau_leq_matches_duckdb():
    """The engine's true-DL accept test computes the identical function
    DuckDB's damerau_levenshtein does (the oracle contract depends on
    this), including the Lowrance-Wagner edge cases OSA gets wrong."""
    import random

    import duckdb

    from opensearch_spark.search.executor import _damerau_leq

    con = duckdb.connect()
    random.seed(7)
    pairs = [("".join(random.choices("abcd", k=random.randint(0, 6))),
              "".join(random.choices("abcd", k=random.randint(0, 6))))
             for _ in range(1000)]
    pairs += [("ca", "abc"), ("psark", "spark"), ("", "abc"), ("", "")]
    for a, b in pairs:
        dl = con.sql(
            "SELECT damerau_levenshtein(?, ?)", params=[a, b]).fetchone()[0]
        for lim in range(0, 4):
            assert _damerau_leq(a, b, lim) == (dl <= lim), (a, b, lim)


def test_fuzzy_transpositions_both_expansion_paths(spark, searcher):
    """transpositions=True reaches 'spark' from 'psark' at 1 edit on BOTH
    the preloaded and the Spark-side dictionary paths; classic
    Levenshtein (transpositions=False) cannot."""
    from opensearch_spark.search import Searcher

    q_t = Q.Fuzzy(field="text", value="psark", fuzziness=1)
    q_c = Q.Fuzzy(field="text", value="psark", fuzziness=1,
                  transpositions=False)
    local_t = searcher.expand_terms(q_t)
    assert "spark" in local_t
    assert "spark" not in searcher.expand_terms(q_c)
    s2 = Searcher(spark, searcher.index, preload_dictionary=False)
    assert s2.expand_terms(q_t) == local_t
    assert s2.expand_terms(q_c) == searcher.expand_terms(q_c)


# ---------------- span_gap ----------------
def brute_ordered_starts_gaps(arrs, slop, gaps):
    """Brute-force count of clause-0 starts with ANY ordered chain where
    clause j sits >= gaps[j] + 1 after clause j-1 and the extra distance
    beyond (n-1) + sum(gaps) fits the slop."""
    n = len(arrs)
    total_gap = sum(gaps)
    count = 0
    for p0 in arrs[0]:
        found = False
        for combo in itertools.product(*[list(a) for a in arrs[1:]]):
            chain = [p0, *combo]
            if all(chain[j] >= chain[j - 1] + 1 + gaps[j] for j in range(1, n)) \
                    and chain[-1] - chain[0] - (n - 1) - total_gap <= slop:
                found = True
                break
        if found:
            count += 1
    return count


def test_greedy_ordered_gaps_vs_brute_force():
    rng = np.random.default_rng(7)
    for _ in range(200):
        n = int(rng.integers(2, 4))
        arrs = [np.unique(rng.integers(0, 30, size=rng.integers(1, 8)))
                for _ in range(n)]
        gaps = [0] + [int(rng.integers(0, 4)) for _ in range(n - 1)]
        slop = int(rng.integers(0, 6))
        assert _greedy_ordered(arrs, slop, gaps) == \
            brute_ordered_starts_gaps(arrs, slop, gaps)


def test_greedy_ordered_gaps_none_equals_zero_gaps():
    arrs = [np.array([1, 5, 9]), np.array([3, 7, 11])]
    assert _greedy_ordered(arrs, 2, None) == _greedy_ordered(arrs, 2, [0, 0])


def test_span_gap_exact_offset(searcher):
    """[a, gap(w), b] slop=0 requires pos(b) == pos(a) + 1 + w exactly."""
    from opensearch_spark.search.spans import span_match_counts

    got = span_match_counts(searcher, ["spark", Q.SpanGap(width=1), "table"],
                            0, True).collect()
    # oracle via the positions table
    pos = searcher.index.positions(searcher.spark)
    a = pos.where(F.col("term") == "spark") \
           .select("doc_id", F.explode("positions").alias("pa"))
    b = pos.where(F.col("term") == "table") \
           .select("doc_id", F.explode("positions").alias("pb"))
    want = {r.doc_id for r in
            a.join(b, "doc_id").where(F.col("pb") == F.col("pa") + 2)
            .select("doc_id").distinct().collect()}
    assert {r.doc_id for r in got} == want


def test_span_gap_validation(searcher):
    from opensearch_spark.search.spans import span_match_counts

    with pytest.raises(ValueError, match="between two real clauses"):
        span_match_counts(searcher, [Q.SpanGap(1), "spark", "table"], 0, True)
    with pytest.raises(ValueError, match="between two real clauses"):
        span_match_counts(searcher, ["spark", "table", Q.SpanGap(1)], 0, True)
    with pytest.raises(ValueError, match="in_order"):
        span_match_counts(searcher, ["spark", Q.SpanGap(1), "table"], 0, False)


def test_span_gap_dsl_parse():
    q = Q.from_dsl({"span_near": {"clauses": [
        {"span_term": {"text": "spark"}},
        {"span_gap": {"text": 2}},
        {"span_term": {"text": "table"}}], "slop": 1}})
    assert isinstance(q, Q.SpanNear)
    assert q.clauses[0] == "spark" and q.clauses[2] == "table"
    assert isinstance(q.clauses[1], Q.SpanGap) and q.clauses[1].width == 2


# ------------- randomized query_string render -> parse round-trip -------------
def test_query_string_randomized_roundtrip_match_sets(spark, sf_dir):
    """Seeded randomized parser check: generate a random boolean query
    AST (terms, quoted phrases, field-scoped keyword terms, NOT,
    AND/OR with parentheses), render it to classic query_string syntax,
    parse the string, and compare MATCH SETS of the parsed vs the
    directly-constructed query on the real corpus. The executor is the
    same on both sides — this isolates the parser (lexing, precedence,
    grouping, field scoping), the r4 bug-fix surface."""
    import random

    from opensearch_spark.entry_queries import get_searcher

    s = get_searcher(spark, sf_dir)
    rng = random.Random(0x9A55)
    words = ["spark", "merge", "table", "query", "index", "vector"]
    langs = ["en", "fr", "de"]

    def leaf():
        k = rng.random()
        if k < 0.5:
            w = rng.choice(words)
            return w, Q.Match("text", w)
        if k < 0.7:
            a, b = rng.choice(words), rng.choice(words)
            return f'"{a} {b}"', Q.MatchPhrase("text", f"{a} {b}")
        lang = rng.choice(langs)
        return f"lang:{lang}", Q.Term("lang", lang)

    def tree(depth):
        if depth == 0 or rng.random() < 0.45:
            return leaf()
        op = rng.choice(["AND", "OR"])
        a_src, a_q = tree(depth - 1)
        b_src, b_q = tree(depth - 1)
        if rng.random() < 0.3:
            b_src, b_q = f"(NOT {b_src})", Q.Bool(must_not=[b_q])
        src = f"({a_src} {op} {b_src})"
        if op == "AND":
            return src, Q.Bool(must=[a_q, b_q])
        return src, Q.Bool(should=[a_q, b_q])

    for case in range(30):  # 30 trees ≈ 50 s; diminishing returns past that
        src, expected = tree(2)
        parsed = parse_query_string(src, default_field="text")
        got = {r["doc_id"] for r in s.matching_docs(parsed).collect()}
        want = {r["doc_id"] for r in s.matching_docs(expected).collect()}
        assert got == want, f"case {case}: {src!r}\nparsed={parsed}"


def test_query_string_parsers_garbage_fuzz():
    """Seeded garbage fuzz over both parsers: the classic parser may
    reject malformed input ONLY via ValueError (never a hang, crash, or
    foreign exception); the simple parser is lenient by contract
    (SimpleQueryStringBuilder.java) and must NEVER raise — every input
    degrades to some Query."""
    import random
    import string

    from opensearch_spark.search.query_string import (
        parse_simple_query_string,
    )
    from opensearch_spark.search import queries as Q

    alphabet = (string.ascii_lowercase + ' ()[]{}"~^:+-|&!*?<>\\/')
    rng = random.Random(0x6A2B)
    for case in range(500):
        n = rng.randint(0, 30)
        s = "".join(rng.choice(alphabet) for _ in range(n))
        try:
            out = parse_query_string(s, default_field="text")
            assert isinstance(out, Q.Query), f"classic case {case}: {s!r}"
        except ValueError:
            pass  # the only legal rejection
        out = parse_simple_query_string(s, default_field="text")
        assert isinstance(out, Q.Query), f"simple case {case}: {s!r}"
