"""Physical-plan shape assertions: the Catalyst properties the engine
relies on at scale actually hold — filters reach the parquet scan, the
fetch join broadcasts, top-k compiles to TakeOrderedAndProject."""

import os
import shutil

import pytest
from pyspark.sql import functions as F


def explain_str(df, mode="formatted") -> str:
    qe = df._jdf.queryExecution()
    try:
        jvm = df.sparkSession._jvm
        return jvm.PythonSQLUtils.explainString(qe, mode)
    except Exception:
        return qe.toString()


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    from opensearch_spark.datagen import generate_corpus
    from opensearch_spark.index.build import IndexConfig, build_index

    out = str(tmp_path_factory.mktemp("planidx"))
    shutil.rmtree(out, ignore_errors=True)
    corpus = generate_corpus(spark, 300, n_partitions=4)
    return build_index(
        spark, corpus, out,
        IndexConfig(field="content", analyzer="standard_code",
                    order_cols=("repo", "path", "commit"), n_parts=4,
                    bucket_span=1 << 6))


def test_postings_scan_pushes_term_filter(spark, idx):
    """The term-pruned posting scan must push part+term predicates into
    the parquet source (partition dir pruning + row-group min/max skip)."""
    df = idx.postings_for_terms(spark, ["import", "def"])
    plan = explain_str(df)
    assert "PushedFilters" in plan
    assert "term" in plan.split("PushedFilters", 1)[1][:400]
    # partition pruning on the term-hash dir column
    assert "PartitionFilters" in plan


def test_docs_keyword_filter_pushdown(spark, idx):
    docs = idx.docs(spark)
    df = docs.where(F.col("lang") == "py").select("doc_id")
    plan = explain_str(df)
    assert "PushedFilters" in plan and "lang" in plan
    # column pruning: content must NOT be in the read schema
    rs = plan.split("ReadSchema", 1)[1][:300] if "ReadSchema" in plan else ""
    assert "content" not in rs


def test_topk_is_take_ordered(spark, idx):
    from opensearch_spark.search import Match, Searcher

    s = Searcher(spark, idx)
    df = s.score(Match(field="content", text="import")) \
          .orderBy(F.desc("score"), F.asc("doc_id")).limit(10)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan


def test_fetch_join_broadcasts(spark, idx):
    from opensearch_spark.search import Match, Searcher
    from opensearch_spark.search.fetchphase import source_filter

    s = Searcher(spark, idx)
    hits = s.search(Match(field="content", text="import"), k=5)
    fetched = source_filter(idx.docs(spark), hits, includes=["repo"])
    plan = explain_str(fetched)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_whole_stage_codegen_in_agg(spark, sf_dir):
    """Bucket agg plans stay inside WholeStageCodegen (no Python in the
    hot path)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    df = ev.groupBy("event_type").agg(F.count("*").alias("c"))
    plan = explain_str(df)
    # partial + final HashAggregate (map-side combine), and no Python
    # eval nodes anywhere in the hot path (AQE hides codegen markers in
    # the pre-execution formatted plan, so assert the aggregate shape)
    assert plan.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hot_term_blocks_bounded_by_bucket(spark, idx):
    """Skew by construction: a hot term ('import' appears in most code
    docs) must be spread across multiple (term, bucket) groups with every
    block holding <= 128 postings — no single giant reducer."""
    blocks = idx.postings_for_terms(spark, ["import"]).collect()
    assert len(blocks) >= 2
    buckets = {r["bucket"] for r in blocks}
    assert len(buckets) >= 2, "hot term should span multiple doc buckets"
    assert all(r["n"] <= 128 for r in blocks)


def _scorer_frames():
    """Every postings scorer that builds on ``Searcher._term_scores``."""
    import opensearch_spark.search.queries as Q
    from opensearch_spark.search.dfs import sharded_search

    m = Q.Match(field="content", text="import merge")
    return {
        "score_match": lambda s: s.score(m),
        "score_term": lambda s: s.score(Q.Term(field="content", value="import")),
        "explain": lambda s: s.explain(m),
        "lm_dirichlet": lambda s: s.score_lm_dirichlet(m),
        "lm_jelinek_mercer": lambda s: s.score_lm_jelinek_mercer(m),
        "dfr": lambda s: s.score_dfr(m),
        "ib": lambda s: s.score_ib(m),
        "dfi": lambda s: s.score_dfi(m),
        "scripted": lambda s: s.score_scripted_similarity(m, "tf * df"),
        "sparse_topk": lambda s: s.sparse_topk({"import": 1.0, "merge": 0.5}),
        # a fused Match batch shares one term-pruned scan for all queries
        "msearch": lambda s: s.msearch({
            "q1": m, "q2": Q.Match(field="content", text="table")}, k=5),
        "sharded_dfs": lambda s: sharded_search(
            s, "import merge", field="content", dfs=True),
    }


@pytest.mark.parametrize("scorer", list(_scorer_frames()))
def test_single_postings_scan_per_scorer(spark, idx, scorer):
    """Each scorer on the shared per-posting plan reads the postings table
    exactly once — no scorer grows a second scan."""
    from opensearch_spark.search.executor import Searcher

    s = Searcher(spark, idx)
    plan = explain_str(_scorer_frames()[scorer](s))
    n_posting_scans = sum(
        1 for line in plan.splitlines()
        if "InMemoryFileIndex" in line and "/postings" in line)
    assert n_posting_scans == 1, plan[:2000]


def test_unigram_logppl_join_posture_both_sides(spark, sf_dir):
    """The probability-table join broadcasts while the vocabulary fits
    the threshold and falls back to a plain shuffle join above it (an
    open-web vocabulary would OOM a broadcast) — both postures asserted
    from the physical plan, decided by the data not a caller flag."""
    from opensearch_spark.ml.curation import unigram_logppl

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # disable Catalyst's size-based auto-broadcast so the plans show the
    # OPERATOR's posture choice, not the toy-scale statistics (at a real
    # >2M-term vocab the estimate exceeds the auto threshold anyway)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # small vocab, default threshold -> the p equi-join is a
        # BroadcastHashJoin (the 1-row `total` crossJoin is a
        # BroadcastNestedLoopJoin in BOTH postures — not what we assert)
        plan_small = explain_str(unigram_logppl(docs))
        assert "BroadcastHashJoin" in plan_small
        # threshold forced below the vocab size -> plain shuffle join
        plan_big = explain_str(unigram_logppl(docs, broadcast_vocab_max=1))
        assert "SortMergeJoin" in plan_big or "ShuffledHashJoin" in plan_big
        assert "BroadcastHashJoin" not in plan_big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # results identical under either posture (rounded — join strategy
    # changes float summation order by an ulp)
    def rows(df):
        return sorted((r["doc_id"], round(r["logppl"], 9), r["n_tokens"])
                      for r in df.collect())

    assert rows(unigram_logppl(docs)) == \
        rows(unigram_logppl(docs, broadcast_vocab_max=1))


def test_dedup_pipelines_never_broadcast_corpus_scaled_sides(spark, sf_dir):
    """Every side of the dedup pipelines' joins scales with the corpus; a
    mis-estimated auto-broadcast OOMed the 8g driver at 600k docs. Under
    the SCALE posture (auto above SCALE_POSTURE_MIN_DOCS rows, forced
    here) the merge hints must keep ALL of these joins shuffle joins —
    no BroadcastHashJoin anywhere in the static plans (AQE may still
    localize small shuffles at runtime, which is fine)."""
    from opensearch_spark.ml import dedup as D

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    sh = D.shingles(docs, "text", n=2)
    for df in (D.minhash_lsh_pairs(docs, "text", scale_posture=True),
               D.jaccard_pairs(sh, scale_posture=True),
               D.simhash_pairs(D.simhash(docs, "text"),
                               scale_posture=True),
               D.dedup_chunks_global(docs, "text", "doc_id",
                                     scale_posture=True),
               D.substring_dup_spans(docs, "text", "doc_id",
                                     scale_posture=True)):
        plan = explain_str(df)
        assert "BroadcastHashJoin" not in plan, plan[:1500]


def test_dedup_scale_posture_auto_and_result_identical(spark, sf_dir):
    """The auto posture picks the fast plan for gate-scale corpora (below
    SCALE_POSTURE_MIN_DOCS) and the forced-shuffle plan above it, and the
    two postures return identical rows."""
    from opensearch_spark.ml import dedup as D

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    assert D._scale_posture(docs, None) is (
        docs.count() > D.SCALE_POSTURE_MIN_DOCS)
    assert D._scale_posture(docs, True) is True
    assert D._scale_posture(docs, False) is False

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(D.minhash_lsh_pairs(docs, "text", n=2,
                                    scale_posture=True)) == \
        rows(D.minhash_lsh_pairs(docs, "text", n=2, scale_posture=False))
    assert rows(D.dedup_chunks_global(docs, "text", "doc_id",
                                      scale_posture=True)) == \
        rows(D.dedup_chunks_global(docs, "text", "doc_id",
                                   scale_posture=False))
    assert rows(D.substring_dup_spans(docs, "text", "doc_id",
                                      scale_posture=True)) == \
        rows(D.substring_dup_spans(docs, "text", "doc_id",
                                   scale_posture=False))


def test_events_correlation_is_equi_join_and_window_exact(spark, sf_dir):
    """The correlation pairing must compile to a hash EQUI-join on the
    time bucket — a theta join (BroadcastNestedLoopJoin / Cartesian) is
    the O(|A|x|B|) plan that dies at cluster scale. Semantics: a pair at
    exactly |dt| == window is included; pairs straddling a bucket
    boundary are found; nothing beyond the window leaks in."""
    import datetime as dt

    from opensearch_spark.search.correlation import correlate_events

    plan_df = correlate_events(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
             .where(F.col("event_type") == "error"),
        spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
             .where(F.col("event_type") == "purchase"))
    plan = explain_str(plan_df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    sec = dt.timedelta(seconds=1)
    a = spark.createDataFrame(
        [(1, t0)], "event_id long, ts timestamp_ntz")
    b = spark.createDataFrame(
        [
            (10, t0 + 300 * sec),       # exactly the window -> included
            (11, t0 + 301 * sec),       # one past -> excluded
            (12, t0 - 300 * sec),       # exactly the window, before
            (13, t0 + 299 * sec),       # inside, straddles bucket boundary
        ],
        "event_id long, ts timestamp_ntz")
    got = sorted((r.a_id, r.b_id, r.dt_us)
                 for r in correlate_events(a, b, window_sec=300).collect())
    assert got == [(1, 10, 300_000_000), (1, 12, -300_000_000),
                   (1, 13, 299_000_000)]

    # pre-epoch timestamps: integer bucketing must floor toward -inf so
    # the bucket-adjacency invariant (and therefore the ±1 expansion)
    # still holds for negative epoch values
    t_neg = dt.datetime(1969, 12, 31, 23, 59, 0)
    a2 = spark.createDataFrame([(2, t_neg)], "event_id long, ts timestamp_ntz")
    b2 = spark.createDataFrame(
        [(20, t_neg + 90 * sec), (21, t_neg + 301 * sec)],
        "event_id long, ts timestamp_ntz")
    got2 = sorted((r.a_id, r.b_id, r.dt_us)
                  for r in correlate_events(a2, b2, window_sec=300).collect())
    assert got2 == [(2, 20, 90_000_000)]


def test_events_correlation_session_tz_invariant(sf_dir):
    """The driver runs gates in ITS OWN SparkSession, whose timezone is
    not ours to set: microsecond extraction from the NTZ events column
    must not shift with spark.sql.session.timeZone (a cast-based
    unix_micros would move by the UTC offset and break the bucket/window
    math against the UTC-naive DuckDB oracle)."""
    from opensearch_spark.search.correlation import correlate_events
    from opensearch_spark.session import get_spark

    spark = get_spark("tz_invariance", master="local[2]")
    prev = spark.conf.get("spark.sql.session.timeZone")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    legs = (ev.where(F.col("event_type") == "error"),
            ev.where(F.col("event_type") == "purchase"))

    def run():
        return sorted((r.a_id, r.b_id, r.dt_us)
                      for r in correlate_events(*legs).collect())

    try:
        base = run()
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        shifted = run()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert base == shifted and len(base) > 0


def test_stream_correlation_ntz_matches_batch_under_dst_tz(spark):
    """The streaming twin must agree with the batch engine on
    timestamp_ntz legs even when the session timezone has DST: bucket
    epochs must use the column's own type, not coerce through the zone."""
    import datetime as dt

    from opensearch_spark.search.correlation import (correlate_events,
                                                     correlate_events_stream)

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        # spring-forward 2024-03-10 02:00 -> 03:00 local
        a = spark.createDataFrame(
            [(1, dt.datetime(2024, 3, 10, 2, 1))],
            "event_id long, ts timestamp_ntz")
        b = spark.createDataFrame(
            [(10, dt.datetime(2024, 3, 10, 2, 5))],
            "event_id long, ts timestamp_ntz")
        want = sorted(map(tuple, correlate_events(a, b, window_sec=300)
                          .collect()))
        got = sorted(map(tuple, correlate_events_stream(a, b, window_sec=300)
                         .collect()))
        assert got == want and len(got) == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_date_histogram_offset_session_tz_invariant(sf_dir):
    """agg_date_histogram_offset bucket labels must not shift with
    spark.sql.session.timeZone: the bucketing runs as NTZ wall-clock
    arithmetic (timestampdiff/timestampadd on an epoch literal), never
    unix_timestamp/from_unixtime, which interpret NTZ in the SESSION
    zone and would shift every label on a non-UTC driver."""
    from opensearch_spark.entry_queries import QUERIES
    from opensearch_spark.session import get_spark

    spark = get_spark("tz_offset_gate", master="local[2]")
    prev = spark.conf.get("spark.sql.session.timeZone")

    def run():
        return sorted(
            (r["bucket"], r["doc_count"]) for r in
            QUERIES["agg_date_histogram_offset"](spark, sf_dir).collect())

    try:
        base = run()
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        shifted = run()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert base == shifted and len(base) > 0
    # boundary sits at 06:00, the offset's whole point
    assert all(b.endswith("06:00:00") for b, _ in base)


def test_datastream_view_session_tz_invariant(sf_dir):
    """docs_view's range bounds cast to the ts column's OWN type — a
    plain TIMESTAMP cast against an NTZ column coerces through the
    session timezone and shifts the window on a non-UTC driver."""
    from opensearch_spark.entry_queries import QUERIES
    from opensearch_spark.session import get_spark

    spark = get_spark("tz_ds_gate", master="local[2]")
    prev = spark.conf.get("spark.sql.session.timeZone")

    def run():
        return sorted(
            (r["event_id"], r["event_type"]) for r in
            QUERIES["stream_datastream_view"](spark, sf_dir).collect())

    try:
        base = run()
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        shifted = run()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert base == shifted and len(base) > 0


def test_collapse_expand_join_broadcasts(spark, sf_dir):
    """The collapse inner_hits expand phase: the ≤k head-group frame
    joins as a BroadcastHashJoin below the window (restriction pushed
    under the rank), never a SortMergeJoin against the scored frame."""
    from opensearch_spark.entry_queries import QUERIES

    df = QUERIES["search_collapse_inner_hits"](spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_routed_restriction_is_broadcastable(spark, sf_dir):
    """Routed search: the shard-restriction semi-join must not shuffle
    the scored side (broadcast join; at scale the routed set is one
    shard's ids or — with a routing-aligned layout — a storage prune)."""
    from opensearch_spark.entry_queries import QUERIES

    df = QUERIES["search_routed"](spark, sf_dir)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan


def test_sorted_fetch_reads_docs_once(spark, sf_dir):
    """A field-sorted body with a fetch key reads the docs table once: the
    sort-key join carries the fetched column instead of a second fetch
    join. The rows are the sorted page with that column looked up."""
    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.search.request import execute_search_request

    s = get_searcher(spark, sf_dir)
    body = {"query": {"match": {"text": "spark merge"}}, "size": 10,
            "sort": [{"n_chars": "desc"}]}
    df = execute_search_request(s, {**body, "_source": ["lang"]})
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    docs_scans = [line for line in plan.splitlines()
                  if "InMemoryRelation" in line and "content_sha256" in line]
    assert len(docs_scans) == 1, plan
    lang = {r.doc_id: r.lang for r in
            s.index.docs(spark).select("doc_id", "lang").collect()}
    page = execute_search_request(s, body).collect()
    assert len(page) == 10
    assert [tuple(r) for r in df.collect()] == \
        [(r.doc_id, r.n_chars, lang[r.doc_id]) for r in page]


def test_refused_driver_leg_runs_exhaustive_plan(spark, sf_dir, spark_leg):
    """A top-level match and a served bool + ``term`` whose driver leg is
    refused run ``score()``'s plan: no repartition on ``bucket``, and the
    optimized plan equals ``mode="exhaustive"``'s once expression ids are
    normalised. The rows match too."""
    import re

    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.search import queries as Q

    def plan(df) -> str:
        return re.sub(r"#\d+", "#",
                      df._jdf.queryExecution().optimizedPlan().toString())

    s = get_searcher(spark, sf_dir)
    match = Q.Match(field="text", text="spark merge")
    for q in (match, Q.Bool(must=[match],
                            filter=[Q.Term(field="lang", value="en")])):
        with spark_leg():
            refused = s.search(q, k=10)
            got = plan(refused)
        assert not [line for line in got.splitlines()
                    if "RepartitionByExpression" in line
                    and "bucket" in line], got
        exhaustive = s.search(q, k=10, mode="exhaustive")
        assert got == plan(exhaustive)
        assert refused.collect() == exhaustive.collect()
