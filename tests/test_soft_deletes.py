"""Soft deletes (Lucene liveDocs parity): tombstones appended under
<index>/deletes/, searches exclude the ids at query time across every
path (WAND, exhaustive, positional, keyword, fetch); stats keep counting
deleted docs until an expunging rebuild — the un-merged-segment model."""

import pytest
from pyspark.sql import functions as F

from opensearch_spark.index.build import (IndexConfig, InvertedIndex,
                                          build_index, delete_docs)
from opensearch_spark.search import Searcher, queries as Q
from opensearch_spark.search.fetchphase import source_filter


@pytest.fixture(scope="module")
def del_index(spark, sf_dir, tmp_path_factory):
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    path = str(tmp_path_factory.mktemp("delidx") / "idx")
    build_index(spark, corpus, path,
                IndexConfig(field="text", analyzer="standard",
                            keyword_cols=("lang",), n_parts=4,
                            bucket_span=1 << 12, with_positions=True))
    return path


def _searcher(spark, path):
    return Searcher(spark, InvertedIndex(path))


def test_soft_deletes_exclude_everywhere(spark, del_index, spark_leg):
    s = _searcher(spark, del_index)
    base = s.search(Q.Match(field="text", text="the"), k=5,
                    mode="exhaustive").collect()
    assert base
    victim = base[0]["doc_id"]
    n_before = s.search(Q.Match(field="text", text="the"), k=1000,
                        mode="exhaustive").count()

    delete_docs(spark, del_index, [victim])
    s2 = _searcher(spark, del_index)  # fresh handle sees the tombstone

    # exhaustive path
    ex = s2.search(Q.Match(field="text", text="the"), k=1000,
                   mode="exhaustive")
    assert victim not in {r["doc_id"] for r in ex.collect()}
    assert ex.count() == n_before - 1
    # WAND in the driver and the refused leg: excluded AND still
    # rank-identical to exhaustive
    def ranked(df):
        return [(r["doc_id"], round(r["score"], 4)) for r in df.collect()]

    q = Q.Match(field="text", text="the")
    w = ranked(s2.search(q, k=10, mode="wand"))
    with spark_leg():
        d = ranked(s2.search(q, k=10, mode="wand"))
    e = ranked(s2.search(q, k=10, mode="exhaustive"))
    assert w == d == e
    assert victim not in {doc for doc, _ in w}
    # positional path
    ph = s2.score(Q.MatchPhrase(field="text", text="the fast"))
    assert victim not in {r["doc_id"] for r in ph.collect()}
    # keyword / filter-context path (docs table)
    kw = s2.matching_docs(Q.Exists(field="lang"))
    assert victim not in {r["doc_id"] for r in kw.collect()}
    # stats unchanged (Lucene: deletes count in df/N until merge)
    assert s2.N == s.N
    assert s2.term_dfs(["the"]) == s.term_dfs(["the"])


def test_delete_batches_accumulate_and_refresh(spark, del_index):
    s = _searcher(spark, del_index)
    hits = s.search(Q.Match(field="text", text="the"), k=20,
                    mode="exhaustive").collect()
    a, b = hits[1]["doc_id"], hits[2]["doc_id"]
    delete_docs(spark, del_index, [a])
    delete_docs(spark, del_index, [b])  # second write-once batch
    s.index.refresh_tombstones()  # in-place refresh on a live handle
    got = {r["doc_id"] for r in
           s.search(Q.Match(field="text", text="the"), k=1000,
                    mode="exhaustive").collect()}
    assert a not in got and b not in got


def test_no_deletes_dir_is_zero_cost(spark, sf_dir, tmp_path):
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    path = str(tmp_path / "clean")
    build_index(spark, corpus, path,
                IndexConfig(field="text", analyzer="standard", n_parts=2,
                            bucket_span=1 << 12))
    idx = InvertedIndex(path)
    assert idx.tombstones(spark) is None
    plan = idx.docs(spark)._jdf.queryExecution().executedPlan().toString()
    assert "Anti" not in plan and " IN (" not in plan
    assert plan.count("Scan parquet") == 1


def test_empty_delete_list_is_noop(spark, del_index):
    assert delete_docs(spark, del_index, []) == 0


def test_expunge_deletes_rebuild(spark, del_index, tmp_path):
    """forcemerge only_expunge_deletes: the rebuilt tree excludes the
    tombstoned docs from STATS too, and carries no deletes dir."""
    import os

    from opensearch_spark.index.build import expunge_deletes

    s = _searcher(spark, del_index)
    if s.index.tombstones(spark) is None:  # self-sufficient when run alone
        first = s.search(Q.Match(field="text", text="the"), k=1,
                         mode="exhaustive").collect()[0]["doc_id"]
        delete_docs(spark, del_index, [first])
        s = _searcher(spark, del_index)
    n_dead = len(s.index.tombstones(spark))
    assert n_dead >= 1
    out = str(tmp_path / "expunged")
    idx2 = expunge_deletes(spark, del_index, out)
    assert idx2.doc_count == s.index.doc_count - n_dead
    assert idx2.tombstones(spark) is None
    assert not os.path.isdir(os.path.join(out, "deletes"))
    # results identical to the tombstone-filtered search (scores differ:
    # stats legitimately change at expunge, like a Lucene merge)
    got = {r["doc_id"] for r in Searcher(spark, idx2).search(
        Q.Match(field="text", text="the"), k=1000, mode="exhaustive")
        .collect()}
    want = {r["doc_id"] for r in s.search(
        Q.Match(field="text", text="the"), k=1000, mode="exhaustive")
        .collect()}
    assert got == want


def test_delete_by_query_distributed_tombstones(spark, sf_dir, tmp_path):
    """_delete_by_query as soft deletes: distributed tombstone write (no
    driver collect), immediate exclusion after the built-in refresh."""
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    path = str(tmp_path / "dbq")
    build_index(spark, corpus, path,
                IndexConfig(field="text", analyzer="standard",
                            keyword_cols=("lang",), n_parts=2,
                            bucket_span=1 << 12))
    s = _searcher(spark, path)
    n_de = s.matching_docs(Q.Term(field="lang", value="de")).count()
    assert n_de > 0
    s.delete_by_query(Q.Term(field="lang", value="de"))
    # keyword path excludes them without a new handle
    assert s.matching_docs(Q.Term(field="lang", value="de")).count() == 0
    # scoring path excludes them too
    hit_langs = {r["lang"] for r in source_filter(
        s.index.docs(spark),
        s.search(Q.Match(field="text", text="the"), k=50,
                 mode="exhaustive"), includes=["lang"]).collect()}
    assert "de" not in hit_langs
