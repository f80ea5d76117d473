"""Synthetic code corpus (north-rule input shape) + end-to-end code-analyzer
index build over it, incl. hot-term skew sanity."""

import pytest
from pyspark.sql import functions as F

from opensearch_spark.datagen import gen_row, generate_corpus
from opensearch_spark.index.build import IndexConfig, build_index
from opensearch_spark.search import Match, Searcher
from opensearch_spark.search.fetchphase import source_filter


def test_gen_row_deterministic_and_shaped():
    r1, r2 = gen_row(7), gen_row(7)
    assert r1 == r2
    repo, path, commit, lang, content = r1
    assert repo.startswith("org") and "/" in repo
    assert len(commit) == 40
    assert f"uniq_7" in content


def test_generate_corpus_partition_invariant(spark):
    a = generate_corpus(spark, 200, n_partitions=4).orderBy("repo", "path").collect()
    b = generate_corpus(spark, 200, n_partitions=13).orderBy("repo", "path").collect()
    assert a == b
    assert len(a) == 200


@pytest.fixture(scope="module")
def code_index(spark, tmp_path_factory):
    corpus = generate_corpus(spark, 1200, n_partitions=8)
    out = str(tmp_path_factory.mktemp("codeidx") / "idx")
    return build_index(
        spark, corpus, out,
        IndexConfig(field="content", analyzer="standard_code",
                    order_cols=("repo", "path", "commit"),
                    keyword_cols=("repo", "lang"), n_parts=8,
                    bucket_span=256),
    )


def test_hot_terms_present_and_spread(spark, code_index):
    d = code_index.dictionary(spark)
    hot = {r["term"]: r["df"] for r in
           d.where(F.col("term").isin("import", "def", "return")).collect()}
    assert hot["def"] == 1200  # every doc has functions
    assert hot["import"] > 0.6 * 1200  # north-star hot-term guarantee
    # skew control: the hot term's postings span many buckets (groups),
    # never one giant reducer group
    p = code_index.postings(spark)
    n_buckets = (p.where(F.col("term") == "def")
                 .select("bucket").distinct().count())
    assert n_buckets >= 4


def test_unique_marker_exact_match(spark, code_index):
    # code analyzer splits uniq_42 -> [uniq, 42]; AND match pins the one doc
    s = Searcher(spark, code_index)
    q = Match(field="content", text="uniq_42", operator="and")
    hits = s.search(q, k=5).collect()
    assert len(hits) == 1
    doc = source_filter(code_index.docs(spark), s.search(q, k=1),
                        includes=["content"]).first()
    assert "uniq_42" in doc["content"]


def test_sha256_invariant_on_code_corpus(spark, code_index):
    corpus = generate_corpus(spark, 1200, n_partitions=8)
    assert code_index.verify_sha256(spark, corpus, field="content") == 0


def test_doc_ids_deterministic_order(spark, code_index):
    docs = code_index.docs(spark).orderBy("doc_id").limit(3).collect()
    keys = [(r["repo"], r["path"]) for r in docs]
    assert keys == sorted(keys)
