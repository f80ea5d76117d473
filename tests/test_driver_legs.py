"""Driver legs ≡ Spark legs. A bool of one must match and keyword
``term``/``terms`` clauses, a sloppy ``match_phrase`` and a ``span_near``
are scored in the driver when the breakers admit them; with
``request_breaker.limit = 0`` (the ``distributed_wand`` fixture) or
``fielddata_breaker.limit = 0`` they run their Spark plans. Both legs
must return the same doc ids in the same order with the same rounded
scores."""

import threading

import pytest

from opensearch_spark.common.breaker import fielddata_breaker
from opensearch_spark.entry_queries import get_searcher
from opensearch_spark.index.build import (IndexConfig, InvertedIndex,
                                          build_index, delete_docs)
from opensearch_spark.search import Searcher, queries as Q
from opensearch_spark.search.spans import span_match_counts

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def s(spark):
    return get_searcher(spark, SF)


def _ranked(df) -> list[tuple[int, float]]:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _uses_python(df) -> bool:
    return "MapInPandas" in df._jdf.queryExecution().executedPlan().toString()


def _both_legs(s, q, k, distributed_wand):
    """(driver rows, Spark rows) of ``s.search(q)``; asserts each leg ran
    where it should."""
    driver = s.search(q, k=k, round_scores=4)
    assert not _uses_python(driver)
    with distributed_wand():
        spark_leg = s.search(q, k=k, round_scores=4)
        assert _uses_python(spark_leg)
        spark_rows = _ranked(spark_leg)
    return _ranked(driver), spark_rows


def _match(text="spark table", **kw):
    return Q.Match(field="text", text=text, **kw)


_BOOLS = {
    "term_filter": Q.Bool(must=[_match()],
                          filter=[Q.Term(field="lang", value="en")]),
    "terms_filter": Q.Bool(must=[_match()],
                           filter=[Q.Terms(field="lang", values=["de", "fr"])]),
    "keyword_must_not": Q.Bool(must=[_match()],
                               must_not=[Q.Term(field="lang", value="en")]),
    "filter_and_must_not": Q.Bool(
        must=[_match("spark merge window", operator="and")],
        filter=[Q.Terms(field="lang", values=["en", "es"])],
        must_not=[Q.Term(field="source", value="web")]),
    "boosted": Q.Bool(must=[_match(boost=1.5)], boost=2.5,
                      filter=[Q.Term(field="lang", value="zh")]),
    "msm": Q.Bool(must=[_match("spark table merge", minimum_should_match=2)],
                  filter=[Q.Term(field="lang", value="en")]),
}


@pytest.mark.parametrize("name", list(_BOOLS))
def test_bool_driver_equals_spark(s, distributed_wand, name):
    driver, spark_rows = _both_legs(s, _BOOLS[name], 10, distributed_wand)
    assert driver == spark_rows and driver


def test_bool_filter_keeping_no_docs(s, distributed_wand):
    q = Q.Bool(must=[_match()], filter=[Q.Term(field="lang", value="xx")])
    driver, spark_rows = _both_legs(s, q, 10, distributed_wand)
    assert driver == spark_rows == []


def test_bool_k_above_match_count(s, distributed_wand):
    q = _BOOLS["term_filter"]
    driver, spark_rows = _both_legs(s, q, 10_000, distributed_wand)
    assert driver == spark_rows
    assert 0 < len(driver) < 10_000
    langs = {r.doc_id: r.lang for r in
             s.index.docs(s.spark).select("doc_id", "lang").collect()}
    assert {langs[d] for d, _ in driver} == {"en"}


def test_other_bool_shapes_keep_spark_plan(s):
    """A should clause, a text-field filter or a case-insensitive term
    keeps the bool on its Spark plan."""
    for q in (Q.Bool(must=[_match()], should=[_match("merge")]),
              Q.Bool(must=[_match()],
                     filter=[Q.Term(field="text", value="spark")]),
              Q.Bool(must=[_match()], filter=[Q.Term(
                  field="lang", value="EN", case_insensitive=True)])):
        assert _uses_python(s.search(q, k=10, round_scores=4))


@pytest.mark.parametrize("text,slop", [
    ("spark table", 1), ("spark table", 2), ("the spark the", 3),
    ("spark spark table", 2),       # a repeated term
    ("spark zzzabsentzzz", 2),      # an absent term
])
def test_sloppy_phrase_driver_equals_spark(s, distributed_wand, text, slop):
    q = Q.MatchPhrase(field="text", text=text, slop=slop)
    if "zzz" in text:  # no leg runs: the phrase cannot match
        assert _ranked(s.search(q, k=10, round_scores=4)) == []
        return
    driver, spark_rows = _both_legs(s, q, 10, distributed_wand)
    assert driver == spark_rows and driver


def test_span_near_driver_equals_spark(s, distributed_wand):
    clauses = ["spark", ["table", "merge"]]
    driver = span_match_counts(s, clauses, 2, False)
    assert not _uses_python(driver)
    got = sorted(driver.collect())
    with distributed_wand():
        spark_leg = span_match_counts(s, clauses, 2, False)
        assert _uses_python(spark_leg)
        want = sorted(spark_leg.collect())
    assert got == want and got


def test_fielddata_refusal_runs_spark(spark, s):
    """A reader whose doc values the fielddata breaker refuses serves the
    bool and the phrase on their Spark plans, with the same rows."""
    qs = [_BOOLS["term_filter"], _BOOLS["boosted"],
          Q.MatchPhrase(field="text", text="spark table", slop=2)]
    want = [_ranked(s.search(q, k=10, round_scores=4)) for q in qs]
    fresh = Searcher(spark, InvertedIndex(s.index.path))
    fresh.index.tombstones(spark)  # liveDocs is not what this refuses
    old = fielddata_breaker.limit
    fielddata_breaker.limit = 0
    try:
        assert fresh.index.doc_values(spark) is None
        got = []
        for q in qs:
            df = fresh.search(q, k=10, round_scores=4)
            if isinstance(q, Q.Bool):
                assert _uses_python(df)
            got.append(_ranked(df))
    finally:
        fielddata_breaker.limit = old
    assert got == want
    assert fresh.index.doc_values(spark) is not None  # a later call loads


@pytest.fixture(scope="module")
def deleted(spark, sf_dir, tmp_path_factory):
    """A 300-doc index with the top bool and phrase hits soft-deleted."""
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    path = str(tmp_path_factory.mktemp("legsidx") / "idx")
    build_index(spark, corpus, path,
                IndexConfig(field="text", analyzer="standard",
                            keyword_cols=("lang",), n_parts=4,
                            bucket_span=1 << 6, with_positions=True))
    s = Searcher(spark, InvertedIndex(path))
    victims = {d for q in (_BOOLS["term_filter"],
                           Q.MatchPhrase(field="text", text="spark table",
                                         slop=2))
               for d, _ in _ranked(s.search(q, k=3))}
    delete_docs(spark, path, sorted(victims))
    return path, victims


def test_driver_legs_with_tombstones(spark, deleted, distributed_wand):
    path, victims = deleted
    s = Searcher(spark, InvertedIndex(path))
    assert s.index.tombstones(spark) is not None
    for q in (_BOOLS["term_filter"], _BOOLS["keyword_must_not"],
              Q.MatchPhrase(field="text", text="spark table", slop=2)):
        driver = _ranked(s.search(q, k=10, round_scores=4))
        with distributed_wand():
            spark_rows = _ranked(s.search(q, k=10, round_scores=4))
        assert driver == spark_rows and driver
        assert not victims & {d for d, _ in driver}


def test_concurrent_requests_load_doc_values_once(spark, s):
    """Four threads sending bool and phrase requests at once on a fresh
    reader load its doc values once and charge them once."""
    idx = InvertedIndex(s.index.path)
    fresh = Searcher(spark, idx)
    qs = [_BOOLS["term_filter"], _BOOLS["keyword_must_not"],
          Q.MatchPhrase(field="text", text="spark table", slop=2),
          Q.MatchPhrase(field="text", text="the spark the", slop=3)]
    want = [_ranked(s.search(q, k=10, round_scores=4)) for q in qs]
    barrier = threading.Barrier(len(qs), timeout=3)
    load = idx._load_doc_values
    loads = []

    def counted(spark_):
        loads.append(1)
        try:
            barrier.wait()  # hold the loader until every thread arrives
        except threading.BrokenBarrierError:
            pass
        return load(spark_)

    idx._load_doc_values = counted
    idx.tombstones(spark)  # charged apart from the doc values
    before = fielddata_breaker.used
    got = [None] * len(qs)

    def send(i):
        got[i] = _ranked(fresh.search(qs[i], k=10, round_scores=4))

    threads = [threading.Thread(target=send, args=(i,))
               for i in range(len(qs))]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert got == want
    assert len(loads) == 1
    n_kw = len(idx.doc_values(spark).keywords)
    assert n_kw == 2  # lang and source
    assert fielddata_breaker.used - before == idx.doc_count * (16 + 4 * n_kw)
