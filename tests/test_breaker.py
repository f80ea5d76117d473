"""Circuit breaker semantics (common/breaker/CircuitBreaker.java,
HierarchyCircuitBreakerService parent/child accounting) and the live
wiring into expand_terms and tombstone loading."""
import pytest

from opensearch_spark.common.breaker import (
    CircuitBreaker, CircuitBreakingException, request_breaker, reset_all,
)


def test_trip_and_account():
    b = CircuitBreaker("t", 100)
    b.add_estimate(60, "a")
    with pytest.raises(CircuitBreakingException):
        b.add_estimate(50, "b")
    assert b.used == 60 and b.trip_count == 1  # failed charge not applied
    b.release(60)
    assert b.used == 0


def test_parent_trips_child_rolls_back():
    parent = CircuitBreaker("parent", 100)
    c1 = CircuitBreaker("c1", 100, parent=parent)
    c2 = CircuitBreaker("c2", 100, parent=parent)
    c1.add_estimate(70, "x")
    with pytest.raises(CircuitBreakingException):
        c2.add_estimate(40, "y")  # child fine, parent 70+40 > 100
    assert c2.used == 0  # rolled back
    assert parent.used == 70
    c1.release(70)
    assert parent.used == 0


def test_reserve_releases_on_error():
    b = CircuitBreaker("t", 100)
    with pytest.raises(RuntimeError):
        with b.reserve(40, "work"):
            assert b.used == 40
            raise RuntimeError("boom")
    assert b.used == 0


def test_expand_terms_charges_request_breaker(spark):
    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.search.queries import Prefix

    s = get_searcher(spark, "/root/testdata/sf0.001")
    reset_all()
    old_limit = request_breaker.limit
    try:
        request_breaker.limit = 1000  # < 64 bytes × default cap
        with pytest.raises(CircuitBreakingException):
            s.expand_terms(Prefix(field="text", value="s"))
        assert request_breaker.used == 0  # reservation rolled back
    finally:
        request_breaker.limit = old_limit
        reset_all()
    # normal limit: expansion works and fully releases
    terms = s.expand_terms(Prefix(field="text", value="s"))
    assert terms and request_breaker.used == 0
    reset_all()


def test_tombstones_charge_fielddata(spark, tmp_path):
    import numpy as np

    from opensearch_spark.common.breaker import fielddata_breaker
    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.index.build import InvertedIndex

    s = get_searcher(spark, "/root/testdata/sf0.001")
    # fresh handle against a copied tree with a deletes dir
    import shutil

    tree = str(tmp_path / "idx")
    shutil.copytree(s.index.path, tree,
                    ignore=shutil.ignore_patterns("deletes"))
    spark.createDataFrame([(1,), (2,), (3,)], ["doc_id"]) \
        .write.parquet(tree + "/deletes")
    reset_all()
    idx = InvertedIndex(tree)
    old = fielddata_breaker.limit
    try:
        fielddata_breaker.limit = 8  # 3 tombstones need 24 bytes
        with pytest.raises(CircuitBreakingException):
            idx.tombstones(spark)
        fielddata_breaker.limit = old
        idx2 = InvertedIndex(tree)
        t = idx2.tombstones(spark)
        assert isinstance(t, np.ndarray) and list(t) == [1, 2, 3]
        assert fielddata_breaker.used == 24  # lives with the reader
    finally:
        fielddata_breaker.limit = old
        reset_all()


def test_tombstone_charge_released_on_refresh(spark, tmp_path):
    """delete→refresh cycles must not leak breaker accounting: the charge
    follows the cached array (released on refresh, re-charged on the next
    load of the new set)."""
    import shutil

    from opensearch_spark.common.breaker import fielddata_breaker
    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.index.build import InvertedIndex

    s = get_searcher(spark, "/root/testdata/sf0.001")
    tree = str(tmp_path / "idx2")
    shutil.copytree(s.index.path, tree,
                    ignore=shutil.ignore_patterns("deletes"))
    spark.createDataFrame([(1,), (2,), (3,)], ["doc_id"]) \
        .write.parquet(tree + "/deletes")
    reset_all()
    idx = InvertedIndex(tree)
    for _ in range(5):
        idx.tombstones(spark)
        assert fielddata_breaker.used == 24  # never accumulates
        idx.refresh_tombstones()
        assert fielddata_breaker.used == 0   # released with the array
    reset_all()


def test_concurrent_tombstone_load_charges_once(spark, tmp_path):
    """Searches loading one shared reader's liveDocs together load and
    charge it once; a refresh then releases all of it (no leaked charge).
    The barrier holds the first loader until every other would arrive;
    the reader's lock keeps them out, so the wait ends by timeout."""
    import shutil
    import threading

    from opensearch_spark.common.breaker import fielddata_breaker
    from opensearch_spark.entry_queries import get_searcher
    from opensearch_spark.index.build import InvertedIndex

    s = get_searcher(spark, "/root/testdata/sf0.001")
    tree = str(tmp_path / "idx3")
    shutil.copytree(s.index.path, tree,
                    ignore=shutil.ignore_patterns("deletes"))
    spark.createDataFrame([(1,), (2,), (3,)], ["doc_id"]) \
        .write.parquet(tree + "/deletes")
    reset_all()
    idx = InvertedIndex(tree)
    n = 6  # more loaders than cores
    barrier = threading.Barrier(n, timeout=3)
    sources = idx._delete_sources

    def together():
        try:
            barrier.wait()
        except threading.BrokenBarrierError:
            pass
        return sources()

    idx._delete_sources = together
    got = []
    threads = [threading.Thread(target=lambda: got.append(
        list(idx.tombstones(spark)))) for _ in range(n)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
        assert got == [[1, 2, 3]] * n
        assert fielddata_breaker.used == 24
        idx.refresh_tombstones()
        assert fielddata_breaker.used == 0
    finally:
        reset_all()
