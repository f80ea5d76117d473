"""Data streams + rollover: docBase discipline, generation pruning,
force-merge equivalence."""
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from opensearch_spark.index.build import IndexConfig
from opensearch_spark.index.datastream import DataStream
from opensearch_spark.search.fetchphase import source_filter

CFG = IndexConfig(field="content", analyzer="standard_code", n_parts=2)


def _batch(spark, start, n, day):
    rows = [(f"r{start+i}", f"p/{start+i}", "c", "py",
             f"import spark {['alpha','beta','gamma'][day-1]} word{(start+i) % 5}",
             datetime(2024, 1, day)) for i in range(n)]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, ts timestamp")


@pytest.fixture(scope="module")
def stream(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ds"))
    ds = DataStream(d, CFG, rollover_max_docs=40)
    ds.append(spark, _batch(spark, 0, 30, day=1), ts_col="ts")
    # 90 rows with rollover cap 40 -> split into 3 generations
    ds.append(spark, _batch(spark, 30, 90, day=2), ts_col="ts")
    ds.append(spark, _batch(spark, 120, 10, day=3), ts_col="ts")
    return ds


def test_docbase_dense_and_monotonic(stream, spark):
    gens = stream.generations()
    assert len(gens) == 5  # 1 + 3 (rollover split) + 1
    assert stream.doc_count() == 130
    base = 0
    for m in gens:
        assert m["doc_base"] == base
        base += m["rows"]
    ids = [r["doc_id"] for r in
           stream.docs_view(spark).select("doc_id").collect()]
    assert sorted(ids) == list(range(130))  # globally dense, no overlap


def test_generation_time_pruning(stream, spark):
    # day-2 window must read only the 3 day-2 generations
    pruned = stream._pruned_dirs("2024-01-02", "2024-01-02 23:59:59")
    assert len(pruned) == 3
    v = stream.docs_view(spark, "2024-01-02", "2024-01-02 23:59:59")
    assert v.count() == 90
    # fully outside every range -> zero directories read
    assert stream._pruned_dirs("2030-01-01", None) == []
    assert stream.docs_view(spark, "2030-01-01", None).count() == 0


def test_materialize_searches_all_generations(stream, spark):
    from opensearch_spark.search.executor import Searcher
    import opensearch_spark.search.queries as Q

    idx = stream.materialize(spark)
    assert idx.doc_count == 130
    s = Searcher(spark, idx)
    hits = s.search(Q.Match(field="content", text="beta"), k=130,
                    mode="exhaustive")
    docs = source_filter(idx.docs(spark), hits,
                         includes=["content"]).collect()
    assert len(docs) == 90
    assert all("beta" in r["content"] for r in docs)
    # sha256 invariant holds across the merged stream
    combined = _batch(spark, 0, 30, 1).unionByName(
        _batch(spark, 30, 90, 2)).unionByName(_batch(spark, 120, 10, 3))
    assert idx.verify_sha256(spark, combined) == 0


def test_docs_view_row_filters_straddling_generations(spark, tmp_path):
    """A generation whose ts range straddles the bound survives pruning
    but its out-of-range ROWS must still be filtered."""
    ds = DataStream(str(tmp_path / "ds2"), CFG, rollover_max_docs=100)
    rows = [(f"r{i}", f"p{i}", "c", "py", "import spark w",
             datetime(2024, 1, 1 + i % 2)) for i in range(40)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, ts timestamp")
    ds.append(spark, df, ts_col="ts")  # ONE generation spanning both days
    v = ds.docs_view(spark, "2024-01-01", "2024-01-01 23:59:59")
    assert v.count() == 20
    assert ds.docs_view(spark, None, None).count() == 40


def test_iso_timestamp_spellings_agree(stream, spark):
    """ISO 'T'-separator and date-only bounds must prune identically to
    the canonical spelling (regression: lexicographic compare vs 'T')."""
    a = stream.docs_view(spark, "2024-01-02", "2024-01-02 23:59:59").count()
    b = stream.docs_view(spark, "2024-01-02T00:00:00",
                         "2024-01-02T23:59:59").count()
    assert a == b == 90


def test_empty_stream_docs_view(spark, tmp_path):
    ds = DataStream(str(tmp_path / "empty_ds"), CFG)
    assert ds.docs_view(spark).count() == 0
    assert ds.generations() == []


def test_canon_ts_matches_spark_trimmed_fractions():
    """Spark's timestamp->string cast trims trailing fraction zeros; the
    canonical bound form must match or boundary generations get wrongly
    pruned."""
    from opensearch_spark.index.datastream import _canon_ts

    assert _canon_ts("2024-01-01T00:00:00.5") == "2024-01-01 00:00:00.5"
    assert _canon_ts("2024-01-01 00:00:00.500000") == "2024-01-01 00:00:00.5"
    assert _canon_ts("2024-01-01 00:00:00") == "2024-01-01 00:00:00"
    assert _canon_ts("2024-01-01") == "2024-01-01 00:00:00"


def test_append_nondeterministic_partitioning_is_exact(spark, tmp_path):
    """A round-robin-repartitioned batch (nondeterministic on recompute)
    must append EXACTLY once per row across rollover chunks."""
    from opensearch_spark.index.build import IndexConfig
    from opensearch_spark.index.datastream import DataStream

    ds = DataStream(str(tmp_path / "nds"),
                    IndexConfig(field="content", analyzer="standard",
                                n_parts=2),
                    rollover_max_docs=40)
    batch = spark.sql("""
        SELECT concat('doc ', id, ' words here') AS content,
               id AS src_id FROM range(100)""").repartition(7)
    gens = ds.append(spark, batch)
    assert len(gens) == 3  # 100 docs / 40 per gen
    view = ds.docs_view(spark, ts_col=None)
    rows = view.select("src_id").collect()
    ids = sorted(r.src_id for r in rows)
    assert ids == list(range(100))  # no drops, no duplicates
    assert ds.doc_count() == 100


def test_append_shuffled_batch_is_exact(spark, tmp_path):
    """A batch with a shuffle in its lineage (orderBy) must append exactly
    once per row. Regression: AQE laid the range-shuffle partitions out
    differently between assign_doc_ids' count job and the id-assignment
    job over the then-unpinned batch, and the inner _pid join silently
    dropped 7/8 of the rows (4668 -> 607 observed at sf0.01). append()
    now pins the batch first and asserts row conservation."""
    from opensearch_spark.index.build import IndexConfig
    from opensearch_spark.index.datastream import DataStream

    ds = DataStream(str(tmp_path / "sds"),
                    IndexConfig(field="content", analyzer="standard",
                                n_parts=2),
                    rollover_max_docs=1 << 30)
    batch = spark.sql("""
        SELECT concat('doc ', id, ' words here') AS content,
               id AS src_id FROM range(5000)""").orderBy("src_id")
    ds.append(spark, batch)
    assert ds.doc_count() == 5000
    ids = sorted(r.src_id for r in
                 ds.docs_view(spark, ts_col=None).select("src_id").collect())
    assert ids == list(range(5000))


def test_assign_doc_ids_uncached_unpinned_refuses(spark):
    """assign_doc_ids(cache=False) over an unpinned frame is the silent
    row-loss hazard — it must raise instead."""
    import pytest

    from opensearch_spark.index.build import assign_doc_ids

    df = spark.range(100).orderBy("id")
    with pytest.raises(ValueError, match="persist"):
        assign_doc_ids(df, [], cache=False)
    pinned = df.persist()
    try:
        out = assign_doc_ids(pinned, [], cache=False)
        assert out.count() == 100
        assert out.select("doc_id").distinct().count() == 100
    finally:
        pinned.unpersist()


def test_ltz_guard_survives_total_prune(stream, spark, monkeypatch):
    """Writer/reader tz skew can prune EVERY generation; for LTZ ts
    columns docs_view must fall back to row-filter-only instead of
    returning the empty frame (ADVICE r3 #1: the schema probe runs even
    when pruning returned no dirs)."""
    monkeypatch.setattr(stream, "_pruned_dirs", lambda *a, **k: [])
    v = stream.docs_view(spark, "2024-01-02", "2024-01-02 23:59:59")
    assert v.count() == 90


def test_assign_doc_ids_pins_are_per_thread_and_swept(spark):
    """Pins are keyed per caller thread (interleaved builds can't drop
    each other's in-flight frames) and a dead thread's pin is swept on
    the next rotation — no unbounded per-thread accumulation."""
    import threading

    from opensearch_spark.index import build as B

    df = spark.range(100).withColumnRenamed("id", "k")
    err = []

    def worker():
        try:
            out = B.assign_doc_ids(df, ["k"], cache=True)
            assert out.count() == 100
        except Exception as e:  # surface in the main thread
            err.append(e)

    t = threading.Thread(target=worker)
    t.start()
    t.join()
    assert not err
    dead_tid = t.ident
    assert dead_tid in B._ASSIGN_PINS
    out = B.assign_doc_ids(df, ["k"], cache=True)
    assert out.count() == 100
    assert dead_tid not in B._ASSIGN_PINS          # swept
    assert threading.get_ident() in B._ASSIGN_PINS  # current pin kept


def test_date_column_boundary_generation_not_pruned(spark, tmp_path):
    """Round-4 review: a DATE ts column's manifest stats are bare
    'YYYY-MM-DD'; a datetime-form lower bound on the boundary day must
    not prune the generation whose rows the row filter keeps."""
    from datetime import date

    d = str(tmp_path / "ds_date")
    ds = DataStream(d, CFG, rollover_max_docs=100)
    rows = [(f"r{i}", f"p/{i}", "c", "py", f"import spark word{i}",
             date(2024, 1, 5)) for i in range(10)]
    batch = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string, ts date")
    ds.append(spark, batch, ts_col="ts")
    v = ds.docs_view(spark, "2024-01-05 00:00:00", "2024-01-05 23:59:59")
    assert v.count() == 10
    assert ds.docs_view(spark, "2024-01-06", None).count() == 0


def test_rollover_zero_and_chunk_collision_rejected(spark, tmp_path):
    import pytest as _pt

    with _pt.raises(ValueError, match="rollover_max_docs"):
        DataStream(str(tmp_path / "bad"), CFG, rollover_max_docs=0)
    ds = DataStream(str(tmp_path / "ok"), CFG, rollover_max_docs=10)
    batch = _batch(spark, 0, 3, day=1).withColumn("_chunk", F.lit(1))
    with _pt.raises(ValueError, match="_chunk"):
        ds.append(spark, batch, ts_col="ts")
