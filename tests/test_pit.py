"""Point-in-time readers (action/search/CreatePitAction,
search/internal/PitReaderContext.java): a PIT pins the liveDocs
generation at open time; later delete_docs appends are invisible through
the handle while the live reader and any NEWER pit see them; handles
serialize to JSON like the reference's opaque pit_id."""

import pytest

from opensearch_spark.index.build import (IndexConfig, InvertedIndex,
                                          build_index, delete_docs)
from opensearch_spark.index.pit import PitIndex, PointInTime, open_pit
from opensearch_spark.search import Searcher, queries as Q


@pytest.fixture(scope="module")
def pit_index(spark, sf_dir, tmp_path_factory):
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    path = str(tmp_path_factory.mktemp("pitidx") / "idx")
    build_index(spark, corpus, path,
                IndexConfig(field="text", analyzer="standard",
                            keyword_cols=("lang",), n_parts=4,
                            bucket_span=1 << 12, with_positions=True))
    return path


def _top(searcher, text="the", k=5):
    return [(r["doc_id"], round(r["score"], 4))
            for r in searcher.search(Q.Match(field="text", text=text), k=k,
                                     mode="exhaustive").collect()]


def test_pit_pins_generation_across_deletes(spark, pit_index):
    base = _top(Searcher(spark, InvertedIndex(pit_index)))
    assert base

    pit0 = open_pit(pit_index)
    assert pit0.delete_files == ()

    victim = base[0][0]
    delete_docs(spark, pit_index, [victim])

    # live reader (fresh handle): victim gone
    live = _top(Searcher(spark, InvertedIndex(pit_index)))
    assert victim not in {d for d, _ in live}

    # PIT opened BEFORE the delete: identical to the pre-delete view,
    # scores and ranks included (stats never counted deletes anyway)
    through_pit = _top(Searcher(spark, PitIndex(pit0)))
    assert through_pit == base

    # a NEW pit opened after the delete pins the newer generation
    pit1 = open_pit(pit_index)
    assert len(pit1.delete_files) == 1
    assert pit1.pit_id != pit0.pit_id
    assert victim not in {d for d, _ in _top(Searcher(spark, PitIndex(pit1)))}

    # a second delete is invisible to BOTH existing handles
    victim2 = live[0][0]
    delete_docs(spark, pit_index, [victim2])
    assert _top(Searcher(spark, PitIndex(pit0))) == base
    assert victim2 in {d for d, _ in _top(Searcher(spark, PitIndex(pit1)))}
    assert victim2 not in {
        d for d, _ in _top(Searcher(spark, InvertedIndex(pit_index)))}


def test_pit_handle_json_roundtrip(spark, pit_index):
    pit = open_pit(pit_index)
    back = PointInTime.from_json(pit.to_json())
    assert back == pit
    assert _top(Searcher(spark, PitIndex(back))) == \
        _top(Searcher(spark, PitIndex(pit)))


def test_pit_invalidated_by_in_place_rebuild(spark, tmp_path):
    """Round-4 review: the frozen-view premise holds for APPENDS only —
    an in-place rebuild (merge_segments overwrite) mints a new build_id
    and a stale PIT must fail loudly, not silently serve post-merge data
    with pre-merge stats."""
    import json
    import os

    from opensearch_spark.index.build import IndexConfig, build_index
    from opensearch_spark.index.pit import PitIndex, open_pit

    out = str(tmp_path / "pit_rebuild")
    docs = spark.read.parquet(
        os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
        + "/documents.parquet").limit(30)
    build_index(spark, docs, out,
                IndexConfig(field="text", analyzer="standard",
                            id_col="doc_id"))
    pit = open_pit(out)
    assert pit.build_id is not None
    PitIndex(pit)  # fresh: opens fine
    # simulate the in-place refresh: rewrite meta with a new build_id
    meta_path = os.path.join(out, "meta.json")
    meta = json.load(open(meta_path))
    meta["build_id"] = "rebuilt" + meta["build_id"][:8]
    json.dump(meta, open(meta_path, "w"))
    with pytest.raises(RuntimeError, match="PIT invalidated"):
        PitIndex(pit)
    # round-trip keeps the guard
    from opensearch_spark.index.pit import PointInTime
    with pytest.raises(RuntimeError, match="PIT invalidated"):
        PitIndex(PointInTime.from_json(pit.to_json()))


def test_pit_requests_release_tombstone_charge(spark, sf_dir, tmp_path):
    """Each ``pit`` body opens its own reader, which charges its liveDocs
    to ``fielddata_breaker``. The charge goes when the reader is freed,
    so a run of PIT requests leaves the breaker where it started."""
    import gc

    from opensearch_spark.common.breaker import fielddata_breaker
    from opensearch_spark.search.request import execute_search_request

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    path = str(tmp_path / "idx")
    build_index(spark, corpus, path,
                IndexConfig(field="text", analyzer="standard", n_parts=2,
                            bucket_span=1 << 12))
    delete_docs(spark, path, [1, 2, 3])
    live = Searcher(spark, InvertedIndex(path))
    body = {"query": {"match": {"text": "the"}}, "size": 5,
            "pit": {"id": open_pit(path).to_json()}}
    gc.collect()
    base = fielddata_breaker.used
    for _ in range(6):
        hits = execute_search_request(live, body).collect()
        assert hits and not {1, 2, 3} & {r.doc_id for r in hits}
    del hits
    gc.collect()
    assert fielddata_breaker.used == base
