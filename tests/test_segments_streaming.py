"""Resumable segmented build (crash → resume → merge ≡ direct build) and
streaming micro-batch ingest (NRT refresh model)."""

import os

import pytest
from pyspark.sql import functions as F

from opensearch_spark.index.build import LAYOUT_VERSION, IndexConfig, build_index
from opensearch_spark.index.segments import (
    build_segments,
    merge_segments,
    read_manifest,
)
from opensearch_spark.search import Match, Searcher

DOCS = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001") + "/documents.parquet"
CFG = IndexConfig(field="text", analyzer="standard", id_col="doc_id",
                  n_parts=4, bucket_span=64)


def test_crash_resume_merge_equals_direct_build(spark, tmp_path):
    corpus = spark.read.parquet(DOCS)
    seg_dir = str(tmp_path / "seg_idx")

    # crash after 2 segments
    with pytest.raises(RuntimeError, match="injected failure"):
        build_segments(spark, corpus, seg_dir, CFG, n_segments=4, fail_after=2)
    m = read_manifest(seg_dir)
    assert len(m) == 2
    assert all(v["status"] == "committed" for v in m.values())

    # resume: only remaining segments run; attempts stay 1 for committed
    build_segments(spark, corpus, seg_dir, CFG, n_segments=4)
    m2 = read_manifest(seg_dir)
    assert len(m2) == 4
    assert sum(v["rows"] for v in m2.values()) == corpus.count()
    assert all(m2[s]["attempt"] == 1 for s in m)  # untouched on resume

    idx = merge_segments(spark, seg_dir, CFG)

    # identical results to the one-shot build
    direct = build_index(spark, corpus, str(tmp_path / "direct_idx"), CFG)
    q = Match(field="text", text="spark table merge")
    a = sorted((r["doc_id"], round(r["score"], 10)) for r in
               Searcher(spark, idx).search(q, k=10).collect())
    b = sorted((r["doc_id"], round(r["score"], 10)) for r in
               Searcher(spark, direct).search(q, k=10).collect())
    assert a == b
    # byte-level: every postings column and every dictionary row agree
    for table in ("postings", "dictionary"):
        ta, tb = idx._table(spark, table), direct._table(spark, table)
        assert sorted(ta.columns) == sorted(tb.columns)
        cols = sorted(ta.columns)
        ra = sorted(tuple(r) for r in ta.select(*cols).collect())
        rb = sorted(tuple(r) for r in tb.select(*cols).collect())
        assert ra == rb, table


def test_merged_meta_records_vocab_size(spark, tmp_path):
    """merge_segments writes meta.json through build_index's writer, so a
    Searcher opened on a merged tree reads vocab_size instead of running a
    dictionary count."""
    import json

    corpus = spark.read.parquet(DOCS).limit(80)
    seg_dir = str(tmp_path / "vocab_idx")
    build_segments(spark, corpus, seg_dir, CFG, n_segments=2)
    idx = merge_segments(spark, seg_dir, CFG)
    with open(os.path.join(seg_dir, "meta.json")) as fh:
        meta = json.load(fh)
    assert meta["vocab_size"] == idx.dictionary(spark).count() > 0
    assert meta["layout_version"] == LAYOUT_VERSION


def test_manifest_and_rollup_metrics(spark, tmp_path):
    """North-rule 'per-partition lineage + metrics': every segment
    manifest carries wall/throughput/posting-row/bytes metrics (posting
    rows cross-checked against the actual written parquet), and
    merge_segments writes a metrics.json rollup covering every segment
    plus the global merge cost."""
    import json

    corpus = spark.read.parquet(DOCS).limit(80)
    seg_dir = str(tmp_path / "metrics_idx")
    build_segments(spark, corpus, seg_dir, CFG, n_segments=2)
    m = read_manifest(seg_dir)
    assert len(m) == 2
    for s, entry in m.items():
        mt = entry["metrics"]
        assert mt["build_wall_s"] > 0
        assert mt["docs_per_sec"] > 0
        assert mt["bytes_on_disk"] > 0
        got = spark.read.parquet(
            os.path.join(seg_dir, "segments", f"seg_{s}", "postings")).count()
        assert mt["n_postings"] == got > 0

    merge_segments(spark, seg_dir, CFG)
    with open(os.path.join(seg_dir, "metrics.json")) as fh:
        roll = json.load(fh)
    assert roll["doc_count"] == 80
    assert roll["merge_wall_s"] > 0 and roll["postings_bytes"] > 0
    assert set(roll["segments"]) == {str(s) for s in m}
    for s, entry in m.items():
        assert roll["segments"][str(s)]["rows"] == entry["rows"]
        assert roll["segments"][str(s)]["n_postings"] == \
            entry["metrics"]["n_postings"]


def test_rerun_is_idempotent(spark, tmp_path):
    corpus = spark.read.parquet(DOCS).limit(50)
    seg_dir = str(tmp_path / "idem")
    build_segments(spark, corpus, seg_dir, CFG, n_segments=2)
    m1 = read_manifest(seg_dir)
    build_segments(spark, corpus, seg_dir, CFG, n_segments=2)  # no-op
    m2 = read_manifest(seg_dir)
    assert m1 == m2


def test_streaming_microbatch_ingest(spark, tmp_path):
    from opensearch_spark.streaming.ingest import start_streaming_index

    src = str(tmp_path / "drops")
    os.makedirs(src)
    corpus = spark.read.parquet(DOCS).limit(60)
    # three "arriving" files
    for i in range(3):
        corpus.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "overwrite").parquet(os.path.join(src, f"drop_{i}"))
    # flatten: streaming source wants files in one dir
    import glob
    import shutil

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(glob.glob(os.path.join(src, "drop_*", "*.parquet"))):
        shutil.copy(f, os.path.join(flat, f"f{i}.parquet"))

    out = str(tmp_path / "stream_idx")
    q = start_streaming_index(spark, flat, corpus.schema, out, CFG,
                              trigger_seconds=1)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    m = read_manifest(out)
    assert sum(v["rows"] for v in m.values()) == 60
    idx = merge_segments(spark, out, CFG)
    assert idx.doc_count == 60
    s = Searcher(spark, idx)
    hits = s.search(Match(field="text", text="spark"), k=5).collect()
    assert len(hits) > 0


def test_segmented_build_with_positions_matches_batch(spark, tmp_path):
    """The segmented path must honor cfg.with_positions (it previously
    ignored the flag but stamped it into meta.json — a positional query
    against the merged index then crashed on the missing table). Phrase
    search over the segment-built index must equal the batch build."""
    from opensearch_spark.search import MatchPhrase

    corpus = spark.read.parquet(DOCS)
    cfg = IndexConfig(field="text", analyzer="standard", id_col="doc_id",
                      n_parts=4, bucket_span=64, with_positions=True)
    seg_dir, direct_dir = str(tmp_path / "segp"), str(tmp_path / "dirp")
    build_segments(spark, corpus, seg_dir, cfg, n_segments=3)
    idx = merge_segments(spark, seg_dir, cfg)
    assert idx.meta["with_positions"] is True
    assert os.path.isdir(os.path.join(seg_dir, "positions"))
    direct = build_index(spark, corpus, direct_dir, cfg)
    q = MatchPhrase(field="text", text="spark table")
    a = sorted(map(tuple, Searcher(spark, idx)
                   .search(q, k=20, round_scores=4).collect()))
    b = sorted(map(tuple, Searcher(spark, direct)
                   .search(q, k=20, round_scores=4).collect()))
    assert a == b and len(a) > 0


def test_segmented_build_docs_mode_matches_batch(spark, tmp_path):
    """index_options='docs' (match_only_text) through the segmented path:
    tf must be 1 everywhere (cf == df in the dictionary) and scores must
    equal the batch docs-mode build."""
    corpus = spark.read.parquet(DOCS)
    cfg = IndexConfig(field="text", analyzer="standard", id_col="doc_id",
                      n_parts=4, bucket_span=64, index_options="docs")
    seg_dir, direct_dir = str(tmp_path / "segd"), str(tmp_path / "dird")
    build_segments(spark, corpus, seg_dir, cfg, n_segments=3)
    idx = merge_segments(spark, seg_dir, cfg)
    d = idx.dictionary(spark).select("df", "cf").collect()
    assert all(r["df"] == r["cf"] for r in d)
    direct = build_index(spark, corpus, direct_dir, cfg)
    q = Match(field="text", text="spark table merge")
    a = sorted(map(tuple, Searcher(spark, idx)
                   .search(q, k=20, round_scores=4).collect()))
    b = sorted(map(tuple, Searcher(spark, direct)
                   .search(q, k=20, round_scores=4).collect()))
    assert a == b and len(a) > 0


def test_merge_with_positions_rejects_positionless_segments(spark, tmp_path):
    """Segments written under with_positions=False must make a
    with_positions=True merge fail LOUDLY (clear rebuild instruction),
    not with an AnalysisException or footer-dependent silent drop
    (ADVICE r3 #3)."""
    corpus = spark.read.parquet(DOCS).limit(40)
    seg_dir = str(tmp_path / "seg_nopos")
    build_segments(spark, corpus, seg_dir, CFG, n_segments=2)
    pos_cfg = IndexConfig(field="text", analyzer="standard",
                          id_col="doc_id", n_parts=4, bucket_span=64,
                          with_positions=True)
    with pytest.raises(ValueError, match="positions"):
        merge_segments(spark, seg_dir, pos_cfg)


def test_streaming_epoch_replay_is_idempotent(spark, tmp_path):
    """Round-4 review: a replayed epoch (crash between manifest write
    and checkpoint commit) must produce the SAME doc_ids, not shift by
    its own previous attempt's row count."""
    from opensearch_spark.streaming.ingest import index_microbatch

    out = str(tmp_path / "stream_replay")
    cfg = IndexConfig(field="text", analyzer="standard", id_col=None,
                      order_cols=("text",), n_parts=2, bucket_span=64)
    batch = spark.read.parquet(DOCS).limit(30).select("text")
    index_microbatch(batch, 0, out, cfg)
    ids1 = sorted(r["doc_id"] for r in
                  spark.read.parquet(os.path.join(
                      out, "segments", "seg_0", "docs")).collect())
    index_microbatch(batch, 0, out, cfg)  # REPLAY of the same epoch
    ids2 = sorted(r["doc_id"] for r in
                  spark.read.parquet(os.path.join(
                      out, "segments", "seg_0", "docs")).collect())
    assert ids1 == ids2 == list(range(30))
    # and the next epoch continues from the true base
    index_microbatch(batch, 1, out, cfg)
    ids3 = sorted(r["doc_id"] for r in
                  spark.read.parquet(os.path.join(
                      out, "segments", "seg_1", "docs")).collect())
    assert ids3 == list(range(30, 60))


def test_streaming_into_batch_tree_does_not_collide(spark, tmp_path):
    """Round-4 review: epoch 0 must NOT overwrite a batch-built seg_0 —
    stream segment ids start above the existing committed maximum, and
    the mixed tree keeps ONE docs schema (id_col preserved)."""
    from opensearch_spark.streaming.ingest import index_microbatch

    out = str(tmp_path / "mixed_tree")
    corpus = spark.read.parquet(DOCS).limit(40)
    build_segments(spark, corpus, out, CFG, n_segments=2)
    before = spark.read.parquet(
        os.path.join(out, "segments", "seg_0", "docs")).count()
    batch = spark.read.parquet(DOCS).limit(10)
    index_microbatch(batch, 0, out, CFG)
    man = read_manifest(out)
    assert set(man) == {0, 1, 2}  # stream epoch 0 landed as seg_2
    assert spark.read.parquet(
        os.path.join(out, "segments", "seg_0", "docs")).count() == before
    stream_docs = spark.read.parquet(
        os.path.join(out, "segments", "seg_2", "docs"))
    assert "doc_id" in stream_docs.columns
    batch_docs = spark.read.parquet(
        os.path.join(out, "segments", "seg_0", "docs"))
    assert set(stream_docs.columns) == set(batch_docs.columns)
