"""Segmented, resumable index build with per-segment lineage manifests.

The reference's durability model — translog + fsynced checkpoints per shard
(``index/translog/Translog.java:103-117``, ``Checkpoint.java``,
``LocalCheckpointTracker.java``) and write-once segments merged in the
background (``OpenSearchTieredMergePolicy.java``) — projected onto Spark:

- a **segment** = one doc_id range of the corpus, built independently and
  written write-once under ``segments/seg_<i>/`` as sorted flat postings
  (term, doc_id, tf[, positions]) + a docs slice;
- a **manifest** JSON per segment (rows, content-sha signature, attempt),
  written temp-file + fsync + atomic-rename AFTER the data — the same
  two-phase discipline as ``Translog.java:277-283``. A crash between data
  and manifest re-runs that segment idempotently (overwrite of the same
  path).
- ``resume``: committed segments are skipped — restartable at segment
  granularity, which is exactly the north-rule checkpoint requirement;
- ``merge_segments``: k-way merge-sort of all segment postings into the
  global blocked posting lists through ``build_index``'s own encoder: each
  task packs its flat segment rows into (term, bucket) segments, and one
  Spark shuffle-sort over (term, bucket) merges them (Spark's sort IS the
  k-way merge; the tiered-merge policy's job is done by the shuffle). The
  dictionary, stats and meta writers are ``build_index``'s too.
"""

from __future__ import annotations

import json
import os
import time as _time

from pyspark.sql import DataFrame, SparkSession, functions as F

from opensearch_spark.common.sparkconf import shuffle_partitions

from opensearch_spark.analysis import termfreq_udf
from opensearch_spark.index.build import (
    IndexConfig,
    InvertedIndex,
    _atomic_write_json,
    _storage_level,
    assign_doc_ids,
    encode_blocks_flat,
    write_dictionary,
    write_postings,
    write_stats_and_meta,
)


def _manifest_path(out_dir: str, seg: int) -> str:
    return os.path.join(out_dir, "manifest", f"seg_{seg}.json")


def _parquet_rows(path: str) -> int | None:
    """Row count from parquet footers only — metadata reads, no scan."""
    try:
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
            for f in os.listdir(path) if f.endswith(".parquet"))
    except (OSError, ValueError):
        return None


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def read_manifest(out_dir: str) -> dict[int, dict]:
    mdir = os.path.join(out_dir, "manifest")
    out = {}
    if not os.path.isdir(mdir):
        return out
    for f in os.listdir(mdir):
        if f.startswith("seg_") and f.endswith(".json"):
            with open(os.path.join(mdir, f)) as fh:
                m = json.load(fh)
            if m.get("status") == "committed":
                out[int(m["segment_id"])] = m
    return out


def write_segment_tables(part: DataFrame, keep_cols: list[str],
                         seg_dir: str, cfg: IndexConfig) -> DataFrame:
    """Write one segment's docs + flat-postings tables (the on-disk
    layout ``merge_segments`` reads) from a frame that already carries
    ``doc_id``. Shared by the resumable batch build and the data-stream
    append path so the layout has exactly one author. The analyzed frame
    is persisted for the span of the two writes + the stats agg the
    caller runs, and returned so the caller can unpersist after its
    manifest commit."""
    if cfg.index_options == "docs" and cfg.with_positions:
        raise ValueError(
            "index_options='docs' (match_only_text) cannot store positions")
    analyzed = part.withColumn(
        "_tf", termfreq_udf(cfg.analyzer, cfg.with_positions)(F.col(cfg.field)))
    if cfg.index_options == "docs":
        # match_only_text: tf ≡ 1 before any downstream consumer — the
        # same transform build_index applies, so the merged dictionary's
        # cf and the encoded postings agree with the batch build
        analyzed = analyzed.withColumn(
            "_tf",
            F.col("_tf").withField(
                "tfs", F.transform("_tf.tfs", lambda t: F.lit(1))))
    analyzed = analyzed.persist()
    docs = analyzed.select(
        "doc_id",
        *[c for c in keep_cols if c != "doc_id"],
        F.col("_tf.dl").alias("dl"),
        F.sha2(F.col(cfg.field), 256).alias("content_sha256"),
    )
    docs.write.mode("overwrite").parquet(os.path.join(seg_dir, "docs"))
    zip_expr = ("arrays_zip(_tf.terms, _tf.tfs, _tf.poss)"
                if cfg.with_positions else "arrays_zip(_tf.terms, _tf.tfs)")
    flat = analyzed.select(
        "doc_id", F.col("_tf.dl").alias("dl"),
        F.explode(F.expr(zip_expr)).alias("z"),
    ).select(
        F.col("z.terms").alias("term"), "doc_id",
        F.col("z.tfs").cast("long").alias("tf"), "dl",
        *([F.col("z.poss").alias("positions")] if cfg.with_positions else []),
    )
    (flat.repartition(max(2, cfg.n_parts), "term")
         .sortWithinPartitions("term", "doc_id")
         .write.mode("overwrite").parquet(os.path.join(seg_dir, "postings")))
    return analyzed, docs


def build_segments(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    config: IndexConfig = IndexConfig(),
    n_segments: int = 4,
    fail_after: int | None = None,
) -> list[int]:
    """Build (or resume) per-segment postings. Returns committed segment ids.

    ``fail_after`` aborts after N newly committed segments — used by tests
    to exercise crash/resume.
    """
    cfg = config
    os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)
    if cfg.id_col is None:
        with_ids = assign_doc_ids(corpus, list(cfg.order_cols))
    else:
        with_ids = corpus.withColumn("doc_id", F.col(cfg.id_col).cast("long"))
    total = with_ids.count()
    seg_span = (total + n_segments - 1) // n_segments
    with_seg = with_ids.withColumn(
        "segment_id", (F.col("doc_id") / F.lit(seg_span)).cast("int"))
    # honors cfg.cache_level ("disk" = the big-corpus posture the CLI's
    # --cache-level flag selects — it must work on the resumable path too)
    with_seg = with_seg.persist(_storage_level(cfg.cache_level))

    committed = read_manifest(out_dir)
    done_now = 0
    segs = sorted(
        r["segment_id"] for r in with_seg.select("segment_id").distinct().collect())
    for seg in segs:
        if seg in committed:
            continue
        t0 = _time.perf_counter()
        part = with_seg.where(F.col("segment_id") == seg)
        seg_dir = os.path.join(out_dir, "segments", f"seg_{seg}")
        analyzed, docs = write_segment_tables(
            part, [c for c in part.columns if c != "segment_id"],
            seg_dir, cfg)
        sig = docs.agg(
            F.expr(
                "bit_xor(cast(conv(substr(content_sha256, 1, 15), 16, 10) as bigint))"
            ).alias("sig"),
            F.count("*").alias("rows"),
        ).collect()[0]
        prev_attempt = 0
        mp = _manifest_path(out_dir, seg)
        if os.path.exists(mp):
            with open(mp) as fh:
                prev_attempt = json.load(fh).get("attempt", 0)
        wall = _time.perf_counter() - t0
        rows = int(sig["rows"])
        _atomic_write_json(mp, {
            "segment_id": seg,
            "rows": rows,
            "sha256_xor_sig": int(sig["sig"]) if sig["sig"] is not None else 0,
            "status": "committed",
            "attempt": prev_attempt + 1,
            # per-partition metrics (north-rule: lineage + METRICS): wall
            # seconds, throughput, posting rows (parquet footer counts —
            # no extra Spark job), and on-disk bytes for capacity planning
            "metrics": {
                "build_wall_s": round(wall, 4),
                "docs_per_sec": round(rows / wall, 2) if wall > 0 else None,
                "n_postings": _parquet_rows(os.path.join(seg_dir, "postings")),
                "bytes_on_disk": _dir_bytes(seg_dir),
            },
        })
        analyzed.unpersist()
        done_now += 1
        if fail_after is not None and done_now >= fail_after:
            with_seg.unpersist()
            raise RuntimeError(f"injected failure after {done_now} segments")
    with_seg.unpersist()
    return sorted(set(committed) | set(segs))


def merge_segments(
    spark: SparkSession, out_dir: str, config: IndexConfig = IndexConfig()
) -> InvertedIndex:
    """Merge all committed segments into the global index tables
    (docs/postings/dictionary/stats/meta) — the global merge-sort step."""
    cfg = config
    t0 = _time.perf_counter()
    committed = read_manifest(out_dir)
    if not committed:
        raise ValueError("no committed segments to merge")
    seg_dirs = [os.path.join(out_dir, "segments", f"seg_{s}") for s in sorted(committed)]
    docs = spark.read.parquet(*[os.path.join(d, "docs") for d in seg_dirs])
    flat = spark.read.parquet(*[os.path.join(d, "postings") for d in seg_dirs])
    docs.write.mode("overwrite").parquet(os.path.join(out_dir, "docs"))

    if cfg.with_positions:
        # segment postings carry the per-(term, doc) position arrays;
        # doc ids are already global (assigned/rebased before the segment
        # write), so the global positions table is a plain concat — the
        # same (term, doc_id, positions) layout build_index writes.
        # Segments written under an older cfg (with_positions=False) have
        # no such column, and a mixed tree read without mergeSchema
        # either fails on the select or silently NULL-fills rows,
        # depending on which footer wins the multi-path schema pick —
        # probe each segment's own footer and fail with a clear rebuild
        # instruction naming the stale segments instead. Cost: one
        # driver-side footer read per segment (~ms local, bounded by
        # segment count, no executor scan) — noise next to the full
        # postings rewrite this merge performs, and the only check that
        # catches the MIXED tree (a union-schema read cannot tell
        # "some segments lack it" from "all have it").
        missing = [
            os.path.basename(d) for d in seg_dirs
            if "positions" not in spark.read.parquet(
                os.path.join(d, "postings")).columns]
        if missing:
            raise ValueError(
                "merge_segments(with_positions=True): segment(s) "
                f"{sorted(missing)} lack a positions column (written by "
                "an older config) — rebuild those segments with "
                "with_positions=True before merging.")
        (flat.select("term", "doc_id", "positions").write.mode("overwrite")
             .parquet(os.path.join(out_dir, "positions")))
        flat = flat.drop("positions")

    stats = docs.agg(F.count("*").alias("n"), F.sum("dl").alias("s")).collect()[0]
    doc_count, sum_dl = int(stats["n"]), int(stats["s"] or 0)
    avgdl = sum_dl / doc_count if doc_count else 0.0
    write_dictionary(flat, out_dir)
    write_postings(
        encode_blocks_flat(flat, cfg.bucket_span, cfg.k1, cfg.b, avgdl,
                           shuffle_partitions(spark)),
        cfg, out_dir)
    write_stats_and_meta(spark, out_dir, cfg, doc_count, sum_dl, avgdl)
    # build-metrics rollup (north-rule: per-partition lineage + metrics):
    # every segment's manifest metrics plus the global merge cost, so a
    # cluster operator reads one file for throughput/capacity per build
    merge_wall = _time.perf_counter() - t0
    _atomic_write_json(os.path.join(out_dir, "metrics.json"), {
        "doc_count": doc_count,
        "merge_wall_s": round(merge_wall, 4),
        "merge_docs_per_sec": round(doc_count / merge_wall, 2)
            if merge_wall > 0 else None,
        "postings_bytes": _dir_bytes(os.path.join(out_dir, "postings")),
        "segments": {
            str(s): committed[s].get("metrics", {}) | {
                "rows": committed[s]["rows"],
                "attempt": committed[s].get("attempt"),
            }
            for s in sorted(committed)
        },
    })
    return InvertedIndex(out_dir)


def build_resumable(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    config: IndexConfig = IndexConfig(),
    n_segments: int = 4,
) -> InvertedIndex:
    """build_segments + merge_segments in one call (resume-safe)."""
    build_segments(spark, corpus, out_dir, config, n_segments)
    return merge_segments(spark, out_dir, config)
