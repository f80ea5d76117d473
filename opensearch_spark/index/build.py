"""Inverted-index build: corpus DataFrame → docs / postings / dictionary /
stats tables (SURVEY.md §1.3 data model).

Mirrors the reference's write path behaviorally (analysis in
``index/mapper/DocumentParser.java:77``, Lucene segment write in
``index/engine/InternalEngine.java:1107-1186``, tiered merge in
``index/TieredMergePolicyProvider.java``) but is architected for Spark:

- one declarative DataFrame plan: analyze + per-doc tf (ONE Arrow UDF pass,
  map-side combine inside the tokenizer) → per-task packed (term, bucket)
  posting segments → (term, bucket) shuffle of the packed rows → merge +
  re-block (mapInPandas) → partitioned parquet write; the only wide
  shuffles are the packed-segment repartition and the dictionary agg.
  ``merge_segments`` feeds the same encoder from flat segment rows and
  writes through the same table and meta writers;
- **skew by construction**: blocks are built per (term, doc-bucket) group, so
  a hot term ('import', 'def' class — present in >60% of docs) is spread
  across ~n_docs/bucket_span independent groups instead of one giant reducer
  (the reference's analog is ``index.routing_partition_size``,
  ``OperationRouting.java:464``). AQE handles residual imbalance.
- 100 TB story: every stage is a hash shuffle on (term) or (term, bucket);
  no driver-side data, no global windows, no collect of anything O(N).
"""

from __future__ import annotations

import json
import os
import threading
import uuid
import weakref
from dataclasses import asdict, dataclass, field as dc_field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from opensearch_spark.common.sparkconf import shuffle_partitions
from pyspark.sql import types as T

from opensearch_spark.analysis import termfreq_udf

LAYOUT_VERSION = 2  # bump on any on-disk format change (invalidates caches)

BLOCK_SCHEMA = (
    "term string, bucket long, block_seq int, first_doc long, last_doc long, "
    "n int, max_tf int, max_impact double, docs_vb binary, tfs_vb binary, "
    "dls_vb binary"
)
BLOCK_COLS = [c.split()[0] for c in BLOCK_SCHEMA.split(", ")]


@dataclass(frozen=True)
class IndexConfig:
    field: str = "content"
    analyzer: str = "standard_code"
    id_col: str | None = None          # pre-existing dense id; None → assign
    order_cols: tuple = ()             # deterministic doc_id order (e.g. repo,path,commit)
    id_order: str = "local"            # local (per-partition, shard-faithful) | range (global)
    keyword_cols: tuple = ()           # exact-match filter columns kept in docs
    n_parts: int = 8                   # term-hash write partitions (dir pruning)
    bucket_span: int = 1 << 15         # doc_ids per posting bucket (skew control)
    k1: float = 1.2
    b: float = 0.75
    with_positions: bool = False
    # "freqs" (text field default) | "docs" (match_only_text,
    # MatchOnlyTextFieldMapper.java:42,59 — IndexOptions.DOCS): postings
    # keep no term frequencies (tf ≡ 1 at score time), positions are
    # unavailable; norms (dl) are still stored. The tf run of 1s varbyte-
    # encodes to 1 byte/posting, so the posting payload shrinks accordingly.
    index_options: str = "freqs"
    # storage level for the analyzed-frame cache that every build stage
    # reads. "memory" = MEMORY_AND_DISK (default). "disk" = DISK_ONLY:
    # past the point where the columnar cache fits the executor heap
    # (measured wall at ~2.4M docs on an 8g single-JVM proxy) the JVM
    # stops paying GC/eviction for it and the OS page cache serves the
    # re-reads — on big-memory hosts this is the faster posture.
    cache_level: str = "memory"


def _storage_level(name: str):
    from pyspark import StorageLevel

    # "memory" must match DataFrame.persist()'s default
    # (MEMORY_AND_DISK_DESER) exactly — the pre-knob builds used bare
    # .persist(), and a silent switch to the serialized level would
    # change the benchmarked hot path
    return {"memory": StorageLevel.MEMORY_AND_DISK_DESER,
            "disk": StorageLevel.DISK_ONLY}[name]


#: assign_doc_ids' last internal (cache=True) pin — rotated per call
# doc-id assignment pins, keyed by caller thread (TaskManager runs builds
# on background threads: one global slot would let interleaved builds
# unpersist each other's IN-FLIGHT pinned frame, recomputing the lineage
# unpinned — the exact AQE layout hazard the pin exists to close). Each
# thread's calls are sequential, so per-thread rotation keeps the
# one-generation memory bound without cross-thread races.
_ASSIGN_PINS: dict = {}
_ASSIGN_PIN_LOCK = threading.Lock()


def assign_doc_ids(df: DataFrame, order_cols: list[str], n_parts: int = 32,
                   mode: str = "local", cache: bool = True) -> DataFrame:
    """Deterministic dense doc_id without a single-partition global window —
    and without sending the corpus through Python.

    ``mode="local"`` (default, and the reference-faithful one — a Lucene
    shard assigns doc ids in per-segment arrival order, never globally
    sorted): sort by ``order_cols`` WITHIN the input partitions and number
    ``partition_offset + within-partition sequence``. Deterministic and
    resumable whenever the input partitioning is (a committed
    parquet/Iceberg snapshot's file/split layout is); costs zero wide
    shuffles — the corpus content never moves.

    ``mode="range"``: additionally range-partition by ``order_cols`` first
    so ids follow the GLOBAL order — one full-content shuffle; use when
    downstream wants doc-id locality to mirror key order exactly.

    The sequence comes from ``monotonically_increasing_id`` (pid<<33 |
    row-in-partition, follows the partition's sort order) — the scalable
    zipWithIndex, entirely JVM-side. Ties in order_cols within a partition
    would make ids nondeterministic, so order_cols must be a unique key.
    """
    reserved = {"_pid", "_seq", "_off", "doc_id"} & set(df.columns)
    reserved.discard("doc_id")  # overwritten deliberately (re-id paths)
    if reserved:
        # withColumn would silently REPLACE a same-named user column and
        # the working-column drop() would then delete the user's data —
        # fail loudly instead (same collision class as dedup's _mh_x fix)
        raise ValueError(
            f"assign_doc_ids: input columns {sorted(reserved)} collide "
            "with internal working columns — rename them first")
    if mode == "range":
        sorted_df = df.repartitionByRange(n_parts, *order_cols) \
                      .sortWithinPartitions(*order_cols)
    else:
        sorted_df = df.sortWithinPartitions(*order_cols) if order_cols else df
    # cache=False for repeated-append callers (datastream) that persist
    # the INPUT themselves — the internal persist would otherwise
    # accumulate one pinned copy per call with no owner to release it.
    # The input MUST then already be pinned: the partition-count job
    # below and the id-assignment job later are SEPARATE actions, and
    # over an unpinned frame with a shuffle in its lineage AQE may lay
    # the partitions out differently per job — the inner _pid join then
    # silently drops every row whose runtime pid the count job never saw
    # (observed: a 4668-row orderBy'd batch shrank to 607 rows). Refuse
    # loudly instead of losing rows.
    if cache:
        # rotate the internal pin: it has no owner to release it, so
        # without rotation every batch-path call in a long-lived session
        # pins another full-corpus copy until executor memory pressure —
        # one generation per THREAD is the bound (the dedup
        # persist_rotating rule). The old pin is unpersisted only after
        # the new one is materialized by the count job below.
        sorted_df = sorted_df.persist()
    else:
        from pyspark import StorageLevel

        if mode == "range":
            # repartitionByRange introduces a fresh shuffle ABOVE any
            # caller-side pin, so the layout hazard below cannot be
            # closed by persisting the input — only the internal persist
            # (cache=True) pins the shuffled frame itself
            raise ValueError(
                "assign_doc_ids(mode='range') requires cache=True: the "
                "range shuffle sits above any caller-side persist, so "
                "only the internal pin fixes its partition layout "
                "across the count and id-assignment jobs.")
        if df.storageLevel == StorageLevel.NONE:
            raise ValueError(
                "assign_doc_ids(cache=False) requires the input frame to "
                "be persisted first: the per-partition count and the id "
                "assignment are separate jobs, and an unpinned shuffled "
                "input can change partition layout between them (AQE), "
                "silently dropping rows at the _pid join. persist() the "
                "batch before calling, or pass cache=True.")
    try:
        counts = (
            sorted_df.select(F.spark_partition_id().alias("pid"))
            .groupBy("pid")
            .count()
            .collect()
        )
    except Exception:
        if cache:
            # the fresh pin was never recorded in the registry — release
            # it here or it leaks with no owner
            try:
                sorted_df.unpersist(False)
            except Exception:
                pass
        raise
    if cache:
        # the count job above materialized the new pin; only now retire
        # this thread's previous one (under the lock — other threads'
        # pins are never touched, so interleaved builds can't drop each
        # other's in-flight cached frames). Pins owned by threads that
        # have since exited are swept too: a thread-per-build caller
        # (the TaskManager pattern) would otherwise strand one pinned
        # full-corpus copy per dead thread forever.
        tid = threading.get_ident()
        live = {t.ident for t in threading.enumerate()}
        with _ASSIGN_PIN_LOCK:
            old = _ASSIGN_PINS.get(tid)
            _ASSIGN_PINS[tid] = sorted_df
            stale = [t for t in _ASSIGN_PINS
                     if t != tid and t not in live]
            dead = [_ASSIGN_PINS.pop(t) for t in stale]
        for frame in ([old] if old is not None else []) + dead:
            try:
                frame.unpersist(False)
            except Exception:
                pass  # its SparkSession may already be gone
    by_pid = {r["pid"]: r["count"] for r in counts}
    offsets, acc = {}, 0
    for pid in sorted(by_pid):
        offsets[pid] = acc
        acc += by_pid[pid]
    spark = sorted_df.sparkSession
    off_df = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "_pid int, _off long")
    mid = F.monotonically_increasing_id()
    with_mid = sorted_df.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_seq", mid - (mid.bitwiseAND(F.lit(-(1 << 33)))))
    out = (with_mid.join(F.broadcast(off_df), "_pid")
           .withColumn("doc_id", F.col("_off") + F.col("_seq"))
           .drop("_pid", "_seq", "_off"))
    return out


# ---------------------------------------------------------------------------
# segment-merge encode: per-task packed posting segments → (term, bucket)
# shuffle → merge-sort into global blocks. This is the reference's own shape
# (Lucene per-segment postings + tiered merge, InternalEngine.java:1107-1186)
# and the one postings encoder of both build_index and merge_segments. The
# shuffle moves packed binaries ~10× smaller than one Arrow row per posting
# (measured: the row shuffle ITSELF — even with a no-op Python stage — cost
# 9.3 s at 16 cores on 600k docs; the varbyte work was free by comparison).
# ---------------------------------------------------------------------------
SEG_SCHEMA = ("term string, bucket long, n int, first_doc long, "
              "docs_vb binary, tfs_vb binary, dls_vb binary")


def _per_doc_arrays(pdf: pd.DataFrame):
    """(doc_id, dl, terms[], tfs[]) rows → flat (term, doc_id, tf, dl)
    arrays; the per-posting explode never reaches Arrow."""
    import numpy as np

    counts = np.fromiter((len(x) for x in pdf["terms"]),
                         dtype=np.int64, count=len(pdf))
    if counts.sum() == 0:
        return None
    return (
        np.concatenate(
            [np.asarray(x, dtype=object) for x in pdf["terms"] if len(x)]),
        np.repeat(pdf["doc_id"].to_numpy(), counts),
        np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in pdf["tfs"] if len(x)]),
        np.repeat(pdf["dl"].to_numpy(), counts),
    )


def _flat_row_arrays(pdf: pd.DataFrame):
    """Flat (term, doc_id, tf, dl) rows → the same arrays."""
    return (pdf["term"].to_numpy(), pdf["doc_id"].to_numpy(),
            pdf["tf"].to_numpy(), pdf["dl"].to_numpy())


def _partial_segments_map_fn(bucket_span: int, arrays):
    """Map side: one task's postings → one packed segment row per (term,
    bucket) present in the task. ``arrays`` turns an input batch into
    flat (term, doc_id, tf, dl) arrays; all grouping is numpy (factorize
    + lexsort), and a segment is packed as one uncapped block."""
    import numpy as np

    from opensearch_spark.index.codec import make_blocks_batch

    cols = ["term", "bucket", "n", "first_doc", "docs_vb", "tfs_vb", "dls_vb"]

    def run(batches):
        parts = [arrays(pdf) for pdf in batches if len(pdf)]
        parts = [p for p in parts if p is not None]
        if not parts:
            return
        terms, docs, tfs, dls = (np.concatenate(c) for c in zip(*parts))
        codes, uniq = pd.factorize(terms)
        buckets = docs // bucket_span
        order = np.lexsort((docs, buckets, codes))
        codes, buckets, docs, tfs, dls = (
            codes[order], buckets[order], docs[order], tfs[order], dls[order])
        starts = np.flatnonzero(np.concatenate(
            ([True], (codes[1:] != codes[:-1]) | (buckets[1:] != buckets[:-1]))))
        out = pd.DataFrame(
            make_blocks_batch(codes, buckets, docs, tfs, np.zeros(docs.size),
                              dls, starts, block_size=docs.size),
            columns=BLOCK_COLS)
        out["term"] = uniq[out["term"].to_numpy()]
        yield out[cols]

    return run


def _merge_segments_map_fn(k1: float, b: float, avgdl: float):
    """Reduce side: segment rows hash-partitioned AND sorted by (term,
    bucket, first_doc) → final ≤128-posting block rows. Segments of a
    group are batch-decoded with ``decode_blocks``, merged with a lexsort
    and re-blocked via ``make_blocks_batch``. Groups spanning Arrow
    batches are stitched with a carry."""
    import numpy as np

    from opensearch_spark.index.codec import decode_blocks, make_blocks_batch

    def encode_frame(pdf: pd.DataFrame) -> pd.DataFrame | None:
        seg, docs, tfs, dls = decode_blocks(
            pdf["first_doc"].to_numpy(), pdf["n"].to_numpy(),
            pdf["docs_vb"], pdf["tfs_vb"], pdf["dls_vb"])
        if not docs.size:
            return None
        # group index per posting; merge-sort within groups (segments may
        # interleave doc ranges when the upstream partitioning wasn't
        # doc-ordered)
        row_term = pdf["term"].to_numpy()
        row_bkt = pdf["bucket"].to_numpy()
        row_grp = np.zeros(row_term.size, dtype=np.int64)
        row_grp[1:] = (row_term[1:] != row_term[:-1]) \
            | (row_bkt[1:] != row_bkt[:-1])
        grp = np.cumsum(row_grp)[seg]
        order = np.lexsort((docs, grp))
        docs, tfs, dls, grp = docs[order], tfs[order], dls[order], grp[order]
        seg = seg[order]
        g_starts = np.flatnonzero(
            np.concatenate(([True], grp[1:] != grp[:-1])))
        tf64 = tfs.astype(np.float64)
        impact = tf64 / (tf64 + k1 * (1.0 - b + b * dls.astype(np.float64) / avgdl))
        rows = make_blocks_batch(
            row_term[seg], row_bkt[seg], docs, tfs, impact, dls, g_starts)
        return pd.DataFrame(rows, columns=BLOCK_COLS) if rows else None

    def run(batches):
        pend: pd.DataFrame | None = None
        for pdf in batches:
            if pend is not None:
                pdf = pd.concat([pend, pdf], ignore_index=True)
                pend = None
            if not len(pdf):
                continue
            t = pdf["term"].to_numpy()
            bk = pdf["bucket"].to_numpy()
            change = np.flatnonzero((t[1:] != t[:-1]) | (bk[1:] != bk[:-1])) + 1
            last_start = int(change[-1]) if change.size else 0
            if last_start > 0:
                out = encode_frame(pdf.iloc[:last_start])
                if out is not None:
                    yield out
            pend = pdf.iloc[last_start:].reset_index(drop=True)
        if pend is not None and len(pend):
            out = encode_frame(pend)
            if out is not None:
                yield out

    return run


def _encode_packed(src: DataFrame, arrays, bucket_span: int, k1: float,
                   b: float, avgdl: float, n_shuffle: int) -> DataFrame:
    """Pack ``src`` per task, shuffle the packed rows by (term, bucket) and
    merge them into block rows. Explicit-numPartitions repartition so AQE
    cannot coalesce below the cluster's parallelism (the python encode
    cost per row is invisible to AQE's byte-based sizing)."""
    segments = src.mapInPandas(
        _partial_segments_map_fn(bucket_span, arrays), SEG_SCHEMA)
    return (
        segments.repartition(n_shuffle, "term", "bucket")
        .sortWithinPartitions("term", "bucket", "first_doc")
        .mapInPandas(_merge_segments_map_fn(k1, b, avgdl), BLOCK_SCHEMA)
    )


def encode_blocks_segmented(analyzed: DataFrame, bucket_span: int,
                            k1: float, b: float, avgdl: float,
                            n_shuffle: int) -> DataFrame:
    """Analyzed per-doc frame (``doc_id``, ``_tf``) → encoded block rows."""
    seg_src = analyzed.select(
        "doc_id", F.col("_tf.dl").alias("dl"),
        F.col("_tf.terms").alias("terms"), F.col("_tf.tfs").alias("tfs"))
    return _encode_packed(seg_src, _per_doc_arrays, bucket_span, k1, b,
                          avgdl, n_shuffle)


def encode_blocks_flat(flat: DataFrame, bucket_span: int, k1: float,
                       b: float, avgdl: float, n_shuffle: int) -> DataFrame:
    """Flat (term, doc_id, tf, dl) posting rows → encoded block rows."""
    return _encode_packed(flat.select("term", "doc_id", "tf", "dl"),
                          _flat_row_arrays, bucket_span, k1, b, avgdl,
                          n_shuffle)


def write_postings(blocks: DataFrame, cfg: IndexConfig, out_dir: str) -> None:
    """Block rows → the ``postings`` table, term-hash partitioned into
    ``part=`` directories and sorted by (term, bucket, block_seq)."""
    blocks = blocks.withColumn(
        "part", F.pmod(F.xxhash64("term"), F.lit(cfg.n_parts)).cast("int"))
    (
        blocks.repartition(cfg.n_parts, "part")
        .sortWithinPartitions("term", "bucket", "block_seq")
        .write.mode("overwrite")
        .partitionBy("part")
        .parquet(os.path.join(out_dir, "postings"))
    )


def write_dictionary(flat: DataFrame, out_dir: str) -> None:
    """Flat (term, tf) rows → the ``dictionary`` table (term, df, cf)."""
    flat.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf")
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "dictionary"))


def write_stats_and_meta(spark: SparkSession, out_dir: str, cfg: IndexConfig,
                         doc_count: int, sum_dl: int, avgdl: float) -> None:
    """Write the ``stats`` table and ``meta.json`` of a built tree, after
    its dictionary."""
    spark.createDataFrame(
        [(doc_count, sum_dl, float(avgdl))],
        "doc_count long, sum_dl long, avgdl double"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "stats"))
    # vocabulary size cached at build time (parquet-footer count — cheap
    # here, but a per-Searcher-construction Spark job if left to query
    # time; the Searcher's preload-posture decision reads it from meta)
    vocab_size = spark.read.parquet(os.path.join(out_dir, "dictionary")).count()
    meta = dict(asdict(cfg), doc_count=doc_count, sum_dl=sum_dl, avgdl=avgdl,
                vocab_size=int(vocab_size))
    meta["layout_version"] = LAYOUT_VERSION
    meta["order_cols"] = list(cfg.order_cols)
    meta["keyword_cols"] = list(cfg.keyword_cols)
    # unique per build: the request cache's generation fingerprint (the
    # reference's "reader cache key") must change on EVERY rebuild, even
    # one that reproduces identical doc_count/config over edited data
    meta["build_id"] = uuid.uuid4().hex
    _atomic_write_json(os.path.join(out_dir, "meta.json"), meta)


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    config: IndexConfig = IndexConfig(),
) -> "InvertedIndex":
    """Full batch build. Writes the §1.3 tables under ``out_dir``."""
    cfg = config
    bad = {"_tf", "_pid", "_seq", "_off"} & set(corpus.columns)
    if bad:
        raise ValueError(
            f"build_index: corpus columns {sorted(bad)} collide with "
            "internal working columns — rename them first")
    # analysis + per-doc tf aggregation in ONE python pass (map-side
    # combine inside the tokenizer, see termfreq_udf): the cached frame
    # holds per-doc parallel arrays, and the former (term, doc_id) groupBy
    # of the full exploded token stream disappears entirely
    udf = termfreq_udf(cfg.analyzer, cfg.with_positions)
    if cfg.id_col is None and cfg.id_order == "local":
        # fold doc-id assignment INTO the analyze materialization: sort
        # within the input partitions (shard-faithful arrival order, no
        # wide shuffle — see assign_doc_ids), tokenize, and take the
        # per-partition counts AND collection stats from the ONE job that
        # fills the cache. The round-1 path paid a separate full-content
        # persist pass just to number docs.
        src = (corpus.sortWithinPartitions(*cfg.order_cols)
               if cfg.order_cols else corpus)
        pre = src.withColumn("_tf", udf(F.col(cfg.field))) \
            .persist(_storage_level(cfg.cache_level))
        prows = (pre.groupBy(F.spark_partition_id().alias("_pid"))
                 .agg(F.count("*").alias("n"), F.sum("_tf.dl").alias("s"))
                 .collect())
        doc_count = int(sum(r["n"] for r in prows))
        sum_dl = int(sum(r["s"] or 0 for r in prows))
        offsets, acc = {}, 0
        for r in sorted(prows, key=lambda r: r["_pid"]):
            offsets[int(r["_pid"])] = acc
            acc += int(r["n"])
        off_df = spark.createDataFrame(
            [(p, o) for p, o in offsets.items()] or [(0, 0)], "_pid int, _off long")
        mid = F.monotonically_increasing_id()
        analyzed = (pre.withColumn("_pid", F.spark_partition_id())
                    .withColumn("_seq", mid - (mid.bitwiseAND(F.lit(-(1 << 33)))))
                    .join(F.broadcast(off_df), "_pid")
                    .withColumn("doc_id", F.col("_off") + F.col("_seq"))
                    .drop("_pid", "_seq", "_off"))
        src_cols = [c for c in corpus.columns if c != "doc_id"]
    else:
        if cfg.id_col is None:
            docs_src = assign_doc_ids(corpus, list(cfg.order_cols),
                                      mode=cfg.id_order)
        else:
            docs_src = corpus.withColumn("doc_id", F.col(cfg.id_col).cast("long"))
        analyzed = docs_src.withColumn("_tf", udf(F.col(cfg.field))) \
            .persist(_storage_level(cfg.cache_level))
        pre = analyzed
        src_cols = [c for c in docs_src.columns if c != "doc_id"]
        # collection stats straight off the cached frame (ONE narrow agg,
        # and the job that materializes the cache)
        srow = analyzed.agg(
            F.count("*").alias("n"), F.sum("_tf.dl").alias("s")).collect()[0]
        doc_count = int(srow["n"])
        sum_dl = int(srow["s"] or 0)
    avgdl = sum_dl / doc_count if doc_count else 0.0

    if cfg.index_options == "docs":
        # match_only_text: drop term frequencies before any downstream
        # consumer (postings, dictionary cf) — dl/norms stay exact
        if cfg.with_positions:
            raise ValueError(
                "index_options='docs' (match_only_text) cannot store positions")
        analyzed = analyzed.withColumn(
            "_tf",
            F.col("_tf").withField(
                "tfs", F.transform("_tf.tfs", lambda t: F.lit(1))))

    # --- flat postings: narrow explode of the cached per-doc arrays ---
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

    def write_docs():
        docs = analyzed.select(
            "doc_id",
            *src_cols,
            F.col("_tf.dl").alias("dl"),
            F.sha2(F.col(cfg.field), 256).alias("content_sha256"),
        )
        docs.write.mode("overwrite").parquet(os.path.join(out_dir, "docs"))

    def write_positions():
        flat.select("term", "doc_id", "positions").write.mode("overwrite") \
            .parquet(os.path.join(out_dir, "positions"))

    def write_postings_table():
        blocks = encode_blocks_segmented(
            analyzed, cfg.bucket_span, cfg.k1, cfg.b, avgdl,
            shuffle_partitions(spark))
        write_postings(blocks, cfg, out_dir)

    # the four table writes are independent once the analyzed frame is
    # cached — submit them as CONCURRENT Spark jobs (the scheduler
    # interleaves their stages) so per-job scheduling gaps and parquet
    # commit barriers overlap instead of stacking into a serial floor.
    # The reference's analog is concurrent per-segment flushes
    # (InternalEngine.java write path); Spark gives it for free via
    # multi-threaded job submission over one shared cached input.
    from concurrent.futures import ThreadPoolExecutor

    jobs = [write_docs, write_postings_table,
            lambda: write_dictionary(flat, out_dir)]
    if cfg.with_positions:
        jobs.append(write_positions)
    try:
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            futures = [pool.submit(j) for j in jobs]
            for f in futures:
                f.result()  # surface the first failure
    finally:
        # release the full-corpus cache on failure paths too — a driver
        # retrying builds must not accumulate one pinned copy per failed
        # attempt (round-4 review)
        pre.unpersist()
    write_stats_and_meta(spark, out_dir, cfg, doc_count, sum_dl, avgdl)
    return InvertedIndex(out_dir)


def _atomic_write_json(path: str, obj) -> None:
    # two-phase write (temp + atomic rename), same discipline as the
    # reference translog checkpoint (Translog.java:277-283)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


@dataclass(frozen=True)
class DocValues:
    """Per-doc columns held in the driver (``InvertedIndex.doc_values``)."""

    doc_id: np.ndarray          # sorted int64, deleted docs included
    dl: np.ndarray              # doc length, aligned with doc_id
    keywords: dict[str, pd.Categorical]   # string keyword columns


class InvertedIndex:
    """Query-side handle over a built index directory."""

    def __init__(self, path: str):
        self.path = path
        with open(os.path.join(path, "meta.json")) as f:
            self.meta = json.load(f)
        self._cached: dict[str, DataFrame] = {}
        # one liveDocs generation and one doc-values load per reader:
        # concurrent searches on a shared reader load (and charge) each
        # once, never twice
        self._lock = threading.RLock()

    def cache(self, spark: SparkSession) -> "InvertedIndex":
        """Pin the index tables in executor memory (`df.persist()`), the
        analog of the reference's filesystem/page cache + filter bitset
        cache (`indices/IndicesQueryCache.java`). Optional: sized for
        query-serving deployments where the postings fit cluster memory;
        the uncached path streams from parquet and scales to any size."""
        names = ["docs", "postings", "dictionary"]
        if self.meta.get("with_positions"):
            names.append("positions")
        for n in names:
            if n not in self._cached:
                self._cached[n] = spark.read.parquet(
                    os.path.join(self.path, n)).persist()
        return self

    @property
    def n_parts(self) -> int:
        return int(self.meta["n_parts"])

    @property
    def analyzer(self) -> str:
        return self.meta["analyzer"]

    @property
    def doc_count(self) -> int:
        return int(self.meta["doc_count"])

    @property
    def avgdl(self) -> float:
        return float(self.meta["avgdl"])

    def _table(self, spark: SparkSession, name: str) -> DataFrame:
        if name in self._cached:
            return self._cached[name]
        return spark.read.parquet(os.path.join(self.path, name))

    # ---------- soft deletes (Lucene liveDocs parity) ----------
    #: literal NOT-IN is used (scan-evaluable, tiny expression) up to this
    #: many tombstones; beyond it the doc-bearing tables take a broadcast
    #: anti-join against the deletes table instead
    TOMBSTONE_ISIN_MAX = 1024

    @property
    def _deletes_dir(self) -> str:
        return os.path.join(self.path, "deletes")

    def _delete_sources(self) -> list[str]:
        """Parquet paths holding this reader's tombstones. The base index
        reads the whole append-only ``deletes/`` dir (always-current
        liveDocs); a PIT reader (``index.pit.PitIndex``) overrides this to
        the exact file set pinned at open time, which is what makes a
        point-in-time view immune to concurrent ``delete_docs`` appends."""
        return [self._deletes_dir] if os.path.isdir(self._deletes_dir) else []

    def tombstones(self, spark: SparkSession):
        """Sorted int64 array of soft-deleted doc ids, or None when the
        index has no deletes. Collected and cached on the driver — the
        exact posture of Lucene's in-RAM liveDocs bitset per segment
        (soft-deleted docs stay in postings and STATS until a merge
        expunges them; only result sets exclude them). Memory bound:
        8 bytes per tombstone until expunge-by-rebuild. Concurrent
        callers on one reader load it once, under ``_lock``."""
        if not getattr(self, "_tomb_loaded", False):
            with self._lock:
                if not getattr(self, "_tomb_loaded", False):
                    self._load_tombstones(spark)
        return self._tomb

    def _load_tombstones(self, spark: SparkSession) -> None:
        self._release_tomb_charge()
        self._tomb = None
        srcs = self._delete_sources()
        if srcs:
            import numpy as _np

            from opensearch_spark.common.breaker import fielddata_breaker

            dels = spark.read.parquet(*srcs).select("doc_id").distinct()
            # liveDocs lives with the reader: charge the fielddata
            # breaker (HierarchyCircuitBreakerService posture) so a
            # pathological tombstone count degrades into a clean
            # CircuitBreakingException instead of a driver OOM that
            # would poison every broadcast downstream. CHARGE BEFORE
            # COLLECT — counting first costs one tiny aggregate, and a
            # 500M-row delete set must trip here, not OOM the driver
            # materializing Row objects (round-4 review). The charge is
            # RELEASED on refresh (the next load re-charges the new,
            # larger set) or when the reader is freed, whichever comes
            # first — otherwise every delete→refresh cycle, and every
            # per-request PIT reader, leaks accounting until the breaker
            # trips permanently with no real memory held.
            n = dels.count()
            if n:
                fielddata_breaker.add_estimate(
                    8 * n, f"tombstones[{self.path}]")
                # a finalizer runs at most once, whether called or
                # collected; it holds the amount, not the reader
                self._tomb_release = weakref.finalize(
                    self, fielddata_breaker.release, 8 * n)
                arr = dels.toPandas()["doc_id"].to_numpy(dtype="int64")
                self._tomb = _np.sort(arr)
        self._tomb_loaded = True

    def _release_tomb_charge(self) -> None:
        release = getattr(self, "_tomb_release", None)
        if release is not None:
            release()
            self._tomb_release = None

    def doc_values(self, spark: SparkSession) -> "DocValues | None":
        """The raw docs table's sorted ``doc_id``, its ``dl`` and its string
        keyword columns, held in the driver — the analog of Lucene's
        per-segment doc values, read by the requests scored in the driver.
        Deleted docs are included: liveDocs stays in ``tombstones()``, so
        the arrays never change with a refresh. Loaded once per reader
        under ``_lock`` and charged once to ``fielddata_breaker`` until the
        reader is freed. None when the breaker refuses: the caller then
        runs its Spark plan, and a later call tries again."""
        if getattr(self, "_doc_values", None) is None:
            with self._lock:
                if getattr(self, "_doc_values", None) is None:
                    self._doc_values = self._load_doc_values(spark)
        return self._doc_values

    def _load_doc_values(self, spark: SparkSession) -> "DocValues | None":
        import numpy as np

        from opensearch_spark.common.breaker import (
            CircuitBreakingException, fielddata_breaker)

        docs = self._table(spark, "docs")
        kw = set(self.meta.get("keyword_cols", ()))
        kw = [f.name for f in docs.schema.fields
              if f.name in kw and isinstance(f.dataType, T.StringType)]
        # 8 bytes each for doc_id and dl, ≈ 4 per keyword code; charged
        # before the collect, from the build's doc count
        need = self.doc_count * (16 + 4 * len(kw))
        try:
            fielddata_breaker.add_estimate(need, f"doc_values[{self.path}]")
        except CircuitBreakingException:
            return None
        weakref.finalize(self, fielddata_breaker.release, need)
        pdf = docs.select("doc_id", "dl", *kw).toPandas()
        pdf = pdf.take(np.argsort(pdf["doc_id"].to_numpy(), kind="stable"))
        return DocValues(pdf["doc_id"].to_numpy(), pdf["dl"].to_numpy(),
                         {c: pd.Categorical(pdf[c]) for c in kw})

    def tombstones_bcast(self, spark: SparkSession):
        """Spark Broadcast handle of the sorted tombstone array, or None
        when the index has no deletes. This — not the raw array — is what
        a posting-decode closure must capture: a broadcast ships ONCE
        per executor (torrent blocks), while a closure-captured numpy
        array re-serializes into EVERY task. The UDFs resolve ``.value``
        executor-side."""
        with self._lock:
            tomb = self.tombstones(spark)
            if tomb is None:
                return None
            if getattr(self, "_tomb_bcast", None) is None:
                self._tomb_bcast = spark.sparkContext.broadcast(tomb)
            return self._tomb_bcast

    def refresh_tombstones(self) -> None:
        """Invalidate the cached delete set (call after delete_docs) —
        releases the reader's breaker charge so accounting follows the
        memory actually held."""
        with self._lock:
            self._tomb_loaded = False
            self._release_tomb_charge()
            self._tomb_df = None  # the anti-join frame follows the same generation
            if getattr(self, "_tomb_bcast", None) is not None:
                self._tomb_bcast.unpersist()
                self._tomb_bcast = None

    def _live(self, spark: SparkSession, df: DataFrame) -> DataFrame:
        """Filter a doc_id-bearing frame to live (non-deleted) docs."""
        tomb = self.tombstones(spark)
        if tomb is None:
            return df
        if len(tomb) <= self.TOMBSTONE_ISIN_MAX:
            return df.where(~F.col("doc_id").isin([int(x) for x in tomb]))
        # anti-join against the CACHED-AT-LOAD set, not a re-read of the
        # deletes dir: after an unrefreshed delete_docs the re-read would
        # filter docs that scoring (tombstones_bcast, same cached set)
        # still ranks — one reader must see ONE liveDocs generation
        # (round-4 review; the contract is refresh-to-observe). Arrow
        # path (pandas) — a Python tuple list would crawl at 10M+ ids.
        if getattr(self, "_tomb_df", None) is None:
            self._tomb_df = spark.createDataFrame(
                pd.DataFrame({"doc_id": tomb}))
        return df.join(F.broadcast(self._tomb_df), "doc_id", "left_anti")

    def docs(self, spark: SparkSession) -> DataFrame:
        return self._live(spark, self._table(spark, "docs"))

    def postings(self, spark: SparkSession) -> DataFrame:
        return self._table(spark, "postings")

    def dictionary(self, spark: SparkSession) -> DataFrame:
        return self._table(spark, "dictionary")

    def positions(self, spark: SparkSession) -> DataFrame:
        return self._live(spark, self._table(spark, "positions"))

    def postings_for_terms(self, spark: SparkSession, terms: list[str]) -> DataFrame:
        """Term-pruned posting-block scan: directory pruning via ``part`` +
        parquet min/max row-group skipping via the sorted ``term`` column."""
        if not terms:
            return self.postings(spark).limit(0)
        # driver-side Spark-parity xxhash64: pruning a handful of query
        # terms must not cost a Spark job (was createDataFrame+collect)
        from opensearch_spark.index.xxhash import spark_pmod_part
        parts = sorted({spark_pmod_part(t, self.n_parts) for t in terms})
        df = self.postings(spark)
        return df.where(F.col("part").isin(parts) & F.col("term").isin(terms))

    def verify_sha256(self, spark: SparkSession, corpus: DataFrame, field: str = None) -> int:
        """Per-row invariant (BASELINE.json): sha256(content) equality between
        the built docs table and the source corpus. Returns #mismatches."""
        field = field or self.meta["field"]
        src = corpus.select(F.sha2(F.col(field), 256).alias("src_sha"))
        # raw table: the invariant is vs the ingested corpus, so soft
        # deletes (query-time liveDocs) must not affect it
        built = self._table(spark, "docs") \
            .select(F.col("content_sha256").alias("src_sha"))
        # multiset equality via full-outer count compare
        a = src.groupBy("src_sha").count().withColumnRenamed("count", "a")
        b = built.groupBy("src_sha").count().withColumnRenamed("count", "b")
        j = a.join(b, "src_sha", "full_outer").where(
            F.coalesce("a", F.lit(0)) != F.coalesce("b", F.lit(0))
        )
        return j.count()


def delete_docs(spark: SparkSession, index_path: str,
                doc_ids: list[int]) -> int:
    """Soft-delete documents by id (the engine's delete/_delete_by_query
    write path — Lucene's soft-deletes model: a tombstone is APPENDED,
    the immutable postings stay untouched, and searches exclude the ids
    at query time via the cached liveDocs set; stats keep counting them
    until an expunging rebuild, exactly like un-merged Lucene segments).

    Each call appends one parquet file under ``<index>/deletes/`` —
    write-once like segments, so concurrent deleters never conflict.
    Returns the number of ids written. Callers holding an
    ``InvertedIndex``/``Searcher`` must ``refresh_tombstones()`` (or
    rebuild the handle) to observe the new deletes."""
    if not doc_ids:
        return 0
    (spark.createDataFrame([(int(i),) for i in doc_ids], "doc_id long")
     .coalesce(1).write.mode("append")
     .parquet(os.path.join(index_path, "deletes")))
    return len(doc_ids)


def expunge_deletes(spark: SparkSession, index_path: str,
                    out_dir: str) -> "InvertedIndex":
    """Expunge soft deletes by rebuild (Lucene forcemerge with
    ``only_expunge_deletes``): re-index the LIVE docs into ``out_dir``
    with the original index config (recovered from meta.json). After the
    expunge, df/N/avgdl no longer count the deleted docs and the new
    tree carries no tombstones — the merged-segment end state. The old
    tree stays untouched (immutable snapshots; callers swap paths)."""
    idx = InvertedIndex(index_path)
    m = idx.meta
    cfg = IndexConfig(
        field=m["field"], analyzer=m["analyzer"], id_col="doc_id",
        keyword_cols=tuple(m.get("keyword_cols", ())),
        order_cols=tuple(m.get("order_cols", ())),
        n_parts=int(m["n_parts"]),
        bucket_span=int(m.get("bucket_span", 1 << 15)),
        k1=float(m["k1"]), b=float(m["b"]),
        with_positions=bool(m.get("with_positions")),
        index_options=m.get("index_options", "freqs"),
        cache_level=m.get("cache_level", "memory"))
    live = idx.docs(spark)  # accessor already excludes tombstones
    drop = [c for c in ("dl", "content_sha256") if c in live.columns]
    return build_index(spark, live.drop(*drop), out_dir, cfg)
