"""Data streams + rollover (SURVEY §1 concept table: DataStreamFieldMapper,
RolloverAction/TransportRolloverAction) — the append-only time-series
abstraction over backing generations.

Reference semantics: a data stream is a named alias over numbered backing
indices; writes go to the current write index; ``_rollover`` cuts a new
generation when the current one crosses a size/age condition; searches
fan out over all generations, pruned by the timestamp ranges each backing
index carries.

Spark-first re-expression: a generation IS an immutable segment directory
(the same layout `segments.py` merges — docs + flat postings + manifest),
so the existing crash-safe manifest discipline and the global merge-sort
are reused verbatim. What this layer adds:

- **docBase discipline**: each appended generation's doc_ids start at the
  stream's running doc count (Lucene per-segment docBase), so ids are
  globally dense without any cross-generation shuffle at append time.
- **rollover**: an append larger than ``rollover_max_docs`` is split into
  multiple generations by local position — one narrow filter per chunk,
  no shuffle.
- **generation pruning**: manifests record per-generation ts_min/ts_max;
  a time-bounded read unions ONLY the overlapping generation directories
  (directory-level pruning, the analog of the reference skipping backing
  indices whose ranges can't match).

``materialize()`` = ``merge_segments`` — the force-merge that produces
the query-optimal global index, block for block and meta key for meta key
what ``build_index`` writes for the same docs.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession, functions as F

from opensearch_spark.index.build import IndexConfig, InvertedIndex
from opensearch_spark.index.segments import (
    _atomic_write_json,
    read_manifest,
    write_segment_tables,
)


def _canon_ts(s: str | None) -> str | None:
    """Canonicalize a caller timestamp string to the 'YYYY-MM-DD
    HH:MM:SS[.ffffff]' form manifests store (Spark's timestamp->string
    cast), so the lexicographic generation-pruning compare agrees with
    the row-level timestamp-cast filter for every accepted spelling
    (ISO 'T' separator, date-only, non-padded)."""
    if s is None:
        return None
    t = s.strip().replace("T", " ")
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S",
                "%Y-%m-%d %H:%M", "%Y-%m-%d"):
        try:
            out = str(datetime.strptime(t, fmt))
        except ValueError:
            continue
        # Spark's timestamp->string cast TRIMS trailing fraction zeros
        # ('00:00:00.5', never '00:00:00.500000'); the canonical form must
        # match or a generation whose boundary equals the bound compares
        # lexicographically smaller and gets wrongly pruned
        if "." in out:
            out = out.rstrip("0").rstrip(".")
        return out
    raise ValueError(f"unrecognized timestamp string: {s!r}")


class DataStream:
    def __init__(self, out_dir: str, config: IndexConfig = IndexConfig(),
                 rollover_max_docs: int = 1_000_000):
        if rollover_max_docs <= 0:
            # doc_id/0 is NULL under non-ANSI Spark: append() would
            # silently write NOTHING and report success (round-4 review)
            raise ValueError("rollover_max_docs must be positive")
        self.out_dir = out_dir
        self.cfg = config
        self.rollover_max_docs = rollover_max_docs
        # append() reads the manifest to pick the next generation id and
        # doc_base; two concurrent appends would both claim the same
        # generation (mode=overwrite last-wins) and mint overlapping doc
        # ids — serialize per DataStream instance (round-4 review).
        # Cross-PROCESS appends need external coordination, like the
        # reference's single primary per shard.
        import threading

        self._append_lock = threading.Lock()
        os.makedirs(os.path.join(out_dir, "manifest"), exist_ok=True)

    # ---------- manifest ----------
    def generations(self) -> list[dict]:
        return [m for _s, m in sorted(read_manifest(self.out_dir).items())]

    def doc_count(self) -> int:
        return sum(m["rows"] for m in self.generations())

    # ---------- write path ----------
    def append(self, spark: SparkSession, batch: DataFrame,
               ts_col: str | None = None) -> list[int]:
        """Index a batch as one or more new generations (rollover split).
        Returns the new generation ids."""
        if "_chunk" in batch.columns:
            # withColumn would silently REPLACE and later drop the user's
            # column (the assign_doc_ids reserved-column rule)
            raise ValueError(
                "append: input column '_chunk' collides with an internal "
                "working column — rename it first")
        self._append_lock.acquire()
        try:
            return self._append_locked(spark, batch, ts_col)
        finally:
            self._append_lock.release()

    def _append_locked(self, spark: SparkSession, batch: DataFrame,
                       ts_col: str | None) -> list[int]:
        gens = self.generations()
        next_gen = (gens[-1]["segment_id"] + 1) if gens else 0
        doc_base = self.doc_count()
        cfg = self.cfg

        # local dense ids in arrival order (per-partition counts — the
        # same no-wide-shuffle discipline as assign_doc_ids mode=local).
        # The batch is persisted BEFORE the id pass: assign_doc_ids runs
        # its partition-count job and the id-assignment job as separate
        # actions, and over an unpinned batch with a shuffle in its
        # lineage (a caller's orderBy/repartition) AQE may lay partitions
        # out differently per job — rows then silently vanish at the _pid
        # join (observed: a 4668-row batch shrank to 607). Pinning the
        # batch fixes the layout for every downstream action; cache=False
        # keeps assign_doc_ids from pinning a second copy with no owner
        # to release it. Both pins are scoped to this append and released
        # in the finally.
        from pyspark import StorageLevel

        from opensearch_spark.index.build import assign_doc_ids

        # respect a caller-owned pin: persist only if the batch is not
        # already cached (re-persisting would either throw on a level
        # mismatch or let the finally below drop the CALLER's cache)
        own_pin = batch.storageLevel == StorageLevel.NONE
        with_ids = None
        try:
            if own_pin:
                batch = batch.persist()
            with_ids = assign_doc_ids(batch, list(cfg.order_cols) or [],
                                      mode="local", cache=False)
            with_ids = with_ids.withColumn(
                "_chunk",
                (F.col("doc_id") / F.lit(self.rollover_max_docs))
                .cast("int")).persist()
            n_in, n_ids = batch.count(), with_ids.count()
            if n_ids != n_in:  # loud invariant — never write a lossy gen
                raise RuntimeError(
                    f"datastream append lost rows: batch={n_in} "
                    f"with_ids={n_ids} — partition layout changed "
                    "between id-assignment jobs")
            return self._append_chunks(spark, with_ids, next_gen, doc_base,
                                       ts_col)
        finally:
            if with_ids is not None:
                with_ids.unpersist()
            if own_pin:
                batch.unpersist()

    def _append_chunks(self, spark: SparkSession, with_ids: DataFrame,
                       next_gen: int, doc_base: int,
                       ts_col: str | None) -> list[int]:
        cfg = self.cfg
        n_chunks = with_ids.agg(F.max("_chunk")).collect()[0][0]
        n_chunks = int(n_chunks) + 1 if n_chunks is not None else 0

        new_gens: list[int] = []
        for c in range(n_chunks):
            gen = next_gen + c
            part = (with_ids.where(F.col("_chunk") == c).drop("_chunk")
                    .withColumn("doc_id", F.col("doc_id")
                                - F.lit(c * self.rollover_max_docs)
                                + F.lit(doc_base)))
            seg_dir = os.path.join(self.out_dir, "segments", f"seg_{gen}")
            analyzed, docs = write_segment_tables(
                part, list(part.columns), seg_dir, cfg)
            try:  # release the chunk's cache on error paths too
                agg_cols = [F.count("*").alias("rows"),
                            F.min("doc_id").alias("base"),
                            F.max("doc_id").alias("top")]
                if ts_col is not None:
                    agg_cols += [F.min(ts_col).cast("string").alias("ts_min"),
                                 F.max(ts_col).cast("string").alias("ts_max")]
                srow = docs.agg(*agg_cols).collect()[0]
                man = {
                    "segment_id": gen,
                    "rows": int(srow["rows"]),
                    "doc_base": int(srow["base"]) if srow["base"] is not None else doc_base,
                    "status": "committed",
                    "attempt": 1,
                }
                if ts_col is not None:
                    man["ts_min"], man["ts_max"] = srow["ts_min"], srow["ts_max"]
                _atomic_write_json(
                    os.path.join(self.out_dir, "manifest", f"seg_{gen}.json"),
                    man)
            finally:
                analyzed.unpersist()
            doc_base += int(srow["rows"])
            new_gens.append(gen)
        return new_gens

    # ---------- read path ----------
    def _pruned_dirs(self, ts_min: str | None, ts_max: str | None) -> list[str]:
        ts_min, ts_max = _canon_ts(ts_min), _canon_ts(ts_max)
        out = []
        for m in self.generations():
            gmax = m.get("ts_max")
            if gmax is not None and len(gmax) == 10:
                # DATE column: the manifest stores bare 'YYYY-MM-DD',
                # which covers the WHOLE day — compared raw against a
                # canonicalized datetime bound ('YYYY-MM-DD 00:00:00')
                # it sorts LOWER and boundary-day generations get
                # wrongly pruned (round-4 review). Extend to end-of-day
                # for the upper stat; the lower stat needs no pad (a
                # bare date already sorts <= any same-day datetime).
                gmax = gmax + " 23:59:59.999999"
            if ts_min is not None and gmax is not None and gmax < ts_min:
                continue
            if ts_max is not None and m.get("ts_min") is not None \
                    and m["ts_min"] > ts_max:
                continue
            out.append(os.path.join(self.out_dir, "segments",
                                    f"seg_{m['segment_id']}"))
        return out

    def docs_view(self, spark: SparkSession, ts_min: str | None = None,
                  ts_max: str | None = None,
                  ts_col: str | None = "ts") -> DataFrame:
        """Docs of the generations whose recorded time range overlaps
        [ts_min, ts_max]. Two-level filtering, exactly the reference's
        shape: non-overlapping generations are never READ (directory
        pruning from the manifests), and the range predicate is then
        applied row-level inside the surviving generations (whose ranges
        may straddle the bound). Pass ts_col=None to skip the row filter
        (pruning only). NOTE: an EMPTY stream (no generations yet) has no
        document schema to borrow, so the frame returned carries only
        doc_id — append at least one batch before selecting doc columns."""
        ts_min, ts_max = _canon_ts(ts_min), _canon_ts(ts_max)
        dirs = self._pruned_dirs(ts_min, ts_max)
        gens0 = self.generations()
        if ts_col is not None and gens0 and (
                ts_min is not None or ts_max is not None):
            # NOTE: run this probe even when pruning returned NO dirs —
            # tz skew can prune every generation, and skipping the guard
            # there would silently return the empty frame (the total-loss
            # form of the hazard this guard closes).
            # manifest ts strings for an LTZ column are rendered in the
            # WRITER session's timezone; comparing them against bounds the
            # reader interprets in ITS timezone can prune a generation
            # whose rows the row filter would keep. Directory pruning is
            # only sound for session-tz-invariant types (NTZ/date/string)
            # — probe the schema (driver-side footer read) and fall back
            # to row-filter-only for LTZ.
            probe = spark.read.parquet(os.path.join(
                self.out_dir, "segments",
                f"seg_{gens0[0]['segment_id']}", "docs"))
            if dict(probe.dtypes).get(ts_col) == "timestamp":
                dirs = [os.path.join(self.out_dir, "segments",
                                     f"seg_{m['segment_id']}")
                        for m in gens0]
        if not dirs:
            gens = self.generations()
            if not gens:  # empty stream: no segment exists to borrow a schema
                return spark.createDataFrame([], "doc_id long")
            return spark.read.parquet(os.path.join(
                self.out_dir, "segments",
                f"seg_{gens[0]['segment_id']}", "docs")).limit(0)
        df = spark.read.parquet(*[os.path.join(d, "docs") for d in dirs])
        if ts_col is not None and ts_col in df.columns:
            # cast the bound literal to the COLUMN'S OWN type: casting to
            # plain TIMESTAMP against an NTZ column would coerce through
            # the session timezone and shift the window on a non-UTC
            # driver (the gate contract is session-tz-invariant)
            ts_type = dict(df.dtypes)[ts_col]
            if ts_min is not None:
                df = df.where(F.col(ts_col) >= F.lit(ts_min).cast(ts_type))
            if ts_max is not None:
                df = df.where(F.col(ts_col) <= F.lit(ts_max).cast(ts_type))
        return df

    def materialize(self, spark: SparkSession) -> InvertedIndex:
        """Force-merge all generations into the global query-optimal
        index (the reference's _forcemerge on a rolled-over stream)."""
        from opensearch_spark.index.segments import merge_segments
        return merge_segments(spark, self.out_dir, self.cfg)
