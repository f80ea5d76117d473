"""Block-max top-k pruning — the one operator Catalyst cannot express
(SURVEY.md §4.1): the reference enables it via ``track_total_hits`` →
``totalHitsThreshold`` (``TopDocsCollectorContext.java:350``) with Lucene's
block-max WAND machinery.

Our variant is *vectorized* block-max pruning (the reference is
document-at-a-time; we are block-at-a-time with numpy — strictly more
SIMD-friendly, see the ICDE'25 columnar-inverted-index paper in PAPERS.md):

- postings are chunked into doc-id-range **buckets** (build-time), so every
  doc's postings for all query terms live in the same bucket;
- per Spark task: iterate its buckets in descending score upper-bound,
  maintaining the running top-k threshold θ;
  - **bucket skip**: Σ_t max-impact-UB(t, bucket) < θ → skip whole bucket
    (and for AND/msm: skip buckets missing required terms);
  - **block skip**: UB(block) + Σ_{t'≠t} UB(t', bucket) < θ → skip block;
  - surviving blocks: one batched decode (``codec.decode_blocks``) →
    per-posting scores → sort-by-doc + reduceat aggregation → merge into
    running top-k, raise θ.
- global: per-task top-k frames → ``ORDER BY score DESC, doc_id LIMIT k``
  (Spark's TakeOrderedAndProject = the reference's ``TopDocs.merge``
  coordinator step, ``SearchPhaseController.java:175-241``).

Exactness: all skips use strict upper bounds (< θ), so results are identical
to exhaustive scoring — verified by the oracle-comparison tests.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from opensearch_spark.index.codec import decode_blocks

#: multiplicative slack on every skip bound. The bounds are sums of
#: per-term float64 upper bounds; numpy's pairwise summation of the
#: BOUNDS can round 1-2 ulp BELOW the sequentially-reduceat-summed
#: realized score of a doc that attains every bound (measured: ~3% of
#: random cases undershoot), which would let an ulp-close θ skip a doc
#: that belongs in the top-k. Relative summation error is ≤ n_terms·ε ≈
#: 1e-14 for 50 terms; 1e-12 is a 100× margin with no measurable
#: pruning-power cost. Bounds stay strict-in-the-math, conservative in
#: floats — exactness (WAND ≡ exhaustive) is preserved, not weakened.
UB_SLACK = 1.0 + 1e-12


class _TopK:
    """Running top-k of (score desc, doc_id asc), numpy-based."""

    def __init__(self, k: int):
        self.k = k
        self.docs = np.empty(0, dtype=np.int64)
        self.scores = np.empty(0, dtype=np.float64)

    @property
    def threshold(self) -> float:
        if self.k <= 0:
            # size=0 searches are legal (aggregation-only requests):
            # nothing can enter the top-k, so every bucket is prunable
            # (was: scores[-1] on an empty array -> task-crashing
            # IndexError)
            return np.inf
        if self.scores.size < self.k:
            return -np.inf
        return float(self.scores[-1])

    def merge(self, docs: np.ndarray, scores: np.ndarray) -> None:
        d = np.concatenate([self.docs, docs])
        s = np.concatenate([self.scores, scores])
        order = np.lexsort((d, -s))[: self.k]
        self.docs, self.scores = d[order], s[order]


def _score_bucket(
    group: pd.DataFrame,
    weights: np.ndarray,
    k1: float,
    b: float,
    avgdl: float,
    n_required: int,
    theta: float,
    tombstones: "np.ndarray | None" = None,
):
    """Exact per-doc scores for one bucket, with block-level skipping.

    Returns (doc_ids, scores) or None if fully skipped.
    """
    tidx = group["term_idx"].to_numpy()
    ub_rows = weights[tidx] * group["max_impact"].to_numpy()
    # per-term max UB within bucket → bucket-level UB
    n_terms = weights.size
    term_ub = np.zeros(n_terms)
    np.maximum.at(term_ub, tidx, ub_rows)
    present = term_ub > 0
    if int(present.sum()) < n_required:
        return None  # bucket cannot satisfy AND/msm
    bucket_ub = float(term_ub.sum())
    if bucket_ub * UB_SLACK < theta:
        return None
    # block skip: ub(block) + (bucket_ub - term_ub[t]) < theta
    keep = (ub_rows + (bucket_ub - term_ub[tidx])) * UB_SLACK >= theta
    if not keep.any():
        return None
    g = group.loc[keep]
    # liveDocs check at decode time (Lucene posture): dropping docs only
    # lowers realized scores, so every skip bound stays strict
    block, all_docs, tf, dl = decode_blocks(
        g["first_doc"].to_numpy(), g["n"].to_numpy(), g["docs_vb"].to_numpy(),
        g["tfs_vb"].to_numpy(), g["dls_vb"].to_numpy(), tombstones)
    if not all_docs.size:
        return None
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    w = weights[g["term_idx"].to_numpy()][block]
    all_scores = w * (tf / (tf + k1 * (1.0 - b + b * dl / avgdl)))
    order = np.argsort(all_docs, kind="stable")
    all_docs, all_scores = all_docs[order], all_scores[order]
    starts = np.flatnonzero(np.concatenate(([True], all_docs[1:] != all_docs[:-1])))
    uniq_docs = all_docs[starts]
    sums = np.add.reduceat(all_scores, starts)
    if n_required > 1:
        counts = np.diff(np.concatenate((starts, [all_docs.size])))
        ok = counts >= n_required
        uniq_docs, sums = uniq_docs[ok], sums[ok]
    return uniq_docs, sums


#: rows of block metadata buffered per task before falling back to the
#: streaming (bucket-at-a-time) path — bounds per-task memory on hot terms
#: over a huge corpus; each row carries ≤ block_size postings of varbyte
MAX_BUFFER_ROWS = 250_000


def wand_partition_fn(
    weights: list[float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    n_required: int,
    max_buffer_rows: int | None = None,
    tombstones=None,
):
    """Build the mapInPandas function: block rows (sorted by bucket within
    the partition) → this partition's top-k.

    ``tombstones`` is a sorted int64 ndarray, a Spark Broadcast wrapping
    one (resolved executor-side, so the task closure carries only the
    handle), or None.

    Fast path (partition fits ``max_buffer_rows``): buffer the partition,
    compute bucket upper bounds, process buckets in descending-UB order —
    θ rises fast and once a bucket's UB drops below θ every remaining
    bucket is prunable (break). Fallback (hot-term partitions beyond the
    cap): stream Arrow batches bucket-at-a-time in storage order,
    stitching buckets split across batch boundaries — identical results
    (the skip bounds are strict either way), bounded memory, only the
    pruning order degrades."""
    w = np.asarray(weights, dtype=np.float64)
    cap = MAX_BUFFER_ROWS if max_buffer_rows is None else max_buffer_rows

    def process_frame(pdf: pd.DataFrame, topk: _TopK, ordered: bool,
                      tomb=None) -> None:
        """Score every complete bucket group of ``pdf`` (desc-UB order when
        ``ordered``, storage order otherwise)."""
        buckets = pdf["bucket"].to_numpy()
        tidx = pdf["term_idx"].to_numpy()
        ub_rows = w[tidx] * pdf["max_impact"].to_numpy()
        starts = np.flatnonzero(
            np.concatenate(([True], buckets[1:] != buckets[:-1])))
        ends = np.concatenate((starts[1:], [len(pdf)]))
        # rows arrive sorted by (bucket, term_idx) — executor.py pins
        # sortWithinPartitions before the mapInPandas — so per-(bucket,
        # term) maxima are one maximum.reduceat at the segment starts
        # and bucket UBs one add.reduceat over those maxima (was: a
        # Python loop allocating an n_terms array + maximum.at per
        # bucket, the task hot path at 10^4+ buckets/partition)
        seg_starts = np.flatnonzero(np.concatenate(
            ([True], (buckets[1:] != buckets[:-1])
             | (tidx[1:] != tidx[:-1]))))
        seg_max = np.maximum.reduceat(ub_rows, seg_starts)
        seg_bucket_starts = np.flatnonzero(np.concatenate(
            ([True], buckets[seg_starts][1:] != buckets[seg_starts][:-1])))
        bucket_ubs = np.add.reduceat(seg_max, seg_bucket_starts) * UB_SLACK
        order = np.argsort(-bucket_ubs, kind="stable") if ordered \
            else np.arange(starts.size)
        for i in order:
            if bucket_ubs[i] < topk.threshold:
                if ordered:
                    break  # desc order: everything after is prunable too
                continue
            s, e = int(starts[i]), int(ends[i])
            res = _score_bucket(
                pdf.iloc[s:e], w, k1, b, avgdl, n_required, topk.threshold,
                tomb)
            if res is not None:
                topk.merge(*res)

    def split_last_bucket(pdf: pd.DataFrame):
        """(complete-buckets frame | None, last-bucket carry frame)."""
        buckets = pdf["bucket"].to_numpy()
        last_start = int(np.flatnonzero(
            np.concatenate(([True], buckets[1:] != buckets[:-1])))[-1])
        if last_start == 0:
            return None, pdf
        return pdf.iloc[:last_start], pdf.iloc[last_start:].reset_index(drop=True)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Broadcast → resolve ONCE per task, executor-side, into a local
        # passed explicitly to process_frame (closure-cell sharing between
        # sibling inner functions does not survive worker pickling, so a
        # nonlocal rebind here would not reach process_frame's cell)
        tomb = tombstones.value if hasattr(tombstones, "value") \
            else tombstones
        topk = _TopK(k)
        buf: list[pd.DataFrame] = []
        total = 0
        carry: pd.DataFrame | None = None
        streaming = False
        for pdf in batches:
            if not len(pdf):
                continue
            if not streaming:
                buf.append(pdf)
                total += len(pdf)
                if total > cap:
                    streaming = True
                    frame = pd.concat(buf, ignore_index=True)
                    buf = []
                    done, carry = split_last_bucket(frame)
                    if done is not None:
                        process_frame(done, topk, ordered=False, tomb=tomb)
            else:
                frame = (pd.concat([carry, pdf], ignore_index=True)
                         if carry is not None and len(carry) else pdf)
                done, carry = split_last_bucket(frame)
                if done is not None:
                    process_frame(done, topk, ordered=False, tomb=tomb)
        if streaming:
            if carry is not None and len(carry):
                process_frame(carry, topk, ordered=False, tomb=tomb)
        elif buf:
            frame = pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            process_frame(frame, topk, ordered=True, tomb=tomb)
        yield pd.DataFrame({"doc_id": topk.docs, "score": topk.scores})

    return run
