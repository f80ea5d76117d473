"""Block-max top-k pruning — the one operator Catalyst cannot express
(SURVEY.md §4.1): the reference enables it via ``track_total_hits`` →
``totalHitsThreshold`` (``TopDocsCollectorContext.java:350``) with Lucene's
block-max WAND machinery.

Our variant is *vectorized* block-max pruning (the reference is
document-at-a-time; we are block-at-a-time with numpy — strictly more
SIMD-friendly, see the ICDE'25 columnar-inverted-index paper in PAPERS.md):

- postings are chunked into doc-id-range **buckets** (build-time), so every
  doc's postings for all query terms live in the same bucket;
- the driver collects a request's term-pruned blocks and scores them as
  one frame. ``_score_frame`` computes every bound of the frame once, then
  scores its buckets in descending upper-bound order against the running
  top-k threshold θ:
  - **bucket skip**: Σ_t max-impact-UB(t, bucket) < θ → skip the bucket and
    every later one (and for AND/msm: skip buckets missing required terms);
  - **block skip**: UB(block) + Σ_{t'≠t} UB(t', bucket) < θ → skip block;
  - surviving blocks: one batched decode (``codec.decode_blocks``) →
    per-posting scores → sort-by-doc + reduceat aggregation → merge into
    running top-k, raise θ.

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


def _starts(*keys: np.ndarray) -> np.ndarray:
    """Row indices where any of the sorted ``keys`` changes value."""
    change = np.zeros(keys[0].size, dtype=bool)
    change[0] = True
    for key in keys:
        change[1:] |= key[1:] != key[:-1]
    return np.flatnonzero(change)


def _score_frame(frame: pd.DataFrame, w: np.ndarray, k1: float, b: float,
                 avgdl: float, n_required: int, topk: _TopK,
                 tombstones: np.ndarray | None) -> None:
    """Score every bucket of ``frame`` into ``topk``.

    ``frame`` holds whole buckets, sorted by (bucket, term_idx) — so
    each (bucket, term) maximum is one ``maximum.reduceat`` and each bucket
    bound one ``add.reduceat`` over those maxima."""
    bucket = frame["bucket"].to_numpy()
    tidx = frame["term_idx"].to_numpy()
    ub_rows = w[tidx] * frame["max_impact"].to_numpy()
    b_start = _starts(bucket)
    b_end = np.append(b_start[1:], bucket.size)
    seg_start = _starts(bucket, tidx)
    seg_max = np.maximum.reduceat(ub_rows, seg_start)
    b_seg = np.searchsorted(seg_start, b_start)
    bucket_ub = np.add.reduceat(seg_max, b_seg)
    n_present = np.add.reduceat((seg_max > 0).astype(np.int64), b_seg)
    # block bound: own maximum + the other terms' maxima in its bucket
    row_seg = np.searchsorted(seg_start, np.arange(bucket.size), "right") - 1
    row_bucket = np.repeat(np.arange(b_start.size), b_end - b_start)
    block_ub = (ub_rows + (bucket_ub[row_bucket] - seg_max[row_seg])) * UB_SLACK
    bucket_ub *= UB_SLACK

    first, ns = frame["first_doc"].to_numpy(), frame["n"].to_numpy()
    docs_vb, tfs_vb, dls_vb = (frame[c].to_numpy()
                               for c in ("docs_vb", "tfs_vb", "dls_vb"))
    live = np.flatnonzero(n_present >= n_required)  # AND/msm bucket test
    for i in live[np.argsort(-bucket_ub[live], kind="stable")]:
        theta = topk.threshold
        if bucket_ub[i] < theta:
            break  # desc order: every later bucket is prunable too
        s = int(b_start[i])
        rows = s + np.flatnonzero(block_ub[s:b_end[i]] >= theta)
        if not rows.size:
            continue
        # liveDocs check at decode time (Lucene posture): dropping docs
        # only lowers realized scores, so every skip bound stays strict
        block, docs, tf, dl = decode_blocks(
            first[rows], ns[rows], docs_vb[rows], tfs_vb[rows], dls_vb[rows],
            tombstones)
        if not docs.size:
            continue
        tf = tf.astype(np.float64)
        dl = dl.astype(np.float64)
        scores = w[tidx[rows]][block] \
            * (tf / (tf + k1 * (1.0 - b + b * dl / avgdl)))
        order = np.argsort(docs, kind="stable")
        docs, scores = docs[order], scores[order]
        starts = _starts(docs)
        uniq, sums = docs[starts], np.add.reduceat(scores, starts)
        if n_required > 1:
            ok = np.diff(np.append(starts, docs.size)) >= n_required
            uniq, sums = uniq[ok], sums[ok]
        topk.merge(uniq, sums)


def wand_partition_fn(
    weights: list[float],
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    n_required: int,
    tombstones=None,
):
    """Build the kernel function: block rows sorted by (bucket, term_idx),
    as an iterator of pandas batches → one frame of their top-k
    (doc_id, score). The batches are concatenated and scored as one frame.
    ``tombstones`` is a sorted int64 ndarray of deleted doc ids, or None."""
    w = np.asarray(weights, dtype=np.float64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        topk = _TopK(k)
        frames = [pdf for pdf in batches if len(pdf)]
        if frames:
            # the driver sends one batch: score it without a copy
            frame = frames[0] if len(frames) == 1 else \
                pd.concat(frames, ignore_index=True)
            _score_frame(frame, w, k1, b, avgdl, n_required, topk,
                         tombstones)
        yield pd.DataFrame({"doc_id": topk.docs, "score": topk.scores})

    return run
