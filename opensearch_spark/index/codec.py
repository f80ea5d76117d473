"""Posting-list block codec: delta + variable-byte, 128-doc blocks, block-max.

Re-implements natively, in numpy, the behavioral layout of the reference's
posting format: 128-doc blocks with per-block skip metadata and max impacts
(reference wires Lucene's ``Lucene99PostingsFormat`` at
``index/codec/CodecService.java:71-78`` /
``PerFieldMappingPostingFormatCodec.java:87-95``; block size 128 and
block-max impacts are public Lucene layout). We use varbyte instead of
FOR-bitpacking — simpler, numpy-friendly, and the VByte/FastLanes literature
(PAPERS.md) shows both decode at memory bandwidth for our block sizes.

Block row layout (columns of the ``postings`` table):
    term, bucket, block_seq, first_doc, last_doc, n,
    max_tf, max_impact, docs_vb, tfs_vb, dls_vb (binary), part

``docs_vb`` encodes the n-1 doc-id gaps after ``first_doc`` (the first gap
is elided: ``first_doc`` sits in the row). ``tfs_vb`` and ``dls_vb`` carry
the n term frequencies and doc lengths, so a block scores without a norms
lookup. ``max_impact`` = max over the block of tf/(tf + k1*(1-b+b*dl/avgdl))
so the query-time upper bound for block-max WAND is
``idf*(k1+1)*max_impact``. The packed per-task segments the build shuffles
(``term, bucket, n, first_doc, docs_vb, tfs_vb, dls_vb``) use the same
layout without the block cap.

Every reader decodes through ``decode_blocks``: one varbyte pass per byte
column over all the blocks of a batch, and one segmented cumsum for the
doc ids. ``make_blocks_batch`` is the matching batch encoder.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

_THRESHOLDS = np.array([1 << (7 * k) for k in range(1, 10)], dtype=np.uint64)


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128-style varbyte encode of a uint64 array.

    One authoring site: delegates to ``varbyte_encode_offsets`` (the
    batch building block) so the two encoders can never drift."""
    buf, _ = varbyte_encode_offsets(values)
    return buf.tobytes()


def gaps_to_doc_ids(first_doc: int, gaps: np.ndarray, n: int) -> np.ndarray:
    """Reconstruct one block's doc ids from ``first_doc`` + n-1 decoded
    gaps (the first gap is elided by the block layout). Readers of many
    blocks use ``decode_blocks``."""
    if n <= 0:
        return np.empty(0, dtype=np.int64)
    doc_ids = np.empty(n, dtype=np.int64)
    doc_ids[0] = first_doc
    if n > 1:
        np.cumsum(gaps.astype(np.int64), out=doc_ids[1:])
        doc_ids[1:] += first_doc
    return doc_ids


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized decode → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (b & 0x80) == 0
    ends = np.flatnonzero(is_end)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    pos_in_group = np.arange(b.size) - np.repeat(starts, lengths)
    contrib = (b & np.uint8(0x7F)).astype(np.uint64) << (
        np.uint64(7) * pos_in_group.astype(np.uint64)
    )
    return np.add.reduceat(contrib, starts)


def varbyte_encode_offsets(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized varbyte encode of a uint64 array, returning the raw byte
    buffer AND per-value byte offsets (length n+1) so callers can slice out
    contiguous sub-ranges without re-encoding — the batch-encoder building
    block."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(1, dtype=np.int64)
    nbytes = 1 + (v[:, None] >= _THRESHOLDS[None, :]).sum(axis=1)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    maxb = int(nbytes.max())
    for j in range(maxb):
        mask = nbytes > j
        idx = offsets[:-1][mask] + j
        chunk = (v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1 > j).astype(np.uint8) << 7
        out[idx] = chunk.astype(np.uint8) | cont
    return out, offsets


def make_blocks_batch(
    terms: np.ndarray,
    buckets: np.ndarray,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    impacts: np.ndarray,
    dls: np.ndarray,
    group_starts: np.ndarray,
    block_size: int = BLOCK_SIZE,
) -> list[tuple]:
    """Encode MANY (term, bucket) groups in one vectorized pass.

    Inputs are whole-batch column arrays sorted by (term, bucket, doc_id);
    ``group_starts`` marks group boundaries (first row of each group).
    All varbyte encoding happens in three whole-batch calls; per-block rows
    are then cheap buffer slices. Returns the same row tuples as
    ``make_blocks`` prefixed with (term, bucket) — the encoder of both
    ``build_index`` and ``merge_segments``; the per-group ``make_blocks``
    is the reference it is tested against."""
    n = doc_ids.size
    if n == 0:
        return []
    d = np.asarray(doc_ids, dtype=np.int64)
    t = np.asarray(tfs, dtype=np.int64)
    imp = np.asarray(impacts, dtype=np.float64)
    dl = np.asarray(dls, dtype=np.int64)
    gs = np.asarray(group_starts, dtype=np.int64)
    # within-group row index → block starts every block_size rows per group
    group_of_row = np.zeros(n, dtype=np.int64)
    group_of_row[gs[1:]] = 1
    group_of_row = np.cumsum(group_of_row)
    within = np.arange(n, dtype=np.int64) - gs[group_of_row]
    is_block_start = (within % block_size) == 0
    bs = np.flatnonzero(is_block_start)
    be = np.concatenate((bs[1:], [n]))
    block_seq = (within[bs] // block_size).astype(np.int64)
    # whole-batch varbyte: gaps (invalid at block starts, sliced around),
    # tfs and dls
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = 0
    gaps[1:] = (d[1:] - d[:-1]).astype(np.uint64)
    gaps[bs] = 0  # block-start gaps are elided, value irrelevant
    gbuf, goff = varbyte_encode_offsets(gaps)
    tbuf, toff = varbyte_encode_offsets(t.astype(np.uint64))
    lbuf, loff = varbyte_encode_offsets(dl.astype(np.uint64))
    max_tf = np.maximum.reduceat(t, bs)
    max_imp = np.maximum.reduceat(imp, bs)
    # per-block rows from whole columns: tolist() and bytes slices, no
    # numpy scalar per field
    def slices(buf, lo, hi):
        raw = buf.tobytes()
        return [raw[a:z] for a, z in zip(lo.tolist(), hi.tolist())]

    return list(zip(
        np.asarray(terms)[bs].tolist(),
        np.asarray(buckets)[bs].tolist(),
        block_seq.tolist(),
        d[bs].tolist(),
        d[be - 1].tolist(),
        (be - bs).tolist(),
        max_tf.tolist(),
        max_imp.tolist(),
        slices(gbuf, goff[bs + 1], goff[be]),   # n-1 gaps (first elided)
        slices(tbuf, toff[bs], toff[be]),
        slices(lbuf, loff[bs], loff[be]),
    ))


def encode_block(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """Encode one block (sorted doc_ids + parallel tfs) → (docs_vb, tfs_vb)."""
    d = np.asarray(doc_ids, dtype=np.uint64)
    gaps = np.diff(d)  # first gap elided (first_doc stored in-row)
    return varbyte_encode(gaps), varbyte_encode(np.asarray(tfs, dtype=np.uint64))


def decode_blocks(first_docs, ns, docs_vb, tfs_vb, dls_vb=None,
                  tombstones: np.ndarray | None = None):
    """Decode many blocks (or packed segments) in one pass.

    ``first_docs``/``ns`` are per-block arrays and ``docs_vb``/``tfs_vb``/
    ``dls_vb`` per-block byte strings. Varbyte values are self-terminating,
    so each column is joined and decoded once; doc ids come back from ONE
    cumsum over the gap stream, rebased per block at its start. Postings
    of docs in the sorted ``tombstones`` array are dropped.

    Returns ``(block, doc_ids, tfs, dls)`` as int64 arrays over the kept
    postings in input order; ``block`` is each posting's block index and
    ``dls`` is None when ``dls_vb`` is."""
    ns = np.asarray(ns, dtype=np.int64)
    first = np.asarray(first_docs, dtype=np.int64)
    total = int(ns.sum())
    starts = np.cumsum(ns) - ns
    block = np.repeat(np.arange(ns.size), ns)
    vals = np.zeros(total, dtype=np.int64)
    is_gap = np.ones(total, dtype=bool)
    is_gap[starts[ns > 0]] = False
    vals[is_gap] = varbyte_decode(b"".join(docs_vb)).astype(np.int64)
    csum = np.cumsum(vals)
    doc_ids = first[block] + (csum - csum[starts[block]])
    tfs = varbyte_decode(b"".join(tfs_vb)).astype(np.int64)
    dls = None if dls_vb is None \
        else varbyte_decode(b"".join(dls_vb)).astype(np.int64)
    if tombstones is not None and tombstones.size and total:
        # liveDocs test: sorted tombstones → membership via searchsorted
        idx = np.searchsorted(tombstones, doc_ids)
        live = tombstones[np.minimum(idx, tombstones.size - 1)] != doc_ids
        block, doc_ids, tfs = block[live], doc_ids[live], tfs[live]
        dls = None if dls is None else dls[live]
    return block, doc_ids, tfs, dls


def decode_block(first_doc: int, docs_vb: bytes, tfs_vb: bytes, n: int):
    """Decode one block → (doc_ids int64[n], tfs int64[n])."""
    _, doc_ids, tfs, _ = decode_blocks([first_doc], [n], [docs_vb], [tfs_vb])
    return doc_ids, tfs


def make_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    impacts: np.ndarray,
    dls: np.ndarray | None = None,
    block_size: int = BLOCK_SIZE,
):
    """Chunk one term's sorted postings into block rows.

    Returns a list of tuples ``(block_seq, first_doc, last_doc, n, max_tf,
    max_impact, docs_vb, tfs_vb[, dls_vb])``. ``impacts`` is the idf-free
    BM25 factor per posting (see module doc). ``dls`` (per-posting doc
    length) makes blocks fully self-contained for scoring — no norms
    broadcast or docs-table join at query time (the Lucene analog keeps a
    per-segment norms file; inlining costs ~1 byte/posting varbyte and keeps
    the hot path join-free at 10^12-doc scale).
    """
    order = np.argsort(doc_ids, kind="stable")
    d = np.asarray(doc_ids, dtype=np.int64)[order]
    t = np.asarray(tfs, dtype=np.int64)[order]
    imp = np.asarray(impacts, dtype=np.float64)[order]
    dl = None if dls is None else np.asarray(dls, dtype=np.int64)[order]
    rows = []
    for seq, s in enumerate(range(0, d.size, block_size)):
        e = min(s + block_size, d.size)
        docs_vb, tfs_vb = encode_block(d[s:e], t[s:e])
        row = (
            seq,
            int(d[s]),
            int(d[e - 1]),
            int(e - s),
            int(t[s:e].max()),
            float(imp[s:e].max()),
            docs_vb,
            tfs_vb,
        )
        if dl is not None:
            row = row + (varbyte_encode(dl[s:e].astype(np.uint64)),)
        rows.append(row)
    return rows
