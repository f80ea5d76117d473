"""In-process WAND kernel property test: ``wand_partition_fn`` over random
multi-bucket block frames, fed as several Arrow-sized batches, against a
brute-force numpy BM25 top-k. No Spark."""

import numpy as np
import pandas as pd
import pytest

from opensearch_spark.index.codec import make_blocks_batch
from opensearch_spark.search import wand as wand_mod

K1, B = 1.2, 0.75


def _case(seed: int):
    """Random postings for 1-4 terms over up to 300 docs, encoded with
    ``make_blocks_batch`` into small blocks across several buckets, plus
    the brute-force per-doc scores and term counts."""
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(20, 300))
    span = int(rng.choice([8, 32, 64]))
    n_terms = int(rng.integers(1, 5))
    dl = rng.integers(1, 60, n_docs)
    avgdl = float(dl.mean())
    weights = rng.uniform(0.1, 5.0, n_terms)
    cols = []
    for t in range(n_terms):
        docs = np.flatnonzero(rng.random(n_docs) < rng.uniform(0.05, 0.8))
        if not docs.size:
            docs = np.array([int(rng.integers(n_docs))])
        tf = np.minimum(rng.integers(1, 8, docs.size), dl[docs])
        cols.append(np.stack([np.full(docs.size, t), docs // span, docs, tf,
                              dl[docs]], axis=1))
    a = np.concatenate(cols)
    term, bucket, doc, tf, dls = a.T
    impact = tf / (tf + K1 * (1.0 - B + B * dls / avgdl))
    group_starts = np.flatnonzero(np.concatenate(
        ([True], (term[1:] != term[:-1]) | (bucket[1:] != bucket[:-1]))))
    rows = make_blocks_batch(term, bucket, doc, tf, impact, dls, group_starts,
                             block_size=int(rng.integers(1, 6)))
    frame = pd.DataFrame(rows, columns=[
        "term_idx", "bucket", "block_seq", "first_doc", "last_doc", "n",
        "max_tf", "max_impact", "docs_vb", "tfs_vb", "dls_vb"])
    frame = frame.sort_values(["bucket", "term_idx"], kind="stable") \
        .reset_index(drop=True)
    # brute force, summed term by term (the kernel's per-doc order)
    score = np.zeros(n_docs)
    count = np.zeros(n_docs, dtype=np.int64)
    for t in range(n_terms):
        m = term == t
        score[doc[m]] += weights[t] * impact[m]
        count[doc[m]] += 1
    return rng, frame, weights, avgdl, score, count


def _brute_topk(score, count, k, n_required, tombstones):
    """(doc ids, scores) of the top k, and the mask of matching docs."""
    ok = count >= n_required
    if tombstones is not None:
        ok[tombstones] = False
    docs = np.flatnonzero(ok)
    order = np.lexsort((docs, -score[docs]))[:k]
    return docs[order], score[docs][order], ok


@pytest.mark.parametrize("cap", [2, 9, wand_mod.MAX_BUFFER_ROWS])
@pytest.mark.parametrize("seed", range(12))
def test_wand_equals_bruteforce_topk(seed, cap, monkeypatch):
    monkeypatch.setattr(wand_mod, "MAX_BUFFER_ROWS", cap)
    rng, frame, weights, avgdl, score, count = _case(seed)
    n_docs, n_terms = score.size, weights.size
    for k in (0, 1, 10):
        for n_required in range(1, n_terms + 1):
            for tombstones in (None, np.sort(rng.choice(
                    n_docs, n_docs // 4, replace=False)).astype(np.int64)):
                cuts = np.sort(rng.choice(np.arange(1, len(frame)),
                                          min(4, len(frame) - 1),
                                          replace=False))
                batches = [frame.iloc[a:z] for a, z in
                           zip(np.append(0, cuts), np.append(cuts, len(frame)))]
                fn = wand_mod.wand_partition_fn(
                    list(weights), k, K1, B, avgdl, n_required, tombstones)
                got = next(fn(iter(batches)))
                want_docs, want_scores, ok = _brute_topk(
                    score, count, k, n_required, tombstones)
                assert len(got) == len(want_docs)
                np.testing.assert_allclose(got["score"], want_scores,
                                           rtol=1e-12)
                if not len(got):
                    continue
                # any doc tied with the k-th score may fill the cut
                cut = want_scores[-1]
                above = want_scores > cut * (1 + 1e-12)
                assert got["doc_id"].to_numpy()[above].tolist() == \
                    want_docs[above].tolist()
                tied = got["doc_id"].to_numpy()[~above]
                assert ok[tied].all()
                np.testing.assert_allclose(score[tied], cut, rtol=1e-12)
