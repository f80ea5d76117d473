"""Varbyte/delta posting-block codec round-trip + property tests."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from opensearch_spark.index.codec import (
    BLOCK_SIZE,
    decode_block,
    decode_blocks,
    encode_block,
    make_blocks,
    varbyte_decode,
    varbyte_encode,
)


def test_varbyte_empty():
    assert varbyte_encode(np.array([], dtype=np.uint64)) == b""
    assert varbyte_decode(b"").size == 0


def test_varbyte_known():
    assert varbyte_encode(np.array([0])) == b"\x00"
    assert varbyte_encode(np.array([127])) == b"\x7f"
    assert varbyte_encode(np.array([128])) == b"\x80\x01"
    assert list(varbyte_decode(b"\x80\x01")) == [128]


@settings(max_examples=200)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**56 - 1), min_size=0, max_size=500
    )
)
def test_varbyte_round_trip(xs):
    arr = np.array(xs, dtype=np.uint64)
    assert list(varbyte_decode(varbyte_encode(arr))) == xs


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**9),
            st.integers(min_value=1, max_value=1000),
        ),
        min_size=1,
        max_size=400,
        unique_by=lambda t: t[0],
    )
)
def test_block_round_trip(postings):
    postings.sort()
    docs = np.array([p[0] for p in postings], dtype=np.int64)
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    docs_vb, tfs_vb = encode_block(docs, tfs)
    d2, t2 = decode_block(int(docs[0]), docs_vb, tfs_vb, len(postings))
    assert list(d2) == list(docs)
    assert list(t2) == list(tfs)


def test_make_blocks_chunks_and_metadata():
    n = 300
    docs = np.arange(n) * 3
    tfs = (np.arange(n) % 7) + 1
    imp = tfs / (tfs + 1.0)
    rows = make_blocks(docs, tfs, imp)
    assert len(rows) == 3
    assert [r[3] for r in rows] == [BLOCK_SIZE, BLOCK_SIZE, n - 2 * BLOCK_SIZE]
    # blocks are disjoint, sorted ranges
    assert rows[0][2] < rows[1][1] and rows[1][2] < rows[2][1]
    # decode all and compare
    got_docs, got_tfs = [], []
    for seq, first, last, cnt, max_tf, max_imp, dvb, tvb in rows:
        d, t = decode_block(first, dvb, tvb, cnt)
        assert d[-1] == last and t.max() == max_tf
        got_docs += list(d)
        got_tfs += list(t)
    assert got_docs == list(docs) and got_tfs == list(tfs)
    assert abs(rows[0][5] - float(imp[:BLOCK_SIZE].max())) < 1e-12


def test_make_blocks_batch_equals_make_blocks():
    import numpy as np

    from opensearch_spark.index.codec import make_blocks, make_blocks_batch

    rng = np.random.default_rng(7)
    rows = []
    for term, bucket, n in [("a", 0, 1), ("a", 1, 300), ("b", 0, 128),
                            ("c", 2, 129), ("d", 0, 5)]:
        docs = np.sort(rng.choice(100000, size=n, replace=False))
        tfs = rng.integers(1, 50, size=n)
        dls = rng.integers(10, 400, size=n)
        rows.append((term, bucket, docs, tfs, dls))
    k1, b, avgdl = 1.2, 0.75, 120.0
    # reference: per-group make_blocks
    expected = []
    for term, bucket, docs, tfs, dls in rows:
        imp = tfs / (tfs + k1 * (1 - b + b * dls / avgdl))
        for r in make_blocks(docs, tfs, imp, dls=dls):
            expected.append((term, bucket) + r)
    # batch path over the concatenated arrays
    terms = np.concatenate([[t] * len(d) for t, _b, d, _t, _l in rows])
    buckets = np.concatenate([[bk] * len(d) for _t, bk, d, _tf, _l in rows])
    docs = np.concatenate([d for _t, _b, d, _tf, _l in rows])
    tfs = np.concatenate([t for _x, _b, _d, t, _l in rows])
    dls = np.concatenate([l for _x, _b, _d, _t, l in rows])
    starts = np.cumsum([0] + [len(d) for _t, _b, d, _tf, _l in rows][:-1])
    imp = tfs / (tfs + k1 * (1 - b + b * dls / avgdl))
    got = make_blocks_batch(terms, buckets, docs, tfs, imp, dls,
                            np.asarray(starts))
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        assert g == e, (g[:6], e[:6])


_gap = st.one_of(st.integers(1, 300), st.integers(2**35, 2**40))
_block = st.tuples(
    st.integers(0, 2**40),                                   # first_doc
    st.lists(st.tuples(_gap,                                 # gap before
                       st.integers(1, 1000),                 # tf
                       st.one_of(st.integers(1, 500),
                                 st.integers(2**35, 2**40))),  # dl
             min_size=1, max_size=BLOCK_SIZE),
    st.booleans(),                                           # kill all docs
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_block, min_size=0, max_size=12), st.data())
def test_decode_blocks_equals_per_block_decode(blocks, data):
    """The batched decoder ≡ per-block ``decode_block`` + a plain
    membership filter: n = 1 blocks (empty docs_vb), multi-byte gaps and
    dls above 2^35, an empty input, and tombstones killing whole blocks."""
    firsts, ns, dvbs, tvbs, lvbs = [], [], [], [], []
    tomb = set()
    want = []
    for bi, (first, posts, kill) in enumerate(blocks):
        docs = first + np.concatenate(
            ([0], np.cumsum([g for g, _, _ in posts[1:]], dtype=np.int64)))
        tfs = np.array([t for _, t, _ in posts], dtype=np.int64)
        dls = np.array([d for _, _, d in posts], dtype=np.int64)
        dvb, tvb = encode_block(docs, tfs)
        lvb = varbyte_encode(dls.astype(np.uint64))
        if len(posts) == 1:
            assert dvb == b""
        firsts.append(first)
        ns.append(len(posts))
        dvbs.append(dvb)
        tvbs.append(tvb)
        lvbs.append(lvb)
        if kill:
            tomb.update(int(d) for d in docs)
        else:
            tomb.update(data.draw(st.sets(st.sampled_from(
                [int(d) for d in docs]), max_size=3)))
        d1, t1 = decode_block(first, dvb, tvb, len(posts))
        l1 = varbyte_decode(lvb).astype(np.int64)
        want += [(bi, int(d), int(t), int(l))
                 for d, t, l in zip(d1, t1, l1)]
    # no tombstones: every posting, in input order
    block, d, t, l = decode_blocks(firsts, ns, dvbs, tvbs, lvbs)
    assert list(zip(block.tolist(), d.tolist(), t.tolist(), l.tolist())) \
        == want
    # sorted tombstones: exactly the postings of live docs survive
    tarr = np.array(sorted(tomb), dtype=np.int64)
    block, d, t, l = decode_blocks(firsts, ns, dvbs, tvbs, lvbs, tarr)
    assert list(zip(block.tolist(), d.tolist(), t.tolist(), l.tolist())) \
        == [w for w in want if w[1] not in tomb]
    # without a dls column
    block, d, t, l = decode_blocks(firsts, ns, dvbs, tvbs)
    assert l is None and d.tolist() == [w[1] for w in want]
