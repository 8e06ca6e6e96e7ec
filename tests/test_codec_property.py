"""Property-based codec tests (hypothesis): varint/delta/block
roundtrips must hold for arbitrary posting shapes, and batch encoding
must equal per-group encoding."""

import numpy as np
from hypothesis import given, settings, strategies as st

from sparkbm25.codec import (
    decode_blocks,
    encode_blocks,
    encode_blocks_batch,
    varint_decode,
    varint_encode,
)

uint63 = st.integers(min_value=0, max_value=2**63 - 1)


@settings(max_examples=200, deadline=None)
@given(st.lists(uint63, max_size=300))
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert varint_decode(varint_encode(arr)).tolist() == vals


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**12),   # doc gap seed
            st.integers(min_value=1, max_value=1000),     # tf
            st.integers(min_value=0, max_value=100000),   # dl
        ),
        min_size=1, max_size=400,
    ),
    st.integers(min_value=1, max_value=64),               # block size
)
def test_blocks_roundtrip(postings, block_size):
    gaps = np.array([p[0] for p in postings], dtype=np.int64)
    docs = np.cumsum(gaps + 1) - 1  # strictly increasing
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    dls = np.array([p[2] for p in postings], dtype=np.int64)
    blocks = encode_blocks(docs, tfs, dls, block_size=block_size)
    d, t, l = decode_blocks(blocks)
    assert np.array_equal(d, docs)
    assert np.array_equal(t, tfs)
    assert np.array_equal(l, dls)
    assert all(len(blk["tfs"]) > 0 for blk in blocks)
    assert sum(blk["n"] for blk in blocks) == len(postings)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=50), min_size=1, max_size=20),
    st.integers(min_value=1, max_value=16),
)
def test_batch_equals_per_group(group_sizes, block_size):
    rng = np.random.default_rng(0)
    n = sum(group_sizes)
    offsets = np.concatenate(([0], np.cumsum(group_sizes))).astype(np.int64)
    docs = np.empty(n, dtype=np.int64)
    for i in range(len(group_sizes)):
        s, e = offsets[i], offsets[i + 1]
        docs[s:e] = np.sort(rng.choice(10**6, size=e - s, replace=False))
    tfs = rng.integers(1, 30, n).astype(np.int64)
    dls = rng.integers(0, 500, n).astype(np.int64)
    batch = encode_blocks_batch(docs, tfs, dls, offsets,
                                block_size=block_size)
    for i in range(len(group_sizes)):
        s, e = offsets[i], offsets[i + 1]
        solo = encode_blocks(docs[s:e], tfs[s:e], dls[s:e],
                             block_size=block_size)
        assert batch[i] == solo


@settings(max_examples=40, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=8), min_size=1, max_size=60),
    st.integers(min_value=1, max_value=16),
)
def test_positions_roundtrip(tfs_list, block_size):
    """Positions blob round-trips exactly for any tf profile/block size:
    posting i owns tfs[i] ascending within-doc positions."""
    from sparkbm25.codec import decode_block_positions

    rng = np.random.default_rng(1)
    n = len(tfs_list)
    tfs = np.asarray(tfs_list, dtype=np.int64)
    docs = np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.int64)
    dls = rng.integers(1, 500, n).astype(np.int64)
    occ = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(tfs, out=occ[1:])
    pos = np.concatenate([
        np.sort(rng.choice(10_000, size=int(t), replace=False)) for t in tfs
    ]).astype(np.int64)
    blocks = encode_blocks_batch(
        docs, tfs, dls, np.array([0, n], dtype=np.int64),
        block_size=block_size, positions=pos, occ_offsets=occ)[0]
    got_pos, got_tfs = [], []
    for blk in blocks:
        _d, t, _l = decode_blocks([blk])
        flat, _o = decode_block_positions(blk, t)
        got_pos.append(flat)
        got_tfs.append(t)
    assert np.array_equal(np.concatenate(got_tfs), tfs)
    assert np.array_equal(np.concatenate(got_pos), pos)
