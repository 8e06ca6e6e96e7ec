"""Codec unit tests (SURVEY §5.2.1): varint/delta roundtrip, block
structure. Property-ish with seeded numpy arrays — mirrors the
reference's golden micro-test style
(tests/interpreters/apertium/test_apertium.py:62-67)."""

import numpy as np
import pytest

from sparkbm25.codec import (
    decode_block,
    decode_blocks,
    encode_blocks,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip_small():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**31, 2**63 - 1], dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(vals)), vals)


def test_varint_empty():
    assert varint_encode(np.array([], dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_varint_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    # mixture of magnitudes
    vals = np.concatenate(
        [
            rng.integers(0, 128, 1000),
            rng.integers(0, 2**20, 1000),
            rng.integers(0, 2**40, 100),
            rng.integers(0, 2**63, 10),
        ]
    ).astype(np.uint64)
    rng.shuffle(vals)
    assert np.array_equal(varint_decode(varint_encode(vals)), vals)


def test_varint_single_byte_values_compact():
    vals = np.arange(128, dtype=np.uint64)
    assert len(varint_encode(vals)) == 128  # 1 byte each


def test_blocks_roundtrip_and_structure():
    rng = np.random.default_rng(7)
    n = 1000
    docs = np.sort(rng.choice(10**9, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 20, size=n).astype(np.int64)
    dls = rng.integers(1, 500, size=n).astype(np.int64)
    bs = 128
    blocks = encode_blocks(docs, tfs, dls, block_size=bs)

    assert len(blocks) == (n + bs - 1) // bs
    d2, t2, l2 = decode_blocks(blocks)
    assert np.array_equal(d2, docs)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(l2, dls)

    for blk in blocks:
        bd, _, _ = decode_block(blk)
        assert blk["first_doc"] == bd[0]
        assert blk["n"] == bd.size


def test_blocks_single_doc():
    blocks = encode_blocks(
        np.array([42]), np.array([3]), np.array([10]), block_size=128)
    assert len(blocks) == 1
    d, t, l = decode_blocks(blocks)
    assert d.tolist() == [42] and t.tolist() == [3] and l.tolist() == [10]
