"""Delta-gap + varint posting compression, 128-doc self-contained blocks.

The reference stores postings inside Lucene (opaque to it); the
north_rule requires us to own the codec: per-term docID lists are
delta-gapped and varint-encoded into fixed-size blocks. Segment bytes
depend only on the postings and block_size — not on corpus stats or
scoring parameters — so generations fold by concatenation.

All encode/decode is vectorized numpy (no per-element Python loops in
the hot path) and runs inside Arrow UDFs, producing/consuming
``BinaryType`` columns (bytes), per SURVEY §7.3 — never
``ArrayType(ByteType)``.

Block layout (one struct row per block, self-contained so that
doc_ord-range-disjoint salt-bucket runs merge by concatenation):
    first_doc : int64   absolute doc_ord of the first posting
    n         : int32   postings in this block
    gaps      : binary  varint deltas doc[i]-doc[i-1] for i in 1..n-1
    tfs       : binary  varint term frequencies (all n)
    dls       : binary  varint doc lengths (all n; self-contained
                        scoring — no doc-norm join at query time)
    pos       : binary  OPTIONAL (IndexConfig.store_positions): varint
                        within-doc token positions of every occurrence,
                        posting-major; the first position of a posting
                        is absolute, the rest are deltas; posting i has
                        exactly tfs[i] positions — phrase queries need
                        these (Lucene stores the same per-term position
                        stream for its PhraseQuery).
"""

from __future__ import annotations

import numpy as np

_MAX_VARINT_BYTES = 10  # 64 bits / 7


def varint_encode_with_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized LEB128 varint encode; also returns the byte offset of
    each element (len n+1) so callers can slice out arbitrary runs —
    this is what lets a whole Arrow batch of posting groups be encoded
    in ONE numpy pass and then cut into per-block byte strings."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(1, dtype=np.int64)
    nb = np.ones(v.shape, dtype=np.int64)
    for k in range(1, _MAX_VARINT_BYTES):
        nb += (v >> np.uint64(7 * k)) > 0
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nb, out=offsets[1:])
    starts = offsets[:-1]
    out = np.zeros(int(offsets[-1]), dtype=np.uint8)
    for k in range(_MAX_VARINT_BYTES):
        mask = nb > k
        if not mask.any():
            break
        idx = starts[mask] + k
        byte = (v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        cont = (k < nb[mask] - 1).astype(np.uint8) << 7
        out[idx] = byte.astype(np.uint8) | cont
    return out.tobytes(), offsets


def varint_encode(values: np.ndarray) -> bytes:
    """Vectorized LEB128 varint encode of a non-negative int array."""
    return varint_encode_with_offsets(values)[0]


def varint_decode(buf, dtype=np.uint64) -> np.ndarray:
    """Vectorized varint decode -> `dtype` array (uint64 default).

    Accepts bytes or an uint8 ndarray (zero-copy callers slice Arrow
    buffers directly); `dtype` lets callers that immediately widen to
    float64/int64 skip one intermediate copy — values are identical to
    decoding uint64 first and astype-ing after."""
    b = (buf if isinstance(buf, np.ndarray)
         else np.frombuffer(buf, dtype=np.uint8))
    if b.size == 0:
        return np.empty(0, dtype=dtype)
    if int(b.max()) < 0x80:
        # all-single-byte stream (no continuation bits): the bytes ARE
        # the values. Posting streams are dominated by this shape —
        # doc gaps of hot terms, tfs, and sub-128 dls are all 1-byte
        # varints — and the one-pass widening is ~10× cheaper than the
        # general run-length machinery below (driver profile: the
        # general decode was 54% of a cold hot-term query).
        return b.astype(dtype)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    lens = ends - starts + 1
    pos = np.arange(b.size, dtype=np.int64) - np.repeat(starts, lens)
    vals7 = (b & np.uint8(0x7F)).astype(np.uint64) << (np.uint64(7) * pos.astype(np.uint64))
    return np.add.reduceat(vals7, starts).astype(dtype, copy=False)


def encode_blocks(
    doc_ords: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    *,
    block_size: int,
) -> list[dict]:
    """Cut a sorted (by doc_ord) posting run into self-contained blocks.

    Returns a list of dicts matching the segments `blocks` struct.
    """
    n = int(np.asarray(doc_ords).shape[0])
    return encode_blocks_batch(
        np.asarray(doc_ords), np.asarray(tfs), np.asarray(dls),
        np.array([0, n], dtype=np.int64),
        block_size=block_size,
    )[0]


def encode_blocks_batch(
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    group_offsets: np.ndarray,
    *,
    block_size: int,
    positions: np.ndarray | None = None,
    occ_offsets: np.ndarray | None = None,
) -> list[list[dict]]:
    """Encode MANY posting groups in one vectorized pass.

    docs/tfs/dls are the flat concatenation of all groups (each group
    sorted by doc_ord); group_offsets (len G+1) delimits groups.
    Returns a per-group list of block dicts. All heavy math (deltas,
    varint bytes) is single-shot numpy; the only per-block Python is
    byte slicing + dict packing.

    positions (optional): flat OCCURRENCE-space within-doc positions,
    posting-major and ascending within each posting; occ_offsets
    (len n+1) maps posting index -> occurrence index (cumsum of tfs).
    When given, every block dict gains a 'pos' varint blob.
    """
    n = int(docs.size)
    G = int(group_offsets.size - 1)
    if n == 0:
        return [[] for _ in range(G)]
    docs = np.asarray(docs, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    gsizes = np.diff(group_offsets)
    pos = np.arange(n, dtype=np.int64) - np.repeat(group_offsets[:-1], gsizes)

    # block starts: every block_size-th element within a group; a group
    # start always has pos==0, so blocks never span groups.
    bstarts = np.flatnonzero(pos % block_size == 0)
    bends = np.append(bstarts[1:], n)
    first_docs = docs[bstarts]
    bsizes = bends - bstarts

    gaps = np.zeros(n, dtype=np.uint64)
    if n > 1:
        gaps[1:] = (docs[1:] - docs[:-1]).astype(np.uint64)
    gaps[bstarts] = 0  # first-of-block is stored absolutely

    gap_buf, gap_off = varint_encode_with_offsets(gaps)
    tf_buf, tf_off = varint_encode_with_offsets(tfs.astype(np.uint64))
    dl_buf, dl_off = varint_encode_with_offsets(dls.astype(np.uint64))
    gap_mv, tf_mv, dl_mv = memoryview(gap_buf), memoryview(tf_buf), memoryview(dl_buf)

    pos_mv = pos_voff = None
    if positions is not None:
        positions = np.asarray(positions, dtype=np.int64)
        occ_offsets = np.asarray(occ_offsets, dtype=np.int64)
        # delta within posting, first-of-posting absolute
        pdelta = positions.astype(np.uint64).copy()
        if positions.size > 1:
            pdelta[1:] = (positions[1:] - positions[:-1]).astype(np.uint64)
        pstarts = occ_offsets[:-1]
        pdelta[pstarts] = positions[pstarts].astype(np.uint64)
        pos_buf, pos_voff_all = varint_encode_with_offsets(pdelta)
        pos_mv = memoryview(pos_buf)
        pos_voff = pos_voff_all

    # group id of each block, then cut the block list per group
    gid_of_block = np.searchsorted(group_offsets, bstarts, side="right") - 1
    out: list[list[dict]] = [[] for _ in range(G)]
    for i in range(bstarts.size):
        s, e = int(bstarts[i]), int(bends[i])
        blk = {
            "first_doc": int(first_docs[i]),
            "n": int(bsizes[i]),
            # gaps for elements s+1..e-1 (first-of-block excluded)
            "gaps": bytes(gap_mv[gap_off[s + 1]:gap_off[e]]) if e - s > 1 else b"",
            "tfs": bytes(tf_mv[tf_off[s]:tf_off[e]]),
            "dls": bytes(dl_mv[dl_off[s]:dl_off[e]]),
        }
        if pos_mv is not None:
            os_, oe = int(occ_offsets[s]), int(occ_offsets[e])
            blk["pos"] = bytes(pos_mv[pos_voff[os_]:pos_voff[oe]])
        out[int(gid_of_block[i])].append(blk)
    return out


def decode_block(block) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One block -> (doc_ords:int64, tfs:int64, dls:int64).

    Accepts a dict or a pyspark Row-like with fields first_doc/gaps/tfs/dls.
    """
    get = block.__getitem__ if isinstance(block, dict) else (lambda k: getattr(block, k))
    gaps = varint_decode(get("gaps")).astype(np.int64)
    docs = np.empty(gaps.size + 1, dtype=np.int64)
    docs[0] = get("first_doc")
    np.cumsum(gaps, out=docs[1:]) if gaps.size else None
    if gaps.size:
        docs[1:] += docs[0]
    tfs = varint_decode(get("tfs")).astype(np.int64)
    dls = varint_decode(get("dls")).astype(np.int64)
    return docs, tfs, dls


def decode_block_positions(block, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One block's 'pos' blob -> (flat absolute positions int64,
    occ_offsets int64 len n+1). tfs = the block's decoded term
    frequencies (posting i owns tfs[i] consecutive positions).
    Vectorized grouped cumsum: first-of-posting is absolute, the rest
    are deltas."""
    get = block.__getitem__ if isinstance(block, dict) else (lambda k: getattr(block, k))
    raw = get("pos")
    deltas = varint_decode(raw).astype(np.int64)
    occ_offsets = np.zeros(tfs.size + 1, dtype=np.int64)
    np.cumsum(tfs, out=occ_offsets[1:])
    if deltas.size == 0:
        return deltas, occ_offsets
    cs = np.cumsum(deltas)
    starts = occ_offsets[:-1]
    # sum of all deltas before each posting start; subtracting it from
    # the running cumsum restarts the sum at each absolute first pos
    base = (cs[starts] - deltas[starts]).astype(np.int64)
    flat = cs - np.repeat(base, np.asarray(tfs, dtype=np.int64))
    return flat.astype(np.int64), occ_offsets


def decode_blocks(blocks) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Concatenate-decode a list of blocks (assumed doc_ord-ordered).

    ONE batched varint pass per stream over the concatenated blobs
    plus a grouped cumsum with a reset at each block start — the same
    shape as the driver cache's eager decode (round-3 finding: at
    128-doc blocks, per-block numpy-call overhead ≈ 100 µs dominates;
    a hot term's 20k+ blocks cost seconds per-block but ~50 ms
    batched). Outputs bit-identical to the per-block loop."""
    if blocks is None or len(blocks) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    first = blocks[0]
    get = ((lambda blk, k: blk[k]) if isinstance(first, dict)
           else (lambda blk, k: getattr(blk, k)))
    m = len(blocks)
    firsts = np.fromiter((get(b, "first_doc") for b in blocks),
                         dtype=np.int64, count=m)
    ns = np.fromiter((get(b, "n") for b in blocks), dtype=np.int64, count=m)
    gaps = varint_decode(b"".join(get(b, "gaps") for b in blocks),
                         dtype=np.int64)
    tfs = varint_decode(b"".join(get(b, "tfs") for b in blocks),
                        dtype=np.int64)
    dls = varint_decode(b"".join(get(b, "dls") for b in blocks),
                        dtype=np.int64)
    total = int(ns.sum())
    starts = np.zeros(m + 1, dtype=np.int64)
    np.cumsum(ns, out=starts[1:])
    bs = starts[:-1]
    docs = np.empty(total, dtype=np.int64)
    if total:
        mask = np.ones(total, dtype=bool)
        mask[bs] = False
        docs[mask] = gaps
        docs[bs] = firsts
        cs = np.cumsum(docs)
        base = (cs[bs] - docs[bs]).astype(np.int64)
        docs = cs - np.repeat(base, ns)
    return docs, tfs, dls
