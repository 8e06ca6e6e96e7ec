"""Property test for the driver top-k routes: chunked vectorized
MaxScore (the default OR route), the exhaustive dense OR route and the
AND intersection must each equal a brute-force full scoring on
randomized posting sets — including adversarial TIE-HEAVY corpora
(many identical (tf, dl) pairs give exactly equal float scores, which
is where threshold/lexsort/heap tie handling can silently diverge).
Posting lists go through the real codec and the production Arrow
decoder. Pure numpy + pyarrow — no Spark session."""

import heapq

import numpy as np
import pyarrow as pa
import pytest

from sparkbm25.build import _block_pa_type
from sparkbm25.codec import encode_blocks
from sparkbm25.search import Searcher, _Cursor, _decode_postings, _exact_topk

K1, B = 1.2, 0.75


class _ScoreStub:
    """Minimal Searcher stand-in: _score_all touches only self.n_docs
    (its dense-feasibility gate), so the dense and AND routes are
    property-testable without Spark."""
    _score_all = Searcher._score_all

    def __init__(self, n_docs):
        self.n_docs = n_docs


def _make_lists(rng, n_docs, n_terms, tie_heavy):
    """Random posting lists packed through the real codec, then put in
    a (term, n_docs, blocks) Arrow table and decoded by the production
    decoder. Each term's blocks are split over up to three rows in
    reverse doc order, as several salts or generations deliver them.
    Returns [(postings, weight, docs, tfs, dls)] in term order and
    avgdl."""
    dl_of = rng.integers(5, 40, size=n_docs)
    if tie_heavy:
        dl_of[:] = 20  # identical dl everywhere -> massive score ties
    avgdl = float(dl_of.mean())
    rows = {"term": [], "n_docs": [], "blocks": []}
    raw = []
    for i in range(n_terms):
        df = int(rng.integers(1, max(2, n_docs // 1)))
        docs = np.sort(rng.choice(n_docs, size=df, replace=False)).astype(np.int64)
        tfs = (np.ones(df, dtype=np.int64) if tie_heavy
               else rng.integers(1, 5, size=df).astype(np.int64))
        dls = dl_of[docs].astype(np.int64)
        blocks = encode_blocks(docs, tfs, dls,
                               block_size=int(rng.choice([4, 16, 128])))
        n_rows = min(len(blocks), int(rng.integers(1, 4)))
        for part in reversed(np.array_split(np.arange(len(blocks)), n_rows)):
            rows["term"].append(f"t{i}")
            rows["n_docs"].append(sum(blocks[j]["n"] for j in part))
            rows["blocks"].append([blocks[j] for j in part])
        idf = float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))
        qtf = int(rng.integers(1, 3))
        raw.append((qtf * idf * (K1 + 1.0), docs, tfs, dls))
    tb = pa.table(rows, schema=pa.schema([
        ("term", pa.string()), ("n_docs", pa.int64()),
        ("blocks", _block_pa_type())]))
    postings, dfs = _decode_postings(tb)
    assert dfs == {f"t{i}": r[1].size for i, r in enumerate(raw)}
    lists = []
    for i, (w, docs, tfs, dls) in enumerate(raw):
        tp = postings[f"t{i}"]
        np.testing.assert_array_equal(tp.all_docs, docs)
        np.testing.assert_array_equal(tp.all_tfs, tfs)
        np.testing.assert_array_equal(tp.all_dls, dls)
        lists.append((tp, w, docs, tfs.astype(np.float64),
                      dls.astype(np.float64)))
    return lists, avgdl


def _cursors(lists):
    return [_Cursor(tp, w) for tp, w, *_ in lists]


def _brute_scores(lists, avgdl, n_docs):
    scores = np.zeros(n_docs)
    for _tp, weight, docs, tf, dl in lists:
        scores[docs] += weight * tf / (tf + K1 * (1.0 - B + B * dl / avgdl))
    return scores


def _brute(lists, avgdl, k, n_docs):
    scores = _brute_scores(lists, avgdl, n_docs)
    matched = np.zeros(n_docs, dtype=bool)
    for _tp, _w, docs, _tf, _dl in lists:
        matched[docs] = True
    heap = []
    for d in np.flatnonzero(matched):
        item = (float(scores[d]), -int(d))
        if len(heap) < k:
            heapq.heappush(heap, item)
        elif item > heap[0]:
            heapq.heapreplace(heap, item)
    return [(s, -nd) for s, nd in sorted(heap, reverse=True)]


@pytest.mark.parametrize("seed", range(30))
@pytest.mark.parametrize("tie_heavy", [False, True])
def test_maxscore_and_wand_match_brute(seed, tie_heavy):
    """MaxScore and the dense OR route both equal brute force. (The
    name dates from when a block-max WAND twin was checked here too.)"""
    rng = np.random.default_rng(seed)
    n_docs = int(rng.integers(20, 800))
    n_terms = int(rng.integers(1, 6))
    k = int(rng.choice([1, 3, 10, 50]))
    lists, avgdl = _make_lists(rng, n_docs, n_terms, tie_heavy)
    exp = _brute(lists, avgdl, k, n_docs)

    got_ms = Searcher._maxscore_or(
        _cursors(lists), k, K1, B, avgdl,
        chunk=int(rng.choice([3, 17, 65536])))
    got_d = _exact_topk(*_ScoreStub(n_docs)._score_all(
        _cursors(lists), "or", K1, B, avgdl), k)

    for name, got in (("maxscore", got_ms), ("dense", got_d)):
        assert [d for _, d in got] == [d for _, d in exp], (
            name, seed, tie_heavy, n_docs, n_terms, k)
        np.testing.assert_allclose(
            [s for s, _ in got], [s for s, _ in exp], rtol=1e-9,
            err_msg=f"{name} seed={seed}")


@pytest.mark.parametrize("seed", range(8))
def test_and_mode_matches_brute(seed):
    rng = np.random.default_rng(1000 + seed)
    n_docs = int(rng.integers(30, 400))
    n_terms = int(rng.integers(2, 5))
    lists, avgdl = _make_lists(rng, n_docs, n_terms, tie_heavy=bool(seed % 2))
    k = 10
    # brute AND: docs present in EVERY list
    present = None
    for _tp, _w, docs, _tf, _dl in lists:
        present = (set(docs.tolist()) if present is None
                   else present & set(docs.tolist()))
    scores = _brute_scores(lists, avgdl, n_docs)
    exp = sorted(((float(scores[d]), d) for d in (present or set())),
                 key=lambda x: (-x[0], x[1]))[:k]
    got = _exact_topk(*_ScoreStub(n_docs)._score_all(
        _cursors(lists), "and", K1, B, avgdl), k)
    assert [d for _, d in got] == [d for _, d in exp], seed
    np.testing.assert_allclose([s for s, _ in got], [s for s, _ in exp],
                               rtol=1e-9)
