"""search_batch scores per doc-ord range: each segment row's block list
is cut at the range boundaries, a block spanning a boundary goes to
every range it overlaps, and each range keeps its own docs. These tests
pin that cut on three roots holding the same corpus in the same doc
order: one generation, two update_index generations, and the two
generations folded by compact_generations (whose segment rows repeat
salt values across source generations, so salt cannot stand in for a
doc range).

Plain OR / AND queries must equal the brute-force reference frame with
k covering every match, so a doc lost at a boundary fails. Every other
shape must be rank-identical to tests/golden_batch_ranges.json, the
answers of the earlier search_batch, which rolled scores up per
(query, doc) through a window exchange."""

import glob
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from sparkbm25 import (IndexConfig, Searcher, bm25_reference_topk, build_index,
                       search_batch)
from sparkbm25.codec import decode_block
from sparkbm25.fixtures import make_transcripts
from sparkbm25.search import _range_layout
from sparkbm25.streaming import compact_generations, update_index

N_TURNS = 3000
SPLIT = 1800
GOLDEN = os.path.join(os.path.dirname(__file__), "golden_batch_ranges.json")

REF_QUERIES = ["w0000 w0005 w0100", "w0001 w0002", "w0003"]
GOLDEN_QUERIES = [
    "(w0001 OR w0002) AND NOT w0003",       # bool_tree
    "role:user w0004 w0006",                # role_scored
    "role:assistant AND turn_idx:[0 TO 3]",  # filter-only
    "role:user AND NOT w0000",              # negative with a filter
    "w0007 OR NOT w0001",                   # accepts the empty mask
    "w001*",                                # prefix
    '"w0000 w0001"',                        # exact phrase
    '"w0000 w0002"~2',                      # sloppy phrase
]
GOLDEN_K = 40


def corpus() -> pd.DataFrame:
    return make_transcripts(N_TURNS, seed=4711)


def golden_queries() -> pd.DataFrame:
    return pd.DataFrame({"query_id": range(len(GOLDEN_QUERIES)),
                         "query_text": GOLDEN_QUERIES,
                         "k": [GOLDEN_K] * len(GOLDEN_QUERIES)})


@pytest.fixture(scope="module")
def roots(spark, tmp_path_factory):
    t = corpus()
    # salt buckets split each generation into doc-ord ranges too; 3 of
    # them keep their boundaries off the 4 batch ranges' boundaries, so
    # blocks span range boundaries inside one generation as well
    cfg = IndexConfig(store_positions=True, n_salt_buckets=3)
    base = tmp_path_factory.mktemp("ranges")
    single = str(base / "single")
    build_index(spark, spark.createDataFrame(t), single, cfg)
    multi = str(base / "multi")
    for part in (t.iloc[:SPLIT], t.iloc[SPLIT:]):
        update_index(spark, spark.createDataFrame(part), multi, cfg)
    compacted = str(base / "compacted")
    shutil.copytree(multi, compacted)
    assert compact_generations(spark, compacted) is not None
    return {"single": single, "multi": multi, "compacted": compacted}


def _spanning_blocks(root: str, terms: list[str], width: int) -> int:
    """Blocks of `terms` whose postings lie in more than one range."""
    n = 0
    for seg in glob.glob(os.path.join(root, "**", "segments", "**",
                                      "*.parquet"), recursive=True):
        tb = pq.read_table(seg, columns=["term", "blocks"])
        for term, blocks in zip(tb.column("term").to_pylist(),
                                tb.column("blocks").to_pylist()):
            if term not in terms:
                continue
            for blk in blocks:
                docs, _, _ = decode_block(blk)
                n += int(docs[0] // width != docs[-1] // width)
    return n


@pytest.mark.parametrize("which", ["single", "multi", "compacted"])
def test_blocks_span_range_boundaries(spark, roots, which):
    """The cut is exercised: batch terms have blocks whose postings
    straddle a range boundary on every root."""
    nr, width = _range_layout(N_TURNS, spark.sparkContext.defaultParallelism)
    assert nr > 1
    terms = sorted({w for q in REF_QUERIES for w in q.split()})
    assert _spanning_blocks(roots[which], terms, width) > 0


@pytest.mark.parametrize("which", ["single", "multi", "compacted"])
@pytest.mark.parametrize("mode", ["or", "and"])
def test_range_cut_matches_reference(spark, roots, which, mode):
    q = pd.DataFrame({"query_id": range(len(REF_QUERIES)),
                      "query_text": REF_QUERIES})
    exp = bm25_reference_topk(corpus(), q, k=N_TURNS, mode=mode)
    got = search_batch(spark, roots[which], q, k=N_TURNS,
                       mode=mode).toPandas()
    key = ["query_id", "rank"]
    got = got.sort_values(key).reset_index(drop=True)
    exp = exp.sort_values(key).reset_index(drop=True)
    assert len(got) > 500
    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                  check_exact=False, rtol=1e-9, atol=1e-9)


@pytest.mark.parametrize("which", ["single", "multi", "compacted"])
def test_range_cut_matches_goldens(spark, roots, which):
    with open(GOLDEN) as f:
        golden = json.load(f)
    got = (search_batch(spark, roots[which], golden_queries())
           .toPandas().sort_values(["query_id", "rank"]))
    for qid, text in enumerate(GOLDEN_QUERIES):
        g = got[got["query_id"] == qid]
        exp = golden[text]
        assert len(exp) > 0, text
        assert g["rank"].tolist() == list(range(1, len(g) + 1)), text
        assert [[c, int(t)] for c, t in zip(g["conv_id"], g["turn_idx"])] \
            == [[c, t] for c, t, _s in exp], text
        np.testing.assert_allclose(g["score"].to_numpy(),
                                   [s for _c, _t, s in exp], rtol=1e-12,
                                   err_msg=text)


@pytest.mark.parametrize("which", ["single", "multi", "compacted"])
def test_searcher_kernel_ranges_match_batch(spark, roots, which,
                                            monkeypatch):
    """The Searcher's kernel route scores doc-ord ranges of at most
    _MAX_RANGE_DOCS docs. With that bound below the corpus size its
    multi-range answers, over blocks that span range boundaries, equal
    search_batch's bit for bit, every match included."""
    import re

    import sparkbm25.search as sm

    monkeypatch.setattr(sm, "_MAX_RANGE_DOCS", 700)
    nr, width = _range_layout(N_TURNS, 1)
    assert nr > 1
    texts = [t for t in GOLDEN_QUERIES if t != "w001*"]
    terms = sorted({w for t in texts for w in re.findall(r"w\d{4}", t)})
    assert _spanning_blocks(roots[which], terms, width) > 0
    q = pd.DataFrame({"query_id": range(len(texts)), "query_text": texts,
                      "k": [N_TURNS] * len(texts)})
    exp = (search_batch(spark, roots[which], q, k=N_TURNS).toPandas()
           .sort_values(["query_id", "rank"]))
    s = Searcher(spark, roots[which])
    for qid, text in enumerate(texts):
        got = s.search(text, k=N_TURNS)
        assert s.last_path == "kernel", text
        e = exp[exp["query_id"] == qid]
        assert len(got) > 0, text
        assert got["conv_id"].tolist() == e["conv_id"].tolist(), text
        assert got["turn_idx"].tolist() == e["turn_idx"].tolist(), text
        assert got["score"].tolist() == e["score"].tolist(), text
