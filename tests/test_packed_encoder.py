"""The packed segment encoder (round 5): map-side SPIMI combine.

The packed path shuffles one varint row per (term, salt, input
partition) instead of one row per token occurrence, then merge-
concatenates on the reduce side (input-partition doc ranges are
disjoint and min_doc-ordered). The contract: segments come out
BYTE-IDENTICAL to the former per-occurrence 'stream' encoder — same
groups, same blocks, same varint payloads — with and without the
positions stream, streamed or checkpointed. The stream encoder's
segments are frozen as digests in tests/golden_segments.json, so
every downstream consumer (search, compaction, annotate, terms dict)
stays covered by the existing suite.
"""

import os
import shutil

import numpy as np
import pytest

from sparkbm25 import IndexConfig, Searcher, bm25_reference_topk, build_index
from sparkbm25.fixtures import make_queries, make_transcripts

N_TURNS = 3000


@pytest.fixture(scope="module")
def corpus():
    return make_transcripts(N_TURNS)


def _build(spark, corpus, root, store_positions, checkpoint_runs=False):
    idx = os.path.join(
        root, f"idx_{int(checkpoint_runs)}_{int(store_positions)}")
    shutil.rmtree(idx, ignore_errors=True)
    cfg = IndexConfig(
        n_term_buckets=8, n_salt_buckets=4,
        n_build_chunks=4 if checkpoint_runs else 1,
        n_doc_partitions=4, checkpoint_runs=checkpoint_runs,
        build_terms_dict=False, store_positions=store_positions,
    )
    res = build_index(spark, spark.createDataFrame(corpus), idx, cfg)
    assert res.n_docs == N_TURNS
    return idx


@pytest.mark.parametrize("store_positions", [False, True])
def test_packed_segments_byte_identical(spark, corpus, tmp_path_factory,
                                        golden_segments, store_positions):
    root = str(tmp_path_factory.mktemp("packed_parity"))
    for checkpoint_runs in (False, True):
        golden_segments(
            _build(spark, corpus, root, store_positions, checkpoint_runs),
            f"t3000_b8s4_pos{int(store_positions)}")


def test_packed_index_searchable(spark, corpus, tmp_path_factory):
    """End-to-end: a packed-built index answers the fixed query set
    rank-identically to the brute-force reference scorer."""
    root = str(tmp_path_factory.mktemp("packed_search"))
    s_p = Searcher(spark, _build(spark, corpus, root, False))
    queries = make_queries()
    exp_all = bm25_reference_topk(corpus, queries, k=10)
    for q in queries.itertuples(index=False):
        got = s_p.search(q.query_text, k=10)
        exp = exp_all[exp_all["query_id"] == q.query_id]
        for col in ("conv_id", "turn_idx"):
            assert exp[col].tolist() == got[col].tolist(), (q, col)
        np.testing.assert_allclose(got["score"].astype(float),
                                   exp["score"].astype(float), rtol=1e-9)


def test_packed_edge_corpus_byte_identical(spark, tmp_path_factory,
                                           golden_segments):
    """Adversarial corpus: null/empty/whitespace texts (tokenize to []
    and must vanish from postings while staying in the forward table),
    a single hot term repeated many times in one doc (tf run-length),
    unicode terms (dictionary-encode + crc32 bucketing on non-ASCII),
    and a one-doc tail partition."""
    import pandas as pd

    texts = (
        [None, "", "   ", "!!!"]
        + ["spark " * 50]                      # tf=50 in one doc
        + ["über naïve café 北京 données"] * 3   # unicode
        + [f"w{i % 7} common w{i % 3}" for i in range(200)]
        + ["lonely"]                            # tail
    )
    pdf = pd.DataFrame({
        "conv_id": [f"c{i:06d}" for i in range(len(texts))],
        "turn_idx": [0] * len(texts),
        "role": ["user"] * len(texts),
        "text": texts,
        "tool": [None] * len(texts),
    })
    root = str(tmp_path_factory.mktemp("packed_edge"))
    for store_positions in (False, True):
        idx = os.path.join(root, f"pos{int(store_positions)}")
        cfg = IndexConfig(n_term_buckets=4, n_salt_buckets=3,
                          n_build_chunks=1, n_doc_partitions=5,
                          checkpoint_runs=False, build_terms_dict=False,
                          store_positions=store_positions)
        res = build_index(spark, spark.createDataFrame(pdf), idx, cfg)
        assert res.n_docs == len(texts)  # empties stay in the forward table
        golden_segments(idx, f"edge_b4s3_pos{int(store_positions)}")
    # the tf=50 run survived run-length counting
    segs = spark.read.parquet(os.path.join(idx, "segments")).toPandas()
    spk = segs[segs["term"] == "spark"]
    assert int(spk["n_docs"].sum()) >= 1


def test_packed_incremental_append_and_compact(spark, corpus,
                                               tmp_path_factory):
    """The packed encoder through the generational pipeline: two
    update_index appends (disjoint doc_ord_base ranges exercise the
    pack kernel's absolute-first-doc encoding at a nonzero base) plus
    an auto-compact fold must answer queries identically to a one-shot
    build over the full corpus."""
    from sparkbm25.streaming import update_index

    root = str(tmp_path_factory.mktemp("packed_gen") / "idx")
    cfg = IndexConfig(n_term_buckets=8, n_salt_buckets=4, n_build_chunks=1,
                      n_doc_partitions=4, checkpoint_runs=False,
                      build_terms_dict=False)
    half = N_TURNS // 2
    update_index(spark, spark.createDataFrame(corpus.iloc[:half]), root, cfg)
    res = update_index(spark, spark.createDataFrame(corpus.iloc[half:]),
                       root, cfg, auto_compact_after=2)
    assert res.n_docs == N_TURNS - half

    one_shot = _build(spark, corpus,
                      str(tmp_path_factory.mktemp("packed_gen_ref")), False)
    s_gen, s_ref = Searcher(spark, root), Searcher(spark, one_shot)
    for q in make_queries()["query_text"]:
        got, exp = s_gen.search(q, k=10), s_ref.search(q, k=10)
        assert got["conv_id"].tolist() == exp["conv_id"].tolist(), q
        assert len(exp) == 0 or (exp["score"] - got["score"]).abs().max() < 1e-9


def test_packed_checkpointed_build_succeeds(spark, corpus, tmp_path_factory):
    """The default IndexConfig() checkpoints the packed runs: the build
    commits every chunk, answers a query and leaves no tf/ behind."""
    root = str(tmp_path_factory.mktemp("packed_cfg"))
    idx = os.path.join(root, "idx")
    res = build_index(spark, spark.createDataFrame(corpus.head(50)), idx,
                      IndexConfig())
    assert res.n_docs == 50
    assert sorted(os.listdir(os.path.join(idx, "segments"))) == [
        f"chunk={c}" for c in range(4)]
    assert not os.path.exists(os.path.join(idx, "tf"))
    assert len(Searcher(spark, idx).search("w0001", k=3)) > 0


def test_encoder_other_than_packed_raises(spark, corpus, tmp_path):
    idx = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="packed"):
        build_index(spark, spark.createDataFrame(corpus.head(10)), idx,
                    IndexConfig(encoder="stream"))
    assert not os.path.exists(idx)
