"""THE north_rule check (SURVEY §5.2.2): engine top-k must be
rank-identical with scores equal to <=1e-6 vs the brute-force numpy
reference scorer on the fixed query set, for both the batch DataFrame
path and the interactive driver path, OR and AND modes."""

import numpy as np
import pandas as pd
import pytest

from sparkbm25 import IndexConfig, Searcher, bm25_reference_topk, build_index, search_batch
from sparkbm25.fixtures import make_queries, make_transcripts

N_TURNS = 4000


@pytest.fixture(scope="module")
def corpus():
    return make_transcripts(N_TURNS)


@pytest.fixture(scope="module")
def queries():
    return make_queries()


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory, golden_segments):
    index_dir = str(tmp_path_factory.mktemp("idx") / "index")
    sdf = spark.createDataFrame(corpus)
    res = build_index(spark, sdf, index_dir, IndexConfig(), input_desc="fixture4k")
    assert res.n_docs == N_TURNS
    golden_segments(index_dir, "t4000_b16s8_pos0")
    return index_dir


def _assert_parity(got: pd.DataFrame, exp: pd.DataFrame):
    got = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    exp = exp.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert len(got) == len(exp), f"row count {len(got)} != {len(exp)}"
    assert got["query_id"].tolist() == exp["query_id"].tolist()
    assert got["rank"].tolist() == exp["rank"].tolist()
    # rank-identical docIDs
    assert got["conv_id"].tolist() == exp["conv_id"].tolist()
    assert got["turn_idx"].tolist() == exp["turn_idx"].tolist()
    np.testing.assert_allclose(got["score"], exp["score"], rtol=1e-9, atol=1e-9)


@pytest.mark.parametrize("mode", ["or", "and"])
def test_batch_parity(spark, corpus, queries, built, mode):
    exp = bm25_reference_topk(corpus, queries, k=10, mode=mode)
    got = search_batch(spark, built, queries, k=10, mode=mode).toPandas()
    _assert_parity(got, exp)


@pytest.mark.parametrize("mode", ["or", "and"])
def test_driver_parity(spark, corpus, queries, built, mode):
    """The interactive driver path (MaxScore in OR mode, intersection
    in AND mode) must be rank-identical with oracle-equal scores."""
    searcher = Searcher(spark, built)
    exp = bm25_reference_topk(corpus, queries, k=10, mode=mode)
    for q in queries.itertuples(index=False):
        got = searcher.search(q.query_text, k=10, mode=mode)
        eq = exp[exp["query_id"] == q.query_id].reset_index(drop=True)
        assert len(got) == len(eq), f"q{q.query_id}: {len(got)} != {len(eq)}"
        assert got["conv_id"].tolist() == eq["conv_id"].tolist()
        assert got["turn_idx"].tolist() == eq["turn_idx"].tolist()
        np.testing.assert_allclose(
            got["score"].astype(float), eq["score"].astype(float), rtol=1e-9)


def test_streamlined_config_parity(spark, corpus, queries, tmp_path,
                                   golden_segments):
    """The bench configuration (no runs checkpoint: the packed runs
    stream straight into the merge) must reproduce the frozen stream
    segments and be rank-identical too, with and without positions."""
    exp = bm25_reference_topk(corpus, queries, k=10)
    sdf = spark.createDataFrame(corpus)
    for store_positions in (False, True):
        cfg = IndexConfig(n_build_chunks=1, checkpoint_runs=False,
                          build_terms_dict=False,
                          store_positions=store_positions)
        d = str(tmp_path / f"fastidx{int(store_positions)}")
        res = build_index(spark, sdf, d, cfg, input_desc="fast")
        assert res.n_docs == N_TURNS
        golden_segments(d, f"t4000_b16s8_pos{int(store_positions)}")
        got = search_batch(spark, d, queries, k=10).toPandas()
        _assert_parity(got, exp)


def test_text_equality_invariant(spark, corpus, built):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering
    (BASELINE.json input_hint): the forward table's docID assignment
    must join back 1:1 to the input with no loss or reorder."""
    from pyspark.sql import functions as F
    from sparkbm25 import catalog

    docs = spark.read.parquet(catalog.docs_dir(built))
    src = spark.createDataFrame(corpus)
    joined = docs.join(src, ["conv_id", "turn_idx"], "full_outer")
    assert joined.where(F.col("doc_ord").isNull() | F.col("text").isNull()).count() == 0
    assert docs.count() == len(corpus)
    # doc_ord is the dense rank of (conv_id, turn_idx): ordering by
    # doc_ord must equal ordering by the natural key
    pdf = docs.orderBy("doc_ord").toPandas()
    natural = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
    assert natural["doc_ord"].is_monotonic_increasing
    assert pdf["doc_ord"].tolist() == list(range(len(pdf)))


def _tie_corpus(n: int = 2000) -> pd.DataFrame:
    """Every 14th doc is exactly 't10 t27 t38 zz': those docs tie
    exactly on the query 't10 t27 t38'. The three terms share term
    bucket 0 (crc32 % 16), so their (term, salt) segment rows land in
    one bucket file in hash-partition order, which differs per salt —
    the tied docs' contributions reach the rollup in different term
    orders. The filler gives the terms distinct dfs, so their BM25
    contributions do not sum associatively."""
    rng = np.random.default_rng(5)
    rows = []
    for i in range(n):
        r = i % 14
        if r == 0:
            text = "t10 t27 t38 zz"
        else:
            words = [f"f{x}" for x in rng.integers(0, 300,
                                                   size=rng.integers(2, 9))]
            words += (["t10"] if 1 <= r <= 6 else []) + (
                ["t27"] if 1 <= r <= 3 else []) + (["t38"] if r == 7 else [])
            text = " ".join(words)
        rows.append((f"c{i:05d}", 0, "user", text, None))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                       "tool"])


def test_batch_exact_ties_keep_reference_order(spark, tmp_path):
    """search_batch sums a doc's per-term scores in sorted term order,
    as the reference does: exactly tied docs stay bitwise tied and rank
    by (conv_id, turn_idx). With an order-free Spark sum, the tied docs
    here came out one ulp apart and ranked out of order."""
    import itertools
    import zlib

    from sparkbm25.analysis import tokenize_series

    terms = ["t10", "t27", "t38"]
    assert {zlib.crc32(t.encode()) % 16 for t in terms} == {0}
    corpus = _tie_corpus()
    # precondition: the three contributions of a tied doc sum to
    # different doubles in different orders
    toks = tokenize_series(corpus["text"], IndexConfig().token_pattern, 0)
    avgdl = float(toks.str.len().mean())
    n = len(corpus)
    w = []
    for t in terms:
        df = int(sum(t in x for x in toks))
        idf = float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))
        w.append(idf * 2.2 * 1 / (1 + 1.2 * (1 - 0.75 + 0.75 * (4 / avgdl))))
    assert len({(w[a] + w[b]) + w[c]
                for a, b, c in itertools.permutations(range(3))}) > 1

    d = str(tmp_path / "tieidx")
    build_index(spark, spark.createDataFrame(corpus), d, IndexConfig())
    q = pd.DataFrame({"query_id": [0, 1],
                      "query_text": ["t10 t27 t38", "t38 t27 t10"],
                      "k": [200, 200]})
    for mode in ("or", "and"):
        exp = bm25_reference_topk(corpus, q, k=200, mode=mode)
        got = search_batch(spark, d, q, k=200, mode=mode).toPandas()
        _assert_parity(got, exp)
