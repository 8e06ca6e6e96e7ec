"""The driver's local pyarrow fast path (localio) must return
byte-identical results to the Spark fallback for every read it
serves: postings fetch, df probe, forward-row resolve (including ts
attrs for filtered queries), across single- and multi-generation
indexes. The fallback stays live for non-local roots, so both paths
are permanent and must agree forever."""

import datetime
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from sparkbm25 import IndexConfig, Searcher, bm25_reference_topk, build_index
from sparkbm25.analysis import tokenize_series
from sparkbm25.fixtures import make_queries, make_transcripts
from sparkbm25.localio import local_path
from sparkbm25.streaming import update_index

N_TURNS = 3000


def test_local_path_parsing():
    assert local_path("/a/b") == "/a/b"
    assert local_path("file:/a/b") == "/a/b"
    assert local_path("file:///a/b") == "/a/b"
    assert local_path("file://localhost/a/b") == "/a/b"
    assert local_path("file://other/a/b") is None
    assert local_path("hdfs://nn/a/b") is None
    assert local_path("s3a://bucket/a") is None
    assert local_path("relative/dir") == "relative/dir"


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("lio") / "index")
    sdf = spark.createDataFrame(make_transcripts(N_TURNS))
    # store_positions=True so the phrase case also exercises the pos
    # blob field through the pyarrow block read
    build_index(spark, sdf, index_dir,
                IndexConfig(store_positions=True, encoder="packed",
                            checkpoint_runs=False),
                input_desc="lio")
    return index_dir


def _spark_forced(spark, index_dir) -> Searcher:
    s = Searcher(spark, index_dir)
    s._local_segs = None
    s._local_docs = None
    return s


def test_local_readers_bound(spark, built):
    s = Searcher(spark, built)
    assert s._local_segs is not None and s._local_docs is not None


QUERIES = [
    "w0000",                       # hot term
    "w4721",                       # rare term
    "w0001 w0005 w0100",           # multi-term
    "zzznotaterm",                 # absent
    "role:user w0001 w0005",       # filtered driver path (attrs)
    'ts:[2024-01-01 TO 2024-12-31] w0002',  # ts attr through doc cache
    '"w0001 w0002"',               # phrase (positions untouched here)
]


@pytest.mark.parametrize("qt", QUERIES)
def test_fetch_parity_single_gen(spark, built, qt):
    a = Searcher(spark, built).search(qt, k=10)
    b = _spark_forced(spark, built).search(qt, k=10)
    pd.testing.assert_frame_equal(a.reset_index(drop=True),
                                  b.reset_index(drop=True))


def test_fetch_parity_multi_gen(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lio_gen") / "index")
    base = make_transcripts(N_TURNS)
    spl = N_TURNS // 2
    update_index(spark, spark.createDataFrame(base.iloc[:spl]), root)
    update_index(spark, spark.createDataFrame(base.iloc[spl:]), root)
    for qt in ("w0000", "w0001 w0005", "role:user w0001"):
        a = Searcher(spark, root).search(qt, k=10)
        b = _spark_forced(spark, root).search(qt, k=10)
        pd.testing.assert_frame_equal(a.reset_index(drop=True),
                                      b.reset_index(drop=True))


def _two_gens(spark, root, cfg):
    """Two update_index generations over N_TURNS turns (rows in
    (conv_id, turn_idx) order, so doc_ords follow the reference's
    tie-break order across generations). Returns the corpus."""
    base = make_transcripts(N_TURNS)
    spl = N_TURNS // 2
    update_index(spark, spark.createDataFrame(base.iloc[:spl]), root, cfg)
    update_index(spark, spark.createDataFrame(base.iloc[spl:]), root, cfg)
    return base


def _assert_ranked_like_reference(got, corpus, qt, mode):
    exp = bm25_reference_topk(
        corpus, pd.DataFrame({"query_id": [0], "query_text": [qt]}),
        k=10, mode=mode)
    assert got["conv_id"].tolist() == exp["conv_id"].tolist(), qt
    assert got["turn_idx"].tolist() == exp["turn_idx"].tolist(), qt
    np.testing.assert_allclose(got["score"].astype(float),
                               exp["score"].astype(float), rtol=1e-9)


def test_fetch_parity_multi_gen_positions(spark, tmp_path_factory):
    """Both postings sources over two generations with positions: a
    term's blocks and its pos stream come from both generations and
    decode into one list. Exact and sloppy phrases, a prefix expansion
    and an AND query answer identically through the local and Spark
    reads, and like the reference where it applies."""
    root = str(tmp_path_factory.mktemp("lio_gen_pos") / "index")
    corpus = _two_gens(spark, root, IndexConfig(store_positions=True))
    cfg = IndexConfig()
    toks = tokenize_series(corpus["text"], cfg.token_pattern,
                           cfg.max_content_length)
    spl = N_TURNS // 2
    halves = [Counter(), Counter()]
    for i, lst in enumerate(toks):
        halves[i >= spl].update(zip(lst, lst[1:]))
    # the commonest distinct-word bigram that occurs in both generations
    a, b = next(bg for bg, _ in (halves[0] + halves[1]).most_common()
                if bg[0] != bg[1] and halves[0][bg] and halves[1][bg])
    vocab = sorted({t for lst in toks for t in lst})
    prefix = "w000"
    expanded = [t for t in vocab if t.startswith(prefix)]
    assert len(expanded) >= 2
    cases = [(f'"{a} {b}"', "or"), (f'"{a} {b}"~2', "or"),
             (f"{prefix}*", "or"), (f"{a} {b}", "and")]
    first_conv = corpus["conv_id"].iloc[spl]
    for qt, mode in cases:
        # every hit, not only a top-k: both generations' postings show
        s_local, s_spark = Searcher(spark, root), _spark_forced(spark, root)
        got = s_local.search(qt, k=N_TURNS, mode=mode)
        ref = s_spark.search(qt, k=N_TURNS, mode=mode)
        assert s_local._local_segs is not None, qt
        assert "batch" not in (s_local.last_path, s_spark.last_path), qt
        assert (got["conv_id"] < first_conv).any(), qt
        assert (got["conv_id"] >= first_conv).any(), qt
        pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                      ref.reset_index(drop=True))
    _assert_ranked_like_reference(
        Searcher(spark, root).search(f"{prefix}*", k=10),
        corpus, " ".join(expanded), "or")
    _assert_ranked_like_reference(
        Searcher(spark, root).search(f"{a} {b}", k=10, mode="and"),
        corpus, f"{a} {b}", "and")


@pytest.mark.parametrize("terms_dict", [True, False])
def test_term_dfs_match_reference(spark, tmp_path_factory, terms_dict):
    """Searcher.term_dfs over two generations equals the reference
    document frequencies, with or without a terms/ table; absent
    terms are omitted."""
    root = str(tmp_path_factory.mktemp("lio_df") / "index")
    corpus = _two_gens(spark, root,
                       IndexConfig(build_terms_dict=terms_dict))
    cfg = IndexConfig()
    ref = Counter(t for lst in tokenize_series(
        corpus["text"], cfg.token_pattern, cfg.max_content_length)
        for t in set(lst))
    terms = ["w0000", "w0001", "w0100", "w4721", "zzznotaterm"]
    exp = {t: ref[t] for t in terms if t in ref}
    assert "zzznotaterm" not in exp and len(exp) >= 3
    assert Searcher(spark, root).term_dfs(terms) == exp
    assert _spark_forced(spark, root).term_dfs(terms) == exp


def test_doc_cache_rows_identical(spark, built):
    """The cached forward rows (incl. the ts attr rendering) must match
    between the pyarrow read and the Spark collect — python_filter
    evaluates structured predicates over these rows."""
    s_new = Searcher(spark, built)
    s_old = _spark_forced(spark, built)
    ords = list(range(0, 50))
    s_new._fetch_doc_rows(ords)
    s_old._fetch_doc_rows(ords)
    assert set(s_new._doc_cache) == set(s_old._doc_cache)
    for o in ords:
        a, b = s_new._doc_cache[o], s_old._doc_cache[o]
        assert a == b, (o, a, b)
        ts = a[2].get("ts")
        if ts is not None:
            assert isinstance(ts, datetime.datetime) and ts.tzinfo is None


def test_probe_dfs_parity(spark, built):
    terms = sorted({t for q in make_queries()["query_text"]
                    for t in q.lower().split()})
    s_new = Searcher(spark, built)
    s_old = _spark_forced(spark, built)
    assert s_new._probe_dfs(terms) == s_old._probe_dfs(terms)
    # per-query (uncached) probe path too
    s_new2 = Searcher(spark, built, max_cached_dict_rows=0)
    s_old2 = _spark_forced(spark, built)
    s_old2.max_cached_dict_rows = 0
    assert s_new2._probe_dfs(terms) == s_old2._probe_dfs(terms)
