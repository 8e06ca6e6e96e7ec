"""The driver's index reader (localio.IndexReader) serves every
driver-side read of the Searcher — postings fetch, df probe,
forward-row resolve (including ts attrs for filtered queries) — across
single- and multi-generation indexes. Each read is checked against a
reference: bm25_reference_topk for rankings, search_batch (the
oracle-checked path) for filtered and phrase shapes, and the pandas
corpus for dfs and forward rows."""

import datetime
from collections import Counter

import numpy as np
import pandas as pd
import pytest

from sparkbm25 import (IndexConfig, Searcher, bm25_reference_topk, build_index,
                       search_batch)
from sparkbm25.analysis import tokenize_series
from sparkbm25.fixtures import make_queries, make_transcripts
from sparkbm25.localio import IndexReader, local_path
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


def test_local_readers_bound(spark, built):
    s = Searcher(spark, built)
    reader = s._reader
    assert isinstance(reader, IndexReader)
    assert s.refresh()._reader is not reader


QUERIES = [
    "w0000",                       # hot term
    "w4721",                       # rare term
    "w0001 w0005 w0100",           # multi-term
    "zzznotaterm",                 # absent
    "role:user w0001 w0005",       # filtered driver path (attrs)
    'ts:[2024-01-01 TO 2024-12-31] w0002',  # ts attr, no doc in range
    'ts:[2026-01-01T12:00:00 TO 2026-01-02T12:00:00] w0002',  # ts hits
    '"w0001 w0002"',               # phrase (positions untouched here)
]


def _assert_same_ranking(got, exp, qt):
    exp = exp.sort_values("rank").reset_index(drop=True)
    assert got["conv_id"].tolist() == exp["conv_id"].tolist(), qt
    assert got["turn_idx"].tolist() == exp["turn_idx"].tolist(), qt
    np.testing.assert_allclose(got["score"].astype(float),
                               exp["score"].astype(float), rtol=1e-9)


def _assert_like_batch(spark, root, got, qt, k, mode="or"):
    q = pd.DataFrame({"query_id": [0], "query_text": [qt], "k": [k]})
    _assert_same_ranking(
        got, search_batch(spark, root, q, k=k, mode=mode).toPandas(), qt)


def _assert_ranked_like_reference(got, corpus, qt, mode):
    exp = bm25_reference_topk(
        corpus, pd.DataFrame({"query_id": [0], "query_text": [qt]}),
        k=10, mode=mode)
    _assert_same_ranking(got, exp, qt)


@pytest.mark.parametrize("qt", QUERIES)
def test_fetch_parity_single_gen(spark, built, qt):
    s = Searcher(spark, built)
    got = s.search(qt, k=10)
    assert s.last_path != "batch", qt
    if ":" in qt or '"' in qt:
        _assert_like_batch(spark, built, got, qt, 10)
    else:
        _assert_ranked_like_reference(got, make_transcripts(N_TURNS), qt,
                                      "or")
    if qt.startswith("ts:[2026"):
        assert len(got) == 10


def test_fetch_parity_multi_gen(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lio_gen") / "index")
    base = make_transcripts(N_TURNS)
    spl = N_TURNS // 2
    update_index(spark, spark.createDataFrame(base.iloc[:spl]), root)
    update_index(spark, spark.createDataFrame(base.iloc[spl:]), root)
    for qt in ("w0000", "w0001 w0005"):
        _assert_ranked_like_reference(Searcher(spark, root).search(qt, k=10),
                                      base, qt, "or")
    qt = "role:user w0001"
    s = Searcher(spark, root)
    got = s.search(qt, k=10)
    assert s.last_path == "kernel"
    _assert_like_batch(spark, root, got, qt, 10)


def _two_gens(spark, root, cfg):
    """Two update_index generations over N_TURNS turns (rows in
    (conv_id, turn_idx) order, so doc_ords follow the reference's
    tie-break order across generations). Returns the corpus."""
    base = make_transcripts(N_TURNS)
    spl = N_TURNS // 2
    update_index(spark, spark.createDataFrame(base.iloc[:spl]), root, cfg)
    update_index(spark, spark.createDataFrame(base.iloc[spl:]), root, cfg)
    return base


def test_fetch_parity_multi_gen_positions(spark, tmp_path_factory):
    """Postings over two generations with positions: a term's blocks
    and its pos stream come from both generations and decode into one
    list. Exact and sloppy phrases, a prefix expansion and an AND query
    answer on the driver exactly like search_batch, and like the
    reference where it applies."""
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
        s = Searcher(spark, root)
        got = s.search(qt, k=N_TURNS, mode=mode)
        assert s.last_path != "batch", qt
        assert (got["conv_id"] < first_conv).any(), qt
        assert (got["conv_id"] >= first_conv).any(), qt
        _assert_like_batch(spark, root, got, qt, N_TURNS, mode)
    _assert_ranked_like_reference(
        Searcher(spark, root).search(f"{prefix}*", k=10),
        corpus, " ".join(expanded), "or")
    _assert_ranked_like_reference(
        Searcher(spark, root).search(f"{a} {b}", k=10, mode="and"),
        corpus, f"{a} {b}", "and")


def _reference_dfs(corpus: pd.DataFrame) -> Counter:
    cfg = IndexConfig()
    return Counter(t for lst in tokenize_series(
        corpus["text"], cfg.token_pattern, cfg.max_content_length)
        for t in set(lst))


@pytest.mark.parametrize("terms_dict", [True, False])
def test_term_dfs_match_reference(spark, tmp_path_factory, terms_dict):
    """Searcher.term_dfs over two generations equals the reference
    document frequencies, with or without a terms/ table, through the
    whole-dictionary cache and the per-query probe; absent terms are
    omitted."""
    root = str(tmp_path_factory.mktemp("lio_df") / "index")
    corpus = _two_gens(spark, root,
                       IndexConfig(build_terms_dict=terms_dict))
    ref = _reference_dfs(corpus)
    terms = ["w0000", "w0001", "w0100", "w4721", "zzznotaterm"]
    exp = {t: ref[t] for t in terms if t in ref}
    assert "zzznotaterm" not in exp and len(exp) >= 3
    assert Searcher(spark, root).term_dfs(terms) == exp
    assert Searcher(spark, root, max_cached_dict_rows=0).term_dfs(terms) == exp


def test_doc_cache_rows_identical(spark, built):
    """The cached forward rows equal the corpus rows in doc_ord order
    (the dense rank of (conv_id, turn_idx)), and the reader's read of
    every forward row — what structured predicates evaluate over —
    carries the attributes, with ts a naive UTC datetime like Spark's
    collect()."""
    s = Searcher(spark, built)
    ords = list(range(0, 50))
    s._fetch_doc_rows(ords)
    assert set(s._doc_cache) == set(ords)
    corpus = (make_transcripts(N_TURNS)
              .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    rows = {r["doc_ord"]: r for r in s._reader.docs(
        None, ["doc_ord", "role", "tool", "ts"]).to_pylist()}
    assert sorted(rows) == list(range(N_TURNS))
    for o in ords:
        r = corpus.iloc[o]
        assert s._doc_cache[o] == (r["conv_id"], int(r["turn_idx"])), o
        exp = {"doc_ord": o, "role": r["role"], "tool": r["tool"],
               "ts": r["ts"].to_pydatetime()}
        assert rows[o] == exp, (o, rows[o], exp)
        ts = rows[o]["ts"]
        assert isinstance(ts, datetime.datetime) and ts.tzinfo is None


def test_probe_dfs_parity(spark, built):
    terms = sorted({t for q in make_queries()["query_text"]
                    for t in q.lower().split()})
    ref = _reference_dfs(make_transcripts(N_TURNS))
    exp = {t: ref[t] for t in terms if t in ref}
    assert len(exp) >= 10
    assert Searcher(spark, built)._probe_dfs(terms) == exp
    # per-query (uncached) probe path too
    assert Searcher(spark, built,
                    max_cached_dict_rows=0)._probe_dfs(terms) == exp
