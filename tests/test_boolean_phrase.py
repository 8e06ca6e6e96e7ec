"""Boolean query_string execution (OR/NOT/grouping) + positional
phrase queries over the positions codec, verified against raw-text
predicates; plus the Searcher's driver-collect bound routing and the
streaming crash-resume path."""

import re

import numpy as np
import pandas as pd
import pytest

from sparkbm25 import IndexConfig, Searcher, build_index, search_batch
from sparkbm25.fixtures import make_transcripts


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    t = make_transcripts(2000, seed=9)
    d = str(tmp_path_factory.mktemp("bool") / "idx")
    build_index(
        spark, spark.createDataFrame(t), d,
        IndexConfig(store_positions=True, checkpoint_runs=False,
                    n_term_buckets=8, n_salt_buckets=2),
        input_desc="bool2000")
    texts = {(r.conv_id, r.turn_idx): r.text.lower()
             for r in t.itertuples(index=False)}
    return t, d, texts


def _words(texts, key):
    return set(re.findall("[a-z0-9]+", texts[key]))


def test_or_not_semantics(spark, built):
    t, d, texts = built
    toks = t["text"].iloc[0].lower().split()
    w1, w2, w3 = toks[2], toks[3], toks[4]
    q = pd.DataFrame({"query_id": [0],
                      "query_text": [f"({w1} OR {w2}) AND NOT {w3}"],
                      "k": [10]})
    got = search_batch(spark, d, q, k=10).toPandas()
    assert len(got) == 10
    for r in got.itertuples():
        ws = _words(texts, (r.conv_id, r.turn_idx))
        assert w3 not in ws
        assert w1 in ws or w2 in ws


def test_phrase_matches_only_consecutive(spark, built):
    t, d, texts = built
    toks = t["text"].iloc[0].lower().split()
    w1, w2 = toks[2], toks[3]
    q = pd.DataFrame({"query_id": [0], "query_text": [f'"{w1} {w2}"'],
                      "k": [50]})
    got = search_batch(spark, d, q, k=50).toPandas()
    assert len(got) >= 1
    phrase = f"{w1} {w2}"
    for r in got.itertuples():
        assert phrase in texts[(r.conv_id, r.turn_idx)]
    # completeness: every doc containing the phrase is returned (k=50
    # exceeds the phrase df in a 2000-turn corpus with this vocab)
    expect = {key for key, txt in texts.items() if phrase in f" {txt} "}
    if len(expect) <= 50:
        got_keys = {(r.conv_id, r.turn_idx) for r in got.itertuples()}
        assert expect <= got_keys


def _sloppy_docs(texts, terms, slop):
    """Independent brute-force sloppy-phrase oracle over raw text:
    all occurrence-position combos, distinct positions, span of
    slot-adjusted positions <= slop."""
    import itertools

    out = set()
    for key, txt in texts.items():
        toks = re.findall("[a-z0-9]+", txt)
        poss = [[i for i, tk in enumerate(toks) if tk == term]
                for term in terms]
        if any(not p for p in poss):
            continue
        for combo in itertools.product(*poss):
            if len(set(combo)) != len(terms):
                continue
            adj = [p - i for i, p in enumerate(combo)]
            if max(adj) - min(adj) <= slop:
                out.add(key)
                break
    return out


def test_phrase_slop_semantics(spark, built):
    """'"b a"~2' (reversed) and gapped forms match per the documented
    span semantics (== Lucene sloppy-phrase for two-term phrases);
    slop 0 stays exact, larger slop is a superset."""
    t, d, texts = built
    toks = t["text"].iloc[0].lower().split()
    w1, w2 = toks[2], toks[3]
    k = 2000
    by_slop = {}
    for slop in (0, 1, 2):
        q = pd.DataFrame({"query_id": [0],
                          "query_text": [f'"{w2} {w1}"~{slop}'],
                          "k": [k]})
        got = search_batch(spark, d, q, k=k).toPandas()
        got_keys = {(r.conv_id, r.turn_idx) for r in got.itertuples()}
        expect = _sloppy_docs(texts, [w2, w1], slop)
        assert got_keys == expect, (slop, len(got_keys), len(expect))
        by_slop[slop] = got_keys
    # monotone: more slop never loses a match; the reversed adjacency
    # "w1 w2" (slop-2 shape) must appear at slop 2 but not slop 1
    assert by_slop[0] <= by_slop[1] <= by_slop[2]
    reversed_only = _sloppy_docs(texts, [w2, w1], 2) - _sloppy_docs(
        texts, [w2, w1], 1)
    if reversed_only:
        assert reversed_only <= by_slop[2] and not (reversed_only & by_slop[1])


def test_phrase_slop_repeated_term(spark, built):
    """A repeated-term sloppy phrase ('"w w"~1') requires two DISTINCT
    occurrences — a doc with a single occurrence must not match (the
    SDR check in search._distinct_assignment)."""
    t, d, texts = built
    # find a word that occurs twice in some doc
    from collections import Counter

    w = None
    for _, txt in texts.items():
        c = Counter(re.findall("[a-z0-9]+", txt))
        for word, n in c.items():
            if n >= 2 and len(word) > 3:
                w = word
                break
        if w:
            break
    assert w is not None
    q = pd.DataFrame({"query_id": [0], "query_text": [f'"{w} {w}"~1'],
                      "k": [2000]})
    got = search_batch(spark, d, q, k=2000).toPandas()
    got_keys = {(r.conv_id, r.turn_idx) for r in got.itertuples()}
    expect = _sloppy_docs(texts, [w, w], 1)
    assert got_keys == expect
    # sanity: some doc contains w exactly once and is excluded
    singles = {key for key, txt in texts.items()
               if re.findall("[a-z0-9]+", txt).count(w) == 1}
    assert not (got_keys & singles)


def test_phrase_requires_positions(spark, tmp_path):
    t = make_transcripts(200, seed=3)
    d = str(tmp_path / "nopos")
    build_index(spark, spark.createDataFrame(t), d,
                IndexConfig(n_build_chunks=1), input_desc="nopos")
    q = pd.DataFrame({"query_id": [0], "query_text": ['"alpha beta"'], "k": [5]})
    with pytest.raises(ValueError, match="store_positions"):
        search_batch(spark, d, q, k=5)


def test_pure_negative_rejected(spark, built):
    _, d, _ = built
    q = pd.DataFrame({"query_id": [0], "query_text": ["NOT alpha"], "k": [5]})
    with pytest.raises(ValueError, match="pure-negative"):
        search_batch(spark, d, q, k=5)


def test_searcher_routes_hot_terms_to_batch(spark, built):
    t, d, _ = built
    # a term in (almost) every doc blows a tiny driver budget
    s_small = Searcher(spark, d, max_driver_postings=10)
    common = t["text"].iloc[0].lower().split()[0]
    out = s_small.search(common, k=5)
    assert s_small.last_path == "batch" and len(out) == 5
    # same query under the default budget stays on the driver path
    s_big = Searcher(spark, d)
    out2 = s_big.search(common, k=5)
    assert s_big.last_path == "maxscore"
    assert out["conv_id"].tolist() == out2["conv_id"].tolist()
    np.testing.assert_allclose(out["score"], out2["score"], rtol=1e-9)


def test_dense_or_path_matches_pruned(spark, built):
    """The exhaustive-dense OR regime (summed dfs >= corpus size)
    must answer bit-identically to MaxScore, and must stay
    OFF below its postings floor (small corpora never benefit)."""
    t, d, _ = built
    toks = t["text"].iloc[0].lower().split()
    # two distinct near-universal words -> summed dfs >= n_docs
    c1, c2 = toks[0], toks[1]
    assert c1 != c2
    q = f"{c1} {c2}"
    s_ref = Searcher(spark, d)
    ref = s_ref.search(q, k=10)
    assert s_ref.last_path == "maxscore"  # default floor keeps dense off
    s_dense = Searcher(spark, d)
    s_dense.dense_min_postings = 0
    out = s_dense.search(q, k=10)
    assert s_dense.last_path == "dense"
    assert out["conv_id"].tolist() == ref["conv_id"].tolist()
    assert out["turn_idx"].tolist() == ref["turn_idx"].tolist()
    assert out["score"].tolist() == ref["score"].tolist()  # bit-exact


def test_postings_cache_skips_fetch(spark, built):
    """Warm terms serve from the bounded LRU posting cache: the second
    identical search must not touch the fetch scan at all, and a
    budget too small for any term keeps the cache empty."""
    t, d, _ = built
    s = Searcher(spark, d)
    common = t["text"].iloc[0].lower().split()[2]
    out1 = s.search(common, k=5)
    assert s._post_cache and s._post_cache_postings > 0

    def boom(terms):
        raise AssertionError("fetch scan ran despite a warm cache")

    s._fetch_postings_scan = boom
    out2 = s.search(common, k=5)
    assert out1["conv_id"].tolist() == out2["conv_id"].tolist()
    np.testing.assert_allclose(out1["score"], out2["score"], rtol=1e-12)
    s2 = Searcher(spark, d)
    s2.cache_postings_budget = 1  # nothing fits
    s2.search(common, k=5)
    assert not s2._post_cache


def test_update_index_survives_crashed_generation(spark, tmp_path):
    import os

    from sparkbm25.streaming import update_index

    root = str(tmp_path / "gens")
    t = make_transcripts(300, seed=5)
    first, second = t.iloc[:150], t.iloc[150:]
    update_index(spark, spark.createDataFrame(first), root,
                 IndexConfig(n_term_buckets=4, n_salt_buckets=2,
                             n_build_chunks=1))
    # simulate a crashed generation: dir exists, no _COMPLETE marker
    dead = os.path.join(root, "gen=1")
    os.makedirs(os.path.join(dead, "segments"), exist_ok=True)
    with open(os.path.join(dead, "stats.json"), "w") as f:
        f.write('{"n_docs": 999, "avgdl": 1.0, "sum_dl": 999, "config": "{}"}')
    # searches skip the dead generation instead of crashing
    s = Searcher(spark, root)
    assert s.n_docs == len(first)
    # the next update wipes the corpse and appends cleanly
    update_index(spark, spark.createDataFrame(second), root,
                 IndexConfig(n_term_buckets=4, n_salt_buckets=2,
                             n_build_chunks=1))
    s2 = Searcher(spark, root)
    assert s2.n_docs == len(t)
    assert len(s2.search("alpha", k=5)) == 5


def test_phrase_across_generations(spark, tmp_path):
    """Positions survive the incremental-generation merge: a phrase
    query over a two-generation index finds matches in BOTH halves."""
    from sparkbm25.streaming import update_index

    root = str(tmp_path / "posgens")
    t = make_transcripts(600, seed=11)
    cfg = IndexConfig(store_positions=True, checkpoint_runs=False,
                      n_term_buckets=4, n_salt_buckets=2, n_build_chunks=1)
    update_index(spark, spark.createDataFrame(t.iloc[:300]), root, cfg)
    update_index(spark, spark.createDataFrame(t.iloc[300:]), root, cfg)
    toks0 = t["text"].iloc[0].lower().split()
    w1, w2 = toks0[2], toks0[3]
    phrase = f"{w1} {w2}"
    q = pd.DataFrame({"query_id": [0], "query_text": [f'"{phrase}"'], "k": [100]})
    got = search_batch(spark, root, q, k=100).toPandas()
    texts = {(r.conv_id, r.turn_idx): r.text.lower() for r in t.itertuples(index=False)}
    assert len(got) >= 1
    halves = set()
    for r in got.itertuples():
        assert phrase in texts[(r.conv_id, r.turn_idx)]
        halves.add(r.conv_id < t["conv_id"].iloc[300])
    expect = {key for key, txt in texts.items() if phrase in txt}
    assert {(r.conv_id, r.turn_idx) for r in got.itertuples()} == expect


def test_mixed_legacy_and_phrase_batch(spark, built):
    """One batch mixing a legacy implicit query with a phrase query:
    the phrase machinery must not disturb the legacy result."""
    from sparkbm25 import bm25_reference_topk

    t, d, texts = built
    toks = t["text"].iloc[0].lower().split()
    w1, w2 = toks[2], toks[3]
    q = pd.DataFrame({
        "query_id": [0, 1],
        "query_text": ["alpha w0001", f'"{w1} {w2}"'],
        "k": [5, 20],
    })
    got = search_batch(spark, d, q, k=5).toPandas()
    g0 = got[got.query_id == 0].sort_values("rank")
    exp0 = bm25_reference_topk(t, pd.DataFrame(
        {"query_id": [0], "query_text": ["alpha w0001"], "k": [5]}), k=5)
    assert g0["conv_id"].tolist() == exp0["conv_id"].tolist()
    np.testing.assert_allclose(g0["score"].astype(float),
                               exp0["score"].astype(float), rtol=1e-9)
    phrase = f"{w1} {w2}"
    for r in got[got.query_id == 1].itertuples():
        assert phrase in texts[(r.conv_id, r.turn_idx)]


def test_filter_with_boolean_tree(spark, built):
    """Structured predicate + explicit boolean tree in one query:
    'role:user (w1 OR w2) AND NOT w3' — candidates obey BOTH the
    filter and the tree."""
    t, d, texts = built
    roles = {(r.conv_id, r.turn_idx): r.role for r in t.itertuples(index=False)}
    toks = t["text"].iloc[0].lower().split()
    w1, w2, w3 = toks[2], toks[3], toks[4]
    q = pd.DataFrame({"query_id": [0],
                      "query_text": [f"role:user ({w1} OR {w2}) AND NOT {w3}"],
                      "k": [10]})
    got = search_batch(spark, d, q, k=10).toPandas()
    assert len(got) > 0
    for r in got.itertuples():
        key = (r.conv_id, r.turn_idx)
        ws = _words(texts, key)
        assert roles[key] == "user"
        assert (w1 in ws or w2 in ws) and w3 not in ws


def test_phrase_survives_small_arrow_batches(spark, built):
    """Round-2 bug (ADVICE high): phrase groups straddling an Arrow
    batch boundary were silently dropped. The batch kernel now buffers
    its whole doc-ord range before verifying; force tiny batches so any
    per-batch grouping regression loses matches."""
    t, d, texts = built
    toks = t["text"].iloc[0].lower().split()
    w1, w2 = toks[2], toks[3]
    phrase = f"{w1} {w2}"
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        q = pd.DataFrame({"query_id": [0], "query_text": [f'"{phrase}"'],
                          "k": [200]})
        got = search_batch(spark, d, q, k=200).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    expect = {key for key, txt in texts.items() if phrase in txt}
    assert {(r.conv_id, r.turn_idx) for r in got.itertuples()} == expect


def test_negative_with_filter(spark, built):
    """Round-2 bug (ADVICE high): 'role:user AND NOT w' returned empty
    (only docs CONTAINING w had posting rows, and the mask rejected
    all of them). Expected: the filtered docs NOT containing the term,
    constant score 1.0, deterministic doc order."""
    t, d, texts = built
    roles = {(r.conv_id, r.turn_idx): r.role for r in t.itertuples(index=False)}
    toks = t["text"].iloc[0].lower().split()
    w = toks[2]
    q = pd.DataFrame({"query_id": [0],
                      "query_text": [f"role:user AND NOT {w}"],
                      "k": [25]})
    got = search_batch(spark, d, q, k=25).toPandas().sort_values("rank")
    expect = sorted(
        key for key, txt in texts.items()
        if roles[key] == "user" and w not in _words(texts, key))[:25]
    assert [(r.conv_id, r.turn_idx) for r in got.itertuples()] == expect
    assert (got["score"] == 1.0).all()


def test_negative_phrase_with_filter(spark, built):
    """NOT applied to a phrase under a structured filter: docs
    containing only one phrase term are NOT excluded (the phrase, not
    its words, is negated)."""
    t, d, texts = built
    roles = {(r.conv_id, r.turn_idx): r.role for r in t.itertuples(index=False)}
    toks = t["text"].iloc[0].lower().split()
    w1, w2 = toks[2], toks[3]
    phrase = f"{w1} {w2}"
    q = pd.DataFrame({"query_id": [0],
                      "query_text": [f'role:user AND NOT "{phrase}"'],
                      "k": [25]})
    got = search_batch(spark, d, q, k=25).toPandas().sort_values("rank")
    expect = sorted(
        key for key, txt in texts.items()
        if roles[key] == "user" and phrase not in txt)[:25]
    assert [(r.conv_id, r.turn_idx) for r in got.itertuples()] == expect


def test_prefix_query_equals_expanded_or(spark, built):
    """`foo*` expands against the term dictionary and scores like the
    explicit OR of its expansions (Lucene scoring_boolean rewrite)."""
    import re as _re

    t, d, texts = built
    vocab = sorted({w for txt in texts.values()
                    for w in _re.findall("[a-z0-9]+", txt)})
    # find a 3+-char prefix with 2..20 expansions in this corpus
    from collections import Counter

    pref3 = Counter(w[:3] for w in vocab if len(w) > 3)
    prefix = next(p for p, c in pref3.most_common() if 2 <= c <= 20)
    expanded = [w for w in vocab if w.startswith(prefix)]
    q = pd.DataFrame({"query_id": [0], "query_text": [f"{prefix}*"], "k": [20]})
    got = search_batch(spark, d, q, k=20).toPandas().sort_values("rank")
    q_or = pd.DataFrame({"query_id": [0],
                         "query_text": [" OR ".join(expanded)], "k": [20]})
    exp = search_batch(spark, d, q_or, k=20).toPandas().sort_values("rank")
    assert got["conv_id"].tolist() == exp["conv_id"].tolist()
    np.testing.assert_allclose(got["score"].astype(float),
                               exp["score"].astype(float), rtol=1e-9)
    # and every hit really contains a term with the prefix
    for r in got.itertuples():
        assert any(w.startswith(prefix) for w in _words(texts, (r.conv_id, r.turn_idx)))


def test_prefix_too_many_expansions_raises(spark, built):
    _, d, _ = built
    q = pd.DataFrame({"query_id": [0], "query_text": ["w*"], "k": [5]})
    with pytest.raises(ValueError, match="max_expansions"):
        search_batch(spark, d, q, k=5)


def test_prefix_no_match_returns_empty(spark, built):
    _, d, _ = built
    q = pd.DataFrame({"query_id": [0], "query_text": ["zzzqqq*"], "k": [5]})
    assert search_batch(spark, d, q, k=5).count() == 0


def test_empty_expansion_with_filter_returns_empty(spark, built):
    """ADVICE r3 high: a positive prefix/fuzzy leaf that expands to
    ZERO dictionary terms under a structured filter must return zero
    rows (Lucene: a required clause matching nothing has no hits) —
    round-3 classified the query as filter-only and returned
    match-all-under-filter with score 1.0."""
    _, d, _ = built
    for qt in ["zzzqqq* AND role:user", "zzzqqqxw~1 AND role:user"]:
        q = pd.DataFrame({"query_id": [0], "query_text": [qt], "k": [5]})
        assert search_batch(spark, d, q, k=5).count() == 0, qt


def test_empty_expansion_does_not_disturb_batch(spark, built):
    """A zero-expansion query in a batch must not leak rows or disturb
    its neighbors."""
    t, d, _ = built
    q = pd.DataFrame({"query_id": [0, 1],
                      "query_text": ["zzzqqq* AND role:user", "alpha"],
                      "k": [5, 5]})
    got = search_batch(spark, d, q, k=5).toPandas()
    assert set(got["query_id"]) == {1}
    assert len(got) == 5


def test_or_not_includes_no_term_docs(spark, built):
    """ADVICE r3 medium: 'w1 OR NOT w2' must also return docs matching
    NEITHER term (accepted through the NOT branch) with constant score
    0.0, ranked by doc order after every positively-scored doc —
    round-3 only handled the empty mask for trees with no positive
    leaf and silently dropped the no-term docs."""
    t, d, texts = built
    toks = t["text"].iloc[0].lower().split()
    w1, w2 = toks[2], toks[3]
    n = len(t)
    q = pd.DataFrame({"query_id": [0],
                      "query_text": [f"{w1} OR NOT {w2}"], "k": [n]})
    got = search_batch(spark, d, q, k=n).toPandas().sort_values("rank")
    expect = {key for key in texts
              if w1 in _words(texts, key) or w2 not in _words(texts, key)}
    assert {(r.conv_id, r.turn_idx) for r in got.itertuples()} == expect
    zero = got[got["score"] == 0.0]
    assert {(r.conv_id, r.turn_idx) for r in zero.itertuples()} == {
        key for key in expect
        if w1 not in _words(texts, key) and w2 not in _words(texts, key)}
    pos = got[got["score"] > 0.0]
    assert len(pos) > 0 and len(zero) > 0
    assert pos["rank"].max() < zero["rank"].min()
    zkeys = [(r.conv_id, r.turn_idx)
             for r in zero.sort_values("rank").itertuples()]
    assert zkeys == sorted(zkeys)


def test_or_not_with_filter(spark, built):
    """Mixed accept-empty tree UNDER a structured filter:
    'role:user (w1 OR NOT w2)' — empty-mask candidates must respect
    the filter, scored docs keep BM25, zero-score docs come last in
    doc order."""
    t, d, texts = built
    roles = {(r.conv_id, r.turn_idx): r.role for r in t.itertuples(index=False)}
    toks = t["text"].iloc[0].lower().split()
    w1, w2 = toks[2], toks[3]
    n = len(t)
    q = pd.DataFrame({"query_id": [0],
                      "query_text": [f"role:user ({w1} OR NOT {w2})"],
                      "k": [n]})
    got = search_batch(spark, d, q, k=n).toPandas().sort_values("rank")
    expect = {key for key in texts
              if roles[key] == "user"
              and (w1 in _words(texts, key) or w2 not in _words(texts, key))}
    assert {(r.conv_id, r.turn_idx) for r in got.itertuples()} == expect
    zero = got[got["score"] == 0.0]
    for r in zero.itertuples():
        ws = _words(texts, (r.conv_id, r.turn_idx))
        assert w1 not in ws and w2 not in ws
    pos = got[got["score"] > 0.0]
    if len(pos) and len(zero):
        assert pos["rank"].max() < zero["rank"].min()


def test_expansion_guard_is_driver_bounded(spark, built):
    """The too-many-clauses guard fires while the dictionary read
    streams, at the (max_expansions+1)-th distinct match, so the driver
    never materializes an oversized expansion; and expansion reads the
    one-row-per-term terms dictionary, not segment rows."""
    from sparkbm25 import localio
    from sparkbm25.search import _band_filter, _expand_multiterm, _load_stats

    _, d, _ = built
    _, _, cfg, gens = _load_stats(d)
    reader = localio.IndexReader([g["dir"] for g in gens], cfg)
    read = reader.terms
    consumed = []

    def one_term_batches(filt):
        for b in read(filt):
            for i in range(b.num_rows):
                consumed.append(i)
                yield b.slice(i, 1)

    reader.terms = one_term_batches
    with pytest.raises(ValueError, match="max_expansions"):
        _expand_multiterm(reader, [("prefix", "w")], max_expansions=3)
    assert len(consumed) == 4
    assert _expand_multiterm(reader, [("prefix", "zzzqqq")],
                             max_expansions=3) == {("prefix", "zzzqqq"): []}
    terms = [t for b in read(_band_filter(("", None, 0, None)))
             for t in b.column("term").to_pylist()]
    assert terms and len(terms) == len(set(terms))  # terms dict, not segs


def test_range_filter_with_text(spark, built):
    """'turn_idx:[0 TO 1] w' — the Lucene range predicate restricts
    candidates; BM25 stats stay index-wide."""
    t, d, texts = built
    toks = t["text"].iloc[0].lower().split()
    w = toks[2]
    q = pd.DataFrame({"query_id": [0],
                      "query_text": [f"turn_idx:[0 TO 1] {w}"],
                      "k": [30]})
    got = search_batch(spark, d, q, k=30).toPandas()
    assert len(got) > 0
    for r in got.itertuples():
        assert r.turn_idx in (0, 1)
        assert w in _words(texts, (r.conv_id, r.turn_idx))


def test_boost_scales_contribution(spark, built):
    """'w^2 OR v' doubles w's BM25 contribution: for a doc matching
    only w, score == 2 * its plain score."""
    t, d, texts = built
    toks = t["text"].iloc[0].lower().split()
    w = toks[2]
    plain = search_batch(spark, d, pd.DataFrame(
        {"query_id": [0], "query_text": [w], "k": [10]}), k=10).toPandas()
    boosted = search_batch(spark, d, pd.DataFrame(
        {"query_id": [0], "query_text": [f"{w}^2 OR zzzznever"], "k": [10]}),
        k=10).toPandas()
    assert plain["conv_id"].tolist() == boosted["conv_id"].tolist()
    np.testing.assert_allclose(boosted["score"].astype(float),
                               2.0 * plain["score"].astype(float), rtol=1e-9)


def test_fuzzy_query_matches_within_distance(spark, built):
    """A misspelled term~1 finds docs containing the real term."""
    import re as _re

    t, d, texts = built
    toks = t["text"].iloc[0].lower().split()
    w = next(x for x in toks if len(x) >= 5 and x.isalpha())
    misspelled = w[:-1] + ("x" if w[-1] != "x" else "y")  # 1 substitution
    q = pd.DataFrame({"query_id": [0], "query_text": [f"{misspelled}~1"],
                      "k": [10]})
    got = search_batch(spark, d, q, k=10).toPandas()
    assert len(got) > 0
    # every hit contains SOME term within distance 1 of the query
    from sparkbm25.search import _levenshtein

    for r in got.itertuples():
        ws = _words(texts, (r.conv_id, r.turn_idx))
        assert any(_levenshtein(x, misspelled) <= 1 for x in ws)


def test_phrase_boost_parses_and_runs(spark, built):
    t, d, texts = built
    toks = t["text"].iloc[0].lower().split()
    w1, w2 = toks[2], toks[3]
    plain = search_batch(spark, d, pd.DataFrame(
        {"query_id": [0], "query_text": [f'"{w1} {w2}"'], "k": [10]}),
        k=10).toPandas()
    boosted = search_batch(spark, d, pd.DataFrame(
        {"query_id": [0], "query_text": [f'"{w1} {w2}"^3'], "k": [10]}),
        k=10).toPandas()
    assert plain["conv_id"].tolist() == boosted["conv_id"].tolist()
    np.testing.assert_allclose(boosted["score"].astype(float),
                               3.0 * plain["score"].astype(float), rtol=1e-9)


def test_phrase_slop_repeated_term_three_slots(spark, tmp_path):
    """m>2 sloppy phrases with a REPEATED term must take the
    distinct-assignment path on the BATCH side too (final-round
    review finding: verify_leaf only detected repetition at m==2, so
    '"foo bar foo"~2' accepted a doc whose single foo token filled
    both foo slots — diverging from the driver path and the oracle)."""
    t = make_transcripts(40, seed=21)
    crafted = {
        0: "foo bar zzz",                 # single foo: must NOT match
        1: "foo bar foo",                 # exact: matches
        2: "foo baz bar zap foo",         # spans within slop 2
        3: "bar foo qux",                 # missing second foo
    }
    t = t.copy()
    for i, txt in crafted.items():
        t.loc[i, "text"] = txt
    d = str(tmp_path / "idx3slot")
    build_index(
        spark, spark.createDataFrame(t), d,
        IndexConfig(store_positions=True, checkpoint_runs=False,
                    n_term_buckets=4, n_salt_buckets=2),
        input_desc="slop3")
    texts = {(r.conv_id, r.turn_idx): r.text.lower()
             for r in t.itertuples(index=False)}
    qt = '"foo bar foo"~2'
    expect = _sloppy_docs(texts, ["foo", "bar", "foo"], 2)
    q = pd.DataFrame({"query_id": [0], "query_text": [qt], "k": [100]})
    got = search_batch(spark, d, q, k=100).toPandas()
    got_keys = {(r.conv_id, r.turn_idx) for r in got.itertuples()}
    assert got_keys == expect
    single = (t.loc[0, "conv_id"], int(t.loc[0, "turn_idx"]))
    assert single not in got_keys
    # the interactive driver path must agree with the batch path
    s = Searcher(spark, d)
    drv = s.search(qt, k=100)
    assert {(r.conv_id, r.turn_idx)
            for r in drv.itertuples()} == got_keys


def test_plus_filter_with_should_term_on_driver(spark, built):
    """`+role:user term` parses to And([Filter, Or([Term, MatchAll])])
    — the `+` required-clause rewrite. The single-OR-group driver
    shortcut must NOT feed the matchall sentinel into the dictionary
    expansion (final-round review finding: IndexError); the query
    routes to a path that implements the SHOULD-under-MUST semantics
    and matches the batch answer."""
    t, d, texts = built
    w = t["text"].iloc[5].lower().split()[1]
    qt = f"+role:user {w}"
    s = Searcher(spark, d)
    drv = s.search(qt, k=30)
    q = pd.DataFrame({"query_id": [0], "query_text": [qt], "k": [30]})
    bat = (search_batch(spark, d, q, k=30).toPandas()
           .sort_values("rank").reset_index(drop=True))
    assert [(r.conv_id, r.turn_idx) for r in drv.itertuples()] == \
        [(r.conv_id, r.turn_idx) for r in bat.itertuples()]
    np.testing.assert_allclose(drv["score"].to_numpy(),
                               bat["score"].to_numpy(), rtol=1e-9)
    roles = {(r.conv_id, r.turn_idx): r.role
             for r in t.itertuples(index=False)}
    assert all(roles[(r.conv_id, r.turn_idx)] == "user"
               for r in drv.itertuples())
