"""Highlight kernel + Spark fetch-phase wrapper (highlight.py).

The ES unified highlighter's rank-observable contract, per leaf kind:
matched tokens wrapped in pre/post tags on the ORIGINAL text, negated
leaves and structured filters never highlight, fragmenting by greedy
matched-token count in document order, ``number_of_fragments=0`` =
whole-field mode, no-match hits yield None (ES omits the field).
"""

import re

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from sparkbm25.highlight import (
    highlight_frame,
    highlight_results,
)

NOF0 = dict(number_of_fragments=0)


def one(texts, query, **kw):
    """Highlight a single text; returns the fragment list or None."""
    return highlight_frame(pd.Series([texts]), query, **kw).iloc[0]


# ---------------------------------------------------------------------------
# token mask per leaf kind
# ---------------------------------------------------------------------------

def test_term_mask_case_insensitive_original_preserved():
    out = one("Hello World, hello again", "hello", **NOF0)
    assert out == ["<em>Hello</em> World, <em>hello</em> again"]


def test_phrase_members_highlight_term_by_term():
    out = one("Hello World, hello again", '"hello world"', **NOF0)
    assert out == ["<em>Hello</em> <em>World</em>, <em>hello</em> again"]


def test_prefix_leaf():
    out = one("hellish helloing HELLO help", "hell*", **NOF0)
    assert out == ["<em>hellish</em> <em>helloing</em> <em>HELLO</em> help"]


def test_wildcard_leaf_full_term_anchored():
    # `h?llo` matches hello/hallo but NOT helloing (full-term anchor)
    out = one("hello hallo helloing hll", "h?llo", **NOF0)
    assert out == ["<em>hello</em> <em>hallo</em> helloing hll"]


def test_regexp_leaf_lucene_dialect():
    out = one("cat cart caat ct", "/ca+t/", **NOF0)
    assert out == ["<em>cat</em> cart <em>caat</em> ct"]


def test_fuzzy_leaf_edit_distance():
    # helo~1: hello (1 insert) and help (1 substitution) yes,
    # world (>1 edit) no
    out = one("hello help world helo", "helo~1", **NOF0)
    assert out == ["<em>hello</em> <em>help</em> world <em>helo</em>"]


def test_negated_leaf_never_highlights():
    out = one("spark and join", "spark -join", **NOF0)
    assert out == ["<em>spark</em> and join"]


def test_structured_filter_never_highlights():
    out = one("the en text spark", "role:en spark", **NOF0)
    assert out == ["the en text <em>spark</em>"]


def test_filter_only_query_highlights_nothing():
    assert one("anything en here", "role:en", **NOF0) is None


def test_no_match_none_and_null_text_none():
    s = pd.Series(["no hits here", None, ""])
    out = highlight_frame(s, "zebra", **NOF0)
    assert out.tolist() == [None, None, None]


def test_custom_tags():
    out = one("a spark b", "spark", pre_tag="[", post_tag="]", **NOF0)
    assert out == ["a [spark] b"]


# ---------------------------------------------------------------------------
# splice arithmetic — the invariant the oracle entry checks at scale
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("text", [
    "Spark spark SPARK spark!",
    "x" * 10 + " spark " + "y" * 10,
    "spark",
    "punct: spark, spark; spark? (spark)",
    "unicode café spark — spark…",
])
def test_splice_roundtrip_and_length(text):
    frags = one(text, "spark", **NOF0)
    assert frags is not None and len(frags) == 1
    hl = frags[0]
    n = hl.count("<em>")
    assert n == len(re.findall(r"(?i)(?<![a-z0-9])spark(?![a-z0-9])", text))
    assert len(hl) == len(text) + 9 * n
    assert hl.replace("<em>", "").replace("</em>", "") == text


_words = st.text(alphabet="abcdeé .,!-\n", min_size=0, max_size=120)
_qterms = st.lists(
    st.text(alphabet="abcde", min_size=1, max_size=4), min_size=1,
    max_size=3)


@settings(max_examples=150, deadline=None)
@given(_words, _qterms)
def test_property_whole_field_splice_invariants(text, terms):
    """Whole-field mode, arbitrary text × term queries: stripping the
    tags recovers the original text byte-for-byte, the splice count
    equals an independent regex recount, and the length arithmetic
    (len + 9 per splice) holds — the same three invariants the
    highlight_fetch oracle checks against DuckDB at scale."""
    frags = one(text, " ".join(terms), **NOF0)
    uniq = set(terms)
    expected = sum(
        1 for tok in re.findall("[a-z0-9]+", text.lower()) if tok in uniq)
    if frags is None:
        assert expected == 0 or not text
        return
    hl = frags[0]
    assert hl.replace("<em>", "").replace("</em>", "") == text
    assert hl.count("<em>") == hl.count("</em>") == expected
    assert len(hl) == len(text) + 9 * expected


@settings(max_examples=60, deadline=None)
@given(_words, _qterms, st.integers(min_value=1, max_value=4),
       st.integers(min_value=10, max_value=60))
def test_property_fragments_bounded_ordered_substrings(
        text, terms, nfrag, fsize):
    """Fragment mode: every fragment is a tag-splice of a substring of
    the original text, fragments appear in document order, and each
    covers at most fragment_size source characters."""
    frags = one(text, " ".join(terms), fragment_size=fsize,
                number_of_fragments=nfrag)
    if frags is None:
        return
    assert 1 <= len(frags) <= nfrag
    pos = 0
    for f in frags:
        raw = f.replace("<em>", "").replace("</em>", "")
        assert len(raw) <= fsize
        at = text.find(raw, pos)
        assert at >= 0          # substring, in document order
        pos = at + max(len(raw), 1)
        assert "<em>" in f      # every window anchors on a match


# ---------------------------------------------------------------------------
# fragmenting
# ---------------------------------------------------------------------------

def test_single_fragment_picks_densest_window():
    text = "spark " + "filler " * 40 + "spark spark spark tail"
    frags = one(text, "spark", fragment_size=30, number_of_fragments=1)
    assert len(frags) == 1
    assert frags[0].count("<em>") == 3  # the dense cluster, not the lone head
    assert "tail" not in frags[0] or frags[0].count("<em>") == 3


def test_fragments_emitted_in_document_order():
    text = ("alpha spark one " + "pad " * 30
            + "beta spark two spark three " + "pad " * 30 + "gamma")
    frags = one(text, "spark", fragment_size=40, number_of_fragments=2)
    assert len(frags) == 2
    # document order even though the SECOND window scores higher
    # (windows anchor on the matched token, so the text BEFORE the
    # first match in each window is not part of the fragment)
    assert "one" in frags[0] and "two" in frags[1]
    assert frags[0].count("<em>") == 1
    assert frags[1].count("<em>") == 2


def test_fragment_size_bounds_each_fragment():
    text = ("spark " + "p " * 100) * 3
    frags = one(text, "spark", fragment_size=50, number_of_fragments=3)
    for f in frags:
        assert len(f) <= 50 + 9  # one splice of tags per window here


def test_anchor_token_longer_than_fragment_size_still_emits():
    """fragment_size is a soft bound (ES unified-highlighter
    semantics): a matched token longer than the window must still
    emit a fragment, not silently drop the hit's highlight (late
    round 5: no window could contain the anchor and the whole field
    returned None)."""
    frags = one("supercalifragilistic", "supercalifragilistic",
                fragment_size=5, number_of_fragments=1)
    assert frags == ["<em>supercalifragilistic</em>"]
    # the soft bound only stretches to the anchor's own end; short
    # neighbors outside the hard window stay out
    frags = one("supercalifragilistic and more words here",
                "supercalifragilistic words", fragment_size=5,
                number_of_fragments=1)
    assert frags == ["<em>supercalifragilistic</em>"]


def test_more_fragments_requested_than_matches():
    frags = one("only spark here", "spark", fragment_size=20,
                number_of_fragments=5)
    assert len(frags) == 1


# ---------------------------------------------------------------------------
# Spark fetch phase
# ---------------------------------------------------------------------------

def test_highlight_results_matches_kernel(spark):
    rows = [
        ("c1", 0, "user", "Spark joins the table", None),
        ("c2", 0, "user", "no query words at all", None),
        ("c3", 0, "user", "spark spark spark", None),
    ]
    src = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string")
    results = spark.createDataFrame(
        [("c1", 0, 1, 2.0), ("c3", 0, 2, 1.0), ("c9", 0, 3, 0.5)],
        "conv_id string, turn_idx int, rank int, score double")
    out = (highlight_results(results, src, "spark join*", **NOF0)
           .orderBy("rank").collect())
    assert [r.conv_id for r in out] == ["c1", "c3", "c9"]
    assert out[0].highlight == ["<em>Spark</em> <em>joins</em> the table"]
    assert out[1].highlight == ["<em>spark</em> <em>spark</em> <em>spark</em>"]
    assert out[2].highlight is None  # id missing from source: left join
    # fetch phase must keep the result columns intact
    assert out[0].rank == 1 and out[0].score == 2.0


@pytest.fixture(scope="module")
def hl_index(spark, tmp_path_factory):
    from sparkbm25 import IndexConfig, build_index
    from sparkbm25.fixtures import make_transcripts

    d = str(tmp_path_factory.mktemp("hl") / "idx")
    src = spark.createDataFrame(make_transcripts(400, seed=7))
    build_index(spark, src, d, IndexConfig(), input_desc="hl400")
    return d, src


def test_searcher_highlight_interactive(spark, hl_index):
    from sparkbm25.search import Searcher

    d, src = hl_index
    s = Searcher(spark, d)
    q = "w0001 w0005"
    hits = s.search(q, k=5)
    assert len(hits) > 0
    out = s.highlight(hits, src, q, number_of_fragments=0)
    assert len(out) == len(hits)
    assert list(out.columns) == list(hits.columns) + ["highlight"]
    # an OR hit contains at least one query term, so every hit
    # highlights; whole-field mode splices the original text
    for frags in out["highlight"]:
        assert frags is not None and len(frags) == 1
        assert "<em>" in frags[0]
    # ranks and scores pass through untouched
    assert out["rank"].tolist() == hits["rank"].tolist()
    assert out["score"].tolist() == hits["score"].tolist()


@pytest.mark.parametrize("query,leaf", [
    ("w00*", ("prefix", "w00")),
    ("w0012~1", ("fuzzy", ("w0012", 1))),
    ("*00?", ("wildcard", "*00?")),
    ("/w00[0-3]1|alp.*/", ("regexp", "w00[0-3]1|alp.*")),
])
def test_highlight_matches_expansion(hl_index, query, leaf):
    """Over the whole term dictionary, a token is highlighted exactly
    when it is in its leaf's expansion: both match through
    search._multiterm_matcher."""
    import numpy as np

    from sparkbm25 import localio
    from sparkbm25.highlight import _leaf_matchers
    from sparkbm25.querystring import parse_query_string
    from sparkbm25.search import _band_filter, _expand_multiterm, _load_stats

    d, _ = hl_index
    _, _, cfg, gens = _load_stats(d)
    reader = localio.IndexReader([g["dir"] for g in gens], cfg)
    vocab = np.array([t for b in reader.terms(_band_filter(("", None, 0, None)))
                      for t in b.column("term").to_pylist()], dtype=object)
    expansion = _expand_multiterm(reader, [leaf])[leaf]
    mask = _leaf_matchers(parse_query_string(query).tree)(vocab)
    assert expansion
    assert sorted(vocab[mask].tolist()) == expansion


def test_searcher_highlight_empty_hits(spark, hl_index):
    from sparkbm25.search import Searcher

    d, src = hl_index
    s = Searcher(spark, d)
    hits = s.search("zzzznope", k=5)
    assert len(hits) == 0
    out = s.highlight(hits, src, "zzzznope")
    assert len(out) == 0 and "highlight" in out.columns


def test_highlight_results_broadcasts_the_k_rows(spark):
    src = spark.createDataFrame(
        [("c1", 0, "spark")], "conv_id string, turn_idx int, text string")
    results = spark.createDataFrame(
        [("c1", 0, 1)], "conv_id string, turn_idx int, rank int")
    plan = (highlight_results(results, src, "spark", **NOF0)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Broadcast" in plan


def test_regexp_alternation_anchor():
    """`/cat|dog/` must not highlight 'category': the \\Z anchor needs
    a (?:...) wrap or it binds only to the LAST alternation branch,
    disagreeing with the (anchored) scoring paths (final-round
    review)."""
    import numpy as np

    from sparkbm25.highlight import _leaf_matchers
    from sparkbm25.querystring import parse_query_string

    m = _leaf_matchers(parse_query_string("/cat|dog/").tree)
    got = m(np.array(["category", "cat", "dog", "dogs"], dtype=object))
    assert got.tolist() == [False, True, True, False]


def test_fragments_never_overlap():
    """ES passages are disjoint: an untaken matched token BEFORE the
    best-scoring window previously opened an overlapping window,
    emitting the same source characters in two fragments (final-round
    review)."""
    from sparkbm25.highlight import _leaf_matchers, highlight_text
    from sparkbm25.querystring import parse_query_string

    words = (["match"] + ["w%03d" % i for i in range(26)]
             + ["match", "xx", "match", "xx", "match", "xx", "match"])
    text = " ".join(words)
    mfn = _leaf_matchers(parse_query_string("match").tree)
    frags = highlight_text(text, mfn, fragment_size=150,
                           number_of_fragments=2)
    assert frags and len(frags) == 2
    # every highlighted occurrence appears exactly once across frags
    joined = "".join(frags)
    assert joined.count("<em>match</em>") == text.count("match") == 5
    # and the fragments map to disjoint source spans: each fragment's
    # plain text occurs in the original and they don't share chars
    plains = [f.replace("<em>", "").replace("</em>", "") for f in frags]
    i0 = text.find(plains[0])
    i1 = text.find(plains[1])
    assert i0 != -1 and i1 != -1
    a, b = sorted([(i0, i0 + len(plains[0])), (i1, i1 + len(plains[1]))])
    assert a[1] <= b[0]
