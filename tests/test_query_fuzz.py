"""Execution fuzz for the full query_string surface: randomized
queries over every grammar shape (terms / OR / AND / NOT / phrases /
prefix* / fuzzy~N / ^boosts / filters / ranges / filter-only /
pure-negative-under-filter) run through search_batch and are checked
against an INDEPENDENT pure-Python evaluator of the documented
semantics (docstring contract in querystring.py):

  * the boolean tree defines the candidate set over per-doc matched
    leaves; score = Σ matched positive leaves' boost × BM25
    contribution (phrase = sum of member terms; prefix/fuzzy = sum of
    matched dictionary expansions, each with its own df);
  * structured predicates restrict candidates, stats stay corpus-wide;
  * docs accepted via the empty mask score 0.0; filter-only and
    pure-negative candidates score 1.0.

Scores compare at rtol 1e-9 per doc and result SETS must match
exactly; rank order is checked for internal consistency (score desc,
doc asc) rather than cross-compared, because float summation order
legitimately differs at the ulp level between engines."""

import re

import numpy as np
import pandas as pd
import pytest

from sparkbm25 import IndexConfig, build_index, search_batch
from sparkbm25.analysis import tokenize_one
from sparkbm25.fixtures import make_transcripts
from sparkbm25.querystring import (And, Filter, Fuzzy, Not, Or, Phrase,
                                   Prefix, Regexp, Term, Wildcard,
                                   parse_query_string)
from sparkbm25.search import _levenshtein

K1, B = 1.2, 0.75


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    t = make_transcripts(400, seed=77)
    d = str(tmp_path_factory.mktemp("fuzzidx") / "idx")
    build_index(spark, spark.createDataFrame(t), d,
                IndexConfig(store_positions=True, checkpoint_runs=False,
                            n_term_buckets=4, n_salt_buckets=2),
                input_desc="fuzz400")
    docs = []
    for r in t.sort_values(["conv_id", "turn_idx"],
                           kind="mergesort").itertuples(index=False):
        toks = tokenize_one(r.text)
        docs.append({
            "conv_id": r.conv_id, "turn_idx": int(r.turn_idx),
            "role": r.role, "tool": r.tool,
            "toks": toks, "tokset": set(toks), "dl": len(toks),
        })
    df_map: dict[str, int] = {}
    for doc in docs:
        for term in doc["tokset"]:
            df_map[term] = df_map.get(term, 0) + 1
    n = len(docs)
    avgdl = sum(d_["dl"] for d_ in docs) / n
    return t, d, docs, df_map, n, avgdl


def _contrib(doc, term, df_map, n, avgdl):
    tf = doc["toks"].count(term)
    if tf == 0:
        return 0.0
    idf = float(np.log(1.0 + (n - df_map[term] + 0.5) / (df_map[term] + 0.5)))
    return idf * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * doc["dl"] / avgdl))


def _phrase_in(doc, terms, slop=0):
    toks = doc["toks"]
    m = len(terms)
    if slop == 0:
        return any(toks[i:i + m] == terms for i in range(len(toks) - m + 1))
    # independent brute force of the documented sloppy semantics: one
    # DISTINCT occurrence position per slot, span of slot-adjusted
    # positions <= slop
    import itertools

    poss = [[i for i, tk in enumerate(toks) if tk == term]
            for term in terms]
    if any(not p for p in poss):
        return False
    for combo in itertools.product(*poss):
        if len(set(combo)) != m:
            continue
        adj = [p - i for i, p in enumerate(combo)]
        if max(adj) - min(adj) <= slop:
            return True
    return False


def _eval_leaf(doc, leaf, df_map, n, avgdl, vocab):
    """(matched, score_contribution) for one positive leaf."""
    if isinstance(leaf, Term):
        c = _contrib(doc, leaf.text, df_map, n, avgdl)
        return (leaf.text in doc["tokset"],
                leaf.boost * c)
    if isinstance(leaf, Phrase):
        if not _phrase_in(doc, list(leaf.terms), leaf.slop):
            return False, 0.0
        return True, leaf.boost * sum(
            _contrib(doc, t, df_map, n, avgdl) for t in leaf.terms)
    if isinstance(leaf, Prefix):
        exp = [t for t in vocab if t.startswith(leaf.prefix)]
        hit = [t for t in exp if t in doc["tokset"]]
        return (bool(hit), leaf.boost * sum(
            _contrib(doc, t, df_map, n, avgdl) for t in hit))
    if isinstance(leaf, Fuzzy):
        exp = [t for t in vocab if _levenshtein(t, leaf.term) <= leaf.max_edits]
        hit = [t for t in exp if t in doc["tokset"]]
        return (bool(hit), leaf.boost * sum(
            _contrib(doc, t, df_map, n, avgdl) for t in hit))
    if isinstance(leaf, Wildcard):
        # independent translation: * -> .*, ? -> . (NOT the engine's
        # LIKE compilation)
        rx = re.compile("".join(
            ".*" if c == "*" else "." if c == "?" else re.escape(c)
            for c in leaf.pattern))
        exp = [t for t in vocab if rx.fullmatch(t)]
        hit = [t for t in exp if t in doc["tokset"]]
        return (bool(hit), leaf.boost * sum(
            _contrib(doc, t, df_map, n, avgdl) for t in hit))
    if isinstance(leaf, Regexp):
        # the generated patterns restrict to constructs whose python
        # re reading equals the Lucene reading (literals, `|`, `.`,
        # `.*`, classes) — independent of lucenere.to_portable, whose
        # dialect translation is pinned by tests/test_lucenere.py
        rx = re.compile(leaf.pattern)
        exp = [t for t in vocab if rx.fullmatch(t)]
        hit = [t for t in exp if t in doc["tokset"]]
        return (bool(hit), leaf.boost * sum(
            _contrib(doc, t, df_map, n, avgdl) for t in hit))
    raise TypeError(leaf)


def _eval_tree(doc, node, df_map, n, avgdl, vocab):
    """(accepted, score) — score is the sum over positive leaves the
    doc matches anywhere in the tree (engine: disjunction-sum over
    matched positive leaves; NOT leaves never score)."""
    def accept(nd, neg=False):
        if isinstance(nd, (Term, Phrase, Prefix, Fuzzy, Wildcard, Regexp)):
            return _eval_leaf(doc, nd, df_map, n, avgdl, vocab)[0]
        if isinstance(nd, Not):
            return not accept(nd.child, not neg)
        if isinstance(nd, And):
            return all(accept(c, neg) for c in nd.children)
        if isinstance(nd, Or):
            return any(accept(c, neg) for c in nd.children)
        raise TypeError(nd)

    def pos_score(nd, neg=False):
        if isinstance(nd, (Term, Phrase, Prefix, Fuzzy, Wildcard, Regexp)):
            if neg:
                return 0.0
            m, s = _eval_leaf(doc, nd, df_map, n, avgdl, vocab)
            return s if m else 0.0
        if isinstance(nd, Not):
            return pos_score(nd.child, not neg)
        return sum(pos_score(c, neg) for c in nd.children)

    return accept(node), pos_score(node)


def _filters_ok(doc, filters, neg_filters):
    """Independent predicate evaluation incl. the round-5 value
    grammar: exclusive `{}` brackets, `>=v`-style simple ranges,
    `_exists_`, and GROUP entries (tuple of pairs ORed — field
    grouping). NULL semantics mirror Catalyst: a None field fails the
    positive form AND the negated form."""
    def one(fld, val):
        if fld == "_exists_":
            if val in ("conv_id", "turn_idx", "text"):
                return True
            return doc[val] is not None
        cur = doc[fld] if fld != "turn_idx" else doc["turn_idx"]
        if cur is None:
            return None                   # three-valued: NULL
        m = re.match(r"^([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])$", val,
                     re.IGNORECASE)
        if m:
            lo, hi = m.group(2), m.group(3)
            lo_inc, hi_inc = m.group(1) == "[", m.group(4) == "]"
            if fld == "turn_idx":
                cur_c, lo_c = doc["turn_idx"], (None if lo == "*" else int(lo))
                hi_c = None if hi == "*" else int(hi)
            else:
                cur_c = str(cur)
                lo_c, hi_c = (None if lo == "*" else lo), (None if hi == "*" else hi)
            return ((lo_c is None or (cur_c >= lo_c if lo_inc else cur_c > lo_c))
                    and (hi_c is None or (cur_c <= hi_c if hi_inc else cur_c < hi_c)))
        m = re.match(r"^(>=|<=|>|<)(.+)$", val)
        if m:
            import operator
            cmp = {"<": operator.lt, "<=": operator.le,
                   ">": operator.gt, ">=": operator.ge}[m.group(1)]
            if fld == "turn_idx":
                return cmp(doc["turn_idx"], int(m.group(2)))
            return cmp(str(cur), m.group(2))
        if val.endswith("*"):
            return str(cur).startswith(val[:-1])
        if fld == "turn_idx":
            return doc["turn_idx"] == int(val)
        return cur == val

    def entry(e):
        if e and isinstance(e[0], tuple):
            rs = [one(f, v) for f, v in e]
            if any(r is True for r in rs):
                return True
            return None if any(r is None for r in rs) else False
        return one(e[0], e[1])

    return (all(entry(e) is True for e in filters)
            and all(entry(e) is False for e in neg_filters))


def _reference_eval(query_text, docs, df_map, n, avgdl, vocab):
    """Full-result reference: list of (score, doc_index), engine
    ordering (score desc, doc asc)."""
    p = parse_query_string(query_text)
    out = []
    if p.tree is None:
        if not p.has_filters:
            return []
        for i, doc in enumerate(docs):
            if _filters_ok(doc, p.filters, p.neg_filters):
                out.append((1.0, i))
    elif not p.explicit:
        # legacy implicit semantics (engine mode='or'): any matched
        # term accepts; score = Σ qtf × contribution
        from collections import Counter

        counts = Counter(tokenize_one(p.text))
        for i, doc in enumerate(docs):
            if not _filters_ok(doc, p.filters, p.neg_filters):
                continue
            if not any(t in doc["tokset"] for t in counts):
                continue
            out.append((sum(qtf * _contrib(doc, t, df_map, n, avgdl)
                            for t, qtf in counts.items()), i))
    else:
        from sparkbm25.querystring import collect_leaves

        pos, _neg = collect_leaves(p.tree)
        const_score = not pos  # pure-negative: constant 1.0
        for i, doc in enumerate(docs):
            if not _filters_ok(doc, p.filters, p.neg_filters):
                continue
            ok, score = _eval_tree(doc, p.tree, df_map, n, avgdl, vocab)
            if ok:
                out.append((1.0 if const_score else score, i))
    out.sort(key=lambda x: (-x[0], x[1]))
    return out


def _gen_queries(rng, vocab):
    """Randomized query shapes across the whole grammar."""
    long_vocab = [v for v in vocab if len(v) >= 5] or vocab

    def w():
        return rng.choice(vocab)

    def wl():
        return rng.choice(long_vocab)

    def rare():
        return rng.choice(["zzqqx", "notaword", w()])

    roles = ["user", "assistant", "system", "tool"]
    shapes = [
        lambda: f"{w()} {w()}",
        lambda: f"{w()} OR {rare()}",
        lambda: f"{w()} AND {w()}",
        lambda: f"({w()} OR {w()}) AND NOT {w()}",
        lambda: f"{w()} OR NOT {w()}",
        lambda: f"role:{rng.choice(roles)} {w()}",
        lambda: f"role:{rng.choice(roles)} AND NOT {w()}",
        lambda: f"role:{rng.choice(roles)}",
        lambda: f"NOT role:{rng.choice(roles)} {w()}",
        lambda: f'"{w()} {w()}"',
        lambda: f'"{w()} {w()}"~{int(rng.integers(1, 4))}',
        lambda: f'"{w()} {w()}"~2 OR {w()}',
        lambda: f'"{w()} {w()} {w()}"~{int(rng.integers(1, 4))}',
        lambda: f"text:{w()} AND role:{rng.choice(roles)}",
        lambda: f"text:{w()[:4]}* OR {w()}",
        lambda: f"{w()[:4]}*",
        lambda: f"{w()}~1",
        lambda: f"{w()}^2 OR {w()}",
        lambda: f"turn_idx:[0 TO {int(rng.integers(0, 5))}] {w()}",
        lambda: f"role:{rng.choice(roles)} ({w()} OR NOT {w()})",
        # wildcard shapes: mid-star, single-?, leading wildcard (long
        # terms only so the 128-expansion guard can't fire)
        lambda: (lambda t: f"{t[:2]}*{t[-1]}")(wl()),
        lambda: (lambda t: f"{t[:-1]}?")(wl()),
        lambda: (lambda t: f"*{t[2:]}")(wl()),
        lambda: f"{w()} OR te?t",
        # round-5 grammar: &&/||/!, `+` required clauses, field
        # grouping, _exists_, exclusive + one-sided ranges
        lambda: f"{w()} && {w()}",
        lambda: f"{w()} || {rare()}",
        lambda: f"!{w()} {w()}",
        lambda: f"+{w()} {w()}",
        lambda: f"+{w()} {w()} {w()}",
        lambda: f"+{w()} +{w()} {w()}",
        lambda: f"+{w()} {w()} role:{rng.choice(roles)}",
        lambda: f"+{w()} {wl()[:4]}*",
        lambda: f'+{w()} "{w()} {w()}"',
        lambda: f"role:({rng.choice(roles)} OR {rng.choice(roles)}) {w()}",
        lambda: f"(role:{rng.choice(roles)} OR role:{rng.choice(roles)}) {w()}",
        lambda: f"NOT role:({rng.choice(roles)} OR {rng.choice(roles)}) {w()}",
        lambda: f"_exists_:tool {w()}",
        lambda: f"NOT _exists_:tool {w()}",
        lambda: f"turn_idx:{{0 TO {int(rng.integers(1, 5))}}} {w()}",
        lambda: f"turn_idx:[0 TO {int(rng.integers(1, 5))}}} {w()}",
        lambda: f"turn_idx:>={int(rng.integers(0, 4))} {w()}",
        lambda: f"turn_idx:<{int(rng.integers(1, 5))} {w()}",
        lambda: f'-"{w()} {w()}" {w()}',
        lambda: f"text:({w()} OR {w()})",
        # late round-5 grammar: regexp leaves (incl. the top-level
        # alternation whose banding bug dropped the right branch) and
        # backslash escapes (escaped letters are no-ops; escaped
        # operators go literal and analyze away)
        lambda: f"/{w()}|{w()}/",
        lambda: f"/{w()}|{rare()}/ OR {w()}",
        lambda: (lambda t: f"/{t[:4]}.*/")(wl()),
        lambda: (lambda t: f"/{t[:4]}./ {w()}")(wl()),
        lambda: f"role:{rng.choice(roles)} /{w()}|{w()}/",
        lambda: (lambda t: f"{t[:2]}\\{t[2:]}")(w()),      # escaped letter
        lambda: f"\\+{w()} {w()}",                          # escaped +
        lambda: f"{w()}\\* OR {w()}",                       # escaped *
        lambda: f"\\AND {w()}",                             # escaped word op
    ]
    return [shapes[int(rng.integers(0, len(shapes)))]() for _ in range(36)]


def test_searcher_driver_paths_match_batch_fuzz(spark, corpus):
    """Randomized parity: every query shape the interactive Searcher
    serves WITHOUT the batch detour must agree with search_batch on the
    result set, scores and rank order — bit for bit on the kernel
    route (the same per-range body), within 1e-9 on the term-at-a-time
    maxscore / dense / and routes."""
    from sparkbm25.search import Searcher

    t, d, docs, df_map, n, avgdl = corpus
    vocab = sorted(df_map)
    rng = np.random.default_rng(11)
    roles = ["user", "assistant", "system", "tool"]

    def w():
        return rng.choice(vocab)

    long_vocab = [v for v in vocab if len(v) >= 5] or vocab

    def wl():
        return rng.choice(long_vocab)

    shapes = [
        lambda: f"{w()} AND {w()}",
        lambda: f"{w()} OR {w()}^2",
        lambda: f"role:{rng.choice(roles)} {w()} {w()}",
        lambda: f"role:{rng.choice(roles)} AND {w()}",
        lambda: f"NOT role:{rng.choice(roles)} ({w()} OR {w()})",
        lambda: f"turn_idx:[0 TO 3] {w()}",
        lambda: f"text:{w()} AND role:{rng.choice(roles)}",
        # round-5 driver expansion: multi-term leaves under OR / alone
        # / under filters serve driver-side too
        lambda: f"{wl()[:4]}*",
        lambda: f"{wl()[:4]}* OR {w()}^2",
        lambda: f"{wl()}~1",
        lambda: (lambda t: f"{t[:2]}*{t[-1]} OR {w()}")(wl()),
        lambda: f"role:{rng.choice(roles)} {wl()[:4]}*",
        lambda: f"turn_idx:[1 TO 4] ({wl()}~1 OR {w()})",
        # round-5 phrase driver path: phrases (exact + sloppy) alone,
        # under OR, and under filters verify on the driver too
        lambda: f'"{w()} {w()}"',
        lambda: f'"{w()} {w()}"~2 OR {w()}',
        lambda: f'role:{rng.choice(roles)} "{w()} {w()}"~1',
        # round-5 CNF driver path: AND of OR-groups of any leaf kind,
        # with negated conjuncts
        lambda: f"({w()} OR {w()}) AND ({w()} OR {wl()[:4]}*)",
        lambda: f"{w()} AND {wl()}~1",
        lambda: f'({w()} OR {w()}) AND "{w()} {w()}"~2',
        lambda: f"role:{rng.choice(roles)} ({w()} OR {w()}) AND {w()}",
        lambda: f"{w()} AND NOT {w()}",
        lambda: f"({w()} OR {w()}) AND NOT ({w()} OR {wl()[:4]}*)",
        lambda: f"role:{rng.choice(roles)} {w()} -{w()}",
        lambda: f'{w()} AND NOT "{w()} {w()}"',
        # round-5 grammar on the driver: `+` required clauses route
        # through the CNF path's optional groups; field grouping,
        # _exists_, and the extended range values ride the filtered
        # path; &&/||/! alias the boolean operators
        lambda: f"+{w()} {w()}",
        lambda: f"+{w()} {w()} {w()}",
        lambda: f"+{w()} +{w()} {w()}",
        lambda: f"+{w()} {wl()[:4]}*",
        lambda: f"+{w()} {w()} role:{rng.choice(roles)}",
        lambda: f"role:({rng.choice(roles)} OR {rng.choice(roles)}) {w()}",
        lambda: f"NOT _exists_:tool {w()}",
        lambda: f"_exists_:tool {w()} && {w()}",
        lambda: f"turn_idx:{{0 TO 3}} {w()}",
        lambda: f"turn_idx:>=2 {w()} || {w()}",
        lambda: f"!{w()} {w()}",
    ]
    # shapes the Searcher once sent to the batch route: filter-only,
    # pure negative under a filter, nested trees, match-all under a
    # filter and NOT under OR; each runs once after the random draws
    kernel_shapes = [
        lambda: f"role:{rng.choice(roles)} AND turn_idx:[0 TO 3]",
        lambda: f"NOT {w()} AND role:{rng.choice(roles)}",
        lambda: f"({w()} AND ({w()} OR NOT {w()})) OR {w()}",
        lambda: f"*:* role:{rng.choice(roles)}",
        lambda: f"{w()} OR NOT {w()}",
    ]
    s = Searcher(spark, d)
    texts = [shapes[int(rng.integers(0, len(shapes)))]() for _ in range(18)]
    texts += [shape() for shape in kernel_shapes]
    for qt in texts:
        got = s.search(qt, k=15)
        assert s.last_path in ("maxscore", "dense", "and", "kernel",
                               None), (qt, s.last_path)
        q = pd.DataFrame({"query_id": [0], "query_text": [qt], "k": [15]})
        exp = (search_batch(spark, d, q, k=15).toPandas()
               .sort_values("rank").reset_index(drop=True))
        assert got["conv_id"].tolist() == exp["conv_id"].tolist(), qt
        assert got["turn_idx"].tolist() == exp["turn_idx"].tolist(), qt
        if s.last_path == "kernel":
            assert got["score"].tolist() == exp["score"].tolist(), qt
        else:
            np.testing.assert_allclose(got["score"].astype(float),
                                       exp["score"].astype(float),
                                       rtol=1e-9, err_msg=qt)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_query_string_execution_fuzz(spark, corpus, seed):
    t, d, docs, df_map, n, avgdl = corpus
    vocab = sorted(df_map)
    rng = np.random.default_rng(seed)
    texts = _gen_queries(rng, vocab)
    q = pd.DataFrame({"query_id": range(len(texts)), "query_text": texts,
                      "k": [n] * len(texts)})
    got = search_batch(spark, d, q, k=n).toPandas()
    key_of = {(doc["conv_id"], doc["turn_idx"]): i
              for i, doc in enumerate(docs)}
    for qid, qt in enumerate(texts):
        exp = _reference_eval(qt, docs, df_map, n, avgdl, vocab)
        g = got[got.query_id == qid].sort_values("rank")
        gset = {key_of[(r.conv_id, r.turn_idx)] for r in g.itertuples()}
        eset = {i for _, i in exp}
        assert gset == eset, f"q{qid} {qt!r}: set mismatch " \
            f"extra={sorted(gset - eset)[:5]} missing={sorted(eset - gset)[:5]}"
        escore = dict((i, s) for s, i in exp)
        for r in g.itertuples():
            i = key_of[(r.conv_id, r.turn_idx)]
            assert np.isclose(r.score, escore[i], rtol=1e-9, atol=1e-12), \
                f"q{qid} {qt!r} doc{i}: {r.score} != {escore[i]}"
        # engine ranking internally consistent: score desc, doc asc
        rows = [(r.score, key_of[(r.conv_id, r.turn_idx)])
                for r in g.itertuples()]
        assert rows == sorted(rows, key=lambda x: (-x[0], x[1])), qt
