"""Seeded query_string generator for the benchmark workloads.

Terms are drawn by rank from a Zipf law (exponent ZIPF_S, the same skew
the synthetic corpus uses) over the corpus vocabulary ordered by
collection frequency, so a session repeats its head vocabulary the way a
real query log does and the Searcher's caches see realistic reuse.

Shapes (query_string syntax the default index answers):

    term         w0012
    or           w0012 w0345 w0007        (implicit OR, 2-4 terms)
    and          w0012 AND w0345
    and_not      w0012 AND NOT w0345
    role_filter  w0012 AND role:user
    prefix       w001*
    fuzzy        w0012~1
    or3          w0012 w0345 w0007        (implicit OR, 3 terms)
    bool_tree    (w0012 OR w0345) AND NOT w0007
    role_scored  role:user w0012 w0345
    filter_only  role:user AND turn_idx:[0 TO 4]

The last four, with `prefix`, are the shapes of the repository's mixed
batch benchmark (BENCH/r5/mixed_batch.py, gen_queries). R5_MIX keeps
its shares without the phrase shapes: 8 or3, 3 bool_tree, 3
role_scored, 3 filter_only and 1 prefix in every 18 queries. MIX, the
interactive mix, is an assumption: no query log of this engine exists,
so it is mostly plain lookups with a tail of expansion shapes.

Phrase shapes are left out: a default IndexConfig() index stores no
positions, so phrase queries raise by design (a property of the index,
not a failure).
"""

from __future__ import annotations

import itertools
import re
from collections import Counter
from dataclasses import dataclass

import numpy as np

ZIPF_S = 1.1
SHAPES = ("term", "or", "and", "and_not", "role_filter", "prefix", "fuzzy",
          "or3", "bool_tree", "role_scored", "filter_only")
# mixes: queries of each shape per block of sum(mix.values()) queries
MIX = {"term": 6, "or": 4, "and": 3, "and_not": 2,
       "role_filter": 2, "prefix": 2, "fuzzy": 1}
R5_MIX = {"or3": 8, "bool_tree": 3, "role_scored": 3, "filter_only": 3, "prefix": 1}
# shapes the brute-force reference scorer can answer (implicit OR text)
CHECKABLE = ("term", "or", "or3")
STRATUM = 200
ROLES = ("user", "assistant", "system", "tool")
_TOKEN = re.compile(r"[a-z0-9]+")


@dataclass(frozen=True)
class Query:
    text: str
    shape: str
    terms: tuple[str, ...]

    @property
    def checkable(self) -> bool:
        return self.shape in CHECKABLE


def vocab_by_frequency(texts) -> list[str]:
    """Corpus vocabulary, most frequent first (ties by term), tokenized
    with the engine's default pattern (lowercase [a-z0-9]+ runs)."""
    counts = Counter()
    for t in texts:
        if t:
            counts.update(_TOKEN.findall(t.lower()))
    return [t for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))]


def _stratified(rng):
    """Endless uniforms on [0, 1), stratified per STRATUM draws: each run
    of STRATUM holds one draw from every 1/STRATUM slice, in random
    order. Each draw is still uniform, but the share of head terms in a
    run varies far less from seed to seed than with independent draws."""
    while True:
        yield from (rng.permutation(STRATUM) + rng.random(STRATUM)) / STRATUM


def generate(seed: int, vocab: list[str], n: int,
             mix: dict[str, int] = MIX) -> list[Query]:
    """n queries, deterministic for (seed, vocab, mix)."""
    if not vocab:
        raise ValueError("empty vocabulary")
    rng = np.random.default_rng(seed)
    # prefix/fuzzy need a few characters to stay selective
    long_idx = np.array([i for i, t in enumerate(vocab) if len(t) >= 4])
    if long_idx.size == 0:
        raise ValueError("no vocabulary term has 4+ characters")
    p = 1.0 / np.arange(1, len(vocab) + 1, dtype=np.float64) ** ZIPF_S
    cdf = np.cumsum(p) / p.sum()
    cdf_long = np.cumsum(p[long_idx]) / p[long_idx].sum()
    # shapes come in shuffled blocks with exact mix counts, so any
    # prefix of the stream has (nearly) the stated mix
    block = [s for s, c in mix.items() for _ in range(c)]
    if not block or set(block) - set(SHAPES):
        raise ValueError(f"mix must give whole counts of known shapes: {mix}")
    picks = np.concatenate([rng.permutation(block)
                            for _ in range(-(-n // len(block)))])[:n]

    u_all, u_long = _stratified(rng), _stratified(rng)

    def draw(k: int, long: bool = False) -> list[str]:
        # inverse-CDF sampling: O(k log V) per call, no per-call cumsum
        u = np.fromiter(itertools.islice(u_long if long else u_all, k), float, k)
        if long:
            idx = long_idx[np.minimum(np.searchsorted(cdf_long, u, side="right"),
                                      long_idx.size - 1)]
        else:
            idx = np.minimum(np.searchsorted(cdf, u, side="right"), len(vocab) - 1)
        return [vocab[i] for i in idx]

    out = []
    for shape in map(str, picks):
        if shape == "term":
            terms = draw(1)
            text = terms[0]
        elif shape in ("or", "or3"):
            terms = draw(3 if shape == "or3" else int(rng.integers(2, 5)))
            text = " ".join(terms)
        elif shape in ("and", "and_not"):
            terms = draw(2)
            op = " AND " if shape == "and" else " AND NOT "
            text = terms[0] + op + terms[1]
        elif shape == "role_filter":
            terms = draw(1)
            text = f"{terms[0]} AND role:{ROLES[int(rng.integers(len(ROLES)))]}"
        elif shape == "prefix":
            terms = draw(1, long=True)
            text = terms[0][:-1] + "*"
        elif shape == "fuzzy":
            terms = draw(1, long=True)
            text = terms[0] + "~1"
        elif shape == "bool_tree":
            terms = draw(3)
            text = f"({terms[0]} OR {terms[1]}) AND NOT {terms[2]}"
        elif shape == "role_scored":
            terms = draw(2)
            text = f"role:{ROLES[int(rng.integers(len(ROLES)))]} {terms[0]} {terms[1]}"
        elif shape == "filter_only":
            terms = ()
            text = (f"role:{ROLES[int(rng.integers(len(ROLES)))]} AND "
                    f"turn_idx:[0 TO {2 + int(rng.integers(6))}]")
        else:
            raise ValueError(f"unknown shape {shape!r}")
        out.append(Query(text=text, shape=shape, terms=tuple(terms)))
    return out


def repeat_term_share(queries: list[Query]) -> float:
    """Share of queries with at least one term an EARLIER query already
    used: the reuse a term-keyed cache can exploit."""
    if not queries:
        return 0.0
    seen: set[str] = set()
    hits = 0
    for q in queries:
        if seen.intersection(q.terms):
            hits += 1
        seen.update(q.terms)
    return hits / len(queries)
