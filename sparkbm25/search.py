"""BM25 top-k query engine over the segment index.

The capability the reference delegates to Elasticsearch with
``search.query('query_string', query=...)`` (es_translator/
es_translator.py:313-323) — analyzed full-text retrieval with BM25
ranking — implemented natively:

  * batch path (`search_batch`): the whole query set as one Spark job
    partitioned by doc-ord range — the pruned segment scan of the batch
    terms, its block lists cut at the range boundaries, plus forward
    rows carrying one bit per structured predicate, meet in one Arrow
    kernel per range that decodes, scores, applies the boolean trees,
    filters and phrase checks and emits each query's exact top k; the
    driver merges those. This is the path the DuckDB oracle checks.
  * interactive path (`Searcher.search`): one query on the driver over
    batch-decoded flat posting arrays — chunked vectorized MaxScore
    or an exhaustive dense scatter (OR mode), vectorized intersection
    (AND mode); all pruning lossless. Only the posting blocks of the
    query's terms are fetched (term_bucket partition pruning + term
    predicate pushdown — the analog of ES routing a query to the
    right shard) through the driver's pyarrow index reader
    (localio.IndexReader, no Spark job), and bounded LRU caches
    (decoded postings / df map / doc resolve) make warm repeats read
    nothing.

Ranking contract (parity with refscore.bm25_reference_topk):
  score(q,d) = Σ_t qtf·idf·(k1+1)·tf / (tf + k1(1-b+b·dl/avgdl)),
  idf = ln(1+(N-df+0.5)/(df+0.5)); ties (score desc, conv_id asc,
  turn_idx asc) ≡ (score desc, doc_ord asc) because doc_ord is the
  dense rank of (conv_id, turn_idx).
"""

from __future__ import annotations

import heapq
import re
from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkbm25 import catalog, localio
from sparkbm25.analysis import tokenize_one
from sparkbm25.build import segment_schema
from sparkbm25.config import IndexConfig
from sparkbm25.lucenere import to_portable
from sparkbm25.querystring import compile_filter, filter_mask
from sparkbm25.querystring import filter_columns as qs_filter_columns


def _load_stats(index_dir: str) -> tuple[int, float, IndexConfig, list[dict]]:
    """Global corpus stats (summed across generations for an
    incrementally-built index) + the per-generation info rows."""
    stats = catalog.global_stats(index_dir)
    cfg = IndexConfig.from_json(stats["config"])
    return int(stats["n_docs"]), float(stats["avgdl"]), cfg, stats["generations"]


def _read_segment_root(spark: SparkSession, path: str,
                       with_pos: bool) -> DataFrame:
    """One generation's segment table, read with its known schema (an
    index whose docs yield no tokens has no segment file to infer
    one from) and only its columns (a zero-token generation has no
    `chunk` partition directory either)."""
    return (spark.read.schema(segment_schema(with_pos)).parquet(path)
            .select("term_bucket", "term", "salt", "n_docs", "blocks"))


def _read_segments(spark: SparkSession, index_dir: str,
                   with_pos: bool = False):
    """Union the segment tables of all generations (each generation is
    its own partitioned-parquet root, so a single multi-path read would
    see conflicting partition structures)."""
    dfs = [_read_segment_root(spark, p, with_pos)
           for p in catalog.segments_paths(index_dir)]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d.select(out.columns))
    return out


class _QueryPlan:
    """One query's compiled form: slot-numbered leaves + an acceptance
    tree over the per-doc matched-leaf bitmask."""

    __slots__ = ("qid", "k", "filters", "neg_filters", "leaves", "accept",
                 "accept_empty")

    def __init__(self, qid, k, filters, neg_filters, leaves, accept):
        self.qid = qid
        self.k = k
        self.filters = filters
        self.neg_filters = neg_filters
        self.leaves = leaves      # list of dicts: slot/kind/terms/weight
        # nested tuples ("t", slot) / ("not", x) / ("and"|"or", (xs)) —
        # plain data, so the plan pickles into the batch kernel
        self.accept = accept
        # the tree evaluated at the EMPTY mask: True means a doc
        # matching no leaf at all is accepted (pure-negative trees like
        # 'NOT spam') — such docs have no posting rows and must come
        # from the forward table instead (ES/Lucene semantics)
        self.accept_empty = (accept is not None and bool(
            _eval_accept(accept, np.zeros(1, dtype=np.int64))[0]))

    @property
    def has_positive(self) -> bool:
        return any(l["weight"] > 0.0 for l in self.leaves)


def _eval_accept(node, m: np.ndarray) -> np.ndarray:
    """The acceptance tree over an int64 array of matched-leaf masks ->
    bool array. An empty AND (querystring's MatchAll sentinel) is TRUE
    and an empty OR is FALSE."""
    op = node[0]
    if op == "t":
        return (m & (1 << node[1])) != 0
    if op == "not":
        return ~_eval_accept(node[1], m)
    out = np.full(m.shape, op == "and")
    for c in node[1]:
        if op == "and":
            out &= _eval_accept(c, m)
        else:
            out |= _eval_accept(c, m)
    return out


def _compile_queries(queries: pd.DataFrame, cfg: IndexConfig, mode: str,
                     default_k: int) -> list[_QueryPlan]:
    """Compile every row of a (query_id, query_text[, k]) frame
    (_compile_query)."""
    return [_compile_query(int(q.query_id),
                           int(getattr(q, "k", default_k) or default_k),
                           q.query_text, cfg, mode)
            for q in queries.itertuples(index=False)]


def _compile_query(qid: int, k: int, text: str, cfg: IndexConfig,
                   mode: str) -> _QueryPlan:
    """Compile one query_string to slot-numbered leaves + acceptance.

    Implicit queries (no boolean operators / NOT / phrase) keep the
    legacy semantics: mode='or' accepts any matched term, mode='and'
    requires all; duplicate terms keep their qtf weight. Explicit
    queries evaluate the boolean tree over the matched-leaf bitmask;
    the score is the sum of matched POSITIVE leaves (NOT leaves weigh
    0 and only set their mask bit)."""
    from sparkbm25 import querystring as qs

    leaf_types = (qs.Term, qs.Phrase, qs.Prefix, qs.Fuzzy, qs.Wildcard,
                  qs.Regexp)

    def tree_of(n, slot_map):
        if isinstance(n, leaf_types):
            return ("t", slot_map[id(n)])
        if isinstance(n, qs.Not):
            return ("not", tree_of(n.child, slot_map))
        if isinstance(n, (qs.And, qs.Or)):
            return ("and" if isinstance(n, qs.And) else "or",
                    tuple(tree_of(c, slot_map) for c in n.children))
        raise TypeError(type(n))

    parsed = qs.parse_query_string(text, cfg.token_pattern)
    leaves: list[dict] = []
    if not parsed.explicit:
        counts = Counter(tokenize_one(parsed.text, cfg.token_pattern))
        for term, qtf in sorted(counts.items()):
            leaves.append({"slot": len(leaves), "kind": "term",
                           "terms": [term], "weight": float(qtf)})
        accept = (("and" if mode == "and" else "or",
                   tuple(("t", s) for s in range(len(leaves))))
                  if leaves else None)
    else:
        pos, neg = qs.collect_leaves(parsed.tree)
        slot_of: dict[int, int] = {}
        for leaf in list(pos) + list(neg):
            slot = len(leaves)
            slot_of[id(leaf)] = slot
            max_edits = 0
            slop = 0
            if isinstance(leaf, qs.Phrase):
                terms = list(leaf.terms)
                kind = "phrase"
                slop = int(leaf.slop)
            elif isinstance(leaf, qs.Prefix):
                # placeholder: the execution layer expands against
                # the term dictionary (all expansions share this
                # leaf's slot — Lucene scoring_boolean rewrite)
                terms = [leaf.prefix]
                kind = "prefix"
            elif isinstance(leaf, qs.Fuzzy):
                terms = [leaf.term]
                kind = "fuzzy"
                max_edits = leaf.max_edits
            elif isinstance(leaf, qs.Wildcard):
                # placeholder pattern: expands against the term
                # dictionary like prefix/fuzzy (scoring_boolean)
                terms = [leaf.pattern]
                kind = "wildcard"
            elif isinstance(leaf, qs.Regexp):
                # anchored full-term regexp — expands against the
                # dictionary like prefix/wildcard
                terms = [leaf.pattern]
                kind = "regexp"
            else:
                terms = [leaf.text]
                kind = "term"
            # clause boost multiplies the leaf's BM25 contribution
            # (Lucene ^boost); NOT leaves never score
            leaves.append({
                "slot": slot, "kind": kind, "terms": terms,
                "max_edits": max_edits, "slop": slop,
                "weight": (float(leaf.boost)
                           if any(leaf is p for p in pos) else 0.0),
            })
        if not pos and not (parsed.filters or parsed.neg_filters):
            raise ValueError(
                f"query {qid}: pure-negative queries need a positive "
                "clause or a structured predicate (Lucene semantics)")
        accept = (tree_of(parsed.tree, slot_of)
                  if parsed.tree is not None else None)
    return _QueryPlan(qid, k, parsed.filters, parsed.neg_filters, leaves,
                      accept)


def _levenshtein(a: str, b: str) -> int:
    """Plain unit-cost edit distance — the fuzzy leaf's matcher
    (_multiterm_matcher); must agree with DuckDB's levenshtein (used
    by the SQL oracle)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _sloppy_exists(lists: list[np.ndarray], tidxs: np.ndarray,
                   slop: int) -> bool:
    """Sloppy-phrase match test over one doc's per-slot position lists.

    lists[i] holds the ADJUSTED positions of phrase slot i (raw token
    position minus the slot index), so an exact phrase is all slots
    agreeing on one adjusted value. Semantics implemented: the doc
    matches iff one adjusted position can be chosen per slot with
      max(chosen) - min(chosen) <= slop
    and all RAW positions (adjusted + slot index) distinct — the same
    physical token never fills two slots (only possible when the
    phrase repeats a term). For TWO-term phrases this is exactly
    Lucene's sloppy-phrase edit-distance slop (the ES `"a b"~N`
    semantics: reversed adjacency needs N>=2); for longer phrases it
    is the span approximation — Lucene's m>2 matcher charges the SUM
    of per-term displacements in some arrangements where the span
    charges the max, so this accepts a superset at equal slop. The
    deviation is documented here and in querystring's grammar table.

    An optimal window's lower edge is always one of the adjusted
    values, so anchoring candidate windows at each value is complete.
    Per-doc occurrence counts are small (tf per term), so the scan is
    cheap; the distinct-assignment backtracking only does real work
    when the phrase repeats a term."""
    m = len(lists)
    if m == 1:
        return lists[0].size > 0
    allvals = np.unique(np.concatenate(lists))
    for lo in allvals.tolist():
        hi = lo + slop
        wins = []
        for arr in lists:
            w = arr[(arr >= lo) & (arr <= hi)]
            if w.size == 0:
                break
            wins.append(w)
        if len(wins) < m:
            continue
        if _distinct_assignment(wins, tidxs):
            return True
    return False


def _distinct_assignment(wins: list[np.ndarray], tidxs) -> bool:
    """System-of-distinct-representatives check on RAW positions: one
    raw position per slot, all distinct. Raw collisions across slots
    are only possible between slots holding the SAME term (a token
    position appears in a term's posting positions only if the token
    IS that term), so for repeat-free phrases this returns True
    immediately after the trivial size check."""
    raw = [set((np.asarray(w) + int(t)).tolist())
           for w, t in zip(wins, tidxs)]
    order = sorted(range(len(raw)), key=lambda i: len(raw[i]))
    used: set[int] = set()

    def bt(j: int) -> bool:
        if j == len(order):
            return True
        for p in raw[order[j]]:
            if p not in used:
                used.add(p)
                if bt(j + 1):
                    return True
                used.discard(p)
        return False

    return bt(0)


def _verify_phrase_sets(slot_csr: list, tidxs: np.ndarray,
                        slop: int, repeated: bool) -> np.ndarray:
    """Vectorized phrase verification over n candidate docs at once.

    slot_csr[s] = (flat, offs): CSR of phrase slot s's ADJUSTED
    positions (raw - tidxs[s]) across the SAME n docs in the SAME doc
    order — flat holds doc i's values in offs[i]:offs[i+1], ascending
    within each doc. Returns a bool keep-mask of length n.

    The per-doc loops this replaces (np.intersect1d / _sloppy_exists
    per candidate) cost ~20-30µs of numpy-call overhead per doc — at
    a stopword phrase's ~10^5-survivor intersection that was seconds
    of driver (and minutes of applyInPandas-per-group) time. Here
    every doc's values fold into ONE sorted int64 key stream per slot
    (doc_row * BIG + adjusted + OFF with BIG wide enough that windows
    of ±slop can never cross a row boundary), so:
      * exact (slop 0): iterative sorted-stream intersection via
        searchsorted — identical semantics to per-doc intersect1d,
        including repeated-term phrases (distinct raw tokens are
        implied by distinct adjusted values at slop 0);
      * slop>0, two DISTINCT terms (the dominant sloppy shape): a doc
        matches iff some |a0 - a1| <= slop — two searchsorted calls
        bound each slot-0 key's window in slot 1's stream; raw
        distinctness is free (different terms never share a token
        position);
      * slop>0, m>2 DISTINCT terms: a matching window's lower edge is
        always one of the adjusted values (the same anchoring
        argument _sloppy_exists documents), so every key is tested as
        a lower edge with one searchsorted per slot over all
        candidates at once — the span-approximation semantics,
        vectorized; raw distinctness is again free for distinct
        terms;
      * repeated-term sloppy phrases only: the documented
        _sloppy_exists scan per doc, unchanged — the
        distinct-assignment backtracking has no vector form and the
        shape is rare.
    """
    n = slot_csr[0][1].size - 1
    if n == 0:
        return np.zeros(0, dtype=bool)
    m = len(slot_csr)
    mask = np.zeros(n, dtype=bool)
    if slop == 0 or not repeated:
        maxv = 0
        for flat, _ in slot_csr:
            if flat.size:
                maxv = max(maxv, int(flat.max()))
        off = m  # adjusted values reach down to -(m-1)
        big = maxv + off + slop + 2
        keys = []
        for flat, offs in slot_csr:
            if flat.size == 0:
                return mask
            rows = np.repeat(np.arange(n, dtype=np.int64), np.diff(offs))
            keys.append(rows * big + (flat + off))
        if slop == 0:
            cur = keys[0]
            for s in range(1, m):
                ks = keys[s]
                pos = np.searchsorted(ks, cur)
                np.minimum(pos, ks.size - 1, out=pos)
                cur = cur[ks[pos] == cur]
                if cur.size == 0:
                    return mask
            mask[cur // big] = True
            return mask
        if m == 2:
            k0, k1 = keys
            lo = np.searchsorted(k1, k0 - slop, side="left")
            hi = np.searchsorted(k1, k0 + slop, side="right")
            mask[k0[hi > lo] // big] = True
            return mask
        cand = np.concatenate(keys)
        ok = np.ones(cand.size, dtype=bool)
        for ks in keys:
            pos = np.searchsorted(ks, cand, side="left")
            np.minimum(pos, ks.size - 1, out=pos)
            v = ks[pos]
            # pos clamped past the end shows up as v < cand -> fails.
            # big > maxv + off + slop + 1 keeps cand + slop inside the
            # candidate's own row band, so a hit can't leak across docs
            ok &= (v >= cand) & (v <= cand + slop)
        mask[cand[ok] // big] = True
        return mask
    for i in range(n):
        lists = [flat[offs[i]:offs[i + 1]] for flat, offs in slot_csr]
        mask[i] = _sloppy_exists(lists, tidxs, slop)
    return mask


def _has_toplevel_alt(pat: str, i: int = 0) -> bool:
    """True when the pattern has a `|` OUTSIDE every group / class /
    quoted run from position i on — a top-level alternation means NO
    leading literal is required of every match, so any banding prefix
    collected before it must be voided. Conservative on malformed
    syntax (returns True -> full scan, always safe)."""
    n = len(pat)
    depth = 0
    while i < n:
        c = pat[i]
        if c == "\\":
            i += 2
            continue
        if c == '"':
            j = pat.find('"', i + 1)
            if j < 0:
                return True
            i = j + 1
            continue
        if c == "[":
            i += 1
            if i < n and pat[i] == "^":
                i += 1
            if i < n and pat[i] == "]":
                i += 1
            while i < n and pat[i] != "]":
                i += 2 if pat[i] == "\\" else 1
            i += 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif c == "|" and depth == 0:
            return True
        i += 1
    return False


def _regexp_literal_prefix(pat: str) -> str:
    """The longest leading LITERAL run of a Lucene-dialect regexp —
    the prefix every match must start with, used to band the
    dictionary scan exactly like a wildcard's literal head (Lucene
    extracts the same prefix from its compiled automaton).
    Conservative: stops at the first metacharacter, and a literal
    unit immediately followed by a quantifier (`ab*` — the `b` is
    optional) is not part of the prefix. Walks THROUGH `\\X` escapes
    and `"..."` quoted runs (both are literal units in the Lucene
    dialect, round 5), and a TOP-LEVEL `|` anywhere voids the whole
    head — `/ab|cd/` requires no leading `ab` of its `cd` branch
    (late round 5: the head was previously kept, so the band
    silently dropped every match of the right alternative)."""
    out = []
    i = 0
    n = len(pat)
    # Lucene-dialect metacharacters: the regex set plus the Lucene
    # operators `@ # < > ~ &` — stopping at any of them keeps the
    # band a true lower bound on every match
    metas = set(".?*+()[]{}|^$@#<>~&")
    while i < n:
        ch = pat[i]
        if ch == "\\" and i + 1 < n:
            if i + 2 < n and pat[i + 2] in "*?+{":
                break                      # escaped literal quantified
            out.append(pat[i + 1])
            i += 2
            continue
        if ch == '"':
            j = pat.find('"', i + 1)
            if j < 0:
                break                      # malformed: stop collecting
            if j + 1 < n and pat[j + 1] in "*?+{":
                break                      # whole quoted run quantified
            out.append(pat[i + 1:j])
            i = j + 1
            continue
        if ch in metas or ch == "\\":
            break
        if i + 1 < n and pat[i + 1] in "*?+{":
            break
        out.append(ch)
        i += 1
    if _has_toplevel_alt(pat, i):
        return ""
    return "".join(out)


def _prefix_upper(p: str) -> str | None:
    """Smallest string greater than every string starting with `p`:
    increment the last codepoint, carrying over maximal ones. None
    means no finite upper bound exists (all-U+10FFFF prefix)."""
    for i in range(len(p) - 1, -1, -1):
        o = ord(p[i])
        if o < 0x10FFFF:
            return p[:i] + chr(o + 1)
    return None


def _multiterm_matcher(kind: str, payload):
    """One multi-term leaf -> (band, match). `payload` is the prefix,
    the wildcard / regexp pattern, or (term, max_edits) for fuzzy.

    `match(term)` is the exact test; the band (lo, hi, min_len,
    max_len) bounds every term it accepts — lo <= term < hi (an empty
    lo / None hi leaves that side open) and min_len <= len(term) <=
    max_len (None = open) — so a term-sorted dictionary read filtered
    by the band (_band_filter) prunes row groups before any term is
    tested. The expansion and the highlighter (highlight._leaf_matchers)
    both match through here, so a token is highlighted exactly when it
    is in its leaf's expansion."""
    if kind == "prefix":
        return ((payload, _prefix_upper(payload), len(payload), None),
                lambda t: t.startswith(payload))
    if kind == "fuzzy":
        # edit distance is never under the length difference; d=0
        # degenerates to an equality probe, range-prunable like a prefix
        q, d = payload
        head = q if d == 0 else ""
        return ((head, _prefix_upper(head), len(q) - d, len(q) + d),
                lambda t: (abs(len(t) - len(q)) <= d
                           and _levenshtein(t, q) <= d))
    if kind == "wildcard":
        # Lucene wildcard: `*` any run, `?` exactly one char, the rest
        # literal, full-term anchored; banded by its literal head and
        # length (exact for ?-only patterns)
        head = re.match(r"[^*?]*", payload).group(0)
        n = len(payload.replace("*", ""))
        rx = re.compile("".join(
            ".*" if c == "*" else "." if c == "?" else re.escape(c)
            for c in payload), re.S)
        return ((head, _prefix_upper(head), n,
                 None if "*" in payload else n), rx.fullmatch)
    if kind == "regexp":
        # Lucene-dialect regexp, anchored full-term match, banded by
        # its literal head when it has one
        head = _regexp_literal_prefix(payload)
        return ((head, _prefix_upper(head), 0, None),
                re.compile(to_portable(payload)).fullmatch)
    raise ValueError(f"not a multi-term leaf kind: {kind}")


def _band_filter(band):
    """A matcher band as a pyarrow filter over the `term` column: its
    term range prunes row groups of a term-sorted dictionary by their
    min/max statistics."""
    import pyarrow.compute as pc

    lo, hi, min_len, max_len = band
    term = pc.field("term")
    length = pc.utf8_length(term)
    out = length >= min_len
    if max_len is not None:
        out = out & (length <= max_len)
    if lo:
        out = out & (term >= lo)
    if hi is not None:
        out = out & (term < hi)
    return out


def _expand_multiterm(reader: localio.IndexReader, leaves,
                      max_expansions: int = 128) -> dict[tuple, list[str]]:
    """Expand multi-term leaves [(kind, payload)] (prefix / fuzzy /
    wildcard / regexp, payload as in _multiterm_matcher) against the
    term dictionary on the driver (Lucene multi-term rewrite):
    {(kind, payload): sorted matching terms}.

    No bucket pruning is possible (crc32 routing hashes whole terms),
    which matches Lucene: multi-term queries walk the term dict — but
    the walk is BANDED. Each leaf reads reader.terms() filtered by its
    matcher's band, so a prefix (or a wildcard / regexp literal head)
    reads only the row groups of the term-sorted dictionary that hold
    its range — the columnar analog of Lucene's FST prefix walk — and
    a fuzzy leaf tests only terms within d of its length. A leading
    wildcard or a regexp without a literal head reads the whole
    dictionary, the cost Lucene documents for such patterns.

    Memory bound: the read streams record batches and the guard raises
    at the (max_expansions+1)-th DISTINCT match, so the driver holds
    one record batch plus at most max_expansions+1 terms per leaf,
    however large the vocabulary (a term repeats across generations,
    and across salts in the segment fallback, hence distinct)."""
    out: dict[tuple, list[str]] = {}
    for kind, payload in leaves:
        if (kind, payload) in out:
            continue
        band, match = _multiterm_matcher(kind, payload)
        hits: set[str] = set()
        for batch in reader.terms(_band_filter(band)):
            for t in batch.column(0).to_pylist():
                if t not in hits and match(t):
                    hits.add(t)
                    if len(hits) > max_expansions:
                        raise ValueError(
                            f"multi-term leaf {kind} {payload!r} expands "
                            f"to more than max_expansions={max_expansions}"
                            " terms; narrow it")
        out[(kind, payload)] = sorted(hits)
    return out


def _union_sum(alldocs: np.ndarray, allsc: np.ndarray,
               n_docs: int) -> tuple[np.ndarray, np.ndarray]:
    """Union-sum concatenated (doc, contribution) streams into
    (unique docs, per-doc score sums) — the tail of the Searcher's
    exhaustive dense OR route (_score_all). Dense
    bincount+flatnonzero when the corpus is small enough relative to
    the stream — but flatnonzero(dense) == the matched-doc set only
    when every contribution is strictly positive (BM25 contribs are,
    unless a pathological ^0 boost zeroes one — the min() check
    catches exactly that); otherwise the sparse unique + add.at
    reduction. Module-level (n_docs passed in) so duck-typed test
    stubs of the driver algorithms need no extra surface."""
    if (n_docs <= max(8 * alldocs.size, 1 << 20)
            and float(allsc.min(initial=1.0)) > 0.0):
        dense = np.bincount(alldocs, weights=allsc, minlength=n_docs)
        uniq = np.flatnonzero(dense)
        return uniq, dense[uniq]
    uniq, inv = np.unique(alldocs, return_inverse=True)
    sums = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(sums, inv, allsc)
    return uniq, sums


# Doc-ord ranges of search_batch (one per core, more once a range would
# exceed this many docs) and of the Searcher's kernel route (as few as
# fit). The width sizes _score_range's dense arrays, so it bounds their
# memory per task and on the driver alike: score float64 + matched-leaf
# mask int64 + one bool per predicate, 17 B x 2^20 = 17 MB per range.
_MAX_RANGE_DOCS = 1 << 20


def _range_layout(n_docs: int, parallelism: int) -> tuple[int, int]:
    """(number of ranges, range width) of search_batch's doc-ord split:
    range r holds doc_ords [r*width, (r+1)*width)."""
    nr = max(1, min(n_docs, max(parallelism, -(-n_docs // _MAX_RANGE_DOCS))))
    return nr, -(-n_docs // nr)


def _block_ends(vals, loff: np.ndarray) -> np.ndarray:
    """Last doc_ord (an upper bound for all but a row's last block) of
    every block of a flattened segment-row block list: block i ends
    before the next block's first_doc; a row's last block ends at its
    first_doc plus the sum of its gaps, decoded in one varint pass over
    the last blocks only."""
    from sparkbm25.codec import varint_decode

    fd = vals.field("first_doc").to_numpy(zero_copy_only=False)
    ends = np.empty(fd.size, dtype=np.int64)
    ends[:-1] = fd[1:] - 1
    last = loff[1:][loff[1:] > loff[:-1]] - 1
    coff, cdata = _binary_child(vals.field("gaps"))
    gaps = varint_decode(
        _gather_ranges(cdata, coff[last], coff[last + 1] - coff[last]),
        dtype=np.int64)
    cnt = vals.field("n").to_numpy(zero_copy_only=False)[last] - 1
    cs = np.zeros(gaps.size + 1, dtype=np.int64)
    np.cumsum(gaps, out=cs[1:])
    bnd = np.zeros(last.size + 1, dtype=np.int64)
    np.cumsum(cnt, out=bnd[1:])
    ends[last] = fd[last] + cs[bnd[1:]] - cs[bnd[:-1]]
    return ends


def _cut_at_ranges(width: int):
    """Scan-side Arrow step of search_batch: cut each (term, blocks)
    segment row's block list at the doc-ord range boundaries ->
    (range_id, term, blocks). A block spanning a boundary goes to every
    range it overlaps; the kernel keeps each range's own docs."""

    def cut(batches):
        import pyarrow as pa

        for rb in batches:
            blocks = rb.column(rb.schema.get_field_index("blocks"))
            loff = np.frombuffer(blocks.buffers()[1], dtype=np.int32,
                                 count=len(blocks) + 1,
                                 offset=blocks.offset * 4).astype(np.int64)
            loff = loff - loff[0]
            if loff[-1] == 0:
                continue
            vals = blocks.flatten()
            fd = vals.field("first_doc").to_numpy(zero_copy_only=False)
            r0 = fd // width
            nrep = _block_ends(vals, loff) // width - r0 + 1
            total = int(nrep.sum())
            blk = np.repeat(np.arange(fd.size), nrep)
            rid = (np.repeat(r0 - np.cumsum(nrep) + nrep, nrep)
                   + np.arange(total))
            row = np.repeat(np.arange(len(blocks)), np.diff(loff))[blk]
            starts = np.flatnonzero(np.r_[True, (row[1:] != row[:-1])
                                          | (rid[1:] != rid[:-1])])
            yield pa.RecordBatch.from_arrays(
                [pa.array(rid[starts], type=pa.int32()),
                 rb.column(rb.schema.get_field_index("term")).take(
                     pa.array(row[starts])),
                 pa.ListArray.from_arrays(
                     pa.array(np.r_[starts, total], type=pa.int32()),
                     vals.take(pa.array(blk)))],
                names=["range_id", "term", "blocks"])

    return cut


def _score_range(qplans: list[dict], lo: int, width: int,
                 postings: dict[str, "_TermPostings"], idfs: dict[str, float],
                 fmask, k1: float, b: float, avgdl: float):
    """Score the whole batch over the doc-ord range [lo, lo + width) ->
    (query_id, doc_ord, score) arrays holding each query's exact top k
    of the range. `postings` maps each batch term to decoded postings
    covering at least the range (search_batch's tasks decode the
    range's cut blocks, the Searcher passes its cached whole lists);
    fmask(bit) is the range's bool array of docs that pass structured
    predicate `bit`. Each range is scored independently, so the
    callers merge ranges with _merge_topk.

    Memory: two dense arrays of range width (score float64, matched-leaf
    mask int64) for the query being scored, plus the predicate masks.

    Scores are bit-identical to the reference's term-order sum: a
    doc's contributions add from 0.0 in sorted term order (several
    leaves on one term in ascending score order), each contribution
    the expression `weight * idf * (k1 + 1.0) * tfs / denom`, and a
    verified phrase adds after every term, in slot order."""
    hi = lo + width
    terms: dict[str, tuple] = {}
    for t, tp in postings.items():
        a, e = np.searchsorted(tp.all_docs, [lo, hi])
        if e > a:
            tfs = tp.all_tfs[a:e]
            denom = tfs + k1 * (1.0 - b + b * (tp.all_dls[a:e] / avgdl))
            terms[t] = (tp.all_docs[a:e] - lo, tfs, denom, idfs[t], tp, a)
    out_q, out_d, out_s = [], [], []
    for qp in qplans:
        if qp["leaves"]:
            score = np.zeros(width, dtype=np.float64)
            mask = np.zeros(width, dtype=np.int64)
            for t, refs in qp["groups"]:
                got = terms.get(t)
                if got is None:
                    continue
                d, tfs, denom, idf = got[:4]
                for _w, slot in refs:
                    mask[d] |= 1 << slot
                ws = [w * idf * (k1 + 1.0) * tfs / denom
                      for w, _slot in refs if w != 0.0]
                if len(ws) > 1:
                    ws = np.sort(np.stack(ws), axis=0)
                for w in ws:
                    score[d] += w
            for slot, weight, pterms, slop in qp["phrases"]:
                hit = _phrase_hits([terms.get(t) for t in pterms],
                                   weight, slop, k1)
                if hit is not None:
                    score[hit[0]] += hit[1]
                    mask[hit[0]] |= 1 << slot
        if qp["const"] or qp["accept_empty"]:
            cand = np.flatnonzero(fmask(qp["fbit"]))
        else:
            cand = np.flatnonzero(mask)
            if qp["fbit"] is not None:
                cand = cand[fmask(qp["fbit"])[cand]]
        if qp["accept"] is not None:
            cand = cand[_eval_accept(qp["accept"], mask[cand])]
        if qp["const"]:
            # constant score 1.0 (filter context): first k docs
            top_d = cand[:qp["k"]] + lo
            top_s = np.ones(top_d.size)
        else:
            top = _exact_topk(cand + lo, score[cand], qp["k"])
            top_s = np.array([s for s, _d in top], dtype=np.float64)
            top_d = np.array([d for _s, d in top], dtype=np.int64)
        out_q.append(np.full(top_d.size, qp["qid"], dtype=np.int32))
        out_d.append(top_d)
        out_s.append(top_s)
    return (np.concatenate(out_q), np.concatenate(out_d),
            np.concatenate(out_s))


def _range_kernel(qplans: list[dict], idfs: dict[str, float], width: int,
                  nwords: int, k1: float, b: float, avgdl: float):
    """mapInArrow kernel of search_batch: every row of one doc-ord range
    (the range's cut blocks of every batch term, plus forward rows
    (doc_ord, fbits) when the batch has structured predicates) meets in
    one task, which decodes the blocks and scores the range with
    _score_range.

    Per-task memory: the partition's compressed rows, the decoded
    postings of ONE range at a time (its blocks of every batch term,
    boundary blocks whole) and _score_range's dense arrays."""

    def run(batches):
        import pyarrow as pa

        batches = [rb for rb in batches if rb.num_rows]
        if not batches:
            return
        tb = pa.Table.from_batches(batches)
        rid = tb.column("range_id").to_numpy()
        is_post = tb.column("term").is_valid().to_numpy(zero_copy_only=False)
        for r in np.unique(rid).tolist():
            lo = r * width
            rows = np.flatnonzero(rid == r)
            fwd = tb.take(pa.array(rows[~is_post[rows]]))
            fdoc = fwd.column("doc_ord").to_numpy() - lo
            fwords = (fwd.column("fbits").combine_chunks().flatten()
                      .to_numpy(zero_copy_only=False)
                      .reshape(fdoc.size, nwords))
            post = tb.take(pa.array(rows[is_post[rows]]))
            postings = {}
            if post.num_rows:
                postings, _ = _decode_postings(pa.table({
                    "term": post.column("term"),
                    "n_docs": np.zeros(post.num_rows, np.int64),
                    "blocks": post.column("blocks")}))
            fcache: dict[int, np.ndarray] = {}

            def fmask(bit):
                if bit not in fcache:
                    on = (fwords[:, bit // 63] >> (bit % 63)) & 1
                    m = np.zeros(width, dtype=bool)
                    m[fdoc[on.astype(bool)]] = True
                    fcache[bit] = m
                return fcache[bit]

            q, d, sc = _score_range(qplans, lo, width, postings, idfs, fmask,
                                    k1, b, avgdl)
            yield pa.RecordBatch.from_arrays(
                [pa.array(q, type=pa.int32()), pa.array(d, type=pa.int64()),
                 pa.array(sc, type=pa.float64())],
                names=["query_id", "doc_ord", "score"])

    return run


def _phrase_hits(parts: list, weight: float, slop: int, k1: float):
    """(range-relative docs, phrase scores) of one phrase leaf over a
    range, or None. parts[i] is phrase term i's range entry (docs,
    tfs, denom, idf, postings, offset) or None when the term has no
    posting in the range. Candidates are the docs holding every
    term; positions verify through _verify_phrase_sets and the score
    is the per-term sum in phrase order."""
    if any(p is None for p in parts):
        return None
    surv = parts[0][0]
    for p in parts[1:]:
        surv = np.intersect1d(surv, p[0], assume_unique=True)
    if surv.size == 0:
        return None
    m = len(parts)
    slot_csr, ws = [], []
    for i, (d, tfs, denom, idf, tp, a) in enumerate(parts):
        j = np.searchsorted(d, surv)
        flat, offs = tp.positions_csr(a + j)
        slot_csr.append((flat - i, offs))
        ws.append(weight * idf * (k1 + 1.0) * tfs[j] / denom[j])
    # the repeated-TERM case matters for the sloppy kernel: two slots of
    # the same term share raw positions, and one token must not fill
    # both ('"foo bar foo"~2'). Identical raw streams <=> same term: one
    # doc position holds one token.
    repeated = False
    if slop > 0 and m >= 2:
        raws = [slot_csr[s][0] + s for s in range(m)]
        repeated = any(
            raws[i].size == raws[j].size
            and bool(np.array_equal(raws[i], raws[j]))
            for i in range(m) for j in range(i + 1, m))
    keep = _verify_phrase_sets(slot_csr, np.arange(m), slop, repeated)
    if not keep.any():
        return None
    return surv[keep], np.stack(ws).sum(axis=0)[keep]


def _kernel_plans(plans: list[_QueryPlan], pred_bit: dict) -> list[dict]:
    """The per-query data the range kernel needs, as plain picklable
    values: term leaves grouped by term in sorted order (the summation
    order), phrase leaves in slot order, acceptance, filter bit. The
    matched-leaf mask is one int64, hence at most 62 leaves a query."""
    out = []
    for p in plans:
        if not p.leaves and not (p.filters or p.neg_filters):
            continue
        if len(p.leaves) > 62:
            raise ValueError(f"query {p.qid}: more than 62 leaves")
        groups: dict[str, list] = {}
        phrases = []
        for l in p.leaves:
            if l["kind"] == "phrase":
                phrases.append((l["slot"], l["weight"], list(l["terms"]),
                                int(l["slop"])))
                continue
            for t in l["terms"]:
                groups.setdefault(t, []).append((l["weight"], l["slot"]))
        out.append({
            "qid": int(p.qid), "k": int(p.k), "leaves": bool(p.leaves),
            "const": not p.has_positive, "accept": p.accept,
            "accept_empty": p.accept_empty,
            "fbit": pred_bit.get(_pred_key(p)),
            "groups": sorted(groups.items()), "phrases": phrases})
    return out


def _pred_key(p: _QueryPlan) -> str:
    return repr((p.filters, p.neg_filters))


def _needs_pred(p: _QueryPlan) -> bool:
    """Whether the query reads its structured predicate's doc set:
    filtered queries, constant-score queries and trees that accept a
    doc matching no leaf (their candidates are every doc the predicate
    passes, TRUE when there is none)."""
    return bool(p.filters or p.neg_filters) or (
        bool(p.leaves) and (not p.has_positive or p.accept_empty))


def _idf(n_docs: int, df: int) -> float:
    return float(np.log(1.0 + (float(n_docs) - df + 0.5) / (df + 0.5)))


def _idf_map(reader: localio.IndexReader, terms: list[str],
             n_docs: int) -> dict[str, float]:
    """idf per batch term from the summed per-row n_docs: one
    column-pruned pyarrow read on the driver (the ES-coordinator shape:
    term stats come from shard metadata, not from a cluster job)."""
    return {t: _idf(n_docs, df) for t, df in reader.dfs(terms).items()}


_MULTI_KINDS = ("prefix", "fuzzy", "wildcard", "regexp")


def _expand_leaves(plans: list[_QueryPlan], expand) -> None:
    """Replace every multi-term leaf's placeholder term with its
    dictionary expansion, `expand([(kind, payload)])` -> {(kind,
    payload): sorted terms} (payload as in _multiterm_matcher). Every
    expansion shares its leaf's slot, so the boolean mask and the
    disjunction-sum score fall out of the kernel unchanged
    (scoring_boolean rewrite)."""
    multi = [l for p in plans for l in p.leaves if l["kind"] in _MULTI_KINDS]
    keys = [(l["kind"], (l["terms"][0], l["max_edits"])
             if l["kind"] == "fuzzy" else l["terms"][0]) for l in multi]
    expansions = expand(keys)
    for l, key in zip(multi, keys):
        l["terms"] = expansions[key]


def _merge_topk(q: np.ndarray, d: np.ndarray, s: np.ndarray,
                kbyq: dict[int, int]):
    """Exact top-k merge of per-range top-k rows (<= k per query and
    range): one lexsort (query asc, score desc, doc asc), then the
    first k of each query -> (query_id, doc_ord, score, rank)."""
    order = np.lexsort((d, -s, q))
    q, d, s = q[order], d[order], s[order]
    starts = np.flatnonzero(np.r_[True, q[1:] != q[:-1]])
    rank = (np.arange(q.size, dtype=np.int64)
            - np.repeat(starts, np.diff(np.r_[starts, q.size])) + 1)
    keep = rank <= np.asarray([kbyq[int(x)] for x in q], dtype=np.int64)
    return q[keep], d[keep], s[keep], rank[keep].astype(np.int32)


def _flat_mode(p: _QueryPlan) -> str | None:
    """'or' when an unfiltered plan accepts one OR (or a lone leaf)
    over positive term / multi-term leaves, 'and' for one AND over term
    leaves: the flat bags the Searcher's term-at-a-time routes answer.
    None for every other plan (the kernel route)."""
    if p.filters or p.neg_filters or p.accept is None:
        return None
    op, kids = ("or", (p.accept,)) if p.accept[0] == "t" else p.accept
    if op not in ("or", "and") or not kids or any(c[0] != "t" for c in kids):
        return None
    kinds = ("term",) + (_MULTI_KINDS if op == "or" else ())
    return op if all(l["kind"] in kinds for l in p.leaves) else None


def _check_phrases(plans: list[_QueryPlan], cfg: IndexConfig) -> bool:
    """Whether any plan has a phrase leaf; ValueError when the index
    stores no positions to verify it."""
    any_phrase = any(l["kind"] == "phrase" for p in plans for l in p.leaves)
    if any_phrase and not cfg.store_positions:
        raise ValueError(
            "phrase queries need an index built with "
            "IndexConfig(store_positions=True)")
    return any_phrase


def _ranged_topk(spark: SparkSession, index_dir: str,
                 reader: localio.IndexReader, plans: list[_QueryPlan],
                 cfg: IndexConfig, n_docs: int,
                 avgdl: float) -> pd.DataFrame:
    """Per-range exact top-k rows (query_id, doc_ord, score) of the
    whole batch, from ONE Spark job: the pruned segment scan of the
    batch terms, cut at doc-ord range boundaries, and (when the batch
    has structured predicates or constant-score queries) the forward
    rows (doc_ord, fbits) — one bit per distinct predicate, evaluated
    by Catalyst — are unioned, partitioned by range and scored by
    _range_kernel."""
    from sparkbm25.querystring import filter_condition

    any_phrase = _check_phrases(plans, cfg)
    nr, width = _range_layout(n_docs, spark.sparkContext.defaultParallelism)
    blocks_type = segment_schema(any_phrase).split("blocks ", 1)[1]
    legs = []

    pred_bit: dict[str, int] = {}
    conds = []
    for p in plans:
        if _needs_pred(p) and _pred_key(p) not in pred_bit:
            pred_bit[_pred_key(p)] = len(conds)
            conds.append(filter_condition(p.filters, p.neg_filters))
    if conds:
        docs = catalog.read_docs(spark, index_dir)
        missing = {c for p in plans
                   for c in qs_filter_columns(p.filters, p.neg_filters)
                   if c not in docs.columns}
        if missing:
            raise ValueError(
                "query_string filter fields not in index forward table: "
                f"{missing}")
        words = []
        for lo in range(0, len(conds), 63):
            w = F.lit(0).cast("bigint")
            for j, c in enumerate(conds[lo:lo + 63]):
                w = w.bitwiseOR(F.when(c, F.lit(1 << j).cast("bigint"))
                                .otherwise(F.lit(0).cast("bigint")))
            words.append(w.alias(f"_w{len(words)}"))
        fwd = docs.select("doc_ord", *words)
        anyset = None
        for i in range(len(words)):
            c = F.col(f"_w{i}") != 0
            anyset = c if anyset is None else (anyset | c)
        legs.append(fwd.where(anyset).select(
            F.expr(f"doc_ord div {width}").cast("int").alias("range_id"),
            F.lit(None).cast("string").alias("term"),
            F.lit(None).cast(blocks_type).alias("blocks"),
            "doc_ord",
            F.array(*[F.col(f"_w{i}") for i in range(len(words))])
            .alias("fbits")))

    terms = sorted({t for p in plans for l in p.leaves for t in l["terms"]})
    idfs: dict[str, float] = {}
    if terms:
        # client-side routing: term -> bucket is a pure hash (ES
        # _routing analog) — partition pruning + term predicate pushdown
        buckets = sorted({cfg.term_bucket_of(t) for t in terms})
        pruned_segs = (
            _read_segments(spark, index_dir, any_phrase)
            .where(F.col("term_bucket").isin(buckets))
            .where(F.col("term").isin(terms)))
        idfs = _idf_map(reader, terms, n_docs)
        legs.append(
            pruned_segs.select("term", "blocks")
            .mapInArrow(_cut_at_ranges(width),
                        schema=f"range_id int, term string, "
                               f"blocks {blocks_type}")
            .select("range_id", "term", "blocks",
                    F.lit(None).cast("bigint").alias("doc_ord"),
                    F.lit(None).cast("array<bigint>").alias("fbits")))
    if not legs:
        return pd.DataFrame({"query_id": pd.Series(dtype="int32"),
                             "doc_ord": pd.Series(dtype="int64"),
                             "score": pd.Series(dtype="float64")})
    rows = legs[0] if len(legs) == 1 else legs[0].unionByName(legs[1])
    return (rows.repartitionById(nr, "range_id")
            .mapInArrow(_range_kernel(_kernel_plans(plans, pred_bit), idfs,
                                      width, -(-len(conds) // 63), cfg.k1,
                                      cfg.b, avgdl),
                        schema="query_id int, doc_ord bigint, score double")
            .toPandas())


def search_batch(
    spark: SparkSession,
    index_dir: str,
    queries: pd.DataFrame,
    k: int = 10,
    mode: str = "or",
) -> DataFrame:
    """Top-k for a whole query set; returns
    (query_id, rank, conv_id, turn_idx, score).

    query_text may use the full query_string grammar (OR / AND / NOT /
    "phrases" / field:value — querystring.py). Every query compiles to
    slot-numbered leaves; matched leaves per doc aggregate into a
    bitmask, and the boolean tree evaluates over that mask (legacy
    implicit queries compile to OR / AND of every leaf). Scores are the
    sum of matched positive leaves; NOT leaves weigh 0. Phrase leaves
    verify positions per doc-ord range. Filter-only and negative-only
    queries score a constant 1.0 and rank by doc order."""
    pdf = _search_batch_pdf(spark, index_dir, queries, k, mode)
    return spark.createDataFrame(pdf if len(pdf) else [],
                                 "query_id int, rank int, conv_id string, "
                                 "turn_idx int, score double")


def _search_batch_pdf(spark: SparkSession, index_dir: str,
                      queries: pd.DataFrame, k: int,
                      mode: str) -> pd.DataFrame:
    """search_batch's rows as the pandas frame its driver merge
    resolves, before any Spark wrapping: callers that want pandas skip
    a createDataFrame + toPandas round trip."""
    n_docs, avgdl, cfg, gens = _load_stats(index_dir)
    plans = _compile_queries(queries, cfg, mode, k)
    empty = pd.DataFrame({
        "query_id": np.empty(0, np.int32), "rank": np.empty(0, np.int32),
        "conv_id": np.empty(0, object), "turn_idx": np.empty(0, np.int32),
        "score": np.empty(0, np.float64)})
    if n_docs == 0:
        return empty
    # the one driver reader of this call: idf map, multi-term
    # expansion and the final resolve
    reader = localio.IndexReader([g["dir"] for g in gens], cfg)
    # multi-term leaves expand against the term dictionary before the
    # posting scan
    _expand_leaves(plans, lambda keys: _expand_multiterm(reader, keys))
    pdf = _ranged_topk(spark, index_dir, reader, plans, cfg, n_docs, avgdl)
    if not len(pdf):
        return empty
    q, d, s, rank = _merge_topk(pdf["query_id"].to_numpy(),
                                pdf["doc_ord"].to_numpy(),
                                pdf["score"].to_numpy(),
                                {int(p.qid): int(p.k) for p in plans})
    topk_pdf = pd.DataFrame({"query_id": q, "doc_ord": d, "score": s,
                             "rank": rank})
    # resolve doc_ord -> (conv_id, turn_idx) through the reader: the
    # top-k key set prunes doc_block directories and pushes doc_ord
    # into the row-group statistics (analog of ES point GET by
    # id+routing, es_translator.py:216-227)
    fwd = reader.docs(sorted(topk_pdf["doc_ord"].unique().tolist()),
                      ["doc_ord", "conv_id", "turn_idx"]).to_pandas()
    out = (topk_pdf.merge(fwd, on="doc_ord")
           .sort_values(["query_id", "rank"])
           .astype({"turn_idx": "int32"}))
    return out[["query_id", "rank", "conv_id", "turn_idx", "score"]]


# ---------------------------------------------------------------------------
# Interactive driver path: decoded postings, MaxScore / dense / AND
# ---------------------------------------------------------------------------


def _gather_ranges(data: np.ndarray, starts: np.ndarray,
                   lens: np.ndarray) -> np.ndarray:
    """Concatenate data[starts[i]:starts[i]+lens[i]] for all i into one
    uint8 array — a single vectorized gather (no per-range Python)."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint8)
    out_off = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=out_off[1:])
    idx = (np.arange(total, dtype=np.int64)
           + np.repeat(starts - out_off[:-1], lens))
    return data[idx]


def _binary_child(arr) -> tuple[np.ndarray, np.ndarray]:
    """(offsets int64, data uint8) of a pyarrow BinaryArray,
    slice-offset aware."""
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32, count=len(arr) + 1,
                        offset=arr.offset * 4).astype(np.int64)
    data = (np.frombuffer(bufs[2], dtype=np.uint8)
            if bufs[2] is not None else np.empty(0, dtype=np.uint8))
    return off, data


def _term_streams_from_arrow(tb) -> dict[str, list]:
    """Per-term block metadata + concatenated varint streams straight
    from a (term, n_docs, blocks) Arrow table — the one decoder of the
    Searcher's index-reader fetch and the batch range kernel, with no
    per-block Python objects. A term's rows may come
    from several generations; its blocks are ordered by first_doc
    (doc_ord ranges are disjoint across generations and salts).
    Returns {term: [n_docs_sum, firsts, ns, {stream: bytes}]}."""
    import pyarrow as pa

    if tb.num_rows == 0:
        return {}
    terms = tb.column("term").to_pylist()
    n_docs = tb.column("n_docs").to_pylist()
    blocks = tb.column("blocks")
    if isinstance(blocks, pa.ChunkedArray):
        blocks = (blocks.combine_chunks() if blocks.num_chunks != 1
                  else blocks.chunk(0))
    loff = np.frombuffer(blocks.buffers()[1], dtype=np.int32,
                         count=len(blocks) + 1,
                         offset=blocks.offset * 4).astype(np.int64)
    # flatten() returns the values trimmed to the logical slice, so
    # rebase the list offsets to it (slice-offset safe)
    vals = blocks.flatten()
    loff = loff - loff[0]
    fd = vals.field("first_doc").to_numpy(zero_copy_only=False)
    nn = vals.field("n").to_numpy(zero_copy_only=False)
    stream_names = ["gaps", "tfs", "dls"]
    if "pos" in (f.name for f in vals.type):
        stream_names.append("pos")
    childs = {nm: _binary_child(vals.field(nm)) for nm in stream_names}
    rows_by_term: dict[str, list[int]] = {}
    for i, t in enumerate(terms):
        rows_by_term.setdefault(t, []).append(i)
    out: dict[str, list] = {}
    for t, rows in rows_by_term.items():
        idx = np.concatenate([np.arange(loff[i], loff[i + 1])
                              for i in rows])
        sidx = idx[np.argsort(fd[idx], kind="stable")]
        streams = {}
        for nm, (coff, cdata) in childs.items():
            streams[nm] = _gather_ranges(cdata, coff[sidx],
                                         coff[sidx + 1] - coff[sidx])
        out[t] = [sum(int(n_docs[i]) for i in rows),
                  fd[sidx], nn[sidx], streams]
    return out


def _decode_postings(tb) -> tuple[dict[str, "_TermPostings"], dict[str, int]]:
    """(decoded postings, df) per term of a (term, n_docs, blocks)
    Arrow table."""
    bundles = _term_streams_from_arrow(tb)
    return ({t: _TermPostings.from_streams(firsts, ns, streams)
             for t, (_nd, firsts, ns, streams) in bundles.items()},
            {t: b[0] for t, b in bundles.items()})


_INF_DOC = 2 ** 62


def _exact_topk(cand: np.ndarray, scores: np.ndarray,
                k: int) -> list[tuple[float, int]]:
    """The k best [(score, doc)] under (score desc, doc asc), in that
    order: threshold at the kth score first (np.partition, the boundary
    tie group kept), then lexsort only the survivors — a full lexsort
    of a large candidate set costs more than the scoring."""
    if scores.size > k:
        thr = np.partition(scores, scores.size - k)[scores.size - k]
        m = scores >= thr
        cand, scores = cand[m], scores[m]
    order = np.lexsort((cand, -scores))[:k]
    return list(zip(scores[order].tolist(), cand[order].tolist()))


class _TermPostings:
    """One term's postings, fully decoded into flat read-only arrays —
    the unit of the Searcher's posting cache, so decode happens once
    per TERM, not once per query.

    Block i covers doc_ords in [first_doc[i], first_doc[i+1]) — blocks
    are doc-range ordered because salt buckets are range-disjoint and
    blocks are emitted in doc order inside each salt run.

    Decode is EAGER and batched: all blocks' gaps/tfs/dls streams are
    concatenated and varint-decoded in ONE vectorized pass. Round-3
    decoded lazily per block, but at 128-doc granularity the per-call
    numpy overhead dominated (~100µs/block ≈ 1.3M postings/s) and
    became THE interactive latency once scoring was vectorized; one
    batched pass decodes the same postings ~50× faster, and caching
    the decoded arrays removes even that from warm queries. tfs/dls
    are stored float64 so scoring never pays a per-query astype copy."""

    __slots__ = ("all_docs", "all_tfs", "all_dls", "total",
                 "pos_blob", "pos_bytes", "pos_flat", "pos_occ",
                 "unit", "unit_key")

    @classmethod
    def from_streams(cls, firsts_np: np.ndarray, ns: np.ndarray,
                     streams: dict) -> "_TermPostings":
        """Construct from per-block first_doc / posting-count arrays
        plus each stream ('gaps', 'tfs', 'dls', optional 'pos') as ONE
        concatenated byte string in first_doc block order (single
        gathers over the Arrow child buffers — _term_streams_from_arrow)."""
        self = cls.__new__(cls)
        self.unit = None
        self.unit_key = None
        # the raw positions stream (varint, ~1-2 B/occurrence) stays
        # compressed until a phrase query touches the term — decoded
        # positions would several-fold the cache footprint for queries
        # that never verify a phrase (once decoded they persist and
        # are charged to the Searcher's budget via _charge_positions)
        pos = streams.get("pos")
        self.pos_blob = pos
        self.pos_bytes = 0 if pos is None else len(pos)
        self.pos_flat = None
        self.pos_occ = None
        from sparkbm25.codec import varint_decode

        firsts_np = np.asarray(firsts_np, dtype=np.int64)
        ns = np.asarray(ns, dtype=np.int64)
        total = int(ns.sum())
        starts = np.zeros(firsts_np.size + 1, dtype=np.int64)
        np.cumsum(ns, out=starts[1:])
        self.total = total
        gaps = varint_decode(streams["gaps"], dtype=np.int64)
        self.all_tfs = varint_decode(streams["tfs"], dtype=np.float64)
        self.all_dls = varint_decode(streams["dls"], dtype=np.float64)
        # grouped cumsum with a reset at every block start: gfull holds
        # the absolute first_doc at starts and the gaps elsewhere, so
        # docs = cumsum(gfull) rebased per block
        gfull = np.empty(total, dtype=np.int64)
        bs = starts[:-1]
        if total:
            mask = np.ones(total, dtype=bool)
            mask[bs] = False
            gfull[mask] = gaps
            gfull[bs] = firsts_np
            cs = np.cumsum(gfull)
            base = (cs[bs] - gfull[bs]).astype(np.int64)
            self.all_docs = cs - np.repeat(base, ns)
        else:
            self.all_docs = np.empty(0, dtype=np.int64)
        return self

    def decode_positions_full(self) -> tuple[np.ndarray, np.ndarray]:
        """Decode the term's ENTIRE positions stream once and cache it
        on the object: (flat absolute positions int64, occ_offsets
        int64 len total+1 — posting i owns flat[occ[i]:occ[i+1]]).

        Per-block pos blobs concatenate into one valid varint stream
        (varints are self-delimiting and every blob starts at a
        posting boundary, whose first value is absolute), so this is
        ONE vectorized decode pass — the same shape as the eager
        gaps/tfs/dls decode in from_streams, and ~50× cheaper than the
        per-block positions_of loop it replaced at stopword-phrase
        candidate counts. The decoded arrays stay on the object so a
        warm phrase query touches no varints at all; the Searcher
        charges the growth against its posting-cache budget
        (_charge_positions)."""
        if self.pos_flat is None:
            from sparkbm25.codec import varint_decode

            tfs = self.all_tfs.astype(np.int64)
            occ = np.zeros(self.total + 1, dtype=np.int64)
            np.cumsum(tfs, out=occ[1:])
            deltas = varint_decode(self.pos_blob).astype(np.int64)
            if deltas.size:
                cs = np.cumsum(deltas)
                starts = occ[:-1]
                base = (cs[starts] - deltas[starts]).astype(np.int64)
                self.pos_flat = cs - np.repeat(base, tfs)
            else:
                self.pos_flat = deltas
            self.pos_occ = occ
        return self.pos_flat, self.pos_occ

    def positions_csr(self, idx: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Absolute token positions of the postings at flat indices
        `idx`, as a CSR pair (flat, offs len(idx)+1): posting idx[j]'s
        positions are flat[offs[j]:offs[j+1]]. One vectorized gather
        from the cached full decode — no per-posting Python."""
        flat_all, occ_all = self.decode_positions_full()
        lens = self.all_tfs[idx].astype(np.int64)
        offs = np.zeros(idx.size + 1, dtype=np.int64)
        np.cumsum(lens, out=offs[1:])
        total = int(offs[-1])
        gather = (np.repeat(occ_all[idx] - offs[:-1], lens)
                  + np.arange(total, dtype=np.int64))
        return flat_all[gather], offs


    def unit_scores(self, k1: float, b: float, avgdl: float) -> np.ndarray:
        """The query-INDEPENDENT per-posting factor tf/(tf + k1*(1-b+
        b*dl/avgdl)) — every driver algorithm's score contribution is
        weight × this, so it computes ONCE per cached term instead of
        once per query (profiled round 5: the per-query vector math was
        ~60%% of warm filtered latency on a hot term). +8 B/posting on
        the cache footprint. k1/b are fixed per index config and avgdl
        per generation set; refresh() drops the cache, so the key check
        is belt-and-braces."""
        key = (k1, b, avgdl)
        if self.unit is None or self.unit_key != key:
            # denom >= 0, so unit <= 1 and a term's contribution never
            # exceeds its weight: MaxScore's per-term bound
            denom = k1 * (1.0 - b + b * (self.all_dls / avgdl))
            self.unit = self.all_tfs / (self.all_tfs + denom)
            self.unit_key = key
        return self.unit


class _Cursor:
    """Per-query cursor over a (shared, read-only) _TermPostings: the
    query's weight plus one flat read position `gpos` (MaxScore's
    chunk frontier)."""

    __slots__ = ("tp", "weight", "all_docs", "total", "gpos")

    def __init__(self, tp: _TermPostings, weight: float):
        self.tp = tp          # shared: unit_scores caches on it
        self.weight = weight  # qtf * idf * (k1+1)
        self.all_docs = tp.all_docs
        self.total = tp.total
        self.gpos = 0


# Byte bound of the Searcher's predicate cache: one bool per doc_ord per
# cached predicate (64 predicates at 1M docs, 6 at 9.6M); the mask of the
# query in flight is kept whatever its size
_PRED_CACHE_BYTES = 1 << 26


class Searcher:
    """Interactive single-query search on the driver. Every query
    compiles with the batch compiler (_compile_query) and routes on its
    plan; self.last_path records the route that answered ('maxscore' |
    'dense' | 'and' | 'kernel' | 'batch'; None when the plan can match
    nothing, so no route ran):

      * maxscore / dense: an unfiltered plan whose acceptance is one OR
        over positive term, prefix, fuzzy, wildcard or regexp leaves
        (multi-term leaves expanded through the cached dictionary
        read) — chunked vectorized MaxScore over flat posting arrays,
        or an exhaustive dense scatter for hot unions;
      * and: an unfiltered AND over term leaves — vectorized
        intersection;
      * kernel: every other plan (structured filters, filter-only,
        NOT, phrases, nested trees) runs search_batch's per-range body
        (_score_range) in-process over the cached postings, filtered
        by the predicate's cached doc set (_pred_mask), so it answers
        exactly like search_batch;
      * batch: a plan whose postings exceed max_driver_postings runs
        the distributed search_batch job (_via_batch).

    max_driver_postings bounds the driver-side block collect: a cheap
    column-pruned df probe (term + n_docs only — parquet never reads
    the blocks column) precedes the postings fetch. Round-1 would
    collect GBs for a stopword query at scale (VERDICT item 10). The
    default (1e7 postings ≈ 30-80 MB of blocks) is a MEMORY-SAFETY
    bound, not a speed heuristic — below it the driver path is usually
    faster than a distributed job.
    Every read — postings, df probe, doc resolve, predicate columns,
    multi-term expansion — goes through the bound index reader, so a
    query runs a Spark job only on the batch route.
    Bounded LRU caches (decoded postings, df map, doc resolve,
    expansions, predicate doc sets — see __init__) make warm repeats
    read nothing; call refresh() after the index grows or compacts."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 max_driver_postings: int = 10_000_000,
                 max_cached_dict_rows: int = 2_000_000):
        self.spark = spark
        self.index_dir = index_dir
        self.max_driver_postings = max_driver_postings
        # df-probe cache policy: when the segment dictionary (term ×
        # salt × generation rows) fits under this bound, the whole
        # (term -> df) map loads into the driver ONCE and every later
        # probe is a dict lookup instead of a pruned read. A web-scale
        # vocabulary blows the bound and keeps the per-query
        # column-pruned probe read.
        self.max_cached_dict_rows = max_cached_dict_rows
        self._df_cache: dict[str, int] | None = None
        self._df_cache_checked = False
        # LRU decoded-postings cache keyed by term: an interactive
        # session repeats vocabulary, and the per-query fetch is the
        # latency floor once scoring is vectorized. Bounded by TOTAL
        # CACHED POSTINGS (not terms), so one hot stopword can't blow
        # the driver; 0 disables. Default = 4× the per-query collect
        # bound (~24 bytes/posting decoded ⇒ 40M ≈ 1 GB): the budget
        # must hold the working set of a repeated query MIX, not one
        # query — at the 9.6M-turn scale a 10M budget (= the r5
        # default) evicted the warm pass's first hot term between
        # passes, turning a sub-ms warm repeat into a multi-second
        # re-fetch (BENCH_r05 queries_warm q0 4.7 s).
        self.cache_postings_budget = 4 * max_driver_postings
        self._post_cache: dict[str, tuple["_TermPostings | None", int, int]] = {}
        self._post_cache_postings = 0
        # doc_ord -> (conv_id, turn_idx) forward-row cache (LRU,
        # bounded entries): each search resolves <= k ords and
        # interactive sessions re-hit the same heads
        self.doc_cache_max = 200_000
        self._doc_cache: dict[int, tuple] = {}
        # compiled structured predicate -> bool array over doc_ord of
        # the docs it passes (_pred_mask): evaluated once per reader
        # binding over every forward row, LRU within _PRED_CACHE_BYTES
        self._pred_cache: dict[tuple, np.ndarray] = {}
        # multi-term expansion cache ((kind, payload) leaf key ->
        # sorted dictionary expansions): interactive sessions repeat
        # patterns, and a fuzzy or leading-wildcard leaf tests every
        # term of its band in Python on each expansion. Budgeted by
        # TOTAL cached expansion terms; refresh() clears.
        self.exp_cache_budget = 100_000
        self._exp_cache: dict[tuple, list[str]] = {}
        self._exp_cache_terms = 0
        # exhaustive-dense OR floor: below this many summed postings
        # MaxScore's pruning (or just its tiny input) is already
        # sub-millisecond and the dense scatter's O(n_docs) allocation
        # isn't worth dispatching; above it, hot multi-cursor unions
        # (expanded leaves, stopword ORs) score faster exhaustively
        # (see the dense branch in search()). Exposed as an attribute
        # so parity tests can force the path on small fixtures.
        self.dense_min_postings = 1 << 17
        self.last_path: str | None = None
        self.n_docs, self.avgdl, self.cfg, self.gens = _load_stats(index_dir)
        self._bind_generations()

    def _bind_generations(self) -> None:
        """Bind the one index reader (localio.IndexReader) for the
        CURRENT self.gens: every driver read — postings fetch, df
        probe, doc resolve, forward-table columns — is a pruned
        pyarrow read through it, with no Spark job per cold query
        (localio module docstring has the measurements). The reader
        caches file listings + parquet footers per directory, so
        repeated queries do not re-list the trees. A Searcher is bound
        to the generation set it saw at construction — after
        update_index / compact_generations on the same root, call
        refresh() (or build a new Searcher); compaction DELETES the
        superseded generation dirs, so a stale snapshot would fail."""
        self._reader = localio.IndexReader([g["dir"] for g in self.gens],
                                           self.cfg)

    def refresh(self) -> "Searcher":
        """Re-bind to the index's current generation set (after an
        append or in-place compaction): drop every cache and bind a
        new index reader. Returns self."""
        self._df_cache = None
        self._df_cache_checked = False
        self._post_cache.clear()
        self._post_cache_postings = 0
        self._doc_cache.clear()
        self._pred_cache.clear()
        self._exp_cache.clear()
        self._exp_cache_terms = 0
        self.n_docs, self.avgdl, self.cfg, self.gens = _load_stats(self.index_dir)
        self._bind_generations()
        return self

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """df per term, summed across generations; absent terms are
        omitted. The same segment probe the search path uses (a
        dictionary's df is sum(n_docs) over the term's segment rows),
        so it needs no terms/ table."""
        return self._probe_dfs(sorted(terms))

    def _via_batch(self, query_text: str, k: int, mode: str) -> pd.DataFrame:
        """Route one interactive query through the distributed batch
        path (its postings would blow the driver collect bound)."""
        q = pd.DataFrame({"query_id": [0], "query_text": [query_text],
                          "k": [k]})
        out = _search_batch_pdf(self.spark, self.index_dir, q, k, mode)
        return out[["rank", "conv_id", "turn_idx", "score"]].reset_index(drop=True)

    def _probe_dfs(self, terms: list[str]) -> dict[str, int]:
        """df per query term from a column-pruned segment read: only
        (term, n_docs) are read — parquet column pruning means the
        blocks bytes never move — so the probe is O(segment rows of
        the query's buckets), not O(postings).

        When the whole dictionary fits max_cached_dict_rows (counted
        from parquet footers) it loads once and later probes are dict
        lookups."""
        if not self._df_cache_checked:
            self._df_cache_checked = True
            if self._reader.segment_rows() <= self.max_cached_dict_rows:
                self._df_cache = self._reader.dfs()
        if self._df_cache is not None:
            return {t: self._df_cache[t] for t in terms if t in self._df_cache}
        return self._reader.dfs(terms)

    def _fetch_postings(self, terms: list[str]) -> tuple[dict[str, "_TermPostings"], dict[str, int]]:
        """ONE partition-pruned, predicate-pushed scan (across all
        generations) returns the DECODED posting arrays and df per
        term (sum of per-salt n_docs). Routing is the client-side
        term-bucket hash — the analog of ES routing a query to the
        right shard — so no dictionary round-trip precedes the
        postings fetch.

        Warm terms serve from the LRU posting cache (bounded by
        cache_postings_budget TOTAL postings) — a query whose vocab
        was seen recently skips the read entirely."""
        cached: dict[str, list] = {}
        cached_dfs: dict[str, int] = {}
        missing = []
        for t in terms:
            hit = self._post_cache.get(t)
            if hit is not None:
                # refresh LRU recency; known-absent terms (negative
                # cache, df 0) stay omitted from the result like the
                # scan omits them
                self._post_cache.pop(t)
                self._post_cache[t] = hit
                if hit[1] > 0:
                    cached[t], cached_dfs[t] = hit[0], hit[1]
            else:
                missing.append(t)
        if not missing:
            return cached, cached_dfs
        post, dfs = self._fetch_postings_scan(missing)
        # insert misses; evict least-recently-used first (plain dict
        # preserves insertion order and hits re-insert above). Terms
        # the scan proved ABSENT are cached as empty at zero budget
        # cost, so repeated misses never rescan. Cache entries are
        # (postings, df, cost): cost = postings + retained raw
        # position bytes in posting-equivalents (~24 B of decoded
        # arrays per posting), so positions-bearing indexes charge
        # their pos blobs against the same budget.
        for t in missing:
            n = dfs.get(t, 0)
            if n == 0:
                if self.cache_postings_budget > 0:
                    self._post_cache[t] = (None, 0, 0)
                continue
            cost = n + post[t].pos_bytes // 24
            if cost > self.cache_postings_budget:
                continue
            while (self._post_cache_postings + cost > self.cache_postings_budget
                   and self._post_cache):
                old_t = next(iter(self._post_cache))
                old = self._post_cache.pop(old_t)
                self._post_cache_postings -= old[2]
            self._post_cache[t] = (post[t], n, cost)
            self._post_cache_postings += cost
        cached.update(post)
        cached_dfs.update(dfs)
        return cached, cached_dfs

    def _charge_positions(self, term: str, tp: "_TermPostings") -> None:
        """Account a term's freshly-decoded positions arrays
        (decode_positions_full) against the posting-cache budget: the
        decoded int64 flat/occ arrays live as long as the cached
        _TermPostings does, so the entry's cost grows by their size in
        posting-equivalents (~24 B each) and older entries evict to
        stay under budget. The charged term itself is never evicted
        here — it is the query in flight."""
        entry = self._post_cache.get(term)
        if entry is None or tp.pos_flat is None:
            return
        extra = (tp.pos_flat.nbytes + tp.pos_occ.nbytes) // 24
        self._post_cache[term] = (entry[0], entry[1], entry[2] + extra)
        self._post_cache_postings += extra
        while (self._post_cache_postings > self.cache_postings_budget
               and len(self._post_cache) > 1):
            old_t = next(iter(self._post_cache))
            if old_t == term:
                # move-to-end so the loop can reach older entries
                self._post_cache[term] = self._post_cache.pop(term)
                continue
            old = self._post_cache.pop(old_t)
            self._post_cache_postings -= old[2]

    def _fetch_postings_scan(self, terms: list[str]) -> tuple[dict[str, "_TermPostings"], dict[str, int]]:
        """The actual pruned fetch (cache-miss path): one index-reader
        read (partition pruning + rowgroup pushdown, no Spark job),
        decoded through the one Arrow decoder, once per term: the cache
        (and every cursor built from it) shares the flat arrays — warm
        queries never touch varints."""
        return _decode_postings(
            self._reader.segments(terms, ["term", "n_docs", "blocks"]))

    def _check_filter_fields(self, plan: _QueryPlan) -> None:
        """ValueError when a structured filter names a field no
        generation's forward table has."""
        missing = {c for c in qs_filter_columns(plan.filters,
                                                plan.neg_filters)
                   if c not in self._reader.columns()}
        if missing:
            raise ValueError(
                f"query_string filter fields not in index forward table: "
                f"{missing}")

    def _cache_doc(self, doc_ord: int, entry: tuple) -> None:
        while len(self._doc_cache) >= self.doc_cache_max:
            self._doc_cache.pop(next(iter(self._doc_cache)))
        self._doc_cache[doc_ord] = entry

    def _fetch_doc_rows(self, ords: list[int]) -> None:
        """Pull the forward rows of `ords` into the doc cache with ONE
        doc_block-pruned, doc_ord-pushed scan (the ES point-GET
        analog, batched)."""
        need = [o for o in ords if o not in self._doc_cache]
        if not need:
            return
        # doc_block dir pruning + a doc_ord rowgroup-statistics filter
        # (the forward table is written doc_ord-contiguous, so the
        # stats are tight)
        tb = self._reader.docs(need, ["doc_ord", "conv_id", "turn_idx"])
        for o, c, t in zip(tb.column("doc_ord").to_pylist(),
                           tb.column("conv_id").to_pylist(),
                           tb.column("turn_idx").to_pylist()):
            self._cache_doc(o, (c, int(t)))

    def _expand(self, keys: list[tuple]) -> dict[tuple, list[str]]:
        """_expand_multiterm through a bounded LRU cache of expansions
        ((kind, payload) leaf key -> sorted terms): a warm fuzzy or
        wildcard repeat skips the dictionary read."""
        exp: dict[tuple, list[str]] = {}
        for key in keys:
            if key in self._exp_cache:      # re-inserted below: LRU
                exp[key] = self._exp_cache.pop(key)
                self._exp_cache_terms -= len(exp[key])
        missing = [key for key in keys if key not in exp]
        if missing:
            exp.update(_expand_multiterm(self._reader, missing))
        for key, terms in exp.items():
            while (self._exp_cache_terms + len(terms) > self.exp_cache_budget
                   and self._exp_cache):
                old = next(iter(self._exp_cache))
                self._exp_cache_terms -= len(self._exp_cache.pop(old))
            self._exp_cache[key] = terms
            self._exp_cache_terms += len(terms)
        return exp

    def _score_all(self, cursors: list["_Cursor"], fmode: str, k1: float,
                   b: float, avgdl: float) -> tuple[np.ndarray, np.ndarray]:
        """FULL scoring of every accepted doc (no top-k pruning), for
        the and / dense routes. Bounded by max_driver_postings like
        every driver path. Contributions
        sum in the caller's fixed cursor order, so exact float ties
        land identically to the other driver algorithms.

        AND mode intersects rarest-first: the rarest cursor's docs
        filter through each other cursor via one searchsorted
        membership pass, so candidates never exceed the rarest list.
        OR mode uses a DENSE bincount scatter over doc_ord when the
        corpus is small enough (n_docs*8B within ~8× the postings
        volume): np.unique on P concatenated postings is an O(P log P)
        sort that measurably dominated warm filtered latency at the
        9.6M-turn scale (~4 s for 15M postings); bincount is O(P + N)
        C-speed and order-insensitive (per-doc float sums stay
        deterministic because addition order per doc is the
        concatenation order either way)."""
        if fmode == "and":
            if not cursors or any(c.total == 0 for c in cursors):
                return (np.empty(0, dtype=np.int64),
                        np.empty(0, dtype=np.float64))
            cs = sorted(cursors, key=lambda c: c.total)
            cand = cs[0].all_docs
            for c in cs[1:]:
                idx = np.searchsorted(c.all_docs, cand, side="left")
                idx_c = np.clip(idx, 0, c.total - 1)
                cand = cand[c.all_docs[idx_c] == cand]
                if cand.size == 0:
                    return (np.empty(0, dtype=np.int64),
                            np.empty(0, dtype=np.float64))
            scores = np.zeros(cand.size)
            for c in cursors:
                idx = np.searchsorted(c.all_docs, cand, side="left")
                scores += c.weight * c.tp.unit_scores(k1, b, avgdl)[idx]
            return cand, scores
        parts_d = [c.all_docs for c in cursors if c.total > 0]
        if not parts_d:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        parts_s = []
        for c in cursors:
            if c.total == 0:
                continue
            # one scalar multiply over the cached unit vector — the
            # per-query BM25 vector math was the warm-filtered hot spot
            parts_s.append(c.weight * c.tp.unit_scores(k1, b, avgdl))
        return _union_sum(np.concatenate(parts_d),
                          np.concatenate(parts_s), self.n_docs)

    def _format_results(self, results: list) -> pd.DataFrame:
        """[(score, doc_ord)] → (rank, conv_id, turn_idx, score) with
        the shared forward-row cache resolving doc_ords."""
        if not results:
            return pd.DataFrame(columns=["rank", "conv_id", "turn_idx", "score"])
        results.sort(key=lambda x: (-x[0], x[1]))
        ords = [d for _, d in results]
        self._fetch_doc_rows(ords)
        resolved = [self._doc_cache[d] for d in ords]
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(results) + 1, dtype=np.int32),
                "conv_id": [r[0] for r in resolved],
                "turn_idx": [r[1] for r in resolved],
                "score": [s for s, _ in results],
            }
        )

    def search(self, query_text: str, k: int = 10, mode: str = "or") -> pd.DataFrame:
        """-> pandas (rank, conv_id, turn_idx, score). Accepts
        query_string syntax. Routes on the compiled plan: maxscore or
        dense for an unfiltered flat OR of term / multi-term leaves,
        and for an unfiltered flat AND of terms, kernel for every
        other plan, batch when the postings exceed
        max_driver_postings; last_path names the route, None when
        the plan can match nothing and no route ran."""
        plan = _compile_query(0, k, query_text, self.cfg, mode)
        self.last_path, out = self._route(plan, query_text, k, mode)
        return out

    def _route(self, plan: _QueryPlan, query_text: str, k: int,
               mode: str) -> tuple[str | None, pd.DataFrame]:
        empty = pd.DataFrame(columns=["rank", "conv_id", "turn_idx", "score"])
        if self.n_docs == 0 or not (plan.leaves or plan.filters
                                    or plan.neg_filters):
            return None, empty
        _expand_leaves([plan], self._expand)
        terms = sorted({t for l in plan.leaves for t in l["terms"]})
        # bound the driver collect: probe df first (column-pruned scan,
        # blocks never read); hot/stopword-heavy queries go distributed
        probe = self._probe_dfs(terms)
        if sum(probe.values()) > self.max_driver_postings:
            return "batch", self._via_batch(query_text, k, mode)
        # fetch only terms the probe saw: absent terms never cost a scan
        present = [t for t in terms if probe.get(t, 0) > 0]
        fmode = _flat_mode(plan)
        if fmode is not None:
            return self._search_flat(plan, fmode, present, k) or (None, empty)
        if not present and plan.has_positive and not plan.accept_empty:
            # only docs matching a leaf are candidates, and none does
            return None, empty
        return "kernel", self._search_kernel(plan, present)

    def _search_flat(self, plan: _QueryPlan, fmode: str, present: list[str],
                     k: int) -> tuple[str, pd.DataFrame] | None:
        """The maxscore / dense / and routes over the plan's per-term
        summed leaf weights; None when no doc can match."""
        weights: dict[str, float] = {}
        for l in plan.leaves:
            for t in l["terms"]:
                weights[t] = weights.get(t, 0.0) + l["weight"]
        if not present or (fmode == "and" and len(present) < len(weights)):
            return None
        postings, dfs = self._fetch_postings(present)
        present = sorted(t for t in weights if t in dfs)
        if not present or (fmode == "and" and len(present) < len(weights)):
            # a probe-present term negative-cached/absent at fetch
            return None
        cfg = self.cfg
        k1, b, avgdl = cfg.k1, cfg.b, self.avgdl
        cursors = [_Cursor(postings[t],
                           weights[t] * _idf(self.n_docs, dfs[t]) * (k1 + 1.0))
                   for t in present]
        if fmode == "and":
            route = "and"
            results = _exact_topk(
                *self._score_all(cursors, "and", k1, b, avgdl), k)
        elif (len(cursors) >= 2
              and sum(c.total for c in cursors)
              >= max(self.n_docs, self.dense_min_postings)
              and self.n_docs <= max(
                  8 * sum(c.total for c in cursors), 1 << 20)
              and all(c.weight > 0 for c in cursors)):
            # exhaustive-dense regime (expanded prefix/fuzzy/wildcard/regexp
            # leaves, stopword ORs): many similar-weight hot cursors
            # keep MaxScore's essential set near-total, so it pays
            # per-chunk searchsorted alignment for every cursor while
            # pruning almost nothing. When the summed dfs reach the
            # corpus size, ONE bincount scatter per the _score_all
            # dense path scores every posting in O(P + N) with no
            # candidate alignment at all — measured 0.39 s -> ~0.1 s
            # warm for a 10-hot-term prefix expansion at 960k docs.
            # Gated on the same dense-feasibility bound as _score_all
            # (n_docs within 8x the postings volume), so a web-scale
            # doc count with a driver-bounded postings set still takes
            # the MaxScore path.
            route = "dense"
            results = _exact_topk(
                *self._score_all(cursors, "or", k1, b, avgdl), k)
        else:
            route = "maxscore"
            results = self._maxscore_or(cursors, k, k1, b, avgdl)
        return route, self._format_results(results)

    def _search_kernel(self, plan: _QueryPlan,
                       present: list[str]) -> pd.DataFrame:
        """The kernel route: search_batch's per-range body over ranges
        of at most _MAX_RANGE_DOCS docs, fed the cached postings and the
        predicate's cached doc set; the ranges merge through
        _merge_topk, so the answer is search_batch's bit for bit."""
        _check_phrases([plan], self.cfg)
        self._check_filter_fields(plan)
        postings, dfs = self._fetch_postings(present)
        # phrase terms whose positions the kernel is about to decode
        fresh = {t for l in plan.leaves if l["kind"] == "phrase"
                 for t in l["terms"]
                 if t in postings and postings[t].pos_flat is None}
        idfs = {t: _idf(self.n_docs, df) for t, df in dfs.items()}
        nr, width = _range_layout(self.n_docs, 1)
        pred = _needs_pred(plan)
        fm = self._pred_mask(plan, nr * width) if pred else None
        qplans = _kernel_plans([plan], {_pred_key(plan): 0} if pred else {})
        cfg = self.cfg
        parts = [_score_range(qplans, lo, width, postings, idfs,
                              lambda _bit, lo=lo: fm[lo:lo + width],
                              cfg.k1, cfg.b, self.avgdl)
                 for lo in range(0, nr * width, width)]
        for t in fresh:
            self._charge_positions(t, postings[t])
        q, d, s = (np.concatenate(c) for c in zip(*parts))
        _, d, s, _ = _merge_topk(q, d, s, {plan.qid: plan.k})
        return self._format_results(list(zip(s.tolist(), d.tolist())))

    def _pred_mask(self, plan: _QueryPlan, size: int) -> np.ndarray:
        """Bool array over doc_ord (padded to `size`) of the docs that
        pass the plan's structured predicate (every forward row when it
        has none): querystring.filter_mask over every forward row's
        filter columns, once per compiled predicate and reader binding.
        The compiled form carries resolved bounds, so a date-math
        `now` bound never reuses a stale doc set."""
        spec = compile_filter(plan.filters, plan.neg_filters)
        m = self._pred_cache.pop(spec, None)
        if m is None:
            cols = sorted(qs_filter_columns(plan.filters, plan.neg_filters))
            tb = self._reader.docs(None, ["doc_ord", *cols])
            m = np.zeros(size, dtype=bool)
            m[tb.column("doc_ord").to_numpy()[filter_mask(spec, tb)]] = True
            while (self._pred_cache and (len(self._pred_cache) + 1) * size
                   > _PRED_CACHE_BYTES):
                self._pred_cache.pop(next(iter(self._pred_cache)))
        self._pred_cache[spec] = m
        return m

    def highlight(self, hits: pd.DataFrame, source, query_text: str,
                  **kw) -> pd.DataFrame:
        """Fetch-phase highlighting for an interactive result: returns
        ``hits`` plus a ``highlight`` fragment-list column. The index
        drops stored text at build time (forward table carries ids +
        attrs only), so — like the reference's ES `_source` reads —
        the caller supplies the transcripts ``source`` DataFrame; the
        probe pushes both id columns into the scan and the kernel runs
        driver-side over the k texts (highlight.highlight_hits).
        Keyword args: pre_tag, post_tag, fragment_size,
        number_of_fragments (0 = whole field)."""
        from sparkbm25.highlight import highlight_hits

        kw.setdefault("token_pattern", self.cfg.token_pattern)
        return highlight_hits(source, hits, query_text, **kw)

    @staticmethod
    def _maxscore_or(cursors: list[_Cursor], k: int, k1: float, b: float,
                     avgdl: float, chunk: int = 65536):
        """Chunked vectorized MaxScore (Turtle & Flood) — the default
        driver OR path. Per-posting/per-block iteration (block-max
        WAND) fights numpy; MaxScore maps onto the fully-decoded flat
        arrays:

          * cursors sort by weight; the NON-ESSENTIAL prefix is the
            largest whose summed weights <= theta — a doc containing
            only non-essential terms can never beat theta, so
            CANDIDATES are exactly the union of essential cursors'
            postings (a vectorized merge, never a per-doc loop);
          * candidates score in doc-ordered chunks: every cursor's
            contribution at the chunk's docs comes from one
            np.searchsorted + mask, the chunk's exact top-k (score
            desc, doc asc — lexsort, tie-exact) merges into the heap,
            and theta's rise shrinks the essential set before the
            next chunk;
          * a cursor promoted to essential mid-query fast-forwards to
            the chunk frontier first, so no doc is ever emitted twice.

        Pruning is lossless for the same reason as MaxScore's: every
        skipped doc is PROVEN <= theta by the weight-prefix bound.
        Measured: the heaviest bench query's OR loop drops ~0.35 s
        (vectorized BMW) -> ~0.01-0.06 s; exhaustive-shape queries
        degrade gracefully to one vectorized full scoring pass."""
        cs = sorted((c for c in cursors if c.total > 0),
                    key=lambda c: c.weight)
        if not cs:
            return []
        prefix = np.cumsum([c.weight for c in cs])
        heap: list[tuple[float, int]] = []
        floor = 0  # doc-ord chunk frontier (docs < floor are settled)
        for c in cs:
            c.gpos = 0
        while True:
            theta = heap[0][0] if len(heap) >= k else -1.0
            ne = int(np.searchsorted(prefix, theta, side="right"))
            if ne >= len(cs):
                break  # even all terms together cannot beat theta
            ess = cs[ne:]
            # fast-forward essential cursors to the frontier (a cursor
            # promoted from non-essential still has a stale position)
            hi_doc = _INF_DOC
            alive = []
            for c in ess:
                g = c.gpos
                if g < c.total and c.all_docs[g] < floor:
                    g += int(np.searchsorted(c.all_docs[g:], floor,
                                             side="left"))
                    c.gpos = g
                if g >= c.total:
                    continue
                alive.append(c)
                j = min(g + chunk, c.total) - 1
                hi_doc = min(hi_doc, int(c.all_docs[j]))
            if not alive:
                break
            cand_parts = []
            for c in alive:
                g = c.gpos
                h = g + int(np.searchsorted(c.all_docs[g:], hi_doc,
                                            side="right"))
                cand_parts.append(c.all_docs[g:h])
                c.gpos = h
            if len(cand_parts) == 1:
                # single alive essential cursor: its slice IS the
                # (unique, sorted) candidate set — no merge, and its
                # contribution aligns 1:1 without a searchsorted
                cand = cand_parts[0]
                aligned = alive[0]
            else:
                cand = np.unique(np.concatenate(cand_parts))
                aligned = None
            scores = np.zeros(cand.size)
            # score in the ORIGINAL cursor order (not weight order):
            # deterministic float summation order, bit-identical with
            # the dense/AND routes and the brute-force oracle even on
            # exact ties
            for c in cursors:
                if c.total == 0:
                    continue
                if c is aligned:
                    lo = c.gpos - cand.size
                    scores += c.weight * c.tp.unit_scores(
                        k1, b, avgdl)[lo:c.gpos]
                    continue
                idx = np.searchsorted(c.all_docs, cand, side="left")
                idx_c = np.clip(idx, 0, c.total - 1)
                m = c.all_docs[idx_c] == cand
                if not m.any():
                    continue
                scores[m] += c.weight * c.tp.unit_scores(
                    k1, b, avgdl)[idx_c][m]
            if len(heap) >= k:
                keep = scores >= heap[0][0]
                cand, scores = cand[keep], scores[keep]
            for sc, d in _exact_topk(cand, scores, k):
                item = (sc, -d)
                if len(heap) < k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)
            floor = hi_doc + 1
        return [(s, -nd) for s, nd in sorted(heap, reverse=True)]
