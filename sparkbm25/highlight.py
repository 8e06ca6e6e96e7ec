"""Search-result highlighting (the ES fetch-phase ``highlight`` block).

The reference exists in an ecosystem where highlighting is load-bearing:
its ``--max-content-length`` flag is documented as "Max translated
content length ... to avoid highlight errors" (reference cli.py:171) —
the content it writes is truncated *specifically so ES can highlight
it*. Our engine owns the index, so it owns the highlighter too.

Semantics follow the ES unified highlighter's observable behavior:

* Highlighting runs in the FETCH phase over the already-ranked top-k
  hits only — never inside scoring. At 100 TB this is k stored-text
  reads, not a corpus pass; ``highlight_results`` keeps the fetch a
  broadcast-semi-join id probe into the source table so conv_id
  predicate pushdown / row-group pruning still applies.
* A hit's tokens are re-scanned with the SAME analyzer contract the
  index used (``analysis.DEFAULT_TOKEN_PATTERN``, lowercase), and a
  token is highlighted when any positive text leaf of the parsed
  query matches it: Term equality, each member term of a Phrase (the
  unified highlighter marks phrase passages term-by-term), and for
  Prefix / Wildcard / Regexp / Fuzzy the same matcher
  (``search._multiterm_matcher``) the dictionary expansion runs, so a
  token highlights exactly when it is in its leaf's expansion.
  Negated leaves and structured filters never highlight — they don't
  score either.
* Offsets are computed on the ORIGINAL text (case-insensitive token
  scan), so the emitted fragments splice ``pre_tag``/``post_tag``
  around the user's own characters — no lowercased copies leak out.
* Fragmenting: up to ``number_of_fragments`` windows of at most
  ``fragment_size`` characters, each starting on a matched-token
  boundary, chosen greedily by matched-token count (ties break to
  document order), emitted in document order — the unified
  highlighter's passage scoring reduced to its rank-observable core.
  ``number_of_fragments=0`` returns the whole field highlighted, ES's
  documented "no fragmentation" mode. A hit with no matched token
  yields None (ES omits the field from the highlight block).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from sparkbm25 import querystring as qs
from sparkbm25.analysis import DEFAULT_TOKEN_PATTERN


def _leaf_matchers(tree, token_pattern: str = DEFAULT_TOKEN_PATTERN):
    """Positive text leaves -> one vectorized token-mask function.

    Returns ``mask(tokens: np.ndarray[str]) -> np.ndarray[bool]`` or
    None when the query has no highlightable leaf (filter-only /
    match-all queries highlight nothing — constant-score semantics).
    """
    from sparkbm25.search import _multiterm_matcher

    pos, _neg = qs.collect_leaves(tree)
    exact: set[str] = set()
    matchers = []
    for leaf in pos:
        if isinstance(leaf, qs.Term):
            exact.add(leaf.text)
        elif isinstance(leaf, qs.Phrase):
            exact.update(leaf.terms)
        elif isinstance(leaf, qs.Prefix):
            matchers.append(_multiterm_matcher("prefix", leaf.prefix)[1])
        elif isinstance(leaf, qs.Wildcard):
            matchers.append(_multiterm_matcher("wildcard", leaf.pattern)[1])
        elif isinstance(leaf, qs.Regexp):
            matchers.append(_multiterm_matcher("regexp", leaf.pattern)[1])
        elif isinstance(leaf, qs.Fuzzy):
            matchers.append(_multiterm_matcher(
                "fuzzy", (leaf.term, int(leaf.max_edits)))[1])
    if not (exact or matchers):
        return None

    def mask(tokens: np.ndarray) -> np.ndarray:
        out = np.isin(tokens, sorted(exact)) if exact else np.zeros(
            len(tokens), dtype=bool)
        if matchers:
            # dedupe before the python-regex / DP work: a 150-char
            # fragment source repeats stopwords heavily
            uniq = np.unique(tokens[~out])
            matched = [t for t in uniq.tolist()
                       if any(m(t) for m in matchers)]
            if matched:
                out = out | np.isin(tokens, matched)
        return out

    return mask


def highlight_text(
    text: str | None,
    mask_fn,
    token_pattern: str = DEFAULT_TOKEN_PATTERN,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    fragment_size: int = 150,
    number_of_fragments: int = 1,
) -> list[str] | None:
    """Highlight ONE stored field value. Returns the fragment list, or
    None when nothing matched (ES omits the field)."""
    if text is None or not text:
        return None
    token_re = re.compile(token_pattern, re.IGNORECASE)
    spans = [(m.start(), m.end()) for m in token_re.finditer(text)]
    if not spans:
        return None
    toks = np.array([text[a:b].lower() for a, b in spans], dtype=object)
    hit = mask_fn(toks)
    midx = np.flatnonzero(hit)
    if midx.size == 0:
        return None

    def render(lo_char: int, hi_char: int) -> str:
        parts, cur = [], lo_char
        for j in midx:
            a, b = spans[j]
            if a < lo_char or b > hi_char:
                continue
            parts.append(text[cur:a])
            parts.append(pre_tag)
            parts.append(text[a:b])
            parts.append(post_tag)
            cur = b
        parts.append(text[cur:hi_char])
        return "".join(parts)

    if number_of_fragments == 0:
        return [render(0, len(text))]

    # candidate windows anchor on matched tokens; score = matched
    # tokens inside [anchor_start, anchor_start + fragment_size)
    starts = np.array([spans[j][0] for j in midx])
    ends = np.array([spans[j][1] for j in midx])
    chosen: list[tuple[int, int]] = []
    taken = np.zeros(midx.size, dtype=bool)
    for _ in range(number_of_fragments):
        best, best_n, best_i = None, 0, -1
        for i in range(midx.size):
            if taken[i]:
                continue
            lo = starts[i]
            # fragment_size is a SOFT bound (ES semantics): the anchor
            # token itself always fits its own window, so a matched
            # token longer than fragment_size still emits a fragment
            # instead of the whole hit silently losing its highlight
            wend = max(lo + fragment_size, int(ends[i]))
            # passages never overlap (ES unified highlighter): an
            # untaken anchor BEFORE a chosen window previously opened
            # a window across it, emitting the same source chars (and
            # <em> spans) in two fragments — final-round review. Clip
            # at the next chosen window's start; drop anchors whose
            # own token straddles a chosen window.
            overlap = False
            for clo, chi in chosen:
                if lo < chi and int(ends[i]) > clo:
                    overlap = True
                    break
                if clo >= lo:
                    wend = min(wend, clo)
            if overlap or wend <= lo:
                continue
            inside = (~taken) & (starts >= lo) & (ends <= wend)
            n = int(inside.sum())
            if n > best_n:
                best, best_n, best_i = (int(lo), int(
                    min(len(text), wend))), n, i
        if best is None:
            break
        lo, hi = best
        # don't split a trailing token in half
        for a, b in spans:
            if a < hi < b:
                hi = a
                break
        chosen.append((lo, hi))
        taken |= (starts >= lo) & (ends <= hi)
    chosen.sort()
    return [render(lo, hi) for lo, hi in chosen] or None


def highlight_frame(
    texts: pd.Series,
    query_text: str,
    token_pattern: str = DEFAULT_TOKEN_PATTERN,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    fragment_size: int = 150,
    number_of_fragments: int = 1,
) -> pd.Series:
    """Vector surface over ``highlight_text``: text Series ->
    list-of-fragments Series (None where nothing matched). This is the
    kernel both the driver fetch phase and the Spark pandas-UDF
    wrapper share — analyzer parity with the index by construction."""
    parsed = qs.parse_query_string(query_text, token_pattern)
    mask_fn = _leaf_matchers(parsed.tree, token_pattern)
    if mask_fn is None:
        return pd.Series([None] * len(texts), index=texts.index,
                         dtype=object)
    return pd.Series(
        [highlight_text(t, mask_fn, token_pattern, pre_tag, post_tag,
                        fragment_size, number_of_fragments)
         for t in texts],
        index=texts.index, dtype=object)


def highlight_hits(
    source,
    hits: pd.DataFrame,
    query_text: str,
    token_pattern: str = DEFAULT_TOKEN_PATTERN,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    fragment_size: int = 150,
    number_of_fragments: int = 1,
) -> pd.DataFrame:
    """Interactive fetch phase: ``hits`` is the k-row pandas frame a
    ``Searcher.search`` returned (conv_id, turn_idx, ...), ``source``
    the transcripts DataFrame. Returns ``hits`` plus a ``highlight``
    column (list of fragments, or None).

    The text probe is ONE Spark job with both id columns pushed as
    isin predicates — at 100 TB that's parquet row-group pruning down
    to the ≤k hit conversations, not a scan; the k texts then
    highlight driver-side in microseconds (same kernel as the batch
    ``highlight_results`` path, analyzer parity by construction)."""
    from pyspark.sql import functions as F

    out = hits.reset_index(drop=True).copy()
    if out.empty:
        out["highlight"] = pd.Series([], dtype=object)
        return out
    conv_ids = sorted(set(out["conv_id"].tolist()))
    turn_idxs = sorted({int(t) for t in out["turn_idx"].tolist()})
    pairs = set(zip(out["conv_id"], out["turn_idx"].astype(int)))
    rows = (source.select("conv_id", "turn_idx", "text")
            .where(F.col("conv_id").isin(conv_ids))
            .where(F.col("turn_idx").isin(turn_idxs))
            .collect())
    textmap = {(r["conv_id"], int(r["turn_idx"])): r["text"]
               for r in rows if (r["conv_id"], int(r["turn_idx"])) in pairs}
    texts = pd.Series(
        [textmap.get((c, int(t)))
         for c, t in zip(out["conv_id"], out["turn_idx"])],
        dtype=object)
    out["highlight"] = highlight_frame(
        texts, query_text, token_pattern, pre_tag, post_tag,
        fragment_size, number_of_fragments)
    return out


def highlight_results(
    results,
    source,
    query_text: str,
    token_pattern: str = DEFAULT_TOKEN_PATTERN,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    fragment_size: int = 150,
    number_of_fragments: int = 1,
):
    """Spark fetch phase: join top-k ``results`` (any DataFrame with
    conv_id, turn_idx) back to the ``source`` transcripts table and
    add a ``highlight: array<string>`` column.

    The k-row results side BROADCASTS into the source scan (never the
    reverse): at 100 TB the source is the big side and the id probe is
    a few hundred rows. Spark cannot broadcast the PRESERVED side of a
    left outer join, so the fetch is two joins: (1) an inner probe of
    the source with the broadcast id set — a map-side broadcast hash
    join that prunes the big scan to ≤k rows — then (2) a left join of
    the ≤k-row text set (also broadcast) back onto the results, so
    hits whose id is absent from the source keep their row with a
    None highlight (ES omits the field). The highlight kernel itself
    runs as ONE Arrow-batched pandas UDF over the k joined rows — no
    per-row Python round trips."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, StringType

    @F.pandas_udf(ArrayType(StringType()))
    def hl_udf(texts: pd.Series) -> pd.Series:
        return highlight_frame(
            texts, query_text, token_pattern, pre_tag, post_tag,
            fragment_size, number_of_fragments)

    keys = ["conv_id", "turn_idx"]
    ids = results.select(*keys).dropDuplicates(keys)
    texts = (source.select(*keys, "text")
             .join(F.broadcast(ids), keys, "inner"))
    fetched = (results
               .join(F.broadcast(texts), keys, "left")
               .withColumn("highlight", hl_udf(F.col("text")))
               .drop("text"))
    return fetched
