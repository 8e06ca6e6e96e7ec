"""Job configuration.

Mirrors the reference's serializable ``options`` dict
(es_translator/es_translator.py:66-91, :136-163) which round-trips
through Celery so a job can be planned on one node and executed on
others. Here the config is hashed into the build manifest so a resumed
run can verify it is continuing the *same* job (lineage check).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
from dataclasses import dataclass


# IndexConfig fields of older releases, ignored when a stored config
# is read back (they never changed the segment format)
_REMOVED_FIELDS = frozenset({"dict_terms", "dict_max_vocab"})


@dataclass(frozen=True)
class IndexConfig:
    # --- BM25 scoring (ES/Lucene defaults; SURVEY §7.0) ---
    k1: float = 1.2
    b: float = 0.75

    # --- analysis ---
    # Lowercase + [a-z0-9]+ extraction, an ES `standard`-approximate
    # analyzer. MUST match refscore tokenization exactly (it does by
    # construction: both call analysis.tokenize_series).
    token_pattern: str = "[a-z0-9]+"
    # Truncate input text to this many chars before tokenizing
    # (ref: --max-content-length, es_translator/es.py:120-121). 0 = off.
    max_content_length: int = 0

    # --- index layout ---
    # Postings are cut into self-contained blocks of this many docs;
    # each block carries (first_doc, n, gaps, tfs, dls[, pos]).
    block_size: int = 128
    # Terms are hashed into this many directory partitions of the
    # segments table (partition pruning for term lookups; the analog of
    # ES shard routing, es_translator/es.py:73-80).
    n_term_buckets: int = 16
    # Hot-term skew defuser: each term's postings are range-split into
    # this many salt buckets by doc_ord so no single reducer builds a
    # Zipf-head term alone (SURVEY §4.2). Buckets are doc_ord-range
    # disjoint, so merging = concatenating block lists in range order.
    n_salt_buckets: int = 8
    # The stage-2 segment build commits term_buckets in this many
    # chunks; each chunk is one job + one manifest row → resume
    # granularity (ref resume semantics: es_translator/es.py:131-150).
    n_build_chunks: int = 4

    # --- execution ---
    # Partitions for the doc_ord assignment range-shuffle; 0 = let
    # Spark/AQE decide (defaultParallelism).
    n_doc_partitions: int = 0
    # How the stable (conv_id, turn_idx) docID order is established:
    #   'shuffle' — repartitionByRange + sortWithinPartitions (the
    #               general path: works on any input order, at the cost
    #               of shuffling the full text corpus once).
    #   'verify'  — trust-but-verify sorted input (round 5): skip the
    #               range shuffle entirely and keep the input's own
    #               partitioning. The tokenize kernel checks row order
    #               WITHIN each partition as it streams (vectorized,
    #               carries the last key across batches) and the
    #               existing bookkeeping job returns each partition's
    #               (min, max) key so the driver checks partitions are
    #               globally NON-OVERLAPPING before assigning offsets
    #               in key order — any violation raises with guidance
    #               to use 'shuffle'. This is the Iceberg sort-order
    #               exploitation path: a table write-ordered by
    #               (conv_id, turn_idx) — the natural layout for
    #               transcripts — needs no full-corpus exchange to get
    #               stable docIDs, it needs a proof, and the proof is
    #               O(rows) comparisons + one tiny driver check.
    input_order: str = "shuffle"
    # The forward (docs) table is directory-partitioned by
    # doc_block = doc_ord // doc_block_size: point resolves prune to
    # the blocks holding the requested doc_ords, and partial updates
    # (annotate) rewrite ONLY the affected blocks. 2^24 docs/block →
    # ~60k partitions at 1e12 docs.
    doc_block_size: int = 1 << 24
    # Write the stage-1 packed SPIMI runs to disk (tf/, partitioned by
    # term_bucket) as the resume checkpoint: a crashed build resumes at
    # the first uncommitted segment chunk. tf/ is deleted once the
    # index is complete. False = stream the runs straight into the
    # segment merge (single chunk, one fewer write, but a resumed run
    # recomputes stage 1).
    checkpoint_runs: bool = True
    # Build the term-sorted dictionary table (one row per term).
    # Multi-term expansion (prefix / fuzzy / wildcard / regexp leaves)
    # reads it banded by term range, so row-group statistics prune the
    # read; without it expansion reads every segment row's term. Term
    # routing is hashed and df comes from segment rows, so no other
    # query reads it.
    build_terms_dict: bool = True
    # Store within-doc token positions in the posting blocks (the
    # Lucene positions stream analog). Required for phrase queries;
    # costs ~1 varint per occurrence of index size. Positions ride the
    # packed runs, so this works with or without checkpoint_runs.
    store_positions: bool = False
    # Segment encoder. 'packed' is the only one: map-side SPIMI combine
    # (round 5) — each doc-contiguous input partition aggregates its
    # own (term, doc) tf runs in one Arrow pass (the tokens ListArray
    # flattens zero-copy; no explode) and emits ONE varint-packed row
    # per (term, salt) instead of one row per occurrence. The reduce
    # side merge-concatenates runs (partition doc ranges are disjoint
    # and ordered, so a sort on min_doc is a merge) and block-encodes.
    # Measured at 960k turns (BENCH/r5/shuffle_bytes.json): whole-build
    # shuffle RECORDS drop 12.8x (17.2M -> 1.34M) against the former
    # per-occurrence 'stream' encoder, whose segments it reproduces
    # byte for byte (tests/golden_segments.json). Kept as a field so
    # configs that name it keep working; any other value raises.
    encoder: str = "packed"

    def term_bucket_of(self, term: str) -> int:
        """Client-side term -> segment partition routing (the analog of
        ES `_routing`, es_translator/es.py:73-80): crc32-derived so the
        driver can prune partitions WITHOUT a dictionary lookup. Must
        match build.term_bucket_col (F.crc32) exactly."""
        import zlib

        return zlib.crc32(term.encode()) % self.n_term_buckets

    def config_hash(self) -> str:
        payload = json.dumps(dataclasses.asdict(self), sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    def to_json(self) -> str:
        return json.dumps(dataclasses.asdict(self), sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "IndexConfig":
        """Rebuild a stored config (stats.json). Indexes written by
        older releases carry the removed dict_terms / dict_max_vocab
        fields and encoder='stream'/'collect', whose segments are
        byte-identical to 'packed' ones: those keys are dropped so such
        indexes still open. Any other unknown key still raises
        TypeError, so an index written with an option this release
        does not know never opens under defaults."""
        d = json.loads(s)
        d = {k: v for k, v in d.items() if k not in _REMOVED_FIELDS}
        if d.get("encoder") in ("stream", "collect"):
            del d["encoder"]
        return IndexConfig(**d)


def parse_size(value: str) -> int:
    """'100' | '10K' | '5M' | '2G' -> integer chars (SURVEY C4; the
    reference's validate_max_content_length grammar,
    es_translator/cli.py:85-111: a number with an optional K/M/G
    binary-unit suffix)."""
    import re

    m = re.match(r"^([0-9]+)([KMG]?)$", (value or "").strip().upper())
    if not m:
        raise ValueError(
            "max content length should be a number optionally "
            "followed by K or M or G")
    return int(m.group(1)) * {
        "": 1, "K": 1024, "M": 1024 ** 2, "G": 1024 ** 3}[m.group(2)]
