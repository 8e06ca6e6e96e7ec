"""SPIMI-style inverted-index build pipeline (SURVEY §3.1 Spark rebuild).

Reference dataflow being re-expressed (es_translator/es_translator.py):
scroll scan (S1) → projection (S4) → idempotency filter (F2) →
per-row transform (P1) → sink (S5), with plan/resume (X3) and
throughput metrics (X5/monitor). Here the "transform" is tokenization
and the "sink" is the index itself.

Stages (each is a committed, resumable checkpoint):
  1. 'tf'       assign stable doc_ords, tokenize (Arrow UDF), write the
                forward table + global stats, and pack each input
                partition's postings into SPIMI runs: one varint row
                (term, salt, min_doc, n_runs, runs[, pos]) per (term,
                salt, partition). With checkpoint_runs the runs are
                written to tf/ partitioned by term_bucket; otherwise
                they stream straight into stage 2.
  2. 'segments' per chunk of term_buckets: shuffle runs by (term, salt),
                sort by min_doc and merge-concatenate them into
                self-contained delta+varint blocks (mapInArrow, numpy
                codec). Salt buckets are doc_ord-RANGE-disjoint,
                so a hot term's postings are built by n_salt_buckets
                independent tasks and merge by concatenation — no single
                reducer ever sees the whole Zipf head (SURVEY §4.2 skew
                strategy; AQE is backstop).
  3. 'terms'    term dictionary (term → df) aggregated from segments.
The tf/ checkpoint is deleted once the index is complete: only a
stage 2 that is still pending reads it.

Scale notes (100 TB / 1e12 turns):
  - the exchanged rows are the packed runs (~3-4 varint bytes per
    posting), never per-occurrence rows (SURVEY §7.3).
  - the only wide rows (posting blocks) are bounded by block_size and
    salt-split.
  - doc_ord assignment is a rangepartition + per-partition offsets
    join (broadcast) — no global window, no driver collect of data.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from sparkbm25 import catalog, localio
from sparkbm25.config import IndexConfig

def segment_schema(with_pos: bool = False) -> str:
    pos = ",pos:binary" if with_pos else ""
    return (
        "term_bucket int, term string, salt int, n_docs bigint, "
        "blocks array<struct<first_doc:bigint,n:int,gaps:binary,tfs:binary,"
        f"dls:binary{pos}>>"
    )


def runs_schema(with_pos: bool = False) -> str:
    """The pack kernel's rows: one (term, salt) run group per row."""
    return ("term string, salt int, min_doc bigint, n_runs bigint, "
            "runs binary" + (", pos binary" if with_pos else ""))


@dataclass
class BuildResult:
    index_dir: str
    n_docs: int
    avgdl: float
    seconds: float
    turns_per_sec: float


def assign_doc_ords(df: DataFrame, config: IndexConfig, doc_ord_base: int = 0,
                    cache_tokens: bool = True) -> DataFrame:
    """Stable dense docID by (conv_id, turn_idx) order (SURVEY §7.0 O4)
    fused with tokenization — ONE Python/Arrow crossing for both.

    cache_tokens=False (verify-order builds) keeps token LISTS
    out of this stage entirely: the kernel computes dl with the cheap
    boundary-count pass, the persisted bookkeeping cache shrinks to the
    id/dl/err proxy rows (guide §8: decide with small rows), and the
    caller re-derives (doc_ord, tokens) in its own fused scan via the
    attached `_sparkbm25_dfp` (the pre-kernel scan) and
    `_sparkbm25_units` ({(pid, seq): (doc_ord offset, row count)})
    handles.

    Scale-safe: range-repartition + partition-local index via
    mapInPandas + broadcast join of per-partition offsets. No global
    window (which would single-partition 1e12 rows), no zipWithIndex
    RDD detour. Returns (conv_id, turn_idx, tokens, dl, pid, doc_ord),
    persisted — text and the other input columns are dropped as early
    as possible (carry nothing wider than needed, SURVEY §7.3).
    """
    spark = df.sparkSession
    n_part = config.n_doc_partitions or spark.sparkContext.defaultParallelism
    cols = ["conv_id", "turn_idx", "text"]
    attrs = [c for c in ("role", "tool", "ts") if c in df.columns]
    if config.input_order not in ("shuffle", "verify"):
        raise ValueError(
            f"input_order must be 'shuffle' or 'verify', got "
            f"{config.input_order!r}")
    verify_order = config.input_order == "verify"
    if verify_order:
        # sorted-input fast path (round 5): NO range shuffle — the full
        # text corpus never crosses an exchange. The input's own
        # partitioning is kept; the tokenize kernel proves each input
        # FILE is internally (conv_id, turn_idx)-sorted as it streams,
        # and the bookkeeping job below returns per-file key bounds so
        # the driver proves files are globally non-overlapping before
        # assigning offsets in key order. Any violation raises — this
        # is trust-but-verify, not an unchecked assumption.
        #
        # The unit is the FILE, not the Spark partition: at scale (and
        # at low local parallelism) the scan bin-packs MANY sorted
        # files into one FilePartition in size order, so a partition
        # is almost never key-sorted across its file boundaries even
        # when every file is. Rows of one file stay contiguous and
        # in file order inside the partition stream, so the kernel
        # segments on input_file_name() runs. (Iceberg tables
        # write-ordered by the key hit this path for free at 100 TB —
        # thousands of sorted, range-disjoint data files per task.)
        # crc32(file) instead of the URI string keeps the per-row
        # overhead at 8 bytes through the Arrow crossing; a collision
        # between ADJACENT files in one partition can only merge two
        # runs, and a merged run either still proves sorted (doc ords
        # stay correct — it behaves as one larger sorted file) or
        # RAISES — never a silent misnumber. Non-file sources yield
        # one empty-name run per partition, i.e. the per-partition
        # semantics.
        dfp = (
            df.select(*cols, *attrs)
            .withColumn("pid", F.spark_partition_id())
            .withColumn("_fid", F.crc32(F.input_file_name().cast("binary")))
        )
    else:
        dfp = (
            df.select(*cols, *attrs)
            .repartitionByRange(n_part, "conv_id", "turn_idx")
            .sortWithinPartitions("conv_id", "turn_idx")
            .withColumn("pid", F.spark_partition_id())
        )

    from sparkbm25.analysis import (DEFAULT_TOKEN_PATTERN,
                                    count_tokens_arrow_ascii,
                                    tokenize_arrow_ascii, tokenize_series)

    pattern, maxlen = config.token_pattern, config.max_content_length
    if not cache_tokens and not verify_order:
        raise ValueError("cache_tokens=False requires input_order='verify' "
                         "(the re-scan must be deterministic)")

    def local_idx_and_tokenize(batches):
        # ONE Arrow pass: tokenization runs the vectorized byte-level
        # kernel (tokenize_arrow_ascii) and the token lists never
        # materialize as Python objects — round 5's mapInPandas built
        # ~40 Python str objects per document and re-serialized them to
        # Arrow, which was the single largest CPU cost of build stage 1
        # (guide §4.2: hand whole batches to vectorized kernels).
        # Non-ASCII batches and non-default token patterns keep the
        # exact pandas path per batch (equal results, old speed).
        import pyarrow as pa
        import pyarrow.compute as pc

        off = 0
        fseq: dict = {}      # verify: crc32(file) -> dense seq within this task
        offs: dict = {}      # verify: seq -> next local_idx in that file
        tails: dict = {}     # verify: seq -> (conv_id, turn_idx) tail key
        for rb in batches:
            nr = rb.num_rows
            if nr == 0:
                continue
            name_idx = {n: i for i, n in enumerate(rb.schema.names)}
            text = rb.column(name_idx["text"])
            toks = None
            if not cache_tokens:
                # dl-only pass: token lists are derived later in the
                # caller's fused scan, never materialized here
                dl = (count_tokens_arrow_ascii(text, maxlen)
                      if pattern == DEFAULT_TOKEN_PATTERN else None)
                if dl is None:
                    dl = tokenize_series(
                        text.to_pandas(), pattern,
                        maxlen).str.len().to_numpy(dtype=np.int64)
            else:
                fast = (tokenize_arrow_ascii(text, maxlen)
                        if pattern == DEFAULT_TOKEN_PATTERN else None)
                if fast is not None:
                    toks, dl = fast
                else:
                    toks_pd = tokenize_series(text.to_pandas(), pattern,
                                              maxlen)
                    toks = pa.array(toks_pd.tolist(),
                                    type=pa.list_(pa.string()))
                    dl = toks_pd.str.len().to_numpy(dtype=np.int64)
            # per-row error side-output (F5, es_translator.py:264-271
            # logs-and-continues per doc and keeps the error record):
            # poison rows are kept (they index as empty docs) and
            # tagged, never dropped silently and never fatal.
            err = pa.nulls(nr, pa.string())
            if maxlen:
                lens = pc.utf8_length(pc.fill_null(text, ""))
                err = pc.if_else(pc.greater(lens, maxlen),
                                 pa.scalar("truncated", pa.string()), err)
            err = pc.if_else(pc.is_null(text),
                             pa.scalar("null_text", pa.string()), err)
            cols = {
                "pid": rb.column(name_idx["pid"]),
                "conv_id": rb.column(name_idx["conv_id"]),
                "turn_idx": rb.column(name_idx["turn_idx"]),
                "local_idx": pa.array(
                    np.arange(off, off + nr, dtype=np.int64),
                    type=pa.int64()),
                **({"tokens": toks} if cache_tokens else {}),
                "dl": pa.array(dl, type=pa.int64()),
                "err": err,
                **{a: rb.column(name_idx[a]) for a in attrs},
            }
            # mapInArrow does NOT coerce to the declared schema the way
            # mapInPandas did: cast the passthrough columns whose input
            # type may be wider (int64 turn_idx from a pandas-created
            # DataFrame) than the declared one
            for k, want in (("pid", pa.int32()), ("turn_idx", pa.int32()),
                            ("conv_id", pa.string())):
                if cols[k].type != want:
                    cols[k] = cols[k].cast(want)
            if verify_order:
                # per-FILE order proof, streamed: the batch segments
                # into contiguous input_file_name runs (a batch almost
                # always holds one); within each run a row whose key is
                # <= its predecessor's (strict — duplicate keys violate
                # the input contract) is flagged, with the carried tail
                # key covering batch boundaries. local_idx restarts per
                # file so the driver can lay files out in key order.
                # (conv_id neighbor comparisons run vectorized in Arrow
                # C++; UTF-8 byte order == codepoint order, so they
                # agree with the pandas str comparisons they replace.)
                fid = rb.column(name_idx["_fid"]).to_numpy(
                    zero_copy_only=False)
                conv = rb.column(name_idx["conv_id"])
                tix = rb.column(name_idx["turn_idx"]).to_numpy(
                    zero_copy_only=False)
                seqs = np.empty(nr, dtype=np.int32)
                local = np.empty(nr, dtype=np.int64)
                bad = np.zeros(nr, dtype=bool)
                if nr > 1:
                    c_prev, c_cur = conv.slice(0, nr - 1), conv.slice(1)
                    less = pc.less(c_cur, c_prev).to_numpy(
                        zero_copy_only=False)
                    eq = pc.equal(c_cur, c_prev).to_numpy(
                        zero_copy_only=False)
                    badn = less | (eq & (tix[1:] <= tix[:-1]))
                starts = np.flatnonzero(np.r_[True, fid[1:] != fid[:-1]])
                bounds = np.r_[starts, nr]
                for s, e in zip(bounds[:-1], bounds[1:]):
                    sq = fseq.setdefault(int(fid[s]), len(fseq))
                    o = offs.get(sq, 0)
                    local[s:e] = np.arange(o, o + (e - s), dtype=np.int64)
                    offs[sq] = o + (e - s)
                    seqs[s:e] = sq
                    if e > s + 1:
                        bad[s + 1:e] = badn[s:e - 1]
                    tail = tails.get(sq)
                    if tail is not None:
                        bad[s] |= (str(conv[s].as_py()),
                                   int(tix[s])) <= tail
                    tails[sq] = (str(conv[e - 1].as_py()), int(tix[e - 1]))
                cols["local_idx"] = pa.array(local, type=pa.int64())
                cols["seq"] = pa.array(seqs, type=pa.int32())
                cols["ooo"] = pa.array(bad.astype(np.int32),
                                       type=pa.int32())
            off += nr
            yield pa.RecordBatch.from_arrays(
                list(cols.values()), names=list(cols.keys()))

    # attr columns keep their INPUT types (role/tool are strings, ts is
    # a timestamp — round 5: ts rides into the forward table so ES-style
    # date-range filters have a column to hit)
    in_types = dict(dfp.dtypes)
    attr_ddl = "".join(f", {a} {in_types[a]}" for a in attrs)
    dfl = dfp.mapInArrow(
        local_idx_and_tokenize,
        schema="pid int, conv_id string, turn_idx int, local_idx bigint, "
               + ("tokens array<string>, " if cache_tokens else "")
               + "dl bigint, err string" + attr_ddl
               + (", seq int, ooo int" if verify_order else ""),
    )
    # persist: the range partitioner samples; pin the partitioning so
    # the count job and downstream see identical placement.
    dfl = dfl.persist(StorageLevel.MEMORY_AND_DISK)

    # ONE bookkeeping job: per-unit counts for the offsets AND the
    # global stats (N, sum_dl) — no separate agg action later. The
    # unit is the partition ('shuffle') or the input FILE within a
    # partition ('verify' — (pid, seq)); in 'verify' mode the same job
    # also returns each file's key bounds + order flag, so the
    # global-order proof costs no extra job.
    unit = ["pid", "seq"] if verify_order else ["pid"]
    aggs = [F.count(F.lit(1)).alias("count"), F.sum("dl").alias("sum_dl")]
    if verify_order:
        key = F.struct("conv_id", "turn_idx")
        aggs += [F.max("ooo").alias("ooo"),
                 F.min(key).alias("min_key"), F.max(key).alias("max_key")]
    counts = (
        dfl.groupBy(*unit).agg(*aggs)
        .toPandas().sort_values(unit)
    )
    if verify_order and len(counts):
        if int(counts["ooo"].fillna(0).max()) > 0:
            dfl.unpersist()
            raise ValueError(
                "input_order='verify': rows are NOT "
                "(conv_id, turn_idx)-sorted within at least one input "
                "file (or contain duplicate keys); rebuild with "
                "input_order='shuffle'")
        # offsets assigned in GLOBAL KEY order (not scan order): the
        # docID invariant holds for any sorted-but-unordered file list.
        # groupBy emits no empty units, so every row's (pid, seq) joins.
        counts["_k"] = counts["min_key"].map(
            lambda r: (r["conv_id"], r["turn_idx"]))
        counts["_K"] = counts["max_key"].map(
            lambda r: (r["conv_id"], r["turn_idx"]))
        counts = counts.sort_values("_k").reset_index(drop=True)
        for i in range(1, len(counts)):
            if counts["_K"].iloc[i - 1] >= counts["_k"].iloc[i]:
                dfl.unpersist()
                raise ValueError(
                    "input_order='verify': input files have "
                    "OVERLAPPING (conv_id, turn_idx) ranges "
                    f"(one file ends at {counts['_K'].iloc[i - 1]!r}, "
                    f"another starts at {counts['_k'].iloc[i]!r}); "
                    "rebuild with input_order='shuffle'")
    offsets = (counts["count"].cumsum().shift(fill_value=0) + doc_ord_base).astype("int64")
    # columns MUST lay out in schema order: createDataFrame(pandas,
    # ddl-string) binds by POSITION, not name
    if verify_order:
        odata = pd.DataFrame({"pid": counts["pid"].astype("int32"),
                              "seq": counts["seq"].astype("int32"),
                              "offset": offsets})
        oschema = "pid int, seq int, offset bigint"
    else:
        odata = pd.DataFrame({"pid": counts["pid"].astype("int32"),
                              "offset": offsets})
        oschema = "pid int, offset bigint"
    offsets_df = spark.createDataFrame(odata, schema=oschema)
    out = (
        dfl.join(F.broadcast(offsets_df), unit)
        .withColumn("doc_ord", (F.col("offset") + F.col("local_idx")).cast("bigint"))
        .drop("offset", "local_idx", *(["seq"] if verify_order else []))
    )
    out._sparkbm25_cached = dfl  # so build_index can unpersist
    out._sparkbm25_counts = counts  # (pid, count, sum_dl) for stats
    if not cache_tokens:
        # handles for the caller's fused (tokenize + doc_ord) re-scan:
        # the scan plan is deterministic (same files, same pinned split
        # sizing, verify-proven per-file order), so the kernel re-derives
        # identical (pid, seq, local_idx) and maps them through offsets;
        # the row counts let it prove each unit came back whole
        out._sparkbm25_dfp = dfp
        out._sparkbm25_units = {
            (int(p), int(s)): (int(o), int(c))
            for p, s, o, c in zip(counts["pid"], counts["seq"], offsets,
                                  counts["count"])}
    return out


def term_bucket_col(term_col, n_buckets: int):
    """crc32-derived term bucket — MUST match IndexConfig.term_bucket_of
    so the query driver can route to segment partitions client-side
    (ES `_routing` analog, es_translator/es.py:73-80). crc32 because it
    is cheap in the JVM AND byte-identical in Python's zlib."""
    return F.pmod(
        F.crc32(term_col.cast("binary")), F.lit(n_buckets)
    ).cast("int")


_BLOCK_PA_TYPES: dict[bool, object] = {}


def _block_pa_type(with_pos: bool = False):
    import pyarrow as pa

    if with_pos not in _BLOCK_PA_TYPES:
        fields = [
            ("first_doc", pa.int64()),
            ("n", pa.int32()),
            ("gaps", pa.binary()),
            ("tfs", pa.binary()),
            ("dls", pa.binary()),
        ]
        if with_pos:
            fields.append(("pos", pa.binary()))
        _BLOCK_PA_TYPES[with_pos] = pa.list_(pa.struct(fields))
    return _BLOCK_PA_TYPES[with_pos]


def segment_pa_schema(with_pos: bool = False):
    """Arrow schema of one segment file: segment_schema without its
    term_bucket partition column."""
    import pyarrow as pa

    return pa.schema([("term", pa.string()), ("salt", pa.int32()),
                      ("n_docs", pa.int64()),
                      ("blocks", _block_pa_type(with_pos))])


_RESCAN_MISMATCH = (
    "fused pack re-scan does not reproduce the bookkeeping pass: a "
    "(pid, seq) input unit is missing or its row count differs, so the "
    "input changed between the two scans or its scan is not "
    "deterministic — rebuild with input_order='shuffle'")


def _make_tok_ingest(units_bc, pattern: str, maxlen: int):
    """Ingest for the FUSED tokenize+pack scan (input_order='verify'):
    batches carry (pid, _fid, text); the task re-derives the
    bookkeeping pass's (seq, local_idx) from the same deterministic
    file runs and maps them through the broadcast
    {(pid, seq): (offset, row count)} table to absolute doc_ords. Token
    lists exist only inside the Python worker that immediately packs
    them — they never cross to the JVM or into any cache (guide §8:
    the heavy token bytes move exactly once, straight into the packed
    runs). Every unit must come back with exactly the row count the
    bookkeeping pass saw; anything else raises, because a changed
    input would otherwise shift doc_ords silently."""
    from sparkbm25.analysis import (DEFAULT_TOKEN_PATTERN,
                                    tokenize_arrow_ascii, tokenize_series)

    def ingest(batches):
        import pyarrow as pa

        units = units_bc.value
        fseq: dict = {}   # crc32(file) -> dense seq within this task
        seen: dict = {}   # seq -> rows re-scanned so far
        pid = None
        for rb in batches:
            nr = rb.num_rows
            ni = {n: i for i, n in enumerate(rb.schema.names)}
            text = rb.column(ni["text"])
            fast = (tokenize_arrow_ascii(text, maxlen)
                    if pattern == DEFAULT_TOKEN_PATTERN else None)
            if fast is not None:
                toks = fast[0]
            else:
                toks_pd = tokenize_series(text.to_pandas(), pattern, maxlen)
                toks = pa.array(toks_pd.tolist(), type=pa.list_(pa.string()))
            pid = int(rb.column(ni["pid"])[0].as_py())
            fid = rb.column(ni["_fid"]).to_numpy(zero_copy_only=False)
            docs = np.empty(nr, dtype=np.int64)
            starts = np.flatnonzero(np.r_[True, fid[1:] != fid[:-1]])
            bounds = np.r_[starts, nr]
            for s, e in zip(bounds[:-1], bounds[1:]):
                sq = fseq.setdefault(int(fid[s]), len(fseq))
                o = seen.get(sq, 0)
                unit = units.get((pid, sq))
                if unit is None or o + (e - s) > unit[1]:
                    raise RuntimeError(_RESCAN_MISMATCH)
                docs[s:e] = unit[0] + o + np.arange(e - s, dtype=np.int64)
                seen[sq] = o + (e - s)
            yield docs, toks
        if pid is None:
            # no rows came back: the scan partition still owns the units
            # the bookkeeping pass saw in it (the task runs in the scan's
            # stage, so its partition id IS the scan's pid)
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else None
        if pid is not None and seen != {
                sq: c for (p, sq), (_o, c) in units.items() if p == pid}:
            raise RuntimeError(_RESCAN_MISMATCH)

    return ingest


def _ingest_doc_tokens(batches):
    """Default pack ingest: (doc_ord, tokens) rows from stage 1."""
    for rb in batches:
        yield (rb.column(rb.schema.get_field_index("doc_ord"))
               .to_numpy(zero_copy_only=False),
               rb.column(rb.schema.get_field_index("tokens")))


def _make_pack_kernel(ns: int, base: int, n_docs: int, with_pos: bool,
                      ingest=_ingest_doc_tokens):
    """Map-side SPIMI combine: one Arrow pass per doc-contiguous input
    partition that turns (doc_ord, tokens) rows — as yielded by
    ingest(batches) — into ONE packed row per (term, salt):

        (term, salt, min_doc, n_runs, runs[, pos])

    runs is a varint stream of interleaved (doc delta, tf, dl) per
    posting — the first doc of each packed row is absolute, so rows
    merge by concatenation. pos (store_positions) is the group's raw
    within-doc positions as varints, occurrence order.

    Why map-side: the shuffled rows are the build's memory-bandwidth
    ceiling (BENCH/BASELINE.md). An occurrence row costs ~30-40 B
    of serialization + sort traffic per token (string term + int64 doc
    + int32 dl + Tungsten row overhead); the packed run costs ~3-4
    varint bytes, the term string ships once per (partition, term,
    salt), and the partition-wide Tungsten sort over raw occurrences is
    replaced by a numpy stable argsort over int32 dictionary codes
    inside the same Python worker that already holds the Arrow batch.
    Measured whole-build at 960k turns (BENCH/r5/shuffle_bytes.json):
    shuffle records 17.2M -> 1.34M (12.8x); on-wire zstd bytes only
    1.35x smaller (the sorted occurrence stream compressed well) — the
    win is the eliminated row materialization + sort, not the wire.

    Memory: the kernel buffers one input partition's occurrence arrays
    (~16 B/token + the Arrow token buffer). At the 128 MB input-split
    sizing a 100 TB cluster run uses, that is a few hundred MB/task —
    the same order the Tungsten sort buffers today.

    Correctness invariants: token order inside a list IS position
    order, and a (term, doc) pair lives in exactly one partition
    (shuffle mode ranges on the key; verify mode's files are proven
    range-disjoint) — so tf completes map-side. Shuffle-mode
    partitions are doc_ord-ascending, so a stable sort on term codes
    keeps (doc, pos) order inside groups; verify-mode partitions can
    jump down at bin-packed file boundaries (and their doc ranges
    interleave ACROSS partitions), which the kernel detects (one
    np.diff scan) and handles by splitting packed rows on the
    monotonic file segment — every emitted row stays a sorted,
    globally range-disjoint run, which is what the reduce-side
    min_doc concatenation merge requires."""

    def pack(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from sparkbm25.codec import varint_encode_with_offsets

        doc_chunks: list[np.ndarray] = []
        tok_chunks: list = []
        for docs_b, toks_b in ingest(rb for rb in batches if rb.num_rows):
            doc_chunks.append(docs_b)
            tok_chunks.append(toks_b)
        if not doc_chunks:
            return
        docs_d = np.concatenate(doc_chunks)
        toks = pa.chunked_array(tok_chunks)
        counts = pc.list_value_length(toks).fill_null(0).to_numpy(
            zero_copy_only=False).astype(np.int64)
        flat = pc.list_flatten(toks).combine_chunks()
        n = len(flat)
        if n == 0:
            return
        occ_doc = np.repeat(docs_d, counts)
        occ_dl = np.repeat(counts, counts)  # dl == len(tokens) by construction
        occ_pos = None
        if with_pos:
            doc_starts = np.concatenate(
                ([0], np.cumsum(counts)[:-1])).astype(np.int64)
            occ_pos = np.arange(n, dtype=np.int64) - np.repeat(doc_starts, counts)

        # group by term WITHOUT a string sort: dictionary-encode in
        # Arrow C++, stable-argsort the int32 codes (keeps doc/pos order)
        dict_arr = pc.dictionary_encode(flat)
        codes = dict_arr.indices.to_numpy(zero_copy_only=False)
        vocab = dict_arr.dictionary
        s_seg = None
        if docs_d.size > 1 and np.any(np.diff(docs_d) < 0):
            # input_order='verify' partitions are doc-ascending within
            # each FILE run but the scan bin-packs files in SIZE order,
            # so doc_ord jumps DOWN at file boundaries AND one
            # partition's doc ranges INTERLEAVE with another's (the
            # exact case test_verify_multi_file_partitions builds). A
            # plain stable code-argsort then emits unsorted docs inside
            # groups (negative run deltas wrapping through uint64) —
            # and even sorted, one row per (term, salt) would break the
            # reduce side, which concatenates rows as DISJOINT
            # min_doc-ordered RANGES (final-round review finding).
            # Both restore at once by splitting on the monotonic
            # segment: each down-jump starts a new seg (== file run,
            # globally range-disjoint by the verify proof), the sort
            # adds doc as secondary key (stability keeps within-doc
            # position order), and seg joins the group-change criterion
            # so each packed row spans ONE segment. The common case
            # (shuffle mode, or verify with one file run per partition)
            # pays only the np.diff scan.
            seg = np.zeros(docs_d.size, dtype=np.int64)
            seg[1:] = np.cumsum(np.diff(docs_d) < 0)
            occ_seg = np.repeat(seg, counts)
            order = np.lexsort((occ_doc, codes))
            s_seg = occ_seg[order]
        else:
            order = np.argsort(codes, kind="stable")
        s_codes = codes[order]
        s_doc = occ_doc[order]
        s_dl = occ_dl[order]
        s_pos = occ_pos[order] if with_pos else None
        salt = np.minimum(
            ns - 1, (s_doc - base) * ns // max(n_docs, 1)).astype(np.int32)

        change = np.empty(n, dtype=bool)
        change[0] = True
        if n > 1:
            change[1:] = (s_codes[1:] != s_codes[:-1]) | (salt[1:] != salt[:-1])
            if s_seg is not None:
                change[1:] |= s_seg[1:] != s_seg[:-1]
        gstarts = np.flatnonzero(change)
        go_occ = np.append(gstarts, n).astype(np.int64)
        G = gstarts.size

        region, kw = _occurrences_to_runs(
            change, s_doc, s_dl, n, go_occ, s_pos)
        run_docs, run_tfs, run_dls, go_runs = region
        m = run_docs.size

        deltas = run_docs.astype(np.uint64)
        if m > 1:
            d = deltas.copy()
            d[1:] = deltas[1:] - deltas[:-1]
            d[go_runs[:-1]] = deltas[go_runs[:-1]]  # group-first absolute
            deltas = d
        vals = np.empty(3 * m, dtype=np.uint64)
        vals[0::3] = deltas
        vals[1::3] = run_tfs.astype(np.uint64)
        vals[2::3] = run_dls.astype(np.uint64)
        buf, voff = varint_encode_with_offsets(vals)
        if voff[-1] > np.iinfo(np.int32).max:
            # int32 Arrow binary offsets: a single input partition whose
            # packed payload exceeds 2 GiB means the split sizing is off
            # by ~20x (a 128 MB input split packs to ~100 MB) — fail
            # loudly instead of overflowing the offsets silently
            raise ValueError(
                "packed partition payload exceeds 2 GiB; raise "
                "n_doc_partitions (or shrink input splits) so each "
                "partition packs to well under int32 offsets")
        byte_off = voff[3 * go_runs].astype(np.int32)
        runs_col = pa.Array.from_buffers(
            pa.binary(), G, [None, pa.py_buffer(byte_off), pa.py_buffer(buf)])

        arrays = [
            vocab.take(pa.array(s_codes[gstarts], type=pa.int64())).cast(
                pa.string()),
            pa.array(salt[gstarts], type=pa.int32()),
            pa.array(run_docs[go_runs[:-1]], type=pa.int64()),
            pa.array(np.diff(go_runs), type=pa.int64()),
            runs_col,
        ]
        names = ["term", "salt", "min_doc", "n_runs", "runs"]
        if with_pos:
            pbuf, pvoff = varint_encode_with_offsets(
                kw["positions"].astype(np.uint64))
            if pvoff[-1] > np.iinfo(np.int32).max:
                raise ValueError(
                    "packed partition positions payload exceeds 2 GiB; "
                    "raise n_doc_partitions (see runs-payload guard)")
            p_off = pvoff[go_occ].astype(np.int32)
            arrays.append(pa.Array.from_buffers(
                pa.binary(), G,
                [None, pa.py_buffer(p_off), pa.py_buffer(pbuf)]))
            names.append("pos")
        yield pa.RecordBatch.from_arrays(arrays, names=names)

    return pack


def _binary_col_stream(col) -> tuple[bytes, np.ndarray]:
    """Arrow binary column -> (concatenated payload bytes, per-row byte
    lengths). Fast path reads the offsets + data buffers directly (rows
    are adjacent in Arrow's layout); any sliced/offset layout falls back
    to a per-row join."""
    if hasattr(col, "combine_chunks"):  # ChunkedArray -> Array
        col = col.combine_chunks()
    if col.null_count == 0 and col.offset == 0:
        offs = np.frombuffer(col.buffers()[1], dtype=np.int32,
                             count=len(col) + 1)
        data = np.frombuffer(col.buffers()[2], dtype=np.uint8,
                             count=int(offs[-1]))
        return data[offs[0]:].tobytes(), np.diff(offs).astype(np.int64)
    rows = col.to_pylist()
    return b"".join(r or b"" for r in rows), np.array(
        [len(r or b"") for r in rows], dtype=np.int64)


def _make_merge_encoder(block_size: int, nb: int, postings_acc=None,
                        rows_acc=None, with_pos: bool = False):
    """Reduce-side SPIMI merge: input rows are packed
    (term, salt, min_doc, n_runs, runs[, pos]) sorted by
    (term, salt, min_doc) within the partition. Rows of one (term,
    salt) group concatenate into the group's posting run (partition
    doc ranges are disjoint and min_doc-ordered), which block-encodes
    through codec.encode_blocks_batch. Groups spanning Arrow batches
    are carried; decode of every blob in a batch happens in ONE varint
    pass."""

    def merge(batches):
        import zlib

        import pyarrow as pa
        import pyarrow.compute as pc

        from sparkbm25.codec import encode_blocks_batch, varint_decode

        carry = None  # {"term_pa", "salt", "docs", "tfs", "dls", "pos"}

        def emit(terms_pa, salts, docs, tfs, dls, go, positions=None):
            # Rows of a group concatenated by min_doc are doc-DISJOINT
            # but not always span-disjoint: a verify-mode partition
            # whose bin-packed files happen to concatenate ascending
            # (files 0,2,4) triggers no map-side segment split, yet its
            # one packed row SPANS another partition's file (1) — so
            # the concatenation is out of order even though every row
            # is sorted (final-round review finding; also covers the
            # adjacent-crc-collision merged-run corner). Detect the
            # interior down-jump and re-sort runs within each group —
            # one np.diff scan when clean, which is the common case.
            L = docs.size
            if L > 1:
                interior = np.ones(L - 1, dtype=bool)
                interior[go[1:-1] - 1] = False
                if ((np.diff(docs) < 0) & interior).any():
                    gid = np.repeat(np.arange(go.size - 1), np.diff(go))
                    perm = np.lexsort((docs, gid))
                    if with_pos:
                        # permute the occurrence stream at run
                        # granularity (run i owns its tf positions)
                        old_off = np.concatenate(
                            ([0], np.cumsum(tfs)))[:-1]
                        lens = tfs[perm]
                        starts = old_off[perm]
                        out_off = np.concatenate(
                            ([0], np.cumsum(lens)))[:-1]
                        idx = (np.arange(positions.size)
                               - np.repeat(out_off, lens)
                               + np.repeat(starts, lens))
                        positions = positions[idx]
                    docs, tfs, dls = docs[perm], tfs[perm], dls[perm]
            kw = {}
            if with_pos:
                occ_off = np.concatenate(
                    ([0], np.cumsum(tfs))).astype(np.int64)
                kw = {"positions": positions, "occ_offsets": occ_off}
            blocks = encode_blocks_batch(
                docs, tfs, dls, go, block_size=block_size, **kw)
            if postings_acc is not None:
                postings_acc.add(int(docs.size))
                rows_acc.add(int(go.size - 1))
            tb = np.fromiter(
                (zlib.crc32(t.encode()) % nb for t in terms_pa.to_pylist()),
                dtype=np.int32, count=len(terms_pa))
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(tb, type=pa.int32()),
                    terms_pa.cast(pa.string()),
                    pa.array(salts, type=pa.int32()),
                    pa.array(np.diff(go), type=pa.int64()),
                    pa.array(blocks, type=_block_pa_type(with_pos)),
                ],
                names=["term_bucket", "term", "salt", "n_docs", "blocks"],
            )

        for rb in batches:
            if rb.num_rows == 0:
                continue
            term_pa = rb.column(rb.schema.get_field_index("term"))
            salt = rb.column(rb.schema.get_field_index("salt")).to_numpy(
                zero_copy_only=False)
            nr = rb.column(rb.schema.get_field_index("n_runs")).to_numpy(
                zero_copy_only=False).astype(np.int64)
            stream, _lens = _binary_col_stream(
                rb.column(rb.schema.get_field_index("runs")))
            vals = varint_decode(stream)
            deltas = vals[0::3]
            tfs = vals[1::3].astype(np.int64)
            dls = vals[2::3].astype(np.int64)
            # within-row cumsum (row firsts are absolute): rows chain
            # into groups by concatenation because doc ranges are
            # disjoint and the sort ordered them by min_doc
            rs = np.concatenate(([0], np.cumsum(nr)))[:-1]
            cs = np.cumsum(deltas.astype(np.int64))
            anchor = cs[rs] - deltas[rs].astype(np.int64)
            docs = cs - np.repeat(anchor, nr)
            pos = None
            if with_pos:
                pstream, _pl = _binary_col_stream(
                    rb.column(rb.schema.get_field_index("pos")))
                pos = varint_decode(pstream).astype(np.int64)

            if carry is not None:
                term_pa = pa.concat_arrays(
                    [carry["term_pa"].cast(term_pa.type), term_pa])
                salt = np.concatenate(([carry["salt"]], salt))
                nr = np.concatenate(([carry["docs"].size], nr))
                docs = np.concatenate([carry["docs"], docs])
                tfs = np.concatenate([carry["tfs"], tfs])
                dls = np.concatenate([carry["dls"], dls])
                if with_pos:
                    pos = np.concatenate([carry["pos"], pos])
                carry = None

            R = len(term_pa)
            change = np.empty(R, dtype=bool)
            change[0] = True
            if R > 1:
                neq = pc.not_equal(term_pa.slice(1), term_pa.slice(0, R - 1))
                change[1:] = (neq.to_numpy(zero_copy_only=False)
                              | (salt[1:] != salt[:-1]))
            g_rows = np.flatnonzero(change)
            row_run_off = np.concatenate(([0], np.cumsum(nr)))

            last_row = int(g_rows[-1])
            cut = int(row_run_off[last_row])  # run-space end of complete region
            occ_cut = None
            if with_pos:
                occ_all = np.concatenate(([0], np.cumsum(tfs)))
                occ_cut = int(occ_all[cut])
            carry = {
                "term_pa": term_pa.slice(last_row, 1),
                "salt": salt[last_row],
                "docs": docs[cut:], "tfs": tfs[cut:], "dls": dls[cut:],
                "pos": pos[occ_cut:] if with_pos else None,
            }
            if g_rows.size == 1:
                continue  # whole batch is one (possibly continuing) group
            go = row_run_off[g_rows].astype(np.int64)  # last == cut
            yield emit(
                term_pa.take(pa.array(g_rows[:-1], type=pa.int64())),
                salt[g_rows[:-1]],
                docs[:cut], tfs[:cut], dls[:cut], go,
                positions=pos[:occ_cut] if with_pos else None,
            )

        if carry is not None and carry["docs"].size:
            go = np.array([0, carry["docs"].size], dtype=np.int64)
            yield emit(carry["term_pa"], np.array([carry["salt"]]),
                       carry["docs"], carry["tfs"], carry["dls"], go,
                       positions=carry["pos"])

    return merge


def _occurrences_to_runs(group_change, docs, dls, L, group_offsets, pos=None):
    """Raw occurrence region -> ((unique docs, tf run-lengths, dls,
    group offsets remapped to run space), positions kwargs). The
    occurrence stream is sorted by (term, salt, doc_ord[, pos]), so a
    run == one posting and its occurrence slice == the posting's
    within-doc positions. group_change is the group boundary mask over
    the full concat array; only [:L] is complete."""
    doc_change = np.empty(L, dtype=bool)
    doc_change[0] = True
    if L > 1:
        doc_change[1:] = docs[1:L] != docs[:L - 1]
    rmask = group_change[:L] | doc_change
    rstarts = np.flatnonzero(rmask)
    run_ends = np.append(rstarts[1:], L)
    region = (
        docs[rstarts],
        (run_ends - rstarts).astype(np.int64),
        dls[rstarts],
        np.searchsorted(rstarts, group_offsets).astype(np.int64),
    )
    kw = {}
    if pos is not None:
        kw = {"positions": pos[:L].astype(np.int64),
              "occ_offsets": np.append(rstarts, L).astype(np.int64)}
    return region, kw


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    index_dir: str,
    config: IndexConfig = IndexConfig(),
    *,
    resume: bool = False,
    input_desc: str = "",
    doc_ord_base: int = 0,
) -> BuildResult:
    """Build (or resume building) the inverted index at index_dir.

    resume=False wipes index_dir (the reference's --force, cli.py:147);
    resume=True anti-joins the manifest and only builds what is missing
    (idempotency predicate analog, es_translator/es.py:131-150).
    index_dir must be a local path (localio.require_local_root).
    """
    localio.require_local_root(spark, index_dir)
    if config.encoder != "packed":
        raise ValueError(f"encoder must be 'packed', got {config.encoder!r}")
    t0 = time.time()
    lineage = f"{config.config_hash()}:{input_desc}"

    if not resume and os.path.isdir(index_dir):
        shutil.rmtree(index_dir)
    os.makedirs(index_dir, exist_ok=True)
    catalog.clear_staging(index_dir)

    done = catalog.done_set(catalog.read_manifest(index_dir), lineage) if resume else set()

    n_chunks = (
        1 if not config.checkpoint_runs
        else max(1, min(config.n_build_chunks, config.n_term_buckets))
    )
    pending_chunks = [c for c in range(n_chunks) if ("segments", c) not in done]
    # a resume under another config may commit fewer chunks than the
    # build it replaces: chunk dirs it will never rewrite would add
    # stale duplicate postings to every query
    seg_root = catalog.segments_dir(index_dir)
    for name in os.listdir(seg_root) if os.path.isdir(seg_root) else ():
        if name.startswith("chunk=") and int(name[6:]) >= n_chunks:
            shutil.rmtree(os.path.join(seg_root, name))
    tf_path = catalog.tf_dir(index_dir)
    with_pos = config.store_positions

    # ---------------- stage 1: docs + stats + packed runs -------------
    # Pending segment chunks need the runs: from the on-disk checkpoint
    # when there is one, else stage 1 runs again (without a checkpoint
    # the runs only ever stream into stage 2).
    packed = None
    stage1_done = ("tf", -1) in done and (
        not pending_chunks
        or (config.checkpoint_runs and os.path.isdir(tf_path)))
    if stage1_done:
        stats = catalog.read_stats(index_dir)
        n_docs, avgdl = stats["n_docs"], stats["avgdl"]
    else:
        s0 = time.time()
        # verify-order builds keep token lists OUT of the bookkeeping
        # cache entirely: stage 1 caches only the small id/dl/err proxy
        # rows, and the pack kernel re-derives (doc_ord, tokens) inside
        # the fused tokenize+pack scan (see _make_tok_ingest) — the
        # heavy token bytes go straight from the input scan into packed
        # runs, crossing the Python boundary exactly once and never
        # entering the block cache
        fused = config.input_order == "verify"
        df_tok = assign_doc_ords(transcripts, config, doc_ord_base,
                                 cache_tokens=not fused)

        # forward table (doc_ord ↔ (conv_id, turn_idx), dl) — needed for
        # top-k id resolution and the text-equality invariant check.
        catalog_docs = catalog.staging_dir(index_dir, "docs")
        attr_cols = [c for c in ("role", "tool", "ts") if c in df_tok.columns]
        from sparkbm25.annotate import ANNOTATION_TYPE

        (
            df_tok.select("doc_ord", "conv_id", "turn_idx", "dl", "err",
                          *attr_cols)
            # uniform annotations schema from day one, so a partial
            # annotate (rewriting only affected doc_blocks) never mixes
            # schemas across partition dirs
            .withColumn("annotations", F.lit(None).cast(ANNOTATION_TYPE))
            # doc_ord-range directory partitioning: point resolves prune
            # to the requested blocks; annotate rewrites only affected
            # blocks. Input partitions are doc_ord-contiguous (range
            # shuffle), so each task touches ~1 block — no file blowup.
            .withColumn("doc_block",
                        F.floor(F.col("doc_ord") / config.doc_block_size)
                        .cast("bigint"))
            .write.mode("overwrite").partitionBy("doc_block")
            .parquet(catalog_docs)
        )
        catalog.commit_staging(index_dir, "docs", catalog.docs_dir(index_dir))

        counts = df_tok._sparkbm25_counts
        n_docs = int(counts["count"].sum())
        sum_dl = int(counts["sum_dl"].fillna(0).sum())
        avgdl = (sum_dl / n_docs) if n_docs else 0.0

        # map-side SPIMI combine: NO explode — the pack kernel flattens
        # the tokens ListArray zero-copy and aggregates (term, doc) runs
        # inside the partition (positions ride the token order, so
        # store_positions needs no posexplode either)
        if fused:
            # fused scan input: narrow (pid, _fid, text) columns
            # straight off the input scan; the pack ingest tokenizes
            # and assigns doc_ords itself
            runs_src = df_tok._sparkbm25_dfp.select("pid", "_fid", "text")
            ingest = _make_tok_ingest(
                spark.sparkContext.broadcast(df_tok._sparkbm25_units),
                config.token_pattern, config.max_content_length)
        else:
            runs_src = df_tok.select("doc_ord", "tokens")
            ingest = _ingest_doc_tokens
        packed = runs_src.mapInArrow(
            _make_pack_kernel(config.n_salt_buckets, doc_ord_base, n_docs,
                              with_pos, ingest=ingest),
            schema=runs_schema(with_pos))
        if config.checkpoint_runs:
            # the resumable configuration: the packed runs are the
            # on-disk SPIMI checkpoint, one directory per term_bucket so
            # each stage-2 chunk reads only its own buckets. Co-locate
            # each bucket in one task before the partitioned write:
            # file count = n_buckets, not tasks × buckets
            nb = config.n_term_buckets
            (
                packed.withColumn("term_bucket",
                                  term_bucket_col(F.col("term"), nb))
                .repartition(nb, "term_bucket")
                .write.mode("overwrite").partitionBy("term_bucket")
                .parquet(catalog.staging_dir(index_dir, "tf"))
            )
            catalog.commit_staging(index_dir, "tf", tf_path)
            df_tok._sparkbm25_cached.unpersist()
            packed = None

        catalog.write_stats(
            index_dir,
            {
                "n_docs": n_docs,
                "avgdl": avgdl,
                "sum_dl": sum_dl,
                "doc_ord_base": doc_ord_base,
                "config": config.to_json(),
                "lineage": lineage,
            },
        )
        s1 = time.time()
        catalog.append_manifest(index_dir, _mrow(
            "tf", -1, n_docs, 0, s0, s1, lineage))

    if n_docs == 0:
        # empty input: a valid index is just the stats (queries
        # short-circuit on n_docs == 0; nothing to encode or resolve)
        if packed is not None:
            df_tok._sparkbm25_cached.unpersist()
        _finish(index_dir)
        return BuildResult(index_dir=index_dir, n_docs=0, avgdl=0.0,
                           seconds=time.time() - t0, turns_per_sec=0.0)

    # ---------------- stage 2: segments, chunked ----------------------
    # shuffle the packed runs by (term, salt) so a group lives in one
    # partition; the partition-local min_doc sort makes the reduce side
    # a concatenation merge (disjoint, min_doc-ordered ranges) into the
    # block codec. The exchange moves compressed runs (~3-4 B/posting),
    # not occurrence rows (~30-40 B/token).
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for chunk in pending_chunks:
        c0 = time.time()
        if packed is not None:
            runs = packed  # single-chunk streaming path
            n_out = config.n_term_buckets
        else:
            buckets = [bk for bk in range(config.n_term_buckets) if bk % n_chunks == chunk]
            import pyarrow.parquet as pq

            tf_files = _parquet_files(tf_path)
            if tf_files and "runs" not in pq.read_schema(tf_files[0]).names:
                # a run table in another layout (an older release's
                # per-posting rows) is never decoded as packed runs
                raise RuntimeError(
                    f"{tf_path} holds no packed runs; rebuild with "
                    "resume=False")
            # the known schema, not inference: a corpus with no tokens
            # leaves tf/ without a single parquet file
            runs = (
                spark.read.schema(
                    runs_schema(with_pos) + ", term_bucket int")
                .parquet(tf_path)
                .where(F.col("term_bucket").isin(buckets))  # partition pruning
                .drop("term_bucket")
            )
            n_out = max(len(buckets), 1)
        postings_acc = spark.sparkContext.accumulator(0)
        rows_acc = spark.sparkContext.accumulator(0)
        merge = _make_merge_encoder(
            config.block_size, config.n_term_buckets, postings_acc, rows_acc,
            with_pos=with_pos)
        seg = (
            runs.repartition(n_shuffle, "term", "salt")
            .sortWithinPartitions("term", "salt", "min_doc")
            .mapInArrow(merge, schema=segment_schema(with_pos))
            # encoded segments are compact; one shuffle aligns files
            # with the term_bucket directory layout
            .repartition(n_out, "term_bucket")
        )
        stage_name = f"segchunk{chunk}"
        seg.write.mode("overwrite").partitionBy("term_bucket").parquet(
            catalog.staging_dir(index_dir, stage_name)
        )
        catalog.commit_staging(
            index_dir, stage_name, catalog.segments_chunk_dir(index_dir, chunk)
        )
        # chunk metrics: accumulators filled by the merge tasks (no
        # extra job, no driver-side column read)
        c1 = time.time()
        catalog.append_manifest(index_dir, _mrow(
            "segments", chunk, postings_acc.value, rows_acc.value, c0, c1,
            lineage))

    if packed is not None:
        df_tok._sparkbm25_cached.unpersist()

    # ---------------- stage 3: term dictionary ------------------------
    if config.build_terms_dict and ("terms", -1) not in done:
        d0 = time.time()
        segs = (spark.read.schema(segment_schema(with_pos))
                .parquet(catalog.segments_dir(index_dir)))
        # term-SORTED write: range-partitioned + sorted within each
        # partition, so a row group's min/max statistics on `term` are
        # tight. The driver expansion's band filter (term >= p AND
        # term < p+1) can skip row groups only when the dictionary
        # spans several; Spark's default 128 MB parquet block makes a
        # small vocabulary one row group (7,508 terms at 20k turns),
        # which every band then reads whole
        terms = (
            segs.groupBy("term")
            .agg(F.sum("n_docs").alias("df"), F.first("term_bucket").alias("term_bucket"))
            .repartitionByRange("term")
            .sortWithinPartitions("term")
        )
        terms.write.mode("overwrite").parquet(catalog.staging_dir(index_dir, "terms"))
        catalog.commit_staging(index_dir, "terms", catalog.terms_dir(index_dir))
        n_terms = _parquet_num_rows(catalog.terms_dir(index_dir))
        d1 = time.time()
        catalog.append_manifest(index_dir, _mrow(
            "terms", -1, 0, n_terms, d0, d1, lineage))

    _finish(index_dir)
    seconds = time.time() - t0
    return BuildResult(
        index_dir=index_dir,
        n_docs=n_docs,
        avgdl=float(avgdl),
        seconds=seconds,
        turns_per_sec=(n_docs / seconds) if seconds > 0 else 0.0,
    )


def _finish(index_dir: str) -> None:
    """Mark the index complete, then drop the runs checkpoint: only a
    pending stage-2 chunk reads tf/, and a complete index has none."""
    catalog.clear_staging(index_dir)
    catalog.write_complete_marker(index_dir)
    shutil.rmtree(catalog.tf_dir(index_dir), ignore_errors=True)


def _parquet_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in files if f.endswith(".parquet"))
    return out


def _parquet_num_rows(root: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(root))


def _mrow(stage: str, pid: int, n_turns: int, n_terms: int,
          t_start: float, t_end: float, lineage: str) -> dict:
    secs = max(t_end - t_start, 1e-9)
    return {
        "stage": stage,
        "partition_id": pid,
        "status": "done",
        "n_turns": n_turns,
        "n_terms": n_terms,
        "seconds": secs,
        "turns_per_sec": n_turns / secs,
        "started_at": pd.Timestamp(t_start, unit="s"),
        "finished_at": pd.Timestamp(t_end, unit="s"),
        "lineage": lineage,
    }
