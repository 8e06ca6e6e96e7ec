"""Generation compaction — the segment force-merge of this engine
(Lucene forceMerge / ES _forcemerge analog).

An incrementally-grown index (streaming.update_index) is a list of
self-contained generations; queries union G parquet roots, and each
generation's block maxima were encoded under its own avgdl.
Compaction folds all generations into ONE root:

  * segments: all generations' rows physically co-located under a
    single term_bucket-partitioned root (one pruned scan instead of G),
    with every block's max_impact RE-COMPUTED against the global avgdl
    (stored for block-max pruning; no query path reads it yet).
    Posting bytes (gaps/tfs/dls/pos) are untouched: doc_ord ranges of
    generations are disjoint and ordered by construction, so block
    lists merge by concatenation.
  * docs: one doc_block-partitioned forward table.
  * terms: re-aggregated dictionary; stats.json: the global stats.

Compaction is itself a distributed job: the re-max pass is a
shuffle-free mapInArrow over segment rows; only the bucket-aligned
writes shuffle (compact rows, not postings)."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
from pyspark.sql import SparkSession, functions as F

from sparkbm25 import catalog
from sparkbm25.build import BuildResult, _mrow, segment_schema, term_bucket_col
from sparkbm25.codec import varint_decode
from sparkbm25.config import IndexConfig
from sparkbm25.search import _read_segments


def _make_remax(k1: float, b: float, avgdl: float):
    """mapInArrow stage: decode each block's tfs/dls varints, recompute
    max_impact under the given (global) avgdl, re-emit the row with the
    posting bytes untouched (any extra struct fields — e.g. pos — pass
    through by name)."""

    def remax(batches):
        import pyarrow as pa

        for rb in batches:
            if rb.num_rows == 0:
                continue
            tb = pa.Table.from_batches([rb])
            lv = tb.column("blocks").combine_chunks()
            flat = lv.flatten()          # values aligned to offsets-min
            offs = lv.offsets.to_numpy()
            offs0 = (offs - offs[0]).astype(np.int32)
            names = [f.name for f in flat.type]
            cols = {n: flat.field(n) for n in names}
            tfs_bin = cols["tfs"].to_pylist()
            dls_bin = cols["dls"].to_pylist()
            new_max = np.empty(len(tfs_bin), dtype=np.float64)
            for i in range(len(tfs_bin)):
                tfs = varint_decode(tfs_bin[i]).astype(np.float64)
                dls = varint_decode(dls_bin[i]).astype(np.float64)
                denom = tfs + k1 * (1.0 - b + b * (dls / avgdl))
                new_max[i] = float((tfs / denom).max()) if tfs.size else 0.0
            new_fields = [
                pa.array(new_max, type=pa.float64()) if n == "max_impact"
                else cols[n]
                for n in names
            ]
            new_flat = pa.StructArray.from_arrays(new_fields, names=names)
            new_blocks = pa.ListArray.from_arrays(
                pa.array(offs0, type=pa.int32()), new_flat)
            arrays = [
                new_blocks if name == "blocks"
                else tb.column(name).combine_chunks()
                for name in tb.column_names
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=tb.column_names)

    return remax


def compact_index(spark: SparkSession, index_root: str, out_dir: str) -> BuildResult:
    """Fold every live generation of index_root into a single-root
    index at out_dir. Safe to run while readers use index_root (the
    output is a fresh directory with its own atomic commits)."""
    t0 = time.time()
    stats = catalog.global_stats(index_root)
    cfg = IndexConfig.from_json(stats["config"])
    n_docs, sum_dl = int(stats["n_docs"]), int(stats["sum_dl"])
    avgdl = stats["avgdl"]

    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    catalog.clear_staging(out_dir)
    lineage = f"{cfg.config_hash()}:compact:{os.path.abspath(index_root)}"

    # --- docs: one doc_block-partitioned forward table ---------------
    d0 = time.time()
    docs = catalog.read_docs(spark, index_root)
    docs_staging = catalog.staging_dir(out_dir, "docs")
    docs.write.mode("overwrite").partitionBy("doc_block").parquet(docs_staging)
    catalog.commit_staging(out_dir, "docs", catalog.docs_dir(out_dir))
    catalog.append_manifest(out_dir, _mrow(
        "tf", -1, n_docs, 0, d0, time.time(), lineage))

    # --- segments: union + re-max under the global avgdl -------------
    s0 = time.time()
    # each generation read with the known schema: a generation whose
    # turns yield no tokens has no segment file to infer one from
    with_pos = cfg.store_positions
    segs = _read_segments(spark, index_root, with_pos)
    # drop the partition column before the Arrow stage (mapInArrow
    # binds by position; re-derive the bucket from the term after)
    no_bucket_schema = segment_schema(with_pos).split(", ", 1)[1]
    remaxed = (
        segs.select("term", "salt", "n_docs", "blocks")
        .mapInArrow(_make_remax(cfg.k1, cfg.b, float(avgdl)),
                    schema=no_bucket_schema)
        .withColumn("term_bucket",
                    term_bucket_col(F.col("term"), cfg.n_term_buckets))
    )
    remaxed = remaxed.repartition(cfg.n_term_buckets, "term_bucket")
    seg_staging = catalog.staging_dir(out_dir, "segments")
    remaxed.write.mode("overwrite").partitionBy("term_bucket").parquet(seg_staging)
    catalog.commit_staging(
        out_dir, "segments", catalog.segments_chunk_dir(out_dir, 0))
    catalog.append_manifest(out_dir, _mrow(
        "segments", 0, n_docs, 0, s0, time.time(), lineage))

    # --- terms dictionary + stats -------------------------------------
    if cfg.build_terms_dict:
        t1 = time.time()
        seg_new = spark.read.schema(segment_schema(with_pos)).parquet(
            catalog.segments_dir(out_dir))
        # same sorted-with-length layout as build.py stage 3, so the
        # compacted generation keeps prefix/fuzzy band pruning
        terms = (seg_new.groupBy("term").agg(
            F.sum("n_docs").alias("df"),
            F.first("term_bucket").alias("term_bucket"))
            .withColumn("length", F.length("term").cast("int"))
            .repartitionByRange("term")
            .sortWithinPartitions("term"))
        terms.write.mode("overwrite").parquet(
            catalog.staging_dir(out_dir, "terms"))
        catalog.commit_staging(out_dir, "terms", catalog.terms_dir(out_dir))
        catalog.append_manifest(out_dir, _mrow(
            "terms", -1, 0, 0, t1, time.time(), lineage))

    # carry every source generation's lineage through the merge (and
    # any lineages THEY merged): stream_index's replay-skip derives
    # batch idempotency from these markers, and compaction must not
    # forget which stream batches the folded data contains
    merged = []
    for g in catalog.generation_dirs(index_root):
        try:
            s = catalog.read_stats(g)
        except FileNotFoundError:
            continue
        if s.get("lineage"):
            merged.append(s["lineage"])
        merged.extend(s.get("merged_lineages", []))
    catalog.write_stats(out_dir, {
        "n_docs": n_docs,
        "avgdl": avgdl,
        "sum_dl": sum_dl,
        "doc_ord_base": 0,
        "config": cfg.to_json(),
        "lineage": lineage,
        "merged_lineages": sorted(set(merged)),
    })
    catalog.clear_staging(out_dir)
    catalog.write_complete_marker(out_dir)
    seconds = time.time() - t0
    return BuildResult(index_dir=out_dir, n_docs=n_docs, avgdl=float(avgdl),
                       seconds=seconds,
                       turns_per_sec=(n_docs / seconds) if seconds else 0.0)
