"""Generation compaction — the segment force-merge of this engine
(Lucene forceMerge / ES _forcemerge analog).

An incrementally-grown index (streaming.update_index) is a list of
self-contained generations; queries union G parquet roots.
Compaction folds all generations into ONE root:

  * segments: all generations' rows physically co-located under a
    single term_bucket-partitioned root (one pruned scan instead of G).
    Segment bytes depend on the postings alone, never on corpus stats,
    so nothing is re-encoded: doc_ord ranges of generations are
    disjoint and ordered by construction, so block lists merge by
    concatenation.
  * docs: one doc_block-partitioned forward table.
  * terms: re-aggregated dictionary; stats.json: the global stats.

Compaction is itself a distributed job: the segment rows take one
shuffle into their term_bucket partitions and are written as read."""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import SparkSession, functions as F

from sparkbm25 import catalog
from sparkbm25.build import BuildResult, _mrow, segment_schema
from sparkbm25.config import IndexConfig
from sparkbm25.search import _read_segments


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

    # --- segments: every generation's rows, bytes untouched ----------
    s0 = time.time()
    # each generation read with the known schema: a generation whose
    # turns yield no tokens has no segment file to infer one from, and
    # a block field the schema lacks is not carried over
    with_pos = cfg.store_positions
    segs = (_read_segments(spark, index_root, with_pos)
            .repartition(cfg.n_term_buckets, "term_bucket"))
    seg_staging = catalog.staging_dir(out_dir, "segments")
    segs.write.mode("overwrite").partitionBy("term_bucket").parquet(seg_staging)
    catalog.commit_staging(
        out_dir, "segments", catalog.segments_chunk_dir(out_dir, 0))
    catalog.append_manifest(out_dir, _mrow(
        "segments", 0, n_docs, 0, s0, time.time(), lineage))

    # --- terms dictionary + stats -------------------------------------
    if cfg.build_terms_dict:
        t1 = time.time()
        seg_new = spark.read.schema(segment_schema(with_pos)).parquet(
            catalog.segments_dir(out_dir))
        # the term-sorted layout of build.py stage 3 (one row group
        # at small vocabularies, so no band filter prunes there)
        terms = (seg_new.groupBy("term").agg(
            F.sum("n_docs").alias("df"),
            F.first("term_bucket").alias("term_bucket"))
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
