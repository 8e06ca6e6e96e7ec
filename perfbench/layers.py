"""Per-layer metrics of a traced run, derived from its spans.

Every name in PER_LAYER is reported on every workload; a layer the
workload does not exercise reads 0 (e.g. batch.* on interactive_zipf,
where search.route.batch.share shows how often a query took the batch
route instead).
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pyarrow.parquet as pq

from sparkbm25 import catalog

import querygen
import spans as sp_mod
from workloads import dir_bytes

# Searcher.last_path values ("none": no route, e.g. no term matched)
ROUTES = ("maxscore", "wand", "dense", "and", "filtered", "or_merge", "batch", "none")

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "build.stage1_s": ("s", "lower"),
    "build.stage2_s": ("s", "lower"),
    "build.terms_s": ("s", "lower"),
    "build.postings": ("count", "lower"),
    "build.segment_rows": ("count", "lower"),
    "build.spark_jobs": ("count", "lower"),
    "build.tasks": ("count", "lower"),
    "build.shuffle_write_bytes": ("B", "lower"),
    "build.shuffle_records": ("count", "lower"),
    "build.executor_run_s": ("s", "lower"),
    "codec.segment_bytes": ("B", "lower"),
    "codec.bytes_per_posting": ("B/posting", "lower"),
    "catalog.docs_bytes": ("B", "lower"),
    "batch.spark_jobs": ("count", "lower"),
    "batch.shuffle_write_bytes": ("B", "lower"),
    "batch.shuffle_records": ("count", "lower"),
    "batch.executor_run_s": ("s", "lower"),
    "batch.driver_gap_s": ("s", "lower"),
}
for _r in ROUTES:
    PER_LAYER[f"search.route.{_r}.share"] = (
        "frac", "lower" if _r in ("batch", "none") else "higher")
    PER_LAYER[f"search.route.{_r}.p50_ms"] = ("ms", "lower")
for _s in querygen.SHAPES:
    PER_LAYER[f"search.shape.{_s}.p50_ms"] = ("ms", "lower")
PER_LAYER.update({
    "search.spark_jobs_per_query": ("count/query", "lower"),
    "search.cache_served_frac": ("frac", "higher"),
    "search.self_ms": ("ms", "lower"),
    "search.refresh_ms": ("ms", "lower"),
    "search.repeat_term_share": ("frac", "higher"),
    "querystring.parse_ms": ("ms", "lower"),
    "localio.segments.read_ms": ("ms", "lower"),
    "localio.segments.reads_per_query": ("count/query", "lower"),
    "localio.segments.rows_per_query": ("rows/query", "lower"),
    "localio.segments.bytes_per_query": ("B/query", "lower"),
    "localio.docs.read_ms": ("ms", "lower"),
    "localio.docs.rows_per_query": ("rows/query", "lower"),
    "streaming.update_index_s": ("s", "lower"),
    "streaming.compact_s": ("s", "lower"),
    "streaming.compactions": ("count", "lower"),
    "catalog.live_generations": ("count", "lower"),
    "streaming.shuffle_write_bytes": ("B", "lower"),
    "trace_overhead_frac": ("frac", "lower"),
})


def _mean(xs) -> float:
    return float(np.mean(xs)) if len(xs) else 0.0


def _p50(xs) -> float:
    return float(statistics.median(xs)) if len(xs) else 0.0


def _segment_postings(index_root: str) -> int:
    total = 0
    for seg in catalog.segments_paths(index_root):
        for d, _, files in os.walk(seg):
            for f in files:
                if f.endswith(".parquet"):
                    col = pq.read_table(os.path.join(d, f), columns=["n_docs"])["n_docs"]
                    total += int(col.to_numpy().sum()) if len(col) else 0
    return total


def _tree_bytes(paths: list[str]) -> int:
    return sum(dir_bytes(p) for p in paths)


def compute(ctx) -> dict[str, float]:
    rec = ctx.rec
    spans = rec.spans
    kids = sp_mod.children_of(spans)
    selfs = sp_mod.self_times(spans)
    m = {name: 0.0 for name in PER_LAYER}
    timed = [i for i, s in enumerate(spans) if s["phase"] == "timed"]

    def named(name, pool=timed):
        return [i for i in pool if spans[i]["name"] == name]

    def incl(i):
        return rec.inclusive_spark(i, kids)

    # build: timed builds; interactive_zipf has none, so its set-up build
    builds = named("build_index") or named(
        "build_index", [i for i, s in enumerate(spans) if s["phase"] == "setup"])[-1:]
    if builds:
        for key in ("stage1_s", "stage2_s", "terms_s", "postings", "segment_rows"):
            m[f"build.{key}"] = _mean([spans[i]["attrs"]["manifest"][key] for i in builds])
        sparks = [incl(i) for i in builds]
        m["build.spark_jobs"] = _mean([s["spark_jobs"] for s in sparks])
        m["build.tasks"] = _mean([s["tasks"] for s in sparks])
        m["build.shuffle_write_bytes"] = _mean([s["shuffle_write_bytes"] for s in sparks])
        m["build.shuffle_records"] = _mean([s["shuffle_records"] for s in sparks])
        m["build.executor_run_s"] = _mean([s["executor_run_ms"] / 1e3 for s in sparks])

    seg_bytes = _tree_bytes(catalog.segments_paths(ctx.final_index))
    postings = _segment_postings(ctx.final_index)
    m["codec.segment_bytes"] = float(seg_bytes)
    m["codec.bytes_per_posting"] = seg_bytes / postings if postings else 0.0
    m["catalog.docs_bytes"] = float(_tree_bytes(catalog.docs_paths(ctx.final_index)))

    batches = named("search_batch")
    if batches:
        sparks = [incl(i) for i in batches]
        m["batch.spark_jobs"] = _mean([s["spark_jobs"] for s in sparks])
        m["batch.shuffle_write_bytes"] = _mean([s["shuffle_write_bytes"] for s in sparks])
        m["batch.shuffle_records"] = _mean([s["shuffle_records"] for s in sparks])
        m["batch.executor_run_s"] = _mean([s["executor_run_ms"] / 1e3 for s in sparks])
        m["batch.driver_gap_s"] = _mean([
            spans[i]["end"] - spans[i]["start"] - sp_mod.union_length(
                s["job_intervals"], spans[i]["start"], spans[i]["end"])
            for i, s in zip(batches, sparks)])

    searches = named("search")
    if searches:
        n = len(searches)
        dur = {i: (spans[i]["end"] - spans[i]["start"]) * 1e3 for i in searches}
        for r in ROUTES:
            hit = [i for i in searches if spans[i]["attrs"]["route"] == r]
            m[f"search.route.{r}.share"] = len(hit) / n
            m[f"search.route.{r}.p50_ms"] = _p50([dur[i] for i in hit])
        for s in querygen.SHAPES:
            m[f"search.shape.{s}.p50_ms"] = _p50(
                [dur[i] for i in searches if spans[i]["attrs"]["shape"] == s])
        jobs, served = 0, 0
        per_key = {k: {"ms": 0.0, "reads": 0, "rows": 0, "bytes": 0}
                   for k in ("term_bucket", "doc_block")}
        for i in searches:
            inc = incl(i)
            jobs += inc["spark_jobs"]
            seg_reads = 0
            for j in sp_mod.descendants(spans, i, kids):
                if spans[j]["name"] != "localio.read":
                    continue
                a = spans[j]["attrs"]
                acc = per_key[a["key"]]
                acc["ms"] += (spans[j]["end"] - spans[j]["start"]) * 1e3
                acc["reads"] += 1
                acc["rows"] += a["rows"]
                acc["bytes"] += a["bytes"]
                seg_reads += a["key"] == "term_bucket"
            served += seg_reads == 0 and inc["spark_jobs"] == 0
        m["search.spark_jobs_per_query"] = jobs / n
        m["search.cache_served_frac"] = served / n
        m["search.self_ms"] = _mean([selfs[i] * 1e3 for i in searches])
        seg, docs = per_key["term_bucket"], per_key["doc_block"]
        m["localio.segments.read_ms"] = seg["ms"] / n
        m["localio.segments.reads_per_query"] = seg["reads"] / n
        m["localio.segments.rows_per_query"] = seg["rows"] / n
        m["localio.segments.bytes_per_query"] = seg["bytes"] / n
        m["localio.docs.read_ms"] = docs["ms"] / n
        m["localio.docs.rows_per_query"] = docs["rows"] / n
    m["search.repeat_term_share"] = querygen.repeat_term_share(ctx.res.queries)
    m["search.refresh_ms"] = _mean(
        [(spans[i]["end"] - spans[i]["start"]) * 1e3 for i in named("refresh")])
    m["catalog.live_generations"] = _mean(
        [spans[i]["attrs"]["live_generations"] for i in named("refresh")])
    m["querystring.parse_ms"] = _mean(
        [(spans[i]["end"] - spans[i]["start"]) * 1e3 for i in named("parse_query_string")])

    updates = named("update_index")
    if updates:
        m["streaming.update_index_s"] = _mean(
            [spans[i]["end"] - spans[i]["start"] for i in updates])
        m["streaming.shuffle_write_bytes"] = _mean(
            [incl(i)["shuffle_write_bytes"] for i in updates])
    compacts = named("compact_generations")
    m["streaming.compact_s"] = _mean([spans[i]["end"] - spans[i]["start"] for i in compacts])
    m["streaming.compactions"] = float(len(compacts))
    m["trace_overhead_frac"] = ctx.overhead_timed / ctx.res.timed_s if ctx.res.timed_s else 0.0
    return m
