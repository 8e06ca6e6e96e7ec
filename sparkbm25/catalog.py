"""Index table layout + manifest IO.

A thin IO layer so plain Parquet and Iceberg are interchangeable
(SURVEY §7.3 — the sandbox has no Iceberg catalog jar; the design only
needs (a) partition-granular atomic commit and (b) a manifest table).
Atomic commit here = write to a staging dir + `os.rename` (atomic on
POSIX/HDFS; on an object store you would commit through Iceberg
instead — same call sites).

Layout under <index_dir>/:
    docs/                 forward table (doc_ord, conv_id, turn_idx, dl)
    tf/                   stage-1 packed SPIMI runs: (term, salt,
                          min_doc, n_runs, runs[, pos]) partitioned by
                          term_bucket; deleted once the index is complete
    segments/chunk=J/     stage-2 posting segments, partitioned by
                          term_bucket inside each committed chunk
    terms/                term dictionary (term, df, term_bucket)
    stats.json            N, avgdl, config (job lineage)
    manifest/             append-only build manifest (FIXTURES.md §4)

The manifest is the analog of the reference's Celery plan + per-worker
progress state (es_translator/es_translator.py:124-134,
monitor.py:133-203): it is what makes a build resumable and carries
per-partition lineage + throughput metrics (north_rule).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST_COLUMNS = {
    "stage": "str",            # 'tf' | 'segments' | 'terms'
    "partition_id": "int32",   # chunk id for 'segments', -1 otherwise
    "status": "str",           # 'done'
    "n_turns": "int64",
    "n_terms": "int64",
    "seconds": "float64",
    "turns_per_sec": "float64",
    "started_at": "datetime64[us]",
    "finished_at": "datetime64[us]",
    "lineage": "str",          # config_hash + input descriptor
}


def docs_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "docs")


def tf_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "tf")


def segments_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "segments")


def segments_chunk_dir(index_dir: str, chunk: int) -> str:
    return os.path.join(segments_dir(index_dir), f"chunk={chunk}")


def terms_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "terms")


def manifest_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest")


def stats_path(index_dir: str) -> str:
    return os.path.join(index_dir, "stats.json")


def staging_dir(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, "_staging", name)


def clear_staging(index_dir: str) -> None:
    """Drop leftovers of a crashed run; committed data is never here."""
    shutil.rmtree(os.path.join(index_dir, "_staging"), ignore_errors=True)


def commit_staging(index_dir: str, name: str, final_path: str) -> None:
    """Atomic promote: staging/<name> -> final_path."""
    src = staging_dir(index_dir, name)
    os.makedirs(os.path.dirname(final_path), exist_ok=True)
    if os.path.exists(final_path):
        shutil.rmtree(final_path)
    os.rename(src, final_path)


def write_stats(index_dir: str, stats: dict) -> None:
    tmp = stats_path(index_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(stats, f, sort_keys=True)
    os.replace(tmp, stats_path(index_dir))


def read_stats(index_dir: str) -> dict:
    with open(stats_path(index_dir)) as f:
        return json.load(f)


def append_manifest(index_dir: str, row: dict) -> None:
    """Append one manifest row: driver-side pyarrow write + rename.

    Small and atomic — no Spark job per bookkeeping row (the reference
    pays one Redis round-trip per task instead, tasks.py:8-9).
    """
    d = manifest_dir(index_dir)
    os.makedirs(d, exist_ok=True)
    pdf = pd.DataFrame([row])
    for col, dt in MANIFEST_COLUMNS.items():
        pdf[col] = pdf[col].astype(dt)
    pdf = pdf[list(MANIFEST_COLUMNS)]
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(d, "." + name)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
    os.replace(tmp, os.path.join(d, name))


def read_manifest(index_dir: str) -> pd.DataFrame:
    d = manifest_dir(index_dir)
    if not os.path.isdir(d) or not os.listdir(d):
        return pd.DataFrame({c: pd.Series(dtype=t) for c, t in MANIFEST_COLUMNS.items()})
    return pq.read_table(d).to_pandas()


def superseded_path(index_root: str) -> str:
    return os.path.join(index_root, "_superseded.json")


def read_superseded(index_root: str) -> dict | None:
    """The in-place-compaction tombstone ({'by': K, 'gens': [..ids..]}):
    generations listed in it are invisible to readers ONCE generation K
    is live. Written before the compacted generation's rename, so the
    rename itself is the atomic commit point (see
    streaming.compact_generations)."""
    p = superseded_path(index_root)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def generation_dirs(index_root: str, include_dead: bool = False) -> list[str]:
    """Generations of an incrementally-built index (streaming.py):
    index_root/gen=K/ each a self-contained sub-index. A plain
    single-shot index has no gen=* children and IS its own (only)
    generation.

    A gen dir without the _COMPLETE marker (written as build_index's
    final step) is a crashed build; it is never part of the readable
    index and is skipped unless include_dead (update_index uses
    include_dead to avoid reusing a dead generation's id, and wipes
    dead dirs before appending). Round-1 raised FileNotFoundError on
    every query/update after one crashed generation (ADVICE fix).

    Generations superseded by an in-place compaction (_superseded.json
    + the compacted generation live) are likewise invisible to readers
    — they are physically deleted by the next update."""
    if os.path.exists(stats_path(index_root)):
        return [index_root]
    if not os.path.isdir(index_root):
        return []
    gens = sorted(
        (d for d in os.listdir(index_root) if d.startswith("gen=")),
        key=lambda d: int(d.split("=")[1]),
    )
    out = [os.path.join(index_root, d) for d in gens]
    if not include_dead:
        out = [g for g in out if os.path.exists(complete_marker_path(g))]
        sup = read_superseded(index_root)
        if sup is not None:
            target = os.path.join(index_root, f"gen={int(sup['by'])}")
            if os.path.exists(complete_marker_path(target)):
                dead_ids = {int(g) for g in sup["gens"]}
                out = [g for g in out
                       if int(os.path.basename(g).split("=")[1]) not in dead_ids]
    return out


def complete_marker_path(index_dir: str) -> str:
    return os.path.join(index_dir, "_COMPLETE")


def write_complete_marker(index_dir: str) -> None:
    with open(complete_marker_path(index_dir), "w") as f:
        f.write("ok\n")


def segments_paths(index_root: str) -> list[str]:
    return [segments_dir(g) for g in generation_dirs(index_root)]


def docs_paths(index_root: str) -> list[str]:
    return [docs_dir(g) for g in generation_dirs(index_root)]


def read_docs(spark, index_root: str):
    """Union the forward tables of all generations. Each generation's
    docs dir is its own doc_block-partitioned parquet root, so a single
    multi-path read would see conflicting partition structures (same
    reason search._read_segments unions segment roots). A generation
    without some attribute column (its input had none) reads it as
    NULL."""
    paths = docs_paths(index_root)
    if not paths:
        # same guard as global_stats — a wrong --index path previously
        # surfaced as a bare IndexError with no mention of the path
        raise FileNotFoundError(f"no index at {index_root}")
    dfs = [spark.read.parquet(p) for p in paths]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def global_stats(index_root: str) -> dict:
    """Corpus stats summed across generations, plus the per-generation
    stats rows."""
    gens = generation_dirs(index_root)
    if not gens:
        raise FileNotFoundError(f"no index at {index_root}")
    per_gen = [read_stats(g) for g in gens]
    n = sum(s["n_docs"] for s in per_gen)
    sum_dl = sum(s["sum_dl"] for s in per_gen)
    return {
        "n_docs": n,
        "sum_dl": sum_dl,
        "avgdl": (sum_dl / n) if n else 0.0,
        "config": per_gen[-1]["config"],
        "generations": [
            {"dir": g, "n_docs": s["n_docs"], "avgdl": s["avgdl"],
             "doc_ord_base": s.get("doc_ord_base", 0)}
            for g, s in zip(gens, per_gen)
        ],
    }


def done_set(manifest: pd.DataFrame, lineage: str) -> set[tuple[str, int]]:
    """(stage, partition_id) pairs already committed for THIS job
    (lineage must match — a config change invalidates the checkpoint,
    like the reference's force flag semantics, es.py:119)."""
    if manifest.empty:
        return set()
    ok = manifest[(manifest["status"] == "done") & (manifest["lineage"] == lineage)]
    return set(zip(ok["stage"], ok["partition_id"].astype(int)))
