#!/usr/bin/env python
"""AND vs OR batch cost: one search_batch call of 100 three-term
queries over a 200k-turn IndexConfig() index, run as mode="and" and as
mode="or", timed interleaved (one untimed warm-up call per mode, then
REPS timed calls of each, alternating). An AND batch should cost about
what the OR batch over the same terms costs: docs missing a required
term are dropped where they are scored, not after an exchange.

Usage: python BENCH/batch_and_vs_or.py [--turns N] [--reps R]
       [--threads T] [--top M] [--work DIR]
Prints one JSON line: per-mode call times, their medians, the AND/OR
ratio of the medians, and the result row counts.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..")))


def gen_queries(vocab: list[str], n: int = 100, seed: int = 2027):
    """n queries of three distinct terms drawn from `vocab`."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    texts = [" ".join(rng.choice(vocab, size=3, replace=False))
             for _ in range(n)]
    return pd.DataFrame({"query_id": range(n), "query_text": texts,
                         "k": [10] * n})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=200_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--threads", type=int, default=4)
    ap.add_argument("--top", type=int, default=60,
                    help="draw query terms from this many most common terms")
    ap.add_argument("--work", default=None)
    args = ap.parse_args()

    from collections import Counter

    from pyspark.sql import SparkSession

    from sparkbm25 import IndexConfig, build_index, search_batch
    from sparkbm25.analysis import tokenize_one
    from sparkbm25.fixtures import make_transcripts

    work = args.work or tempfile.mkdtemp(prefix="and_vs_or_")
    os.makedirs(work, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{args.threads}]")
        .config("spark.sql.shuffle.partitions", str(2 * args.threads))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    t = make_transcripts(args.turns)
    cfg = IndexConfig()
    counts = Counter(tok for txt in t["text"].iloc[:5000]
                     for tok in tokenize_one(txt, cfg.token_pattern))
    # common terms: three-term conjunctions still match docs, and every
    # term carries many postings into the batch
    vocab = sorted(w for w, _ in counts.most_common(args.top))
    q = gen_queries(vocab)
    index_dir = os.path.join(work, "idx")
    b0 = time.time()
    build_index(spark, spark.createDataFrame(t), index_dir, cfg,
                input_desc=f"and_vs_or_{args.turns}")
    build_s = time.time() - b0

    times: dict[str, list[float]] = {"and": [], "or": []}
    rows: dict[str, int] = {}
    for mode in ("and", "or"):
        search_batch(spark, index_dir, q, mode=mode).collect()
    for _ in range(args.reps):
        for mode in ("and", "or"):
            t0 = time.time()
            rows[mode] = len(search_batch(spark, index_dir, q,
                                          mode=mode).collect())
            times[mode].append(round(time.time() - t0, 3))
    spark.stop()
    if args.work is None:
        shutil.rmtree(work, ignore_errors=True)
    med = {m: statistics.median(v) for m, v in times.items()}
    print(json.dumps({
        "turns": args.turns, "threads": args.threads, "queries": len(q),
        "build_s": round(build_s, 2), "seconds": times,
        "median_s": med, "and_over_or": round(med["and"] / med["or"], 2),
        "result_rows": rows}))


if __name__ == "__main__":
    main()
