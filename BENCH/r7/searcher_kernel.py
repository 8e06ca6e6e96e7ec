#!/usr/bin/env python
"""Searcher latency, parent checkout against this one, cold and warm.

Two query sets over make_transcripts corpora:

  probe  (20k turns): the seven queries of ROADMAP item 1's probe, one
         per Searcher route of the parent;
  large (960k turns): `role:user w0001 w0005` (bench.py's q_filtered)
         and one ts range query, plus the cold cost of evaluating the
         structured predicate over every forward row (Searcher
         ._pred_mask, where the checkout has it).

Usage (from the repository root):

    python BENCH/r7/searcher_kernel.py --parent /path/to/parent/checkout \
        --set probe --reps 3 --work /tmp/skbench

Each (checkout, rep) runs in its own process, parent and change
alternating, with PYTHONPATH pointing at that checkout; both sides
read the same index (segments are byte-identical between the two).
Cold is the first search of a fresh Searcher; warm is the median of
five repeats on it. Prints one JSON line per run and a summary line of
medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))

SETS = {
    "probe": (20_000, [
        "role:user AND turn_idx:[0 TO 3]",
        "NOT w0005 AND role:user",
        "(w0005 AND (w0012 OR NOT w0040)) OR w0100",
        "(w0005 OR w0012) AND NOT w0040",
        "role:user w0005 w0012",
        "w0005 w0012 w0040",
        "w001*",
    ]),
    "large": (960_000, [
        "role:user w0001 w0005",
        "ts:[2026-01-01T06:00:00 TO 2026-01-01T18:00:00] w0001",
    ]),
}
SEED = 4242


def _spark():
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "4"))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", str(cpus * 2))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def build(index: str, turns: int) -> None:
    """Build the set's index once (IndexConfig(), the default path)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkbm25 import IndexConfig, build_index
    from sparkbm25.fixtures import make_transcripts

    spark = _spark()
    src = index + ".input.parquet"
    pq.write_table(pa.Table.from_pandas(make_transcripts(turns, seed=SEED),
                                        preserve_index=False), src)
    build_index(spark, spark.read.parquet(src), index, IndexConfig())
    spark.stop()


def run(index: str, queries: list[str]) -> dict:
    """One side: cold / warm ms and the route of every query."""
    from sparkbm25 import Searcher

    spark = _spark()
    out = {}
    for q in queries:
        s = Searcher(spark, index)
        pred_ms = []
        if hasattr(s, "_pred_mask"):
            inner = s._pred_mask

            def timed(*a, **kw):
                t0 = time.perf_counter()
                m = inner(*a, **kw)
                pred_ms.append((time.perf_counter() - t0) * 1e3)
                return m

            s._pred_mask = timed
        t0 = time.perf_counter()
        s.search(q, k=10)
        cold = (time.perf_counter() - t0) * 1e3
        route = s.last_path
        warm = []
        for _ in range(5):
            t0 = time.perf_counter()
            s.search(q, k=10)
            warm.append((time.perf_counter() - t0) * 1e3)
        out[q] = {"route": route, "cold_ms": round(cold, 2),
                  "warm_ms": round(statistics.median(warm), 2),
                  "pred_cold_ms": round(pred_ms[0], 2) if pred_ms else None}
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True,
                    help="checkout of the parent commit")
    ap.add_argument("--set", choices=sorted(SETS), default="probe")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--work", required=True, help="scratch directory")
    ap.add_argument("--side", help=argparse.SUPPRESS)
    args = ap.parse_args()
    turns, queries = SETS[args.set]
    index = os.path.join(args.work, f"{args.set}_idx")
    if args.side == "build":
        build(index, turns)
        return
    if args.side == "run":
        print(json.dumps(run(index, queries)))
        return

    def child(checkout: str, side: str) -> str:
        """Run one side in its own process; its last stdout line."""
        env = dict(os.environ, PYTHONPATH=checkout)
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--parent",
             args.parent, "--set", args.set, "--work", args.work,
             "--side", side],
            env=env, check=True, capture_output=True, text=True,
            cwd=args.work).stdout.strip().splitlines()
        return out[-1] if out else ""

    os.makedirs(args.work, exist_ok=True)
    if not os.path.exists(index):
        child(REPO, "build")
    results = {"parent": [], "change": []}
    for rep in range(args.reps):
        order = ["parent", "change"] if rep % 2 == 0 else ["change", "parent"]
        for side in order:
            got = json.loads(child(args.parent if side == "parent" else REPO,
                                   "run"))
            results[side].append(got)
            print(json.dumps({"rep": rep, "side": side, **got}), flush=True)
    summary = {}
    for side, runs in results.items():
        summary[side] = {q: {
            "route": runs[0][q]["route"],
            **{m: statistics.median(r[q][m] for r in runs)
               for m in ("cold_ms", "warm_ms")},
            "pred_cold_ms": (statistics.median(r[q]["pred_cold_ms"]
                                               for r in runs)
                             if runs[0][q]["pred_cold_ms"] is not None
                             else None)} for q in queries}
    print(json.dumps({"set": args.set, "turns": turns, "reps": args.reps,
                      "median": summary}))


if __name__ == "__main__":
    main()
