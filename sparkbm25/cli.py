"""spark-submit entry points (X3: the reference's plan/execute CLI
re-expressed; es_translator/cli.py:113-224).

On a real cluster:

    spark-submit --py-files sparkbm25.zip -m sparkbm25.cli build \\
        --input /data/transcripts --index /data/index [--resume]
    spark-submit ... search --index /data/index --query "alpha w0001" -k 10
    spark-submit ... bench --index-dir /tmp/idx --n-turns 240000

In the sandbox the same commands run on local[N]. argparse only —
no click dependency.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _spark(master: str | None, app: str):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    b = (
        b.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.io.compression.codec", "zstd")
        # Unix domain sockets for executor<->python-worker Arrow IPC
        # (Spark 4): strictly better than TCP loopback for host-local
        # traffic, and REQUIRED for robustness on kernels whose
        # loopback TCP can drop under bidirectional pressure — the
        # round-5 9.6M-turn build livelocked in
        # retransmission-backoff (rto 120s, backoff 14, drops on lo)
        # on the sandbox kernel; UDS has no congestion control or
        # retransmission to go wrong (BENCH/BASELINE.md round-5 notes)
        .config("spark.python.unix.domain.socket.enabled", "true")
    )
    return b.getOrCreate()


def _read_input(spark, args):
    """Input table in the requested format. parquet (default) / json
    (lines) / csv (header + inferred types): the DataFrame boundary
    makes every source interchangeable — build_index and the
    translate job only see columns."""
    fmt = getattr(args, "format", "parquet")
    if fmt == "csv":
        return (spark.read.option("header", "true")
                .option("inferSchema", "true").csv(args.input))
    if fmt == "json":
        return spark.read.json(args.input)
    return spark.read.parquet(args.input)


def _wire_logging(args) -> None:
    """Attach the reference's operational log handlers when requested
    (es_translator/cli.py:195,258: --syslog-address wires a syslog
    handler before the job runs)."""
    from sparkbm25 import logger as lg

    if getattr(args, "syslog_address", None):
        lg.add_syslog_handler(args.syslog_address,
                              getattr(args, "syslog_port", 514))


def cmd_build(args) -> int:
    from sparkbm25.build import build_index
    from sparkbm25.config import IndexConfig

    _wire_logging(args)
    spark = _spark(args.master, "sparkbm25-build")
    from sparkbm25.config import parse_size

    cfg = IndexConfig(
        n_term_buckets=args.term_buckets,
        n_salt_buckets=args.salt_buckets,
        n_build_chunks=args.chunks,
        checkpoint_runs=not args.no_checkpoint,
        max_content_length=(parse_size(args.max_content_length)
                            if args.max_content_length else 0),
    )
    df = _read_input(spark, args)
    if args.dry_run:
        # S6: the reference's dry-run scans and counts but never writes
        # (es_translator/es_translator.py:242-244) — here: resolve the
        # input, validate the schema, count, print the plan summary.
        missing = {c for c in ("conv_id", "turn_idx", "text")
                   if c not in df.columns}
        if missing:
            print(json.dumps({"dry_run": True, "error":
                              f"missing columns: {sorted(missing)}"}))
            return 1
        n = df.count()
        print(json.dumps({
            "dry_run": True, "n_docs": n, "index": args.index,
            "config_hash": cfg.config_hash(),
            "would_write": ["docs", "segments", "terms", "stats.json",
                            "manifest"],
        }))
        return 0
    res = build_index(spark, df, args.index, cfg, resume=args.resume,
                      input_desc=args.input)
    from sparkbm25.logger import logger

    logger.info("build done: %d docs in %.2fs (%.1f turns/s) -> %s",
                res.n_docs, res.seconds, res.turns_per_sec, args.index)
    print(json.dumps({
        "n_docs": res.n_docs, "avgdl": res.avgdl,
        "seconds": round(res.seconds, 2),
        "turns_per_sec": round(res.turns_per_sec, 1),
    }))
    return 0


def cmd_search(args) -> int:
    from sparkbm25.search import Searcher

    spark = _spark(args.master, "sparkbm25-search")
    s = Searcher(spark, args.index)
    t0 = time.time()
    try:
        out = s.search(args.query, k=args.k, mode=args.mode)
    except ValueError as e:
        # the grammar raises on malformed queries by design (never a
        # silent re-tokenize) — surface the message, not a traceback
        print(f"query error: {e}", file=sys.stderr)
        return 2
    if args.highlight:
        if not args.input:
            print("search --highlight needs --input (the index stores "
                  "ids, not text — pass the transcripts table)",
                  file=sys.stderr)
            return 2
        out = s.highlight(out, _read_input(spark, args), args.query,
                          fragment_size=args.fragment_size,
                          number_of_fragments=args.n_fragments)
    elapsed = time.time() - t0
    for row in out.itertuples(index=False):
        print(f"{row.rank:4d}  {row.score:12.6f}  {row.conv_id}:{row.turn_idx}")
        for frag in (getattr(row, "highlight", None) or []):
            print(f"      | {frag}")
    print(f"# {len(out)} hits in {elapsed:.3f}s", file=sys.stderr)
    return 0


def cmd_translate(args) -> int:
    """The reference's flagship command (es_translator/cli.py:113-224):
    translate every turn not yet carrying this interpreter's annotation
    and write the results back into the forward table. --force
    reprocesses everything (skips the is_translated gate); --dry-run
    prints the pending count and writes nothing (S6)."""
    from pyspark.sql import functions as F

    from sparkbm25.config import parse_size
    from sparkbm25.translate import (get_interpreter, pending_turns,
                                     translate_into_index)

    _wire_logging(args)
    try:
        interp_cls = get_interpreter(args.interpreter)
    except ValueError as e:
        # same contract as cmd_search's malformed-query handling: a
        # typo'd --interpreter name gets the message, not a traceback
        print(f"translate error: {e}", file=sys.stderr)
        return 2
    interp = interp_cls()
    spark = _spark(args.master, "sparkbm25-translate")
    df = _read_input(spark, args)
    if args.max_content_length:
        # the reference truncates content before translating
        # (es_translator/es.py:120-121)
        df = df.withColumn(
            "text", F.substring("text", 1, parse_size(args.max_content_length)))
    resume = not args.force
    if args.dry_run:
        n = pending_turns(spark, args.index, df, interp, resume=resume).count()
        print(json.dumps({"dry_run": True, "pending": n,
                          "interpreter": interp.name, "resume": resume}))
        return 0
    n = translate_into_index(spark, args.index, df, interp, resume=resume)
    from sparkbm25.logger import logger

    logger.info("translate done: %d turns via %s -> %s",
                n, interp.name, args.index)
    print(json.dumps({"translated": n, "interpreter": interp.name,
                      "resume": resume}))
    return 0


def cmd_annotate(args) -> int:
    """MERGE-style partial update: read (conv_id, turn_idx, value)
    updates from parquet and append {name, value} to the forward
    table's nested annotations array (es_translator/es.py:92-129
    analog). Only the doc_blocks containing matched keys rewrite."""
    from sparkbm25.annotate import annotate_docs

    spark = _spark(args.master, "sparkbm25-annotate")
    upd = spark.read.parquet(args.updates)
    n = annotate_docs(spark, args.index, upd, args.name,
                      value_col=args.value_col)
    print(json.dumps({"annotated": n, "name": args.name}))
    return 0


def cmd_compact(args) -> int:
    spark = _spark(args.master, "sparkbm25-compact")
    if args.in_place:
        from sparkbm25.streaming import compact_generations

        res = compact_generations(spark, args.index)
        if res is None:
            print(json.dumps({"compacted": False,
                              "reason": "fewer than 2 live generations"}))
            return 0
    else:
        if not args.out:
            print("compact: either --out DIR or --in-place is required",
                  file=sys.stderr)
            return 2
        from sparkbm25.compact import compact_index

        res = compact_index(spark, args.index, args.out)
    print(json.dumps({
        "n_docs": res.n_docs, "seconds": round(res.seconds, 2),
        "out": res.index_dir,
    }))
    return 0


def cmd_monitor(args) -> int:
    """One-shot by default; --watch N re-polls the manifest every N
    seconds (the reference's live monitor refreshes every 2s under a
    TUI, es_translator/monitor.py:377-398 — the TUI itself is out of
    scope per SURVEY, the re-poll loop is the X6 analog)."""
    from sparkbm25.metrics import build_summary

    polls = 0
    while True:
        print(json.dumps(build_summary(args.index), indent=2, default=str))
        polls += 1
        if not args.watch or (args.max_polls and polls >= args.max_polls):
            return 0
        time.sleep(args.watch)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="sparkbm25")
    sub = p.add_subparsers(dest="cmd", required=True)

    pb = sub.add_parser("build", help="build the inverted index")
    pb.add_argument("--input", required=True, help="transcripts parquet/table path")
    pb.add_argument("--format", default="parquet",
                    choices=["parquet", "json", "csv"],
                    help="input table format")
    pb.add_argument("--index", required=True, help="output index dir")
    pb.add_argument("--resume", action="store_true",
                    help="resume from the manifest (skip committed chunks)")
    pb.add_argument("--term-buckets", type=int, default=64)
    pb.add_argument("--salt-buckets", type=int, default=8)
    pb.add_argument("--chunks", type=int, default=4)
    pb.add_argument("--no-checkpoint", action="store_true",
                    help="skip the SPIMI runs checkpoint (faster, less resumable)")
    pb.add_argument("--dry-run", action="store_true",
                    help="validate + count the input and print the build "
                         "plan; write nothing (S6)")
    pb.add_argument("--max-content-length", default=None, metavar="N[K|M|G]",
                    help="truncate text to this many chars before "
                         "tokenizing (C4; e.g. 100K)")
    pb.add_argument("--master", default=None)
    pb.add_argument("--syslog-address", default=None,
                    help="forward logs to this syslog host (ref cli.py:195)")
    pb.add_argument("--syslog-port", type=int, default=514)
    pb.set_defaults(fn=cmd_build)

    pt = sub.add_parser(
        "translate",
        help="translate untranslated turns and write back (the "
             "reference's flagship job)")
    pt.add_argument("--index", required=True)
    pt.add_argument("--input", required=True,
                    help="transcripts table (conv_id, turn_idx, text, ...)")
    pt.add_argument("--format", default="parquet",
                    choices=["parquet", "json", "csv"],
                    help="input table format")
    pt.add_argument("--interpreter", default="rev",
                    help="registered interpreter name (rev|apertium|argos)")
    pt.add_argument("--force", action="store_true",
                    help="reprocess already-translated turns (skip the "
                         "is_translated resume gate)")
    pt.add_argument("--dry-run", action="store_true",
                    help="print the pending-turn count; write nothing")
    pt.add_argument("--max-content-length", default=None, metavar="N[K|M|G]",
                    help="truncate text before translating (e.g. 100K)")
    pt.add_argument("--master", default=None)
    pt.add_argument("--syslog-address", default=None,
                    help="forward logs to this syslog host (ref cli.py:258)")
    pt.add_argument("--syslog-port", type=int, default=514)
    pt.set_defaults(fn=cmd_translate)

    ps = sub.add_parser("search", help="BM25 top-k query")
    ps.add_argument("--index", required=True)
    ps.add_argument("--query", required=True)
    ps.add_argument("-k", type=int, default=10)
    ps.add_argument("--mode", choices=["or", "and"], default="or")
    ps.add_argument("--highlight", action="store_true",
                    help="fetch-phase highlighting (needs --input)")
    ps.add_argument("--input", default=None,
                    help="transcripts table for --highlight text fetch")
    ps.add_argument("--format", choices=["parquet", "json", "csv"],
                    default="parquet")
    ps.add_argument("--fragment-size", type=int, default=150)
    ps.add_argument("--n-fragments", type=int, default=1,
                    help="0 = whole-field mode")
    ps.add_argument("--master", default=None)
    ps.set_defaults(fn=cmd_search)

    pa = sub.add_parser(
        "annotate", help="append a derived value to the docs annotations array")
    pa.add_argument("--index", required=True)
    pa.add_argument("--updates", required=True,
                    help="parquet of (conv_id, turn_idx, <value-col>)")
    pa.add_argument("--name", required=True, help="annotation name")
    pa.add_argument("--value-col", default="value")
    pa.add_argument("--master", default=None)
    pa.set_defaults(fn=cmd_annotate)

    pc = sub.add_parser(
        "compact", help="fold index generations into one root (forceMerge)")
    pc.add_argument("--index", required=True, help="multi-generation index root")
    pc.add_argument("--out", default=None, help="compacted output dir")
    pc.add_argument("--in-place", action="store_true",
                    help="fold generations inside the same root "
                         "(atomic reader switch; no second copy)")
    pc.add_argument("--master", default=None)
    pc.set_defaults(fn=cmd_compact)

    pm = sub.add_parser("monitor", help="build metrics from the manifest")
    pm.add_argument("--index", required=True)
    pm.add_argument("--watch", type=int, default=0, metavar="SECONDS",
                    help="re-poll every N seconds (0 = print once)")
    pm.add_argument("--max-polls", type=int, default=0,
                    help="stop after this many polls (0 = until killed)")
    pm.set_defaults(fn=cmd_monitor)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
