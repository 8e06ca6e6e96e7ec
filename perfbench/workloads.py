"""The three benchmark workloads and their answer checks.

Every workload drives only the package's public surface and runs in one
process against one local Spark session. Each fills `ctx.res`: the timed
writes and reads, index and input sizes, the operations attempted and
the failures (an operation that raised, or an answer that differs from
the brute-force reference). Traced runs also leave spans in `ctx.rec`.

Sizes (turns from fixtures.make_transcripts, seeded by --seed):
    build_batch       2k-turn warm-up build in set-up; passes of a
                      20k-turn build and BATCH_CALLS search_batch calls,
                      each of its own 54 queries in the mixed-batch mix
                      (querygen.R5_MIX), one pass at --seconds 8
    interactive_zipf  20k-turn index built in set-up; one closed-loop
                      client over one long-lived Searcher
    append_refresh    10k-turn first generation built in set-up; rounds
                      of 1k-turn update_index(auto_compact_after=3),
                      refresh() and a 60-query cold burst (repeated
                      MULTI_GEN_BURSTS times over two generations), in
                      whole compaction cycles of 2 rounds
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import sparkbm25
from sparkbm25 import IndexConfig, Searcher, bm25_reference_topk, catalog
from sparkbm25.fixtures import make_transcripts

import querygen

K = 10
BUILD_TURNS = 20_000
WARM_TURNS = 2_000
# the repository's mixed-batch shapes and shares (phrases left out), in
# three whole blocks of 18 per call
BATCH_MIX = querygen.R5_MIX
BATCH_QUERIES = 54
# search_batch calls per build, each over its own query set; read_p50_ms
# is their median, so a few seconds of contention from other tenants of
# the host spoil one call, not the run's figure (one call per run gave a
# 10-seed spread of 0.32). The first call, the first in the JVM, is the
# slowest, and the median does not depend on it.
BATCH_CALLS = 3
INTERACTIVE_TURNS = 20_000
INTERACTIVE_STREAM = 50_000  # more than one run can issue
BASE_TURNS = 10_000
APPEND_TURNS = 1_000
AUTO_COMPACT_AFTER = 3
# cold bursts: the mixed-batch mix without filter-only queries. A
# Searcher sends a filter-only query down the batch route, one Spark job
# of more than a second each, which build_batch already times; nine of
# them would treble a burst. Four whole blocks of 15.
BURST_MIX = {s: c for s, c in querygen.R5_MIX.items() if s != "filter_only"}
BURST_QUERIES = 60
# refresh + burst repeats over a multi-generation root: one cold burst's
# median moved by about 10% from burst to burst in one process
MULTI_GEN_BURSTS = 4
CHECK_SAMPLE = 16


@dataclass
class Result:
    setup_s: float = 0.0
    timed_s: float = 0.0
    peak_rss_mb: float = 0.0                       # in the timed region
    write_s: list = field(default_factory=list)
    read_s: list = field(default_factory=list)     # per gated read call
    index_bytes: int = 0
    input_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)   # one message per failure
    info: dict = field(default_factory=dict)       # per-workload named figures
    routes: list = field(default_factory=list)
    queries: list = field(default_factory=list)    # executed Query objects


class Ctx:
    def __init__(self, spark, work: str, seed: int, seconds: float, rec, t_proc0: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.rec = rec
        self.t_proc0 = t_proc0
        self.res = Result()

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def more(self, t0: float, last: float) -> bool:
        """Start another pass only if it should end within --seconds
        (a run always makes at least one)."""
        return time.perf_counter() - t0 + last <= self.seconds

    def start_timing(self) -> float:
        self.res.setup_s = time.perf_counter() - self.t_proc0
        self.rec.phase = "timed"
        self.overhead0 = getattr(self.rec, "overhead_s", 0.0)
        self.res.info["rss_peak_reset"] = reset_peak_rss()
        self.t_timed0 = time.perf_counter()
        return self.t_timed0

    def stop_timing(self) -> None:
        self.res.timed_s = time.perf_counter() - self.t_timed0
        self.res.peak_rss_mb = peak_rss_mb()
        self.rec.phase = "after"
        self.overhead_timed = getattr(self.rec, "overhead_s", 0.0) - self.overhead0

    def attempt(self, what: str, fn, *args, n_ops: int = 1, **kwargs):
        """Run `n_ops` operations in one call (a search_batch answers
        one per query); if it raises, all of them failed."""
        self.res.attempted += n_ops
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # the benchmark must keep measuring
            self.fail(f"{what}: {type(e).__name__}: {e}", n_ops)
            return None

    def fail(self, msg: str, n_ops: int = 1) -> None:
        self.res.failed += n_ops
        self.res.failures.append(msg)


def reset_peak_rss() -> bool:
    """Reset this process's peak RSS (VmHWM) to its current RSS, so the
    peak read at the end of timing belongs to the timed region only."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb() -> float:
    """Peak RSS of the Python driver since the last reset, in MB (the
    JVM's heap is sized by spark.driver.memory and not counted)."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def write_parquet(pdf: pd.DataFrame, directory: str, n_files: int = 4) -> str:
    os.makedirs(directory, exist_ok=True)
    step = (len(pdf) + n_files - 1) // n_files
    for i in range(n_files):
        part = pdf.iloc[i * step:(i + 1) * step]
        if len(part):
            pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                           os.path.join(directory, f"part-{i:04d}.parquet"))
    return directory


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(sum(len(t.encode("utf-8")) for t in pdf["text"] if t))


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def query_frame(queries: list) -> pd.DataFrame:
    return pd.DataFrame({"query_id": np.arange(len(queries), dtype=np.int32),
                         "query_text": [q.text for q in queries],
                         "k": np.full(len(queries), K, dtype=np.int32)})


def mismatch(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """None if `got` is rank-identical to `exp` with scores within rtol
    1e-9; otherwise the first rank that differs, both hits with their
    scores, and whether the reference has a score tie there (the
    reference breaks ties by conv_id, then turn_idx)."""
    g = got.sort_values("rank").reset_index(drop=True)
    e = exp.sort_values("rank").reset_index(drop=True)
    hits_g = list(zip(g["conv_id"], g["turn_idx"].astype(int)))
    hits_e = list(zip(e["conv_id"], e["turn_idx"].astype(int)))
    sg = g["score"].astype(float).to_numpy()
    se = e["score"].astype(float).to_numpy()
    if hits_g == hits_e:
        bad = np.flatnonzero(~np.isclose(sg, se, rtol=1e-9, atol=0.0))
        if bad.size == 0:
            return None
        i = int(bad[0])
        return f"rank {i + 1}: score {sg[i]!r}, reference {se[i]!r}"
    i = next((j for j, (a, b) in enumerate(zip(hits_g, hits_e)) if a != b),
             min(len(hits_g), len(hits_e)))

    def hit(hits, s):
        return f"{hits[i][0]}#{hits[i][1]} {s[i]!r}" if i < len(hits) else "none"

    msg = f"rank {i + 1}: got {hit(hits_g, sg)}, reference {hit(hits_e, se)}"
    if i < len(hits_e) and hits_e[i] in hits_g:
        j = hits_g.index(hits_e[i])
        msg += f" (got at rank {j + 1} with {sg[j]!r})"
    if i < len(se) and any(0 <= j < len(se) and se[j] == se[i] for j in (i - 1, i + 1)):
        msg += " (a score tie in the reference)"
    return msg


def check_answers(ctx: Ctx, corpus: pd.DataFrame, checks: list, label: str) -> None:
    """checks: [(Query, got DataFrame with rank/conv_id/turn_idx/score)].
    Compares each against the brute-force reference over `corpus`:
    rank-identical and scores within rtol 1e-9. Every mismatch is
    recorded as a failed operation."""
    if not checks:
        return
    qdf = query_frame([q for q, _ in checks])
    exp = bm25_reference_topk(corpus, qdf, k=K)
    for qid, (q, got) in enumerate(checks):
        why = mismatch(got, exp[exp["query_id"] == qid])
        if why is not None:
            ctx.fail(f"{label}: wrong answer for {q.text!r}: {why}")


def sample_checks(ctx: Ctx, checks: list) -> list:
    if len(checks) <= CHECK_SAMPLE:
        return checks
    rng = np.random.default_rng(ctx.seed)
    return [checks[i] for i in sorted(rng.choice(len(checks), CHECK_SAMPLE, replace=False))]


def record_manifest(sp: dict, res) -> None:
    """Traced runs: keep a build's manifest figures on its span (read
    right after the build, before a compaction can delete its
    generation)."""
    m = catalog.read_manifest(res.index_dir)
    sp["attrs"]["manifest"] = {
        "stage1_s": float(m.loc[m["stage"] == "tf", "seconds"].sum()),
        "stage2_s": float(m.loc[m["stage"] == "segments", "seconds"].sum()),
        "terms_s": float(m.loc[m["stage"] == "terms", "seconds"].sum()),
        # segment manifest rows carry (postings, segment rows) in their
        # (n_turns, n_terms) columns
        "postings": int(m.loc[m["stage"] == "segments", "n_turns"].sum()),
        "segment_rows": int(m.loc[m["stage"] == "segments", "n_terms"].sum()),
    }


def search_one(ctx: Ctx, s: Searcher, q: querygen.Query):
    """One timed Searcher.search: (result or None, seconds)."""
    t0 = time.perf_counter()
    with ctx.rec.span("search", spark=True, shape=q.shape) as sp:
        out = ctx.attempt(f"search {q.text!r}", s.search, q.text, k=K)
        route = s.last_path or "none"
        sp["attrs"]["route"] = route
    dt = time.perf_counter() - t0
    ctx.res.routes.append((route, q.shape, dt))
    ctx.res.queries.append(q)
    return out, dt


# ---------------------------------------------------------------- build_batch

def build_batch(ctx: Ctx) -> None:
    spark = ctx.spark
    corpus = make_transcripts(BUILD_TURNS, seed=ctx.seed)
    src = write_parquet(corpus, ctx.path("input"))
    warm = write_parquet(make_transcripts(WARM_TURNS, seed=ctx.seed + 1),
                         ctx.path("warm_input"))
    vocab = querygen.vocab_by_frequency(corpus["text"])
    query_sets = [querygen.generate(ctx.seed * BATCH_CALLS + i, vocab, BATCH_QUERIES,
                                    mix=BATCH_MIX) for i in range(BATCH_CALLS)]
    qdfs = [query_frame(queries) for queries in query_sets]
    idx = ctx.path("index")
    # JVM warm-up: the first build in a fresh JVM pays class loading, code
    # generation and Python worker start-up
    sparkbm25.build_index(spark, spark.read.parquet(warm), ctx.path("warm_index"),
                          IndexConfig())

    first = [None] * BATCH_CALLS
    t0 = ctx.start_timing()
    while True:
        b0 = time.perf_counter()
        built = ctx.attempt("build_index", sparkbm25.build_index, spark,
                            spark.read.parquet(src), idx, IndexConfig(),
                            input_desc=f"perfbench-{ctx.seed}")
        ctx.res.write_s.append(time.perf_counter() - b0)
        if built is not None:
            for i, qdf in enumerate(qdfs):
                q0 = time.perf_counter()
                with ctx.rec.span("search_batch", spark=True):
                    got = ctx.attempt("search_batch", lambda: sparkbm25.search_batch(
                        spark, idx, qdf, k=K).toPandas(), n_ops=len(qdf))
                ctx.res.read_s.append(time.perf_counter() - q0)
                if first[i] is None:
                    first[i] = got
        if built is None or not ctx.more(t0, time.perf_counter() - b0):
            break
    ctx.stop_timing()

    ctx.res.queries = [q for queries in query_sets for q in queries]
    ctx.res.index_bytes = dir_bytes(idx)
    ctx.res.input_bytes = text_bytes(corpus)
    checks = []
    for queries, got in zip(query_sets, first):
        if got is not None:
            for qid, q in enumerate(queries):
                if q.checkable:
                    checks.append((q, got[got["query_id"] == qid]))
    check_answers(ctx, corpus, sample_checks(ctx, checks), "search_batch")
    ctx.final_index = idx
    ctx.res.info.update({
        "build_turns_per_s": BUILD_TURNS / statistics.median(ctx.res.write_s),
        "batch_queries_per_s": BATCH_QUERIES * len(ctx.res.read_s) / sum(ctx.res.read_s)
        if ctx.res.read_s else 0.0,
    })


# ----------------------------------------------------------- interactive_zipf

def interactive_zipf(ctx: Ctx) -> None:
    spark = ctx.spark
    corpus = make_transcripts(INTERACTIVE_TURNS, seed=ctx.seed)
    src = write_parquet(corpus, ctx.path("input"))
    idx = ctx.path("index")
    # the index build is also the JVM warm-up
    b0 = time.perf_counter()
    sparkbm25.build_index(spark, spark.read.parquet(src), idx, IndexConfig())
    ctx.res.write_s.append(time.perf_counter() - b0)
    queries = querygen.generate(ctx.seed, querygen.vocab_by_frequency(corpus["text"]),
                                INTERACTIVE_STREAM)
    s = Searcher(spark, idx)

    checks = []
    t0 = ctx.start_timing()
    for q in queries:
        if time.perf_counter() - t0 >= ctx.seconds:
            break
        out, dt = search_one(ctx, s, q)
        ctx.res.read_s.append(dt)
        if q.checkable and out is not None:
            checks.append((q, out))
    ctx.stop_timing()

    ctx.res.index_bytes = dir_bytes(idx)
    ctx.res.input_bytes = text_bytes(corpus)
    check_answers(ctx, corpus, sample_checks(ctx, checks), "Searcher.search")
    ctx.final_index = idx


# ------------------------------------------------------------- append_refresh

def append_batch(seed: int, rnd: int) -> pd.DataFrame:
    """One appended batch. Conversation ids grow with arrival order, as
    ids assigned at ingest do, so they sort after every earlier batch."""
    b = make_transcripts(APPEND_TURNS, seed=seed * 7919 + rnd + 1)
    b["conv_id"] = f"z{rnd:04d}_" + b["conv_id"]
    return b


def append_refresh(ctx: Ctx) -> None:
    spark = ctx.spark
    base = make_transcripts(BASE_TURNS, seed=ctx.seed)
    root = ctx.path("live")
    vocab = querygen.vocab_by_frequency(base["text"])
    # the first generation is also the JVM warm-up
    sparkbm25.update_index(spark, spark.read.parquet(write_parquet(base, ctx.path("input"))), root)
    s = Searcher(spark, root)

    inputs = [base]
    round_checks = []
    live_gens = []
    single_gen_s = []
    rnd = 0
    t0 = ctx.start_timing()
    # whole auto-compaction cycles (AUTO_COMPACT_AFTER - 1 appends each),
    # so every run queries the same mix of live-generation counts
    while True:
        c0 = time.perf_counter()
        for _ in range(AUTO_COMPACT_AFTER - 1):
            batch = append_batch(ctx.seed, rnd)
            bdf = spark.createDataFrame(batch)
            a0 = time.perf_counter()
            done = ctx.attempt("update_index", sparkbm25.update_index, spark, bdf, root,
                               input_desc=f"round{rnd}", auto_compact_after=AUTO_COMPACT_AFTER)
            ctx.res.write_s.append(time.perf_counter() - a0)
            if done is not None:
                inputs.append(batch)
            checks = []
            for b in range(MULTI_GEN_BURSTS):
                # refresh() empties every Searcher cache: each burst is cold
                with ctx.rec.span("refresh", spark=True) as sp:
                    ctx.attempt("refresh", s.refresh)
                    sp["attrs"]["live_generations"] = len(s.gens)
                live_gens.append(len(s.gens))
                for q in querygen.generate((ctx.seed * 7919 + rnd) * MULTI_GEN_BURSTS + b,
                                           vocab, BURST_QUERIES, mix=BURST_MIX):
                    out, dt = search_one(ctx, s, q)
                    # the gated reads are the bursts over several generations;
                    # a burst after compaction (one generation) is its own figure
                    (ctx.res.read_s if len(s.gens) > 1 else single_gen_s).append(dt)
                    if q.checkable and out is not None:
                        checks.append((q, out))
                if len(s.gens) == 1:
                    break
            round_checks.append((len(inputs), checks))
            rnd += 1
        if not ctx.more(t0, time.perf_counter() - c0):
            break
    ctx.stop_timing()

    ctx.res.input_bytes = sum(text_bytes(b) for b in inputs)
    ctx.res.index_bytes = dir_bytes(root)
    for n_inputs, checks in round_checks:
        corpus = pd.concat(inputs[:n_inputs], ignore_index=True)
        check_answers(ctx, corpus, checks, f"fresh query after {n_inputs - 1} appends")
    ctx.final_index = root
    ctx.res.info.update({
        "append_p50_s": statistics.median(ctx.res.write_s),
        "fresh_query_p50_ms": statistics.median(ctx.res.read_s) * 1e3
        if ctx.res.read_s else float("nan"),
        "fresh_query_compacted_p50_ms": statistics.median(single_gen_s) * 1e3
        if single_gen_s else float("nan"),
        "rounds": rnd,
        "live_generations_per_burst": live_gens,
    })


WORKLOADS = {
    "build_batch": build_batch,
    "interactive_zipf": interactive_zipf,
    "append_refresh": append_refresh,
}
