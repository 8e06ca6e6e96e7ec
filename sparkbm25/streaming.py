"""Incremental indexing: the reference's unbounded work-queue loop
(T1: es_translator/worker.py:37-51, producer es_translator.py:291-293)
re-expressed as Structured Streaming `foreachBatch` over generations.

Each micro-batch becomes a self-contained sub-index `gen=K/` whose
doc_ords start where the previous generation ended. Query-time global
stats (N, avgdl, df) are summed across generations
(catalog.global_stats), so EXACT BM25 scores over the merged index
equal a from-scratch build over the concatenated corpus. Segments
store postings only, no corpus stats, so a generation's bytes stay
valid as the root grows.

Rate limiting (T2: --throttle, cli.py:150) maps to
maxFilesPerTrigger; backpressure (X4: bounded JoinableQueue) is the
scheduler's job.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from sparkbm25 import catalog, localio
from sparkbm25.build import BuildResult, build_index
from sparkbm25.config import IndexConfig


def next_generation(index_root: str) -> tuple[int, int]:
    """(next gen id, doc_ord base = docs so far).

    Dead generations (crashed builds, no _COMPLETE marker) don't count
    toward the doc_ord base — they are never read — but their ids are
    not reused either, so the next id is max over ALL gen dirs + 1."""
    all_gens = catalog.generation_dirs(index_root, include_dead=True)
    if all_gens == [index_root]:
        raise ValueError(
            f"{index_root} holds a single-shot index; use a fresh root "
            "for incremental generations")
    live = catalog.generation_dirs(index_root)
    if not all_gens:
        return 0, 0
    total = sum(catalog.read_stats(g)["n_docs"] for g in live)
    last = int(os.path.basename(all_gens[-1]).split("=")[1])
    return last + 1, total


def update_index(
    spark: SparkSession,
    new_transcripts: DataFrame,
    index_root: str,
    config: IndexConfig = IndexConfig(),
    input_desc: str = "",
    auto_compact_after: int = 0,
) -> BuildResult:
    """Append one batch of transcripts as a new index generation.
    Crashed generations left by a dead builder are wiped first (resume
    path: the batch that died is simply re-appended).

    auto_compact_after=K > 0 is the tiered-merge policy (the Lucene
    background-merge analog of the explicit forceMerge in compact.py):
    when the append leaves K or more live generations, they fold
    in-place into one (compact_generations) — queries otherwise fan
    out to one pruned scan per generation forever."""
    localio.require_local_root(spark, index_root)
    os.makedirs(index_root, exist_ok=True)
    import shutil

    # finish any interrupted compaction (or wipe its corpse), then
    # wipe crashed generations. Superseded generations are not "live"
    # once their compacted replacement is, so the same loop deletes
    # them — completing compact_generations step 4 after a crash.
    live = set(catalog.generation_dirs(index_root))
    for g in catalog.generation_dirs(index_root, include_dead=True):
        if g != index_root and g not in live:
            shutil.rmtree(g, ignore_errors=True)
    sup = catalog.superseded_path(index_root)
    if os.path.exists(sup):
        os.remove(sup)
    shutil.rmtree(os.path.join(index_root, "_compact_tmp"),
                  ignore_errors=True)
    gen_id, base = next_generation(index_root)
    gen_dir = os.path.join(index_root, f"gen={gen_id}")
    res = build_index(
        spark, new_transcripts, gen_dir, config,
        input_desc=input_desc or f"gen{gen_id}",
        doc_ord_base=base,
    )
    if auto_compact_after and len(
            catalog.generation_dirs(index_root)) >= auto_compact_after:
        cres = compact_generations(spark, index_root)
        if cres is not None:
            # the appended generation's dir was just deleted by the
            # merge — point the result at the live compacted generation
            # instead of a dangling path (ADVICE r3); the throughput
            # metrics stay the append's (they describe this call's
            # build work)
            res = BuildResult(index_dir=cres.index_dir, n_docs=res.n_docs,
                              avgdl=res.avgdl, seconds=res.seconds,
                              turns_per_sec=res.turns_per_sec)
    return res


def compact_generations(spark: SparkSession, index_root: str) -> BuildResult | None:
    """In-place forceMerge: fold every live generation into ONE new
    generation of the SAME root while readers stay correct throughout.

    Plain-filesystem atomicity via a single rename:
      1. compact_index -> root/_compact_tmp (not gen=*, so invisible)
      2. write _superseded.json {by: K, gens: [old ids]} — inert while
         gen=K does not exist (catalog.read_superseded applies it only
         once the target generation is live)
      3. rename _compact_tmp -> gen=K: THE commit point — one rename
         makes the compacted generation live AND activates the
         tombstone hiding the old generations from every reader
      4. delete superseded dirs + tombstone (crash here is benign: the
         next update_index finishes the deletes)
    A crash before step 3 leaves the old generations authoritative and
    only garbage to clean. No reader window ever sees partial or
    double-counted data."""
    import json
    import shutil

    from sparkbm25.compact import compact_index

    live = catalog.generation_dirs(index_root)
    if live == [index_root]:
        raise ValueError(
            f"{index_root} is a single-shot index; use compact_index "
            "to write a compacted copy to a new root")
    if len(live) <= 1:
        return None
    all_gens = catalog.generation_dirs(index_root, include_dead=True)
    new_id = int(os.path.basename(all_gens[-1]).split("=")[1]) + 1
    tmp = os.path.join(index_root, "_compact_tmp")
    res = compact_index(spark, index_root, tmp)
    old_ids = [int(os.path.basename(g).split("=")[1]) for g in live]
    sup_tmp = catalog.superseded_path(index_root) + ".tmp"
    with open(sup_tmp, "w") as f:
        json.dump({"by": new_id, "gens": old_ids}, f)
    os.replace(sup_tmp, catalog.superseded_path(index_root))
    gen_dir = os.path.join(index_root, f"gen={new_id}")
    os.rename(tmp, gen_dir)                      # commit point
    for g in live:
        shutil.rmtree(g, ignore_errors=True)
    os.remove(catalog.superseded_path(index_root))
    return BuildResult(index_dir=gen_dir, n_docs=res.n_docs,
                       avgdl=res.avgdl, seconds=res.seconds,
                       turns_per_sec=res.turns_per_sec)


def stream_metrics(
    spark: SparkSession,
    events_path: str,
    out_path: str,
    checkpoint: str,
    window_seconds: int = 2,
    watermark: str = "1 minute",
    available_now: bool = True,
):
    """Streaming monitor (T3/A3 as a real stream): readStream over the
    events table -> event-time watermark -> tumbling-window counts per
    event_type -> append-mode parquet sink. The watermark bounds state:
    windows older than max(event time) - watermark are finalized and
    dropped from state, so late rows inside the watermark still count
    and state never grows unboundedly (the streaming analog of the
    reference's monitor refresh loop, es_translator/monitor.py:205-216).
    Returns the StreamingQuery."""
    schema = spark.read.parquet(events_path).schema
    stream = spark.readStream.schema(schema).parquet(events_path)
    # event-time watermarks need TIMESTAMP (with zone); NTZ inputs cast
    # losslessly under the engine's fixed UTC session timezone
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", f"{window_seconds} seconds").alias("win"),
                 "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("value").alias("value_sum"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n",
                "value_sum")
    )
    writer = (
        agg.writeStream.outputMode("append").format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def worker_progress_stream(
    spark: SparkSession,
    events_path: str,
    n_workers: int = 8,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-worker running progress (processed count, elapsed, rate) that
    survives across micro-batches — the streaming analog of the
    reference monitor's per-worker Δprocessed ÷ elapsed
    (es_translator/monitor.py:172-178). State per key is three scalars
    (count, first_ts, last_ts); each micro-batch folds its rows into
    the state and emits the updated running row, so the operator's
    memory is O(workers), never O(events).

    Returns the (unstarted) streaming DataFrame:
    (worker, n_processed, elapsed_s, rate). Attach a sink with
    outputMode('update')."""
    import pandas as pd

    schema = spark.read.parquet(events_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = (
        reader.parquet(events_path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withColumn("worker", (F.col("user_id") % n_workers).cast("int"))
        .withColumn("ts_s", F.unix_micros("ts") / 1e6)
    )

    def update(key, pdfs, state):
        n, t0, t1 = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            lo, hi = float(pdf["ts_s"].min()), float(pdf["ts_s"].max())
            t0 = lo if t0 is None else min(t0, lo)
            t1 = hi if t1 is None else max(t1, hi)
        state.update((n, t0, t1))
        elapsed = (t1 - t0) if (t0 is not None and t1 is not None) else 0.0
        yield pd.DataFrame({
            "worker": [int(key[0])],
            "n_processed": [int(n)],
            "elapsed_s": [float(elapsed)],
            "rate": [n / elapsed if elapsed > 0 else float(n)],
        })

    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.groupBy("worker").applyInPandasWithState(
        update,
        outputStructType="worker int, n_processed bigint, elapsed_s double, "
                         "rate double",
        stateStructType="n bigint, t0 double, t1 double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _stream_batch_desc(batch_id: int, query_id: str | None) -> str:
    """The lineage marker for one stream batch. Namespaced by the
    streaming QUERY id (stable across restarts of the same checkpoint,
    fresh for a new checkpoint) so that only true checkpoint replays
    are skipped: foreachBatch batch ids are scoped to a checkpoint
    location, and round 5 keyed the marker on the id alone — a stream
    restarted with a fresh checkpoint dir (ids reset to 0) silently
    DROPPED its first batches as "replays" (ADVICE r5 medium: silent
    data loss, the inverse of the double-count the marker prevents).
    query_id=None keeps the legacy un-namespaced tag (no readable
    checkpoint metadata — intra-checkpoint replays still dedup)."""
    return (f"stream_{query_id}_batch_{batch_id}" if query_id
            else f"stream_batch_{batch_id}")


def _batch_already_applied(index_root: str, batch_id: int,
                           query_id: str | None = None) -> bool:
    """True iff a LIVE generation (or one folded into a live compacted
    generation) carries this stream batch's lineage marker — the
    foreachBatch replay-skip predicate (see stream_index.process)."""
    tag = ":" + _stream_batch_desc(batch_id, query_id)
    for g in catalog.generation_dirs(index_root):
        try:
            s = catalog.read_stats(g)
        except FileNotFoundError:
            continue
        if s.get("lineage", "").endswith(tag):
            return True
        if any(ln.endswith(tag) for ln in s.get("merged_lineages", [])):
            return True
    return False


def stream_index(
    spark: SparkSession,
    input_path: str,
    index_root: str,
    config: IndexConfig = IndexConfig(),
    checkpoint: str | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    auto_compact_after: int = 0,
):
    """readStream(parquet dir) -> foreachBatch(update_index).

    available_now=True drains what exists and stops (batch-incremental
    refresh); False runs continuously. auto_compact_after=K folds the
    generations in-place whenever K accumulate (tiered merge — a
    long-running stream otherwise grows one generation per
    micro-batch). Returns the StreamingQuery.
    """
    schema = spark.read.parquet(input_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    _ns: list[str | None] = []

    def _query_ns() -> str | None:
        """The streaming query id from the checkpoint's metadata file
        (written at stream start; STABLE across restarts of the same
        checkpoint, fresh for a new one) — the replay-marker
        namespace. None (no checkpoint / unreadable metadata) keeps
        the legacy un-namespaced marker."""
        if _ns:
            return _ns[0]
        qid = None
        if checkpoint:
            p = localio.local_path(checkpoint)
            if p is not None:
                try:
                    with open(os.path.join(p, "metadata")) as f:
                        qid = json.load(f).get("id")
                except (OSError, ValueError):
                    qid = None
        _ns.append(qid)
        return qid

    def process(batch_df: DataFrame, batch_id: int):
        qid = _query_ns()
        if _batch_already_applied(index_root, batch_id, qid):
            # foreachBatch is at-least-once: a checkpoint-recovery
            # replay of a batch whose generation already committed
            # (final-round review: the replay appended the same rows
            # as a NEW generation, double-counting N/df/avgdl). The
            # marker is the committed generation's lineage — written
            # atomically with the gen's _COMPLETE commit and carried
            # through compaction via merged_lineages — so a crash
            # BEFORE commit still replays (no data loss) and a crash
            # AFTER commit skips (no duplication). Namespaced by the
            # checkpoint's query id so a NEW checkpoint (batch ids
            # reset to 0) never mistakes its first batches for
            # replays of an old stream (_stream_batch_desc).
            return
        if batch_df.isEmpty():
            return
        update_index(spark, batch_df, index_root, config,
                     input_desc=_stream_batch_desc(batch_id, qid),
                     auto_compact_after=auto_compact_after)

    writer = stream.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
