"""Incremental indexing (T1 queue-consumption analog): generations
must merge to EXACT BM25 parity with a single-shot build over the
concatenated corpus, and the Structured Streaming entry must drain a
directory with availableNow."""

import os
import time

import numpy as np
import pandas as pd
import pytest

from sparkbm25 import IndexConfig, Searcher, build_index, search_batch
from sparkbm25.fixtures import make_queries, make_transcripts
from sparkbm25 import catalog
from sparkbm25.streaming import stream_index, update_index

CFG = IndexConfig(n_term_buckets=8, n_salt_buckets=4, n_build_chunks=1)


@pytest.fixture(scope="module")
def corpus():
    # two halves, conv ranges disjoint and ordered so the single-shot
    # doc_ord order equals arrival order (tie-break parity holds)
    t = make_transcripts(3000)
    convs = sorted(t["conv_id"].unique())
    half = convs[len(convs) // 2]
    return t[t["conv_id"] < half].reset_index(drop=True), \
        t[t["conv_id"] >= half].reset_index(drop=True)


def test_generations_match_single_shot(spark, corpus, tmp_path):
    first, second = corpus
    full = pd.concat([first, second], ignore_index=True)

    mono = str(tmp_path / "mono")
    build_index(spark, spark.createDataFrame(full), mono, CFG, input_desc="full")

    root = str(tmp_path / "incr")
    r1 = update_index(spark, spark.createDataFrame(first), root, CFG)
    r2 = update_index(spark, spark.createDataFrame(second), root, CFG)
    assert r1.n_docs == len(first) and r2.n_docs == len(second)
    assert os.path.isdir(f"{root}/gen=0") and os.path.isdir(f"{root}/gen=1")

    q = make_queries()
    a = search_batch(spark, mono, q, k=10).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    b = search_batch(spark, root, q, k=10).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert a["conv_id"].tolist() == b["conv_id"].tolist()
    assert a["turn_idx"].tolist() == b["turn_idx"].tolist()
    np.testing.assert_allclose(a["score"].astype(float),
                               b["score"].astype(float), rtol=1e-9)

    # the interactive driver path over generations: postings of both
    # generations decode into one list per term
    s_mono, s_incr = Searcher(spark, mono), Searcher(spark, root)
    for qt in q["query_text"]:
        ga = s_mono.search(qt, k=10)
        gb = s_incr.search(qt, k=10)
        assert ga["conv_id"].tolist() == gb["conv_id"].tolist(), qt
        np.testing.assert_allclose(ga["score"].astype(float),
                                   gb["score"].astype(float), rtol=1e-9)


def test_stream_index_available_now(spark, corpus, tmp_path):
    first, second = corpus
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(first).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(second).coalesce(1).write.mode("append").parquet(src)

    root = str(tmp_path / "sidx")
    q = stream_index(spark, src, root, CFG,
                     checkpoint=str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(300)
    assert not q.isActive

    searcher = Searcher(spark, root)
    total = searcher.n_docs
    assert total == len(first) + len(second)
    hits = searcher.search("alpha", k=5)
    assert len(hits) == 5


def test_stream_metrics_watermark(spark, tmp_path):
    """Watermarked tumbling-window counts over a stream equal the batch
    aggregation for every window the watermark finalized (append mode
    only emits windows older than max event time - watermark; the tail
    inside the watermark stays in state by design)."""
    from pyspark.sql import functions as F

    from sparkbm25.streaming import stream_metrics

    import shutil

    # the file streaming source wants a directory of files
    ev_path = str(tmp_path / "events_src")
    os.makedirs(ev_path)
    shutil.copy("/root/testdata/sf0.01/events.parquet",
                os.path.join(ev_path, "part-0000.parquet"))
    out = str(tmp_path / "rates")
    q = stream_metrics(spark, ev_path, out, str(tmp_path / "ck"),
                       window_seconds=2, watermark="1 minute")
    q.awaitTermination(300)
    assert not q.isActive

    got = spark.read.parquet(out).toPandas()
    assert len(got) > 0
    ev = spark.read.parquet(ev_path)
    batch = (
        ev.groupBy(F.window("ts", "2 seconds").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n",
                "value_sum")
    ).toPandas()
    key = ["win_start", "event_type"]
    merged = got.merge(batch, on=key, suffixes=("_s", "_b"))
    # every emitted window matches the batch answer exactly
    assert len(merged) == len(got)
    assert (merged["n_s"] == merged["n_b"]).all()
    import numpy as np

    np.testing.assert_allclose(merged["value_sum_s"], merged["value_sum_b"],
                               rtol=1e-9)
    # and the watermark finalized (at least) everything older than
    # max(ts) - watermark - one window
    max_ts = ev.agg(F.max("ts")).first()[0]
    import pandas as pd

    cutoff = pd.Timestamp(max_ts) - pd.Timedelta(seconds=62)
    expect = batch[pd.to_datetime(batch["win_start"]) < cutoff]
    assert len(got) >= len(expect)


def test_worker_progress_stateful_stream(spark, tmp_path):
    """applyInPandasWithState: per-worker state folds across
    micro-batches (maxFilesPerTrigger=1 forces 2 batches); the FINAL
    update row per worker equals the batch-mode aggregation."""
    import shutil

    from pyspark.sql import functions as F

    from sparkbm25.streaming import worker_progress_stream

    src = str(tmp_path / "ev_src")
    os.makedirs(src)
    # two files -> two micro-batches
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    a, b = ev.where("event_id % 2 = 0"), ev.where("event_id % 2 = 1")
    a.coalesce(1).write.mode("append").parquet(src)
    b.coalesce(1).write.mode("append").parquet(src)

    prog = worker_progress_stream(spark, src, n_workers=8,
                                  max_files_per_trigger=1)
    q = (prog.writeStream.format("memory").queryName("wprog")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    got = spark.sql(
        "SELECT worker, max(n_processed) AS n FROM wprog GROUP BY worker"
    ).toPandas().set_index("worker")["n"]
    exp = (
        ev.withColumn("worker", (F.col("user_id") % 8).cast("int"))
        .groupBy("worker").count().toPandas().set_index("worker")["count"]
    )
    assert sorted(got.index) == sorted(exp.index)
    for w in exp.index:
        assert got[w] == exp[w], (w, got[w], exp[w])


def test_compact_generations_parity(spark, corpus, tmp_path):
    """Compaction (forceMerge analog) folds generations into one root:
    batch and driver answers are identical to the multi-generation
    index."""
    from sparkbm25.compact import compact_index

    first, second = corpus
    root = str(tmp_path / "cgen")
    update_index(spark, spark.createDataFrame(first), root, CFG)
    update_index(spark, spark.createDataFrame(second), root, CFG)

    out = str(tmp_path / "compacted")
    res = compact_index(spark, root, out)
    assert res.n_docs == len(first) + len(second)

    q = make_queries()
    a = search_batch(spark, root, q, k=10).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    b = search_batch(spark, out, q, k=10).toPandas().sort_values(
        ["query_id", "rank"]).reset_index(drop=True)
    assert a["conv_id"].tolist() == b["conv_id"].tolist()
    np.testing.assert_allclose(a["score"].astype(float),
                               b["score"].astype(float), rtol=1e-9)

    s_multi, s_one = Searcher(spark, root), Searcher(spark, out)
    assert len(s_one.gens) == 1
    for qt in q["query_text"].iloc[:4]:
        ga, gb = s_multi.search(qt, k=10), s_one.search(qt, k=10)
        assert ga["conv_id"].tolist() == gb["conv_id"].tolist(), qt
        np.testing.assert_allclose(ga["score"].astype(float),
                                   gb["score"].astype(float), rtol=1e-9)


def test_searcher_refresh_invalidates_caches(spark, tmp_path):
    """A warm Searcher (df map + decoded postings + doc resolve all
    cached) re-bound via refresh() after an append must answer from
    the GROWN index — stale caches would silently return the old
    corpus's results."""
    import numpy as np
    import pandas as pd

    from sparkbm25 import IndexConfig, Searcher, search_batch
    from sparkbm25.fixtures import make_transcripts
    from sparkbm25.streaming import update_index

    t = make_transcripts(400, seed=41)
    root = str(tmp_path / "refr")
    cfg = IndexConfig(n_term_buckets=4, n_salt_buckets=2, n_build_chunks=1)
    update_index(spark, spark.createDataFrame(t.iloc[:200]), root, cfg)
    s = Searcher(spark, root)
    before = s.search("alpha w0001", k=10)     # warms every cache
    assert s._post_cache and s._doc_cache
    update_index(spark, spark.createDataFrame(t.iloc[200:]), root, cfg)
    s.refresh()
    assert not s._post_cache and not s._doc_cache and s._df_cache is None
    after = s.search("alpha w0001", k=10)
    # parity with the batch path over the grown index
    exp = search_batch(spark, root, pd.DataFrame(
        {"query_id": [0], "query_text": ["alpha w0001"], "k": [10]}),
        k=10).toPandas().sort_values("rank")
    assert after["conv_id"].tolist() == exp["conv_id"].tolist()
    np.testing.assert_allclose(after["score"], exp["score"], rtol=1e-9)
    # and the result really changed with the corpus (df/avgdl moved)
    assert not np.allclose(before["score"].to_numpy()[:3],
                           after["score"].to_numpy()[:3])


def test_auto_compact_folds_generations(spark, tmp_path):
    """Tiered-merge policy: update_index(auto_compact_after=3) folds
    the generations in-place once 3 accumulate; results stay identical
    to a from-scratch build over the whole corpus."""
    import os

    import numpy as np
    import pandas as pd

    from sparkbm25 import IndexConfig, build_index, search_batch
    from sparkbm25 import catalog
    from sparkbm25.fixtures import make_transcripts
    from sparkbm25.streaming import update_index

    t = make_transcripts(450, seed=17)
    root = str(tmp_path / "acgens")
    cfg = IndexConfig(n_term_buckets=4, n_salt_buckets=2, n_build_chunks=1)
    for lo in (0, 150, 300):
        res = update_index(spark, spark.createDataFrame(t.iloc[lo:lo + 150]),
                           root, cfg, auto_compact_after=3)
        # the returned index_dir is always a LIVE directory — when the
        # append trips compaction it points at the compacted
        # generation, not the just-deleted appended one (ADVICE r3)
        assert os.path.exists(res.index_dir), res.index_dir
    assert res.index_dir.endswith("gen=3")
    live = catalog.generation_dirs(root)
    assert len(live) == 1 and live[0].endswith("gen=3")
    import os

    assert not os.path.exists(catalog.superseded_path(root))
    # parity vs a from-scratch single-shot build
    ref = str(tmp_path / "acref")
    build_index(spark, spark.createDataFrame(t), ref, cfg, input_desc="acref")
    q = pd.DataFrame({"query_id": [0], "query_text": ["alpha w0001"], "k": [10]})
    got = search_batch(spark, root, q, k=10).toPandas().sort_values("rank")
    exp = search_batch(spark, ref, q, k=10).toPandas().sort_values("rank")
    assert got["conv_id"].tolist() == exp["conv_id"].tolist()
    np.testing.assert_allclose(got["score"].astype(float),
                               exp["score"].astype(float), rtol=1e-9)
    # the compacted root keeps accepting appends
    update_index(spark, spark.createDataFrame(
        make_transcripts(50, seed=99)), root, cfg)
    from sparkbm25 import Searcher

    assert Searcher(spark, root).n_docs == 500


def test_compaction_crash_windows_are_safe(spark, tmp_path):
    """The tombstone protocol: before the commit rename the old
    generations stay authoritative; after it they are invisible even
    if their dirs still exist; update_index finishes the cleanup."""
    import json
    import os

    from sparkbm25 import IndexConfig, Searcher
    from sparkbm25 import catalog
    from sparkbm25.fixtures import make_transcripts
    from sparkbm25.streaming import compact_generations, update_index

    t = make_transcripts(200, seed=23)
    root = str(tmp_path / "crashgens")
    cfg = IndexConfig(n_term_buckets=4, n_salt_buckets=2, n_build_chunks=1)
    update_index(spark, spark.createDataFrame(t.iloc[:100]), root, cfg)
    update_index(spark, spark.createDataFrame(t.iloc[100:]), root, cfg)
    # crash between tombstone write and rename: target absent -> inert
    with open(catalog.superseded_path(root), "w") as f:
        json.dump({"by": 2, "gens": [0, 1]}, f)
    assert len(catalog.generation_dirs(root)) == 2   # old gens serve
    assert Searcher(spark, root).n_docs == 200
    os.remove(catalog.superseded_path(root))
    # real compaction, then simulate a crash BEFORE step-4 cleanup:
    # recreate the tombstone + a fake leftover old dir
    compact_generations(spark, root)
    live = catalog.generation_dirs(root)
    assert len(live) == 1 and live[0].endswith("gen=2")
    dead = os.path.join(root, "gen=0")
    os.makedirs(os.path.join(dead), exist_ok=True)
    with open(os.path.join(dead, "_COMPLETE"), "w") as f:
        f.write("ok\n")
    with open(catalog.superseded_path(root), "w") as f:
        json.dump({"by": 2, "gens": [0]}, f)
    # tombstone + live target: the leftover is invisible to readers
    assert catalog.generation_dirs(root) == live
    assert Searcher(spark, root).n_docs == 200
    # the next update wipes it and removes the tombstone
    update_index(spark, spark.createDataFrame(
        make_transcripts(10, seed=5)), root, cfg)
    assert not os.path.exists(dead)
    assert not os.path.exists(catalog.superseded_path(root))
    assert Searcher(spark, root).n_docs == 210


def test_stream_batch_replay_is_idempotent(spark, corpus, tmp_path):
    """foreachBatch is at-least-once: a checkpoint-recovery replay of
    a committed batch must NOT append a duplicate generation (final-
    round review: it double-counted N/df/avgdl). The skip marker is
    the committed generation's lineage and survives compaction via
    merged_lineages."""
    from sparkbm25.streaming import (_batch_already_applied,
                                     _stream_batch_desc,
                                     compact_generations, update_index)

    a, b = corpus
    root = str(tmp_path / "replay")
    qid = "11111111-2222-3333-4444-555555555555"
    cfg = IndexConfig(n_term_buckets=4, n_salt_buckets=2,
                      n_build_chunks=1, checkpoint_runs=False)
    update_index(spark, spark.createDataFrame(a), root, cfg,
                 input_desc=_stream_batch_desc(0, qid))
    update_index(spark, spark.createDataFrame(b), root, cfg,
                 input_desc=_stream_batch_desc(1, qid))
    assert _batch_already_applied(root, 0, qid)
    assert _batch_already_applied(root, 1, qid)
    assert not _batch_already_applied(root, 2, qid)
    # a DIFFERENT stream (fresh checkpoint, ids restart at 0) must NOT
    # mistake its batch 0 for a replay of this stream's (ADVICE r5
    # medium: the un-namespaced marker silently dropped real batches)
    assert not _batch_already_applied(root, 0, "other-query-id")
    assert not _batch_already_applied(root, 0, None)
    n_before = catalog.global_stats(root)["n_docs"]
    # ...and the markers survive the tiered merge
    compact_generations(spark, root)
    assert catalog.global_stats(root)["n_docs"] == n_before
    assert _batch_already_applied(root, 0, qid)
    assert _batch_already_applied(root, 1, qid)
    assert not _batch_already_applied(root, 2, qid)
    assert not _batch_already_applied(root, 0, "other-query-id")


def test_read_docs_missing_index_raises_clearly(spark, tmp_path):
    """A wrong index path raises FileNotFoundError naming the path,
    not a bare IndexError (final-round review; matches global_stats)."""
    import pytest

    with pytest.raises(FileNotFoundError, match="no index at"):
        catalog.read_docs(spark, str(tmp_path / "nope"))
