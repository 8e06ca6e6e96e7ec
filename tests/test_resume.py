"""Resume semantics (SURVEY §5.2.4): kill after K of N chunks, re-run
with resume=True, final index must be byte-identical in content to a
clean one-shot build. This is the engine analog of the reference's
idempotency predicate + plan/execute resumability
(es_translator/es.py:131-150, es_translator.py:124-134)."""

import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sparkbm25 import IndexConfig, build_index, search_batch
from sparkbm25.catalog import read_manifest, segments_chunk_dir
from sparkbm25.fixtures import make_queries, make_transcripts


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(make_transcripts(2000)).cache()


def _segments_pdf(spark, index_dir):
    return (
        spark.read.parquet(f"{index_dir}/segments")
        .select("term", "salt", "n_docs")
        .orderBy("term", "salt")
        .toPandas()
    )


def test_resume_after_partial_build(spark, corpus_df, tmp_path):
    cfg = IndexConfig(n_build_chunks=4)
    clean_dir = str(tmp_path / "clean")
    crash_dir = str(tmp_path / "crashed")

    build_index(spark, corpus_df, clean_dir, cfg, input_desc="r2000")
    build_index(spark, corpus_df, crash_dir, cfg, input_desc="r2000")

    # simulate a crash after chunk 0+1: delete chunks 2,3 and their
    # manifest rows would normally be absent — emulate by rebuilding
    # the manifest without those rows
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    for chunk in (2, 3):
        shutil.rmtree(segments_chunk_dir(crash_dir, chunk))
    m = read_manifest(crash_dir)
    kept = m[~((m["stage"] == "segments") & (m["partition_id"].isin([2, 3])))]
    # terms stage depends on all segments: drop it too
    kept = kept[kept["stage"] != "terms"]
    shutil.rmtree(f"{crash_dir}/manifest")
    os.makedirs(f"{crash_dir}/manifest")
    pq.write_table(pa.Table.from_pandas(kept, preserve_index=False),
                   f"{crash_dir}/manifest/part-rebuilt.parquet")
    shutil.rmtree(f"{crash_dir}/terms")

    # resume must rebuild exactly chunks 2,3 + terms
    build_index(spark, corpus_df, crash_dir, cfg, resume=True, input_desc="r2000")

    got = _segments_pdf(spark, crash_dir)
    exp = _segments_pdf(spark, clean_dir)
    pd.testing.assert_frame_equal(got.reset_index(drop=True), exp.reset_index(drop=True))

    # and the resumed index answers queries identically
    q = make_queries()
    a = search_batch(spark, crash_dir, q, k=5).toPandas()
    b = search_batch(spark, clean_dir, q, k=5).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values(["query_id", "rank"]).reset_index(drop=True),
        b.sort_values(["query_id", "rank"]).reset_index(drop=True),
    )

    # manifest of the resumed run only re-did 2,3(+terms): chunks 0,1
    # appear exactly once
    m2 = read_manifest(crash_dir)
    seg_rows = m2[m2["stage"] == "segments"]
    assert sorted(seg_rows["partition_id"].tolist()) == [0, 1, 2, 3]


def test_config_change_invalidates_checkpoint(spark, corpus_df, tmp_path):
    """lineage mismatch => resume must NOT reuse old chunks (the
    reference's --force semantics are implicit here: a different job
    config is a different job)."""
    d = str(tmp_path / "idx")
    build_index(spark, corpus_df, d, IndexConfig(n_build_chunks=2), input_desc="x")
    m1 = read_manifest(d)
    # resume with a different config: everything rebuilds
    build_index(spark, corpus_df, d, IndexConfig(n_build_chunks=2, block_size=64),
                resume=True, input_desc="x")
    m2 = read_manifest(d)
    assert len(m2) > len(m1)
    segs = spark.read.parquet(f"{d}/segments")
    # block_size=64: no block may hold more than 64 docs
    mx = segs.select(F.explode("blocks").alias("b")).agg(F.max("b.n")).collect()[0][0]
    assert mx <= 64


def test_config_change_to_fewer_chunks_drops_stale_chunks(spark, tmp_path):
    """A resume under a config with fewer build chunks rebuilds
    everything; the old build's higher chunk dirs must not survive, or
    every term's postings count twice (doubled hits, df > N)."""
    import os

    from sparkbm25 import Searcher

    df = spark.createDataFrame(make_transcripts(300))
    d = str(tmp_path / "idx")
    build_index(spark, df, d, IndexConfig(n_build_chunks=4), input_desc="x")
    build_index(spark, df, d, IndexConfig(n_build_chunks=2), resume=True,
                input_desc="x")
    assert sorted(os.listdir(f"{d}/segments")) == ["chunk=0", "chunk=1"]
    segs = spark.read.parquet(f"{d}/segments")
    assert segs.count() == segs.select("term", "salt").distinct().count()
    hits = Searcher(spark, d).search("w0001", k=5)
    keys = list(zip(hits["conv_id"], hits["turn_idx"]))
    assert len(set(keys)) == len(keys) and (hits["score"] > 0).all()


def test_dirty_staging_cleared(spark, corpus_df, tmp_path):
    """A crash mid-write leaves _staging; a fresh or resumed build must
    clear it and still commit correctly."""
    import os

    d = str(tmp_path / "idx")
    os.makedirs(f"{d}/_staging/segchunk1/junk", exist_ok=True)
    with open(f"{d}/_staging/segchunk1/junk/file.bin", "wb") as f:
        f.write(b"garbage")
    build_index(spark, corpus_df, d, IndexConfig(), resume=True, input_desc="y")
    assert not os.path.exists(f"{d}/_staging")
    assert spark.read.parquet(f"{d}/segments").count() > 0


def test_empty_corpus_build_and_search(spark, tmp_path):
    """A zero-row input builds a valid (empty) index and every query
    path answers empty instead of crashing."""
    import pandas as pd

    from sparkbm25 import IndexConfig, Searcher, build_index, search_batch

    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, role string, text string, "
            "tool string, ts timestamp")
    d = str(tmp_path / "emptyidx")
    res = build_index(spark, empty, d,
                      IndexConfig(n_term_buckets=4, n_salt_buckets=2,
                                  n_build_chunks=1),
                      input_desc="empty")
    assert res.n_docs == 0
    q = pd.DataFrame({"query_id": [0], "query_text": ["alpha"], "k": [5]})
    assert search_batch(spark, d, q, k=5).count() == 0
    s = Searcher(spark, d)
    assert len(s.search("alpha", k=5)) == 0
    assert s.term_dfs(["alpha"]) == {}


class _Crash(Exception):
    pass


def _crash_before_commit(monkeypatch, stage_name):
    """Make the build die right before it commits stage_name (the
    chunk's or the terms table's staging dir) — everything committed
    earlier, the runs checkpoint included, stays on disk."""
    from sparkbm25 import catalog

    real = catalog.commit_staging

    def commit(index_dir, name, final_path):
        if name == stage_name:
            raise _Crash(name)
        real(index_dir, name, final_path)

    monkeypatch.setattr(catalog, "commit_staging", commit)


def _bigram_docs(pdf):
    """(phrase, {(conv_id, turn_idx)} of docs holding it) for the
    first two-token phrase of the corpus."""
    from sparkbm25.analysis import tokenize_series

    toks = tokenize_series(pdf["text"], IndexConfig().token_pattern, 0)
    first = next(t for t in toks if len(t) >= 2)
    a, b = first[0], first[1]
    keys = {(c, int(i)) for c, i, t in zip(pdf["conv_id"], pdf["turn_idx"], toks)
            if any(x == a and y == b for x, y in zip(t, t[1:]))}
    return f'"{a} {b}"', keys


def _crash_and_resume(spark, sdf, d, cfg, stage_name, monkeypatch):
    import os

    with monkeypatch.context() as m:
        _crash_before_commit(m, stage_name)
        with pytest.raises(_Crash):
            build_index(spark, sdf, d, cfg, input_desc="crash")
    assert os.path.isdir(f"{d}/tf")
    assert not os.path.exists(f"{d}/_COMPLETE")
    build_index(spark, sdf, d, cfg, resume=True, input_desc="crash")
    m = read_manifest(d)
    # the resume read the checkpointed runs: stage 1 ran exactly once
    assert (m["stage"] == "tf").sum() == 1
    assert sorted(m[m["stage"] == "segments"]["partition_id"]) == [0, 1, 2, 3]
    assert os.path.exists(f"{d}/_COMPLETE")
    assert not os.path.exists(f"{d}/tf")


@pytest.mark.parametrize("stage_name", [
    "segchunk0", "segchunk1", "segchunk2", "segchunk3", "terms"])
def test_positions_resume_after_crash(spark, corpus_df, tmp_path,
                                      monkeypatch, golden_segments,
                                      stage_name):
    """A checkpointed phrase index (store_positions) resumes after a
    crash at any chunk: the segments equal a clean build's and phrase
    queries work on the resumed index."""
    from sparkbm25 import Searcher

    d = str(tmp_path / "idx")
    cfg = IndexConfig(n_build_chunks=4, store_positions=True)
    _crash_and_resume(spark, corpus_df, d, cfg, stage_name, monkeypatch)
    golden_segments(d, "t2000_b16s8_pos1")
    phrase, keys = _bigram_docs(make_transcripts(2000))
    assert keys
    hits = Searcher(spark, d).search(phrase, k=len(keys) + 10)
    assert set(zip(hits["conv_id"], hits["turn_idx"].astype(int))) == keys


def test_verify_positions_resume_after_crash(spark, tmp_path, monkeypatch,
                                             golden_segments):
    """The same crash + resume through input_order='verify', whose
    stage 1 packs runs in the fused tokenize+pack scan."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = make_transcripts(2000).sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i * 700:(i + 1) * 700],
                                 preserve_index=False),
            f"{src}/part-{i:04d}.parquet")
    d = str(tmp_path / "idx")
    cfg = IndexConfig(n_build_chunks=4, store_positions=True,
                      input_order="verify")
    _crash_and_resume(spark, spark.read.parquet(src), d, cfg, "segchunk2",
                      monkeypatch)
    golden_segments(d, "t2000_b16s8_pos1")
    phrase, keys = _bigram_docs(pdf)
    q = pd.DataFrame({"query_id": [0], "query_text": [phrase],
                      "k": [len(keys) + 10]})
    hits = search_batch(spark, d, q, k=len(keys) + 10).toPandas()
    assert set(zip(hits["conv_id"], hits["turn_idx"].astype(int))) == keys


def _old_config_json(cfg: IndexConfig) -> str:
    """cfg as an older release serialized it: with the since-removed
    dict_terms/dict_max_vocab fields and the 'stream' encoder."""
    import json

    d = json.loads(cfg.to_json())
    d.update(dict_terms="off", dict_max_vocab=4_000_000, encoder="stream")
    return json.dumps(d, sort_keys=True)


def _forge_stream_partial(spark, corpus_df, d, cfg, lineage):
    """Turn the complete index at d into the partial build an older
    release leaves after committing chunks 0 and 1: its stats.json
    config, its manifest rows under `lineage`, and its stage-1 tf/
    table of per-posting (term, salt, doc_ord, tf, dl) rows."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkbm25 import catalog
    from sparkbm25.build import assign_doc_ords, term_bucket_col

    stats = catalog.read_stats(d)
    stats.update(config=_old_config_json(cfg), lineage=lineage)
    catalog.write_stats(d, stats)
    df_tok = assign_doc_ords(corpus_df, cfg)
    n = stats["n_docs"]
    (df_tok.select("doc_ord", "dl", F.explode("tokens").alias("term"))
     .withColumn("term_bucket", term_bucket_col(F.col("term"), 16))
     .withColumn("salt", F.least(F.lit(7), F.floor(F.col("doc_ord") * 8 / n))
                 .cast("int"))
     .groupBy("term_bucket", "term", "salt", "doc_ord")
     .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
     .write.mode("overwrite").partitionBy("term_bucket").parquet(f"{d}/tf"))
    df_tok._sparkbm25_cached.unpersist()
    m = read_manifest(d)
    m = m[(m["stage"] == "tf") | ((m["stage"] == "segments")
                                  & m["partition_id"].isin([0, 1]))].copy()
    m["lineage"] = lineage
    shutil.rmtree(f"{d}/manifest")
    os.makedirs(f"{d}/manifest")
    pq.write_table(pa.Table.from_pandas(m, preserve_index=False),
                   f"{d}/manifest/part-old.parquet")
    for chunk in (2, 3):
        shutil.rmtree(segments_chunk_dir(d, chunk))
    shutil.rmtree(f"{d}/terms")
    os.remove(f"{d}/_COMPLETE")
    assert json.loads(catalog.read_stats(d)["config"])["encoder"] == "stream"


def test_resume_over_stream_checkpoint(spark, corpus_df, tmp_path,
                                       golden_segments):
    """A partial build left by the former 'stream' encoder's checkpoint:
    its config hash differs, so resume reruns stage 1 and rebuilds every
    chunk, and its per-posting tf/ rows are never read as packed runs —
    even under a lineage that did match, they raise instead."""
    import hashlib
    import os

    cfg = IndexConfig(n_build_chunks=4)
    d = str(tmp_path / "idx")
    build_index(spark, corpus_df, d, cfg, input_desc="old")
    old_hash = hashlib.sha256(
        _old_config_json(cfg).encode()).hexdigest()[:16]
    assert old_hash != cfg.config_hash()
    _forge_stream_partial(spark, corpus_df, d, cfg, f"{old_hash}:old")
    build_index(spark, corpus_df, d, cfg, resume=True, input_desc="old")
    m = read_manifest(d)
    new = m[m["lineage"] == f"{cfg.config_hash()}:old"]
    assert (new["stage"] == "tf").sum() == 1
    assert sorted(new[new["stage"] == "segments"]["partition_id"]) == [
        0, 1, 2, 3]
    golden_segments(d, "t2000_b16s8_pos0")
    assert not os.path.exists(f"{d}/tf")

    _forge_stream_partial(spark, corpus_df, d, cfg,
                          f"{cfg.config_hash()}:old")
    with pytest.raises(RuntimeError, match="packed runs"):
        build_index(spark, corpus_df, d, cfg, resume=True, input_desc="old")


def test_pre_upgrade_index_still_opens(spark, tmp_path):
    """An index whose stats.json carries the removed dict_terms /
    dict_max_vocab fields and encoder='stream' opens with Searcher and
    search_batch and answers like the reference."""
    import json

    import numpy as np

    from sparkbm25 import Searcher, bm25_reference_topk, catalog

    pdf = make_transcripts(800)
    d = str(tmp_path / "idx")
    cfg = IndexConfig(n_term_buckets=4, n_salt_buckets=2, n_build_chunks=1)
    build_index(spark, spark.createDataFrame(pdf), d, cfg)
    stats = catalog.read_stats(d)
    stats["config"] = _old_config_json(cfg)
    catalog.write_stats(d, stats)
    assert "dict_terms" in json.loads(catalog.read_stats(d)["config"])
    unknown = json.loads(stats["config"])
    unknown["some_future_option"] = 1
    with pytest.raises(TypeError, match="some_future_option"):
        IndexConfig.from_json(json.dumps(unknown))

    q = make_queries()
    exp = (bm25_reference_topk(pdf, q, k=5)
           .sort_values(["query_id", "rank"]).reset_index(drop=True))
    got = (search_batch(spark, d, q, k=5).toPandas()
           .sort_values(["query_id", "rank"]).reset_index(drop=True))
    for col in ("query_id", "conv_id", "turn_idx"):
        assert got[col].tolist() == exp[col].tolist(), col
    np.testing.assert_allclose(got["score"], exp["score"], rtol=1e-9)
    s = Searcher(spark, d)
    for row in q.itertuples(index=False):
        hits = s.search(row.query_text, k=int(row.k))
        e = exp[exp["query_id"] == row.query_id]
        for col in ("conv_id", "turn_idx"):
            assert hits[col].tolist() == e[col].tolist(), (row, col)


def test_complete_build_drops_runs_checkpoint(spark, corpus_df, tmp_path):
    """tf/ is gone once an index is complete — one-shot builds and
    every update_index generation — and resume=True on a complete
    index does no work and leaves it searchable."""
    import os

    from sparkbm25 import Searcher, catalog
    from sparkbm25.streaming import update_index

    d = str(tmp_path / "idx")
    cfg = IndexConfig(n_build_chunks=2)
    build_index(spark, corpus_df, d, cfg, input_desc="c")
    assert not os.path.exists(f"{d}/tf")
    m1 = read_manifest(d)
    build_index(spark, corpus_df, d, cfg, resume=True, input_desc="c")
    assert len(read_manifest(d)) == len(m1)  # no stage ran again
    assert not os.path.exists(f"{d}/tf")
    assert len(Searcher(spark, d).search("w0001", k=3)) == 3

    root = str(tmp_path / "gens")
    pdf = make_transcripts(600)
    for part in (pdf.iloc[:300], pdf.iloc[300:]):
        update_index(spark, spark.createDataFrame(part), root, cfg)
    gens = catalog.generation_dirs(root)
    assert len(gens) == 2
    for g in gens:
        assert os.path.exists(f"{g}/_COMPLETE")
        assert not os.path.exists(f"{g}/tf")


@pytest.mark.parametrize("checkpoint_runs", [True, False])
def test_zero_token_corpus_builds(spark, tmp_path, checkpoint_runs):
    """Docs that yield no tokens at all (null and punctuation-only
    text) leave tf/ and segments/ without a single parquet file: the
    build still completes, every term query answers empty on the
    driver and batch paths, and resume=True on the result does no
    work."""
    from sparkbm25 import Searcher

    pdf = pd.DataFrame({"conv_id": ["c0", "c0"], "turn_idx": [0, 1],
                        "role": ["user", "assistant"],
                        "text": [None, "!!!"]})
    sdf = spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, role string, text string")
    d = str(tmp_path / "idx")
    cfg = IndexConfig(checkpoint_runs=checkpoint_runs)
    res = build_index(spark, sdf, d, cfg, input_desc="z")
    assert res.n_docs == 2
    queries = ["w0001", "alpha beta", "alpha AND beta", "alp*"]
    s = Searcher(spark, d)
    for qt in queries:
        assert s.search(qt, k=5).empty, qt
    assert s.term_dfs(["w0001", "alpha"]) == {}
    q = pd.DataFrame({"query_id": range(len(queries)),
                      "query_text": queries, "k": 5})
    assert search_batch(spark, d, q, k=5).toPandas().empty
    m1 = read_manifest(d)
    build_index(spark, sdf, d, cfg, resume=True, input_desc="z")
    assert len(read_manifest(d)) == len(m1)  # no stage ran again
