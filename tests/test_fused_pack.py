"""The fused tokenize+pack scan (input_order='verify' keeps token lists
out of stage 1 and re-derives (doc_ord, tokens) inside the pack kernel)
must produce the segments the former stream encoder froze in
tests/golden_segments.json for every tokenizer path: ASCII fast path,
non-ASCII pandas fallback, truncation, and null text — streamed and
checkpointed, with and without positions. A re-scan that does not
reproduce the bookkeeping pass's per-file row counts must raise."""

import os
import shutil

import pandas as pd
import pytest

from sparkbm25 import IndexConfig, Searcher, build_index


def _mixed_corpus(n: int = 400) -> pd.DataFrame:
    rows = []
    for i in range(n):
        if i % 7 == 0:
            text = f"héllo wörld Ünïcode w{i % 13:04d} straße"  # non-ASCII
        elif i % 11 == 0:
            text = None                                         # null text
        else:
            text = f"w{i % 13:04d} W{i % 5:04d}! and-some MIXED text {i}"
        rows.append({"conv_id": f"c{i:06d}", "turn_idx": 0,
                     "role": "user" if i % 2 else "agent",
                     "text": text, "tool": None})
    return pd.DataFrame(rows)


@pytest.mark.parametrize("maxlen", [0, 24])
def test_fused_pack_matches_stream(spark, tmp_path_factory, golden_segments,
                                   maxlen):
    corpus = _mixed_corpus()
    root = str(tmp_path_factory.mktemp(f"fused_{maxlen}"))
    # sorted single parquet file so input_order='verify' accepts it
    src = os.path.join(root, "src")
    spark.createDataFrame(corpus).coalesce(1).write.parquet(src)
    sdf = spark.read.parquet(src)
    base = dict(n_term_buckets=4, n_salt_buckets=2, n_doc_partitions=2,
                build_terms_dict=False, max_content_length=maxlen)
    for pos in (False, True):
        for order, ckpt in (("shuffle", False), ("verify", False),
                            ("verify", True)):
            d = os.path.join(root, f"{order}_{int(ckpt)}_{int(pos)}")
            build_index(spark, sdf, d, IndexConfig(
                input_order=order, checkpoint_runs=ckpt,
                n_build_chunks=2 if ckpt else 1, store_positions=pos,
                **base))
            golden_segments(d, f"mixed400_b4s2_len{maxlen}_pos{int(pos)}")
    # unicode-bearing query answers identically (fallback tokenization)
    sa = Searcher(spark, os.path.join(root, "shuffle_0_0"))
    sb = Searcher(spark, os.path.join(root, "verify_1_1"))
    for q in ("w0001", "stra", "mixed text"):
        ga, gb = sa.search(q, k=10), sb.search(q, k=10)
        pd.testing.assert_frame_equal(ga.reset_index(drop=True),
                                      gb.reset_index(drop=True))


def _rescan_batch(pid, fids, texts):
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array([pid] * len(texts), type=pa.int32()),
         pa.array(fids, type=pa.int64()),
         pa.array(texts, type=pa.string())],
        names=["pid", "_fid", "text"])


class _Bc:
    def __init__(self, value):
        self.value = value


def test_fused_rescan_row_count_mismatch_raises():
    """Fault injection: the bookkeeping pass saw (pid 0, file 7) with 3
    rows at offset 10. A re-scan that returns 2 rows (input shrank) or
    4 rows (input grew) for that file would shift every later doc_ord;
    it must raise instead. The exact count maps to offsets 10..12."""
    from sparkbm25.analysis import DEFAULT_TOKEN_PATTERN
    from sparkbm25.build import _make_tok_ingest

    ingest = _make_tok_ingest(_Bc({(0, 0): (10, 3)}),
                              DEFAULT_TOKEN_PATTERN, 0)
    ok = list(ingest([_rescan_batch(0, [7, 7], ["a b", "c"]),
                      _rescan_batch(0, [7], ["d"])]))
    assert [d.tolist() for d, _t in ok] == [[10, 11], [12]]
    for texts in (["a", "b"], ["a", "b", "c", "d"]):
        with pytest.raises(RuntimeError, match="row count"):
            list(ingest([_rescan_batch(0, [7] * len(texts), texts)]))
    # a unit the bookkeeping pass never saw
    with pytest.raises(RuntimeError, match="row count"):
        list(ingest([_rescan_batch(0, [7, 7, 7, 9], list("abcd"))]))
