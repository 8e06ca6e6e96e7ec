"""input_order='verify' (round 5): the sorted-input fast path.

Skips the full-corpus range shuffle when the caller asserts the input
is already (conv_id, turn_idx)-sorted — but PROVES it: the tokenize
kernel checks within-partition order as it streams, the bookkeeping
job returns per-partition key bounds, and the driver rejects any
overlap before assigning offsets in key order. Segments must come out
byte-identical to the 'shuffle' path and to the digests the former
stream encoder froze in tests/golden_segments.json; violations must
raise, never silently misnumber docIDs.
"""

import os

import pytest

from sparkbm25 import IndexConfig, build_index
from sparkbm25.fixtures import make_transcripts

N_TURNS = 3000


@pytest.fixture(scope="module")
def corpus():
    return make_transcripts(N_TURNS)


def _cfg(**kw):
    base = dict(n_term_buckets=8, n_salt_buckets=4, n_build_chunks=1,
                n_doc_partitions=4, checkpoint_runs=False,
                build_terms_dict=False)
    base.update(kw)
    return IndexConfig(**base)


def _segments(spark, idx):
    return (spark.read.parquet(os.path.join(idx, "segments"))
            .toPandas().sort_values(["term", "salt"]).reset_index(drop=True))


def test_verify_equals_shuffle_on_sorted_parquet(spark, corpus,
                                                 tmp_path_factory,
                                                 golden_segments):
    """Sorted multi-file parquet input: the no-shuffle path must build
    the exact same index (same doc_ords -> byte-identical segments)."""
    root = str(tmp_path_factory.mktemp("inorder"))
    src = os.path.join(root, "src")
    # write sorted, split into 4 non-overlapping files (file order on
    # disk is lexicographic == key order here)
    sorted_pdf = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    step = (len(sorted_pdf) + 3) // 4
    os.makedirs(src)
    import pyarrow as pa
    import pyarrow.parquet as pq
    for i in range(4):
        part = sorted_pdf.iloc[i * step:(i + 1) * step]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(src, f"part-{i:04d}.parquet"))
    sdf = spark.read.parquet(src)

    idx_a = os.path.join(root, "idx_shuffle")
    idx_b = os.path.join(root, "idx_verify")
    build_index(spark, sdf, idx_a, _cfg(input_order="shuffle"))
    build_index(spark, sdf, idx_b, _cfg(input_order="verify"))
    a, b = _segments(spark, idx_a), _segments(spark, idx_b)
    assert len(a) == len(b) and len(a) > 0
    for col in ("term", "salt", "n_docs", "term_bucket"):
        assert (a[col].values == b[col].values).all(), col
    for i in range(len(a)):
        for x, y in zip(a["blocks"].iloc[i], b["blocks"].iloc[i]):
            assert dict(x) == dict(y), a["term"].iloc[i]
    golden_segments(idx_b, "t3000_b8s4_pos0")


def test_verify_raises_on_unsorted_partition(spark, corpus,
                                             tmp_path_factory):
    root = str(tmp_path_factory.mktemp("inorder_bad"))
    shuffled = corpus.sample(frac=1.0, random_state=7).reset_index(drop=True)
    sdf = spark.createDataFrame(shuffled).coalesce(2)
    with pytest.raises(ValueError, match="NOT .*sorted|sorted"):
        build_index(spark, sdf, os.path.join(root, "idx"),
                    _cfg(input_order="verify"))
    assert not os.path.exists(os.path.join(root, "idx", "_COMPLETE"))


def test_verify_raises_on_overlapping_partitions(spark, corpus,
                                                 tmp_path_factory):
    """Each file internally sorted, but their key ranges interleave —
    the driver-side bound check must catch what the per-partition
    order check cannot."""
    root = str(tmp_path_factory.mktemp("inorder_overlap"))
    src = os.path.join(root, "src")
    os.makedirs(src)
    import pyarrow as pa
    import pyarrow.parquet as pq
    s = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    even = s.iloc[0::2]  # both slices are sorted, ranges fully overlap
    odd = s.iloc[1::2]
    pq.write_table(pa.Table.from_pandas(even, preserve_index=False),
                   os.path.join(src, "part-0000.parquet"))
    pq.write_table(pa.Table.from_pandas(odd, preserve_index=False),
                   os.path.join(src, "part-0001.parquet"))
    sdf = spark.read.parquet(src)
    with pytest.raises(ValueError, match="OVERLAPPING"):
        build_index(spark, sdf, os.path.join(root, "idx"),
                    _cfg(input_order="verify"))


def test_verify_with_packed_encoder(spark, corpus, tmp_path_factory,
                                    golden_segments):
    """The two round-5 build optimizations compose: verified sorted
    input (no text shuffle) + packed encoder (no occurrence shuffle) —
    the whole build's only exchange is the varint-packed runs —
    streamed or checkpointed."""
    root = str(tmp_path_factory.mktemp("inorder_packed"))
    sorted_pdf = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    sdf = spark.createDataFrame(sorted_pdf).coalesce(3)
    for ckpt in (False, True):
        idx = os.path.join(root, f"ckpt{int(ckpt)}")
        build_index(spark, sdf, idx,
                    _cfg(input_order="verify", checkpoint_runs=ckpt,
                         n_build_chunks=3 if ckpt else 1))
        golden_segments(idx, "t3000_b8s4_pos0")


def test_verify_multi_file_partitions(spark, corpus, tmp_path_factory):
    """The regression that broke local[2] scaling runs: the scan
    bin-packs MANY sorted files into one FilePartition in SIZE order,
    so a partition is not key-sorted across file boundaries even when
    every file is. The verify unit is the FILE (input_file_name runs),
    so the build must succeed and match the shuffle arm exactly.
    Files are written with varying sizes so packing order differs from
    key order; coalesce merges scan partitions deterministically."""
    root = str(tmp_path_factory.mktemp("inorder_packfiles"))
    src = os.path.join(root, "src")
    os.makedirs(src)
    import pyarrow as pa
    import pyarrow.parquet as pq
    s = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    # 6 contiguous slices with very different sizes: size-desc
    # bin-packing will not follow key order
    cuts = [0, 1200, 1350, 2100, 2250, 2900, len(s)]
    for i in range(6):
        part = s.iloc[cuts[i]:cuts[i + 1]]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(src, f"part-{i:04d}.parquet"))
    sdf = spark.read.parquet(src).coalesce(2)
    assert sdf.rdd.getNumPartitions() == 2  # >1 file per partition
    idx_a = os.path.join(root, "a")
    idx_b = os.path.join(root, "b")
    build_index(spark, spark.read.parquet(src), idx_a,
                _cfg(input_order="shuffle"))
    build_index(spark, sdf, idx_b, _cfg(input_order="verify"))
    a, b = _segments(spark, idx_a), _segments(spark, idx_b)
    assert len(a) == len(b) and len(a) > 0
    for col in ("term", "salt", "n_docs", "term_bucket"):
        assert (a[col].values == b[col].values).all(), col
    for i in range(len(a)):
        for x, y in zip(a["blocks"].iloc[i], b["blocks"].iloc[i]):
            assert dict(x) == dict(y), a["term"].iloc[i]


def test_verify_raises_on_file_unsorted_inside_packed_partition(
        spark, corpus, tmp_path_factory):
    """A single UNSORTED file hiding among sorted ones in a packed
    partition must still raise — the per-file check must not lose
    strictness when runs share a partition."""
    root = str(tmp_path_factory.mktemp("inorder_badfile"))
    src = os.path.join(root, "src")
    os.makedirs(src)
    import pyarrow as pa
    import pyarrow.parquet as pq
    s = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    third = len(s) // 3
    parts = [s.iloc[:third],
             s.iloc[third:2 * third].sample(frac=1.0, random_state=3),
             s.iloc[2 * third:]]
    for i, part in enumerate(parts):
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(src, f"part-{i:04d}.parquet"))
    sdf = spark.read.parquet(src).coalesce(1)
    with pytest.raises(ValueError, match="NOT .*sorted|sorted"):
        build_index(spark, sdf, os.path.join(root, "idx"),
                    _cfg(input_order="verify"))


@pytest.mark.parametrize("store_positions", [False, True])
def test_verify_multi_file_partitions_packed_encoder(
        spark, corpus, tmp_path_factory, golden_segments, store_positions):
    """The packed encoder under verify-mode bin-packed partitions
    (final-round review finding): the pack kernel assumed partitions
    are doc_ord-ascending, but verify mode only guarantees that WITHIN
    each file run — size-ordered bin-packing makes doc_ord jump down
    at file boundaries, which silently produced negative run deltas
    (uint64 wrap) and unsorted block docs. The kernel must detect the
    non-monotonic partition and lexsort (term code, doc); segments
    must stay byte-identical to the shuffle arm and to the frozen
    stream digests, positions included, streamed or checkpointed."""
    root = str(tmp_path_factory.mktemp(
        f"inorder_packed_{int(store_positions)}"))
    src = os.path.join(root, "src")
    os.makedirs(src)
    import pyarrow as pa
    import pyarrow.parquet as pq
    s = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    # same size-skewed contiguous slices as
    # test_verify_multi_file_partitions: packing order != key order
    cuts = [0, 1200, 1350, 2100, 2250, 2900, len(s)]
    for i in range(6):
        part = s.iloc[cuts[i]:cuts[i + 1]]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(src, f"part-{i:04d}.parquet"))
    sdf = spark.read.parquet(src).coalesce(2)
    assert sdf.rdd.getNumPartitions() == 2  # >1 file per partition
    key = f"t3000_b8s4_pos{int(store_positions)}"
    idx_a = os.path.join(root, "a")
    build_index(spark, spark.read.parquet(src), idx_a,
                _cfg(input_order="shuffle", store_positions=store_positions))
    golden_segments(idx_a, key)
    for ckpt in (False, True):
        idx_b = os.path.join(root, f"b{int(ckpt)}")
        build_index(spark, sdf, idx_b,
                    _cfg(input_order="verify", checkpoint_runs=ckpt,
                         n_build_chunks=4 if ckpt else 1,
                         store_positions=store_positions))
        golden_segments(idx_b, key)
