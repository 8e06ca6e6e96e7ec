"""A root whose segment files an older release wrote: those blocks carry
one more struct field, a per-block max_impact double, that the codec
no longer writes. Generations of either release must answer together
(driver path, batch path) and compact into segments without it."""

import glob
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from sparkbm25 import (IndexConfig, Searcher, bm25_reference_topk,
                       search_batch)
from sparkbm25.catalog import generation_dirs, segments_dir
from sparkbm25.fixtures import make_queries, make_transcripts
from sparkbm25.streaming import compact_generations, update_index

CFG = IndexConfig(n_term_buckets=4, n_salt_buckets=2, n_build_chunks=2,
                  n_doc_partitions=2)


def _add_max_impact(path: str) -> None:
    """Rewrite one segment file with a max_impact double appended to
    its block struct, the layout of the older release."""
    tb = pq.read_table(path)
    blocks = tb.column("blocks").combine_chunks()
    flat = blocks.flatten()
    fields = [flat.field(i) for i in range(flat.type.num_fields)]
    names = [f.name for f in flat.type]
    old = pa.StructArray.from_arrays(
        fields + [pa.array(np.linspace(0.1, 0.9, len(flat)))],
        names=names + ["max_impact"])
    offsets = blocks.offsets
    lv = pa.ListArray.from_arrays(
        pc.subtract(offsets, offsets[0]), old)
    pq.write_table(tb.set_column(tb.schema.get_field_index("blocks"),
                                 "blocks", lv), path)
    # Hadoop's checksum sidecar of the replaced bytes would fail reads
    d, name = os.path.split(path)
    os.remove(os.path.join(d, f".{name}.crc"))


def _segment_files(d: str) -> list[str]:
    return sorted(glob.glob(os.path.join(d, "**", "*.parquet"),
                            recursive=True))


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["query_id", "rank"]).reset_index(drop=True)


def _check(spark, root, corpus, q) -> None:
    exp = _sorted(bm25_reference_topk(corpus, q, k=10))
    got = _sorted(search_batch(spark, root, q, k=10).toPandas())
    assert got["conv_id"].tolist() == exp["conv_id"].tolist()
    np.testing.assert_allclose(got["score"].astype(float),
                               exp["score"].astype(float), rtol=1e-9)

    s = Searcher(spark, root)
    routes = set()
    for qid, text in zip(q["query_id"], q["query_text"]):
        e = exp[exp["query_id"] == qid].reset_index(drop=True)
        g = s.search(text, k=10)
        routes.add(s.last_path)
        assert g["conv_id"].tolist() == e["conv_id"].tolist(), text
        np.testing.assert_allclose(g["score"].astype(float),
                                   e["score"].astype(float), rtol=1e-9)
    assert "batch" not in routes, routes


def test_older_release_segments_answer_and_compact(spark, tmp_path):
    root = str(tmp_path / "root")
    parts = [make_transcripts(500, seed=s) for s in (91, 92, 93)]
    parts = [p.assign(conv_id=f"g{i}_" + p["conv_id"])
             for i, p in enumerate(parts)]
    for p in parts[:2]:
        update_index(spark, spark.createDataFrame(p), root, CFG)

    g0, g1 = generation_dirs(root)
    for f in _segment_files(segments_dir(g0)):
        _add_max_impact(f)
    chunks = sorted(glob.glob(os.path.join(segments_dir(g1), "chunk=*")))
    assert len(chunks) == 2
    for f in _segment_files(chunks[0]):
        _add_max_impact(f)
    f0 = _segment_files(segments_dir(g0))[0]
    assert "max_impact" in str(pq.read_schema(f0).field("blocks").type)

    update_index(spark, spark.createDataFrame(parts[2]), root, CFG)
    corpus = pd.concat(parts, ignore_index=True)
    q = make_queries()
    _check(spark, root, corpus, q)

    compact_generations(spark, root)
    (gen,) = generation_dirs(root)
    files = _segment_files(segments_dir(gen))
    assert files
    for f in files:
        assert "max_impact" not in str(pq.read_schema(f)), f
    _check(spark, root, corpus, q)
