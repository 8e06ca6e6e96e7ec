"""perfbench's trace wraps localio.LocalParquetIndex.read by name and
reads the reader's partition key: a cold Searcher query must show up as
`localio.read` spans for both the segment (term_bucket) and the
forward-table (doc_block) trees, or perfbench's localio.* layer
metrics silently read zero."""

import importlib.util
from pathlib import Path

from sparkbm25 import IndexConfig, Searcher, build_index
from sparkbm25.fixtures import make_transcripts

SPANS = Path(__file__).resolve().parents[1] / "perfbench" / "spans.py"


def _perfbench_spans():
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_cold_search_records_localio_read_spans(spark, tmp_path):
    spans = _perfbench_spans()
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(make_transcripts(300)), d,
                IndexConfig(), input_desc="hooks")
    rec = spans.Recorder()
    saved = spans.install(rec, on_build=lambda sp, res: None)
    try:
        hits = Searcher(spark, d).search("w0001 w0002", k=5)
    finally:
        spans.uninstall(saved)
    assert len(hits) == 5
    rows: dict[str, int] = {}
    for sp in rec.spans:
        if sp["name"] == "localio.read":
            key = sp["attrs"]["key"]
            rows[key] = rows.get(key, 0) + sp["attrs"]["rows"]
    assert set(rows) == {"term_bucket", "doc_block"}
    assert rows["term_bucket"] > 0 and rows["doc_block"] == 5
