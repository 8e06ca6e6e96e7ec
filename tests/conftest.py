import hashlib
import json
import os
import shutil
import struct
import tempfile

import pytest
from pyspark.sql import SparkSession

GOLDEN_SEGMENTS = os.path.join(os.path.dirname(__file__),
                               "golden_segments.json")


def segment_digest(index_dir: str) -> tuple[str, int]:
    """(sha256, row count) over a single-root index's segment content:
    rows in (term, salt) order, each with its n_docs, term_bucket and
    every block field except a max_impact left by an older release
    (the codec no longer writes it). The chunk directory an index was
    committed in is not content, so chunked and one-chunk builds of
    the same corpus hash equal."""
    import pyarrow.dataset as ds

    tbl = (ds.dataset(os.path.join(index_dir, "segments"),
                      format="parquet", partitioning="hive")
           .to_table(columns=["term", "salt", "n_docs", "term_bucket",
                              "blocks"])
           .sort_by([("term", "ascending"), ("salt", "ascending")]))
    h = hashlib.sha256()
    for r in tbl.to_pylist():
        h.update(repr((r["term"], r["salt"], r["n_docs"],
                       r["term_bucket"])).encode())
        for blk in r["blocks"]:
            h.update(struct.pack("<qi", blk["first_doc"], blk["n"]))
            for f in ("gaps", "tfs", "dls", "pos"):
                if f in blk:
                    h.update(struct.pack("<q", len(blk[f])) + blk[f])
    return h.hexdigest(), tbl.num_rows


@pytest.fixture(scope="session")
def golden_segments():
    """check(index_dir, key): the index's segments must hash to the
    frozen digest stored under key in golden_segments.json."""
    with open(GOLDEN_SEGMENTS) as f:
        golden = json.load(f)

    def check(index_dir: str, key: str) -> None:
        digest, rows = segment_digest(index_dir)
        exp = golden[key]
        assert rows == exp["rows"], (key, rows, exp["rows"])
        assert digest == exp["sha256"], key

    return check


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("sparkbm25-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        # UDS worker IPC — same robustness rationale as bench.py/cli.py
        .config("spark.python.unix.domain.socket.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture()
def tmp_index(tmp_path):
    d = str(tmp_path / "index")
    yield d
    shutil.rmtree(d, ignore_errors=True)
