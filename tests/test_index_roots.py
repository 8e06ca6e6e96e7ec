"""Index roots are local paths: build_index and update_index refuse a
root the catalog cannot commit to (a URI, or a bare path that Spark
would resolve against a non-local fs.defaultFS) before touching disk."""

import os
import re

import pytest

from sparkbm25 import build_index
from sparkbm25.fixtures import make_transcripts
from sparkbm25.streaming import update_index


def test_uri_and_remote_default_fs_roots_are_refused(spark, tmp_path,
                                                      monkeypatch):
    sdf = spark.createDataFrame(make_transcripts(20))
    # a URI taken for a relative path would create its tree in the CWD
    work = tmp_path / "cwd"
    work.mkdir()
    monkeypatch.chdir(work)
    for root in (f"file://{tmp_path}/uri_idx", "hdfs://localhost:8020/idx"):
        for fn in (build_index, update_index):
            with pytest.raises(ValueError, match=re.escape(root)):
                fn(spark, sdf, root)
    assert os.listdir(work) == []
    assert not os.path.exists(tmp_path / "uri_idx")

    bare = str(tmp_path / "bare_idx")
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    old = conf.get("fs.defaultFS")
    # a loopback namenode: the check reads only the conf, and even a
    # build that skipped it would contact no outside host
    conf.set("fs.defaultFS", "hdfs://localhost:8020")
    try:
        for fn in (build_index, update_index):
            with pytest.raises(ValueError, match=re.escape(bare)):
                fn(spark, sdf, bare)
    finally:
        conf.set("fs.defaultFS", old)
    assert not os.path.exists(bare)
    assert os.listdir(work) == []
