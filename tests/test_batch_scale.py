"""Large mixed-batch plan scaling (VERDICT r4 item 7): one
search_batch call carrying hundreds of queries across every query
shape (scored / boolean / phrase / sloppy phrase / prefix / filtered
/ filter-only) must stay sublinear in plan cost — the round-3
monolithic CASE array went superlinear in Catalyst's expression
optimizer at 100 queries. Under test: the plan grows with the number
of DISTINCT structured predicates (one bit each in the forward rows),
not with the number of queries. The full-size
evidence (1000 queries at 240k turns) lives in
BENCH/r5/mixed_batch.py; this test bounds the small-corpus shape so a
plan-cost regression fails CI rather than only the bench."""

import time

import numpy as np
import pandas as pd
import pytest

from sparkbm25 import IndexConfig, build_index, search_batch
from sparkbm25.fixtures import make_transcripts


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    t = make_transcripts(1500, seed=33)
    d = str(tmp_path_factory.mktemp("mixb") / "idx")
    build_index(spark, spark.createDataFrame(t), d,
                IndexConfig(store_positions=True, checkpoint_runs=False,
                            n_term_buckets=8, n_salt_buckets=2),
                input_desc="mixb1500")
    vocab = sorted({tok for txt in t["text"] for tok in txt.lower().split()})
    return t, d, vocab


def _mixed(n, vocab):
    rng = np.random.default_rng(7)
    roles = ["user", "assistant", "system", "tool"]

    def w():
        return vocab[int(rng.integers(0, len(vocab)))]

    texts = []
    for i in range(n):
        r = i % 10
        if r < 4:
            texts.append(f"{w()} {w()}")
        elif r < 5:
            texts.append(f"({w()} OR {w()}) AND NOT {w()}")
        elif r < 7:
            texts.append(f"role:{roles[i % 4]} {w()}")
        elif r < 8:
            texts.append(f"role:{roles[i % 4]} AND turn_idx:[0 TO {2 + i % 5}]")
        elif r < 9:
            texts.append(f'"{w()} {w()}"~2' if i % 2 else f'"{w()} {w()}"')
        else:
            texts.append(f"{w()[:4]}*")
    return pd.DataFrame({"query_id": range(n), "query_text": texts,
                         "k": [10] * n})


def test_mixed_batch_sublinear(spark, built):
    t, d, vocab = built
    # warm footers/JVM so the 60-query point isn't charged warmup
    search_batch(spark, d, _mixed(20, vocab), k=10).collect()
    t0 = time.time()
    r60 = search_batch(spark, d, _mixed(60, vocab), k=10).collect()
    dt60 = time.time() - t0
    t0 = time.time()
    r240 = search_batch(spark, d, _mixed(240, vocab), k=10).collect()
    dt240 = time.time() - t0
    assert len(r240) > len(r60) > 0
    # 4x the queries must cost clearly under 4x the wall (shared scan
    # + broadcast + chunked legs); generous 3.5x bound absorbs host
    # noise while still failing on superlinear plan compile
    assert dt240 < max(dt60, 2.0) * 3.5, (dt60, dt240)
    # absolute sanity bound: 240 mixed queries on a 1500-turn corpus
    # finish well under a minute even on a loaded host
    assert dt240 < 60, dt240
