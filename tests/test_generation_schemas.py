"""Roots whose generations differ in shape: generations whose inputs
carry different attribute columns (the missing column reads as NULL),
and a generation whose turns yield no tokens at all (it has no segment
file to infer a schema from). Appends, compaction, search_batch and
the Searcher must all keep working on such roots."""

import numpy as np
import pandas as pd

from sparkbm25 import IndexConfig, Searcher, bm25_reference_topk, search_batch
from sparkbm25.fixtures import make_transcripts
from sparkbm25.streaming import compact_generations, update_index


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    return df.sort_values(["query_id", "rank"]).reset_index(drop=True)


def _role_only(n: int, seed: int, prefix: str) -> pd.DataFrame:
    """Turns with only (conv_id, turn_idx, role, text): conv ids sort
    after make_transcripts' 'conv_*', so doc order stays the natural
    key order across the append."""
    rng = np.random.default_rng(seed)
    words = [f"w{i:04d}" for i in range(6)]
    return pd.DataFrame({
        "conv_id": [f"{prefix}{i:04d}" for i in range(n)],
        "turn_idx": np.zeros(n, dtype=np.int32),
        "role": [("user", "assistant")[i % 2] for i in range(n)],
        "text": [" ".join(rng.choice(words, size=4)) for _ in range(n)],
    })


def _expected(corpus: pd.DataFrame, role: str, term: str, k: int):
    """Reference top-k of `term` restricted to one role, BM25 stats
    still index-wide (ES filter semantics)."""
    exp = bm25_reference_topk(corpus, pd.DataFrame(
        {"query_id": [0], "query_text": [term], "k": [len(corpus)]}),
        k=len(corpus))
    keys = corpus.set_index(["conv_id", "turn_idx"])["role"]
    keep = [keys[(c, t)] == role for c, t in zip(exp["conv_id"], exp["turn_idx"])]
    exp = exp[keep].head(k).reset_index(drop=True)
    return exp.assign(rank=np.arange(1, len(exp) + 1, dtype=np.int32))


def test_generations_with_different_attribute_columns(spark, tmp_path):
    root = str(tmp_path / "root")
    t0 = make_transcripts(600, seed=71)
    t1 = _role_only(40, 72, "zz_")
    update_index(spark, spark.createDataFrame(t0), root, IndexConfig())
    update_index(spark, spark.createDataFrame(t1), root, IndexConfig())
    corpus = pd.concat([t0, t1], ignore_index=True)
    exp = _expected(corpus, "user", "w0003", 30)
    assert (exp["conv_id"].str.startswith("zz_")).any()

    q = pd.DataFrame({"query_id": [0, 1],
                      "query_text": ["role:user w0003",
                                     "role:assistant AND turn_idx:[0 TO 0]"],
                      "k": [30, 500]})

    def check(where: str) -> None:
        got = _sorted(search_batch(spark, root, q).toPandas())
        g0 = got[got["query_id"] == 0].reset_index(drop=True)
        assert g0["conv_id"].tolist() == exp["conv_id"].tolist(), where
        np.testing.assert_allclose(g0["score"], exp["score"], rtol=1e-9)
        # filter-only: every assistant turn 0, in doc order, score 1.0
        g1 = got[got["query_id"] == 1]
        want = corpus[(corpus["role"] == "assistant")
                      & (corpus["turn_idx"] == 0)]
        assert sorted(g1["conv_id"]) == sorted(want["conv_id"]), where
        assert (g1["score"] == 1.0).all()
        hits = Searcher(spark, root).search("w0003 AND role:user", k=30)
        assert hits["conv_id"].tolist() == exp["conv_id"].tolist(), where
        np.testing.assert_allclose(hits["score"].astype(float),
                                   exp["score"], rtol=1e-9)

    check("two generations")
    assert compact_generations(spark, root) is not None
    check("compacted")


def test_compaction_folds_a_zero_token_generation(spark, tmp_path):
    root = str(tmp_path / "root")
    cfg = IndexConfig()
    t0 = make_transcripts(500, seed=81)
    notok = t0.head(3).assign(conv_id=["zz_a", "zz_b", "zz_c"],
                              text=[None, "!!!", ""])
    t2 = make_transcripts(300, seed=82).assign(
        conv_id=lambda d: "zzz_" + d["conv_id"])
    parts = [t0, notok, t2]
    for part in parts:
        update_index(spark, spark.createDataFrame(part), root, cfg,
                     auto_compact_after=2)
    corpus = pd.concat(parts, ignore_index=True)
    q = pd.DataFrame({"query_id": [0, 1, 2],
                      "query_text": ["w0000", "w0002 w0040", "w0007 w0001"],
                      "k": [20, 20, 20]})
    exp = bm25_reference_topk(corpus, q, k=20)
    got = search_batch(spark, root, q, k=20).toPandas()
    g, e = _sorted(got), _sorted(exp)
    assert g["conv_id"].tolist() == e["conv_id"].tolist()
    assert g["turn_idx"].tolist() == e["turn_idx"].tolist()
    np.testing.assert_allclose(g["score"], e["score"], rtol=1e-9)
