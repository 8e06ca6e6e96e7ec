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


def _expected(corpus: pd.DataFrame, field: str, value: str, term: str,
              k: int):
    """Reference top-k of `term` restricted to docs whose `field` is
    `value`, BM25 stats still index-wide (ES filter semantics)."""
    exp = bm25_reference_topk(corpus, pd.DataFrame(
        {"query_id": [0], "query_text": [term], "k": [len(corpus)]}),
        k=len(corpus))
    keys = corpus.set_index(["conv_id", "turn_idx"])[field]
    keep = [keys[(c, t)] == value
            for c, t in zip(exp["conv_id"], exp["turn_idx"])]
    exp = exp[keep].head(k).reset_index(drop=True)
    return exp.assign(rank=np.arange(1, len(exp) + 1, dtype=np.int32))


# (generations in append order, filter field, value, conv-id prefix of
# the generation whose docs must be among the hits)
ATTRIBUTE_CASES = [
    # generation 1 has only `role`: its missing tool/ts read NULL
    ([make_transcripts(600, seed=71), _role_only(40, 72, "zz_")],
     "role", "user", "zz_"),
    # only generation 1 has `tool`: the filter must still reach it
    ([_role_only(40, 73, "a_"), make_transcripts(600, seed=71)],
     "tool", "search", "conv_"),
]


def test_generations_with_different_attribute_columns(spark, tmp_path):
    for i, (parts, field, value, hit_prefix) in enumerate(ATTRIBUTE_CASES):
        _check_attribute_case(spark, str(tmp_path / f"root{i}"), parts,
                              field, value, hit_prefix)


def _check_attribute_case(spark, root, parts, field, value, hit_prefix):
    for part in parts:
        update_index(spark, spark.createDataFrame(part), root, IndexConfig())
    corpus = pd.concat(parts, ignore_index=True)
    exp = _expected(corpus, field, value, "w0003", 30)
    assert (exp["conv_id"].str.startswith(hit_prefix)).any()

    q = pd.DataFrame({"query_id": [0, 1],
                      "query_text": [f"{field}:{value} w0003",
                                     "role:assistant AND turn_idx:[0 TO 0]"],
                      "k": [30, 500]})

    def check(where: str) -> None:
        where = f"{field}:{value}, {where}"
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
        s = Searcher(spark, root)
        hits = s.search(f"w0003 AND {field}:{value}", k=30)
        assert s.last_path == "kernel", where
        assert hits["conv_id"].tolist() == exp["conv_id"].tolist(), where
        assert hits["turn_idx"].tolist() == exp["turn_idx"].tolist(), where
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


def test_generations_with_different_timestamp_types(spark, tmp_path):
    """A generation appended from a pyarrow-written parquet input has a
    TIMESTAMP_NTZ `ts` (int64 micros), one appended from a pandas frame
    a session-zone timestamp (written as INT96, read back as nanos):
    driver reads over both answer like search_batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "root")
    t0 = make_transcripts(300, seed=74)
    t1 = make_transcripts(300, seed=75).assign(
        conv_id=lambda d: "zz_" + d["conv_id"])
    src = str(tmp_path / "t0.parquet")
    pq.write_table(pa.Table.from_pandas(t0, preserve_index=False), src)
    update_index(spark, spark.read.parquet(src), root, IndexConfig())
    update_index(spark, spark.createDataFrame(t1), root, IndexConfig())
    lo, hi = t0["ts"].iloc[100], t1["ts"].iloc[200]
    for qt in ("w0001 w0002", f"ts:[{lo:%Y-%m-%dT%H:%M:%S} TO "
               f"{hi:%Y-%m-%dT%H:%M:%S}] w0001"):
        q = pd.DataFrame({"query_id": [0], "query_text": [qt], "k": [50]})
        exp = _sorted(search_batch(spark, root, q).toPandas())
        s = Searcher(spark, root)
        hits = s.search(qt, k=50)
        assert s.last_path != "batch", qt
        assert exp["conv_id"].str.startswith("zz_").any(), qt
        assert not exp["conv_id"].str.startswith("zz_").all(), qt
        assert hits["conv_id"].tolist() == exp["conv_id"].tolist(), qt
        assert hits["turn_idx"].tolist() == exp["turn_idx"].tolist(), qt
        np.testing.assert_allclose(hits["score"].astype(float),
                                   exp["score"], rtol=1e-9)


def test_filter_mask_matches_catalyst_across_generations(spark, tmp_path):
    """filter_mask over the reader's read of every forward row keeps
    exactly the rows Catalyst's filter_condition keeps over
    catalog.read_docs, on a root whose generations differ: a role-only
    generation (its tool and ts read NULL) between a TIMESTAMP_NTZ
    generation (pyarrow-written input) and a session-zone one (pandas
    input, INT96)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkbm25 import catalog, localio
    from sparkbm25.querystring import (compile_filter, filter_columns,
                                       filter_condition, filter_mask)
    from sparkbm25.search import _load_stats

    root = str(tmp_path / "root")
    t0 = make_transcripts(200, seed=76)
    t2 = make_transcripts(200, seed=78).assign(
        conv_id=lambda d: "zz_" + d["conv_id"])
    src = str(tmp_path / "t0.parquet")
    pq.write_table(pa.Table.from_pandas(t0, preserve_index=False), src)
    update_index(spark, spark.read.parquet(src), root, IndexConfig())
    update_index(spark, spark.createDataFrame(_role_only(40, 77, "zy_")),
                 root, IndexConfig())
    update_index(spark, spark.createDataFrame(t2), root, IndexConfig())
    lo = f"{t0['ts'].iloc[50]:%Y-%m-%dT%H:%M:%S}"
    hi = f"{t2['ts'].iloc[150]:%Y-%m-%dT%H:%M:%S}"
    cases = [
        ([("tool", "search")], []),
        ([], [("tool", "search")]),
        ([("tool", "*")], []),
        ([], [("tool", "*")]),
        ([("ts", f"[{lo} TO {hi}]")], []),
        ([("ts", f">={lo}")], [("role", "user")]),
        ([], [("ts", f"<{hi}")]),
        ([(("tool", "gre*"), ("role", "/us.r/"))], []),
        ([("_exists_", "ts"), ("role", "u?er")], []),
    ]
    n_docs, _, cfg, gens = _load_stats(root)
    reader = localio.IndexReader([g["dir"] for g in gens], cfg)
    docs = catalog.read_docs(spark, root)
    for filters, neg in cases:
        want = sorted(r.doc_ord for r in docs.where(
            filter_condition(filters, neg)).select("doc_ord").collect())
        tb = reader.docs(None, ["doc_ord",
                                *sorted(filter_columns(filters, neg))])
        assert tb.num_rows == n_docs
        keep = filter_mask(compile_filter(filters, neg), tb)
        got = sorted(tb.column("doc_ord").to_numpy()[keep].tolist())
        assert got == want, (filters, neg)
        assert 0 < len(want) < n_docs, (filters, neg)
