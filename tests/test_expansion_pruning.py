"""Banded multi-term expansion on the driver: each leaf reads the
term-SORTED dictionary through the index reader, filtered by its
matcher's band (term range + length range), so parquet row-group
min/max statistics can prune the read once the dictionary spans
several row groups — the columnar analog of Lucene's FST prefix walk. Plus parity: the banded read returns exactly the
brute-force expansion on single-generation, two-generation and
dictionary-less roots, and the expansion runs no Spark job."""

import fnmatch
import os
import re
import shutil

import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest

from sparkbm25 import IndexConfig, build_index, localio, search_batch
from sparkbm25.fixtures import make_transcripts
from sparkbm25.lucenere import to_portable
from sparkbm25.search import (Searcher, _band_filter, _expand_multiterm,
                              _levenshtein, _load_stats, _multiterm_matcher,
                              _prefix_upper)
from sparkbm25.streaming import update_index

CFG = IndexConfig(checkpoint_runs=False)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    t = make_transcripts(800, seed=21)
    d = str(tmp_path_factory.mktemp("expband") / "idx")
    build_index(spark, spark.createDataFrame(t), d, CFG, input_desc="exp800")
    vocab = set()
    for txt in t["text"]:
        vocab.update(re.findall("[a-z0-9]+", txt.lower()))
    return d, sorted(vocab)


@pytest.fixture(scope="module")
def roots(spark, built, tmp_path_factory):
    """The same corpus as three roots: one generation, two generations
    (disjoint conv halves appended by update_index), and one built
    without a terms dictionary (expansion falls back to segment rows)."""
    single, _ = built
    t = make_transcripts(800, seed=21)
    base = tmp_path_factory.mktemp("exproots")
    two = str(base / "two")
    half = sorted(t["conv_id"].unique())[t["conv_id"].nunique() // 2]
    for part in (t[t["conv_id"] < half], t[t["conv_id"] >= half]):
        update_index(spark, spark.createDataFrame(part.reset_index(drop=True)),
                     two, CFG)
    nodict = str(base / "nodict")
    build_index(spark, spark.createDataFrame(t), nodict,
                IndexConfig(checkpoint_runs=False, build_terms_dict=False),
                input_desc="exp800-nodict")
    return {"single": single, "two": two, "nodict": nodict}


def reader_of(root: str) -> localio.IndexReader:
    _, _, cfg, gens = _load_stats(root)
    return localio.IndexReader([g["dir"] for g in gens], cfg)


LEAVES = [
    ("prefix", "alp"), ("prefix", "w00"),
    ("fuzzy", ("alpah", 2)), ("fuzzy", ("w0001", 1)), ("fuzzy", ("w0012", 0)),
    ("wildcard", "*a"), ("wildcard", "w00?1"), ("wildcard", "al*a"),
    ("wildcard", "*00?"), ("wildcard", "4*"),
    ("regexp", "w000[1-5]"), ("regexp", "alp.*|w001."),
    ("regexp", "(w00|al)[a-z0-9]1"), ("regexp", 'w0"01"[0-9]'),
]


def brute_force(kind, payload, vocab):
    if kind == "prefix":
        return sorted(v for v in vocab if v.startswith(payload))
    if kind == "fuzzy":
        q, d = payload
        return sorted(v for v in vocab if _levenshtein(v, q) <= d)
    if kind == "wildcard":
        return sorted(v for v in vocab if fnmatch.fnmatchcase(v, payload))
    return sorted(v for v in vocab if re.fullmatch(to_portable(payload), v))


def test_prefix_upper():
    assert _prefix_upper("alp") == "alq"
    assert _prefix_upper("az") == "a{"          # codepoint, not alphabet
    assert _prefix_upper("a" + chr(0x10FFFF)) == "b"
    assert _prefix_upper(chr(0x10FFFF)) is None


def test_expansion_parity_banded(built, roots):
    _, vocab = built
    for root, d in roots.items():
        exp = _expand_multiterm(reader_of(d), LEAVES)
        assert set(exp) == set(LEAVES)
        for kind, payload in LEAVES:
            assert exp[(kind, payload)] == brute_force(kind, payload,
                                                       vocab), (
                root, kind, payload)
        # no case is vacuous, and the top-level alternation keeps both
        # branches (no literal head bands it)
        assert all(exp.values())
        alt = exp[("regexp", "alp.*|w001.")]
        assert any(t.startswith("alp") for t in alt)
        assert any(t.startswith("w001") for t in alt)


def test_band_filter_prunes_row_groups(built, tmp_path):
    """Over a dictionary written with several row groups, a prefix
    band's filter selects fewer row groups than the dictionary has
    (min/max statistics on the term-sorted column), a fuzzy band reads
    only terms within d of the query length, and the pruned read still
    expands to the brute-force answer."""
    d, vocab = built
    copy = str(tmp_path / "idx")
    shutil.copytree(d, copy)
    tdir = os.path.join(copy, "terms")
    tb = pads.dataset(tdir, format="parquet").to_table().sort_by("term")
    shutil.rmtree(tdir)
    os.makedirs(tdir)
    pq.write_table(tb, os.path.join(tdir, "part-0.parquet"),
                   row_group_size=64)
    ds = pads.dataset(tdir, format="parquet")
    total = sum(f.num_row_groups for f in ds.get_fragments())
    assert total > 10

    def selected(filt):
        return sum(len(f.split_by_row_group(filt))
                   for f in ds.get_fragments(filter=filt))

    band, _ = _multiterm_matcher("prefix", "alp")
    assert 0 < selected(_band_filter(band)) < total
    band, _ = _multiterm_matcher("fuzzy", ("w0012", 0))
    assert selected(_band_filter(band)) == 1
    band, _ = _multiterm_matcher("fuzzy", ("w01", 1))
    lens = {len(t) for t in ds.to_table(columns=["term"],
                                         filter=_band_filter(band))
            .column("term").to_pylist()}
    assert lens and all(2 <= n <= 4 for n in lens)

    exp = _expand_multiterm(reader_of(copy), LEAVES)
    for kind, payload in LEAVES:
        assert exp[(kind, payload)] == brute_force(kind, payload, vocab)


def test_terms_dict_sorted_without_length(spark, built):
    """build.py stage 3 writes the dictionary term-sorted — the
    physical precondition for range pruning — and no length column
    (the expansion band derives lengths from the term itself)."""
    from sparkbm25 import catalog

    d, _ = built
    tdir = catalog.terms_dir(d)
    assert spark.read.parquet(tdir).columns == ["term", "df", "term_bucket"]
    # sorted within each parquet file (row-group stats monotone)
    import glob

    for f in glob.glob(os.path.join(tdir, "*.parquet")):
        col = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert col == sorted(col), f


def _group_jobs(sc, group, fn):
    """Run fn() in a fresh Spark job group; returns (result, the stage
    names of every job the group ran)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    names = [tracker.getStageInfo(s).name
             for j in tracker.getJobIdsForGroup(group)
             for s in tracker.getJobInfo(j).stageIds]
    return out, names


def test_expansion_runs_no_spark_job(spark, built):
    """A cold Searcher expands multi-term leaves with zero Spark jobs,
    and a search_batch with prefix, fuzzy, wildcard and regexp leaves
    runs only its range job before the caller collects: every stage
    comes from that one toPandas action (adaptive execution submits the
    range job's shuffle stage as a job of its own)."""
    d, _ = built
    sc = spark.sparkContext

    def cold():
        s = Searcher(spark, d)
        return s.search("alph* OR w0001", k=5), s.last_path

    (hits, path), names = _group_jobs(sc, "exp-cold-searcher", cold)
    assert path == "maxscore" and len(hits) > 0
    assert names == []

    q = pd.DataFrame({"query_id": [0, 1, 2, 3],
                      "query_text": ["alph*", "alpha~1", "al*a OR w0001",
                                     "/w000[1-5]/"],
                      "k": [5] * 4})
    df, names = _group_jobs(sc, "exp-batch",
                            lambda: search_batch(spark, d, q, k=5))
    assert names and len(set(names)) == 1, names
    assert names[0].startswith("toPandas at ") and "search.py" in names[0]
    assert df.count() > 0


def test_kernel_routed_queries_run_no_spark_job(spark, built):
    """Filter-only, pure-negative-under-filter and nested queries run
    the kernel route on a COLD Searcher with zero Spark jobs: postings,
    the predicate's forward columns and the resolve are all reads
    through the index reader."""
    d, _ = built
    sc = spark.sparkContext
    for i, text in enumerate(["role:user AND turn_idx:[0 TO 3]",
                              "NOT w0005 AND role:user",
                              "(w0005 AND (w0012 OR NOT w0040)) OR w0100"]):
        s = Searcher(spark, d)
        group = f"kernel-cold-{i}"
        hits, names = _group_jobs(sc, group, lambda: s.search(text, k=5))
        assert s.last_path == "kernel" and len(hits) > 0, text
        assert names == [], (text, names)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], text


def test_batch_routed_search_skips_the_dataframe_round_trip(spark, built):
    """A Searcher.search over its max_driver_postings bound goes down
    the batch path and runs no more Spark jobs than search_batch runs
    before its caller collects: the Searcher takes the driver's pandas
    answer, not a DataFrame built from it and collected again."""
    d, _ = built
    sc = spark.sparkContext
    text = "role:user w0001"
    q = pd.DataFrame({"query_id": [0], "query_text": [text], "k": [5]})
    df, _ = _group_jobs(sc, "via-batch-ref",
                        lambda: search_batch(spark, d, q, k=5))
    s = Searcher(spark, d, max_driver_postings=1)
    hits, _ = _group_jobs(sc, "via-batch-searcher",
                          lambda: s.search(text, k=5))
    assert s.last_path == "batch"
    tracker = sc.statusTracker()
    assert (len(tracker.getJobIdsForGroup("via-batch-searcher"))
            <= len(tracker.getJobIdsForGroup("via-batch-ref")))
    exp = df.toPandas()
    assert len(hits) == 5
    assert hits["conv_id"].tolist() == exp["conv_id"].tolist()
    assert hits["turn_idx"].tolist() == exp["turn_idx"].tolist()
    assert hits["score"].tolist() == exp["score"].tolist()
