"""Tests of the benchmark's own logic (no Spark):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import itertools
import os
import sys
from collections import Counter

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import querygen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

VOCAB = [f"w{i:04d}" for i in range(500)] + ["alpha", "7", "42"]


def test_generator_is_deterministic_per_seed():
    a = querygen.generate(11, VOCAB, 400)
    assert a == querygen.generate(11, VOCAB, 400)
    assert a != querygen.generate(12, VOCAB, 400)


@pytest.mark.parametrize("mix", [querygen.MIX, querygen.R5_MIX])
def test_generator_keeps_exact_mix_counts_and_no_phrases(mix):
    blocks = 100
    qs = querygen.generate(3, VOCAB, blocks * sum(mix.values()), mix=mix)
    counts = Counter(q.shape for q in qs)
    assert counts == {shape: blocks * c for shape, c in mix.items()}
    assert not any('"' in q.text for q in qs)
    for q in qs:
        if q.shape in ("prefix", "fuzzy"):
            assert len(q.terms[0]) >= 4


def test_mixes_cover_every_shape_and_reject_unknown_ones():
    assert set(querygen.MIX) | set(querygen.R5_MIX) == set(querygen.SHAPES)
    with pytest.raises(ValueError):
        querygen.generate(1, VOCAB, 10, mix={"phrase": 1})


def test_mixed_batch_shapes_parse_as_in_the_r5_generator():
    by_shape = {q.shape: q for q in querygen.generate(9, VOCAB, 36, mix=querygen.R5_MIX)}
    a, b, c = by_shape["bool_tree"].terms
    assert by_shape["bool_tree"].text == f"({a} OR {b}) AND NOT {c}"
    assert len(by_shape["or3"].terms) == 3 and by_shape["or3"].checkable
    assert by_shape["role_scored"].text.startswith("role:")
    assert by_shape["filter_only"].terms == ()
    assert " AND turn_idx:[0 TO " in by_shape["filter_only"].text


def test_generator_is_zipf_skewed():
    qs = querygen.generate(5, VOCAB, 3000, mix={"term": 1})
    top = sum(q.terms[0] == VOCAB[0] for q in qs) / len(qs)
    tail = sum(q.terms[0] == VOCAB[400] for q in qs) / len(qs)
    assert top > 0.1 and top > 50 * tail


def test_stratified_uniforms_cover_every_slice():
    import numpy as np

    u = list(itertools.islice(querygen._stratified(np.random.default_rng(0)),
                              2 * querygen.STRATUM))
    for run in (u[:querygen.STRATUM], u[querygen.STRATUM:]):
        slices = sorted(int(x * querygen.STRATUM) for x in run)
        assert slices == list(range(querygen.STRATUM))


def test_repeat_term_share():
    q = querygen.Query
    qs = [q("a", "term", ("a",)), q("b c", "or", ("b", "c")),
          q("c", "term", ("c",)), q("a AND d", "and", ("a", "d"))]
    assert querygen.repeat_term_share(qs) == 0.5
    assert querygen.repeat_term_share([]) == 0.0


def test_vocab_by_frequency_orders_by_count_then_term():
    assert querygen.vocab_by_frequency(["B a, b", "A c", None, ""]) == ["a", "b", "c"]


def test_union_length_merges_and_clips():
    assert spans.union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.union_length([(1, 3), (2, 5), (7, 8)], 2.5, 7.5) == 3
    assert spans.union_length([(4, 4), (6, 5)], 0, 10) == 0
    assert spans.union_length([], 0, 10) == 0


def _span(name, parent, start, end, jobs=()):
    return {"name": name, "parent": parent, "start": start, "end": end,
            "phase": "timed", "group": None, "attrs": {}, "jobs": list(jobs)}


def test_self_time_subtracts_children_and_own_jobs_once():
    s = [
        _span("search", None, 0.0, 10.0, jobs=[(6.0, 7.0), (6.5, 8.0)]),
        _span("parse", 0, 1.0, 3.0),
        _span("read", 0, 2.0, 5.0),          # overlaps parse: counted once
        _span("read", 2, 3.0, 4.0),          # grandchild: not the root's
    ]
    assert spans.self_times(s) == pytest.approx([10 - 4 - 2, 2, 2, 1])
    assert spans.own_job_times(s) == pytest.approx([2, 0, 0, 0])
    assert sorted(spans.descendants(s, 0)) == [0, 1, 2, 3]


def test_layer_table_splits_top_level_wall_time():
    rec = spans.Recorder()
    rec.spans = [
        _span("search", None, 0.0, 10.0, jobs=[(6.0, 8.0)]),
        _span("localio.read", 0, 1.0, 4.0),
        _span("search", None, 10.0, 12.0),
    ]
    lines = spans.layer_table(rec)
    top = [ln for ln in lines if ln.startswith("search 12000.0 ms")]
    assert top, lines
    assert "search self 58.3%" in top[0]     # (5 + 2) of 12 s
    assert "localio.read self 25.0%" in top[0]
    assert "Spark jobs 16.7%" in top[0]
    assert "(sum 100.0%)" in top[0]


def test_recorder_nests_spans_and_counts_overhead():
    rec = spans.Recorder()
    with rec.span("outer"):
        wrapped = rec.wrap(lambda x: x + 1, "inner")
        assert wrapped(1) == 2
    outer, inner = rec.spans
    assert inner["parent"] == 0 and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert rec.overhead_s > 0


def test_socket_dir_fits_af_unix_under_a_deep_checkout(tmp_path, monkeypatch):
    deep = tmp_path / ("d" * 120)
    deep.mkdir()
    monkeypatch.chdir(deep)
    path = run.socket_dir(str(deep / ".perfbench_run" / "build_batch-1-0-4242"))
    assert path == os.path.join(".perfbench_run", "build_batch-1-0-4242", "sock")
    assert len(path) + 43 <= 107


def test_peak_rss_counts_from_the_reset():
    if not workloads.reset_peak_rss():
        pytest.skip("/proc/self/clear_refs is not writable here")
    buf = bytearray(b"x") * (64 << 20)
    with_buf = workloads.peak_rss_mb()
    del buf
    assert workloads.reset_peak_rss()
    assert workloads.peak_rss_mb() < with_buf - 48


def _hits(rows):
    import pandas as pd

    return pd.DataFrame([{"rank": r, "conv_id": c, "turn_idx": t, "score": s}
                         for r, (c, t, s) in enumerate(rows, 1)])


def test_mismatch_names_the_first_differing_rank_and_a_reference_tie():
    ref = _hits([("c1", 0, 3.0), ("c2", 4, 2.0), ("c3", 1, 2.0)])
    assert workloads.mismatch(ref, ref) is None
    near = _hits([("c1", 0, 3.0 * (1 + 1e-12)), ("c2", 4, 2.0), ("c3", 1, 2.0)])
    assert workloads.mismatch(near, ref) is None
    # one ulp apart where the reference ties: the order flips, a failure
    flipped = _hits([("c1", 0, 3.0), ("c3", 1, 2.0), ("c2", 4, 2.0 - 4e-16)])
    why = workloads.mismatch(flipped, ref)
    assert why == ("rank 2: got c3#1 2.0, reference c2#4 2.0 (got at rank 3 with "
                   "1.9999999999999996) (a score tie in the reference)")
    off = _hits([("c1", 0, 3.1), ("c2", 4, 2.0), ("c3", 1, 2.0)])
    assert workloads.mismatch(off, ref) == "rank 1: score 3.1, reference 3.0"
    short = _hits([("c1", 0, 3.0), ("c2", 4, 2.0)])
    assert workloads.mismatch(short, ref) == (
        "rank 3: got none, reference c3#1 2.0 (a score tie in the reference)")
