"""sparkbm25 repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds nothing: it imports the package
from the checkout it sits in and drives it through a local Spark
session with at most nproc (and at most 4) threads. Workloads (see
workloads.py for sizes):

    build_batch       build a seeded corpus with IndexConfig(), then
                      search_batch over three seeded query sets
    interactive_zipf  one closed-loop client over one long-lived Searcher
                      (Zipf-skewed query_string mix)
    append_refresh    update_index beside queries: append, refresh, cold
                      query burst, with auto-compaction

--trace 0 measures the end-to-end metrics; --trace 1 records spans
around the package's layer calls and prints the per-layer metrics and
the layer table instead. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. Run files go under
.perfbench_run/ in the checkout.
"""

from __future__ import annotations

import time

T_PROC0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the run must end within 180 s
MAX_THREADS = 4

# name -> (unit, better); the same list BENCHMARK.json declares
END_TO_END = {
    "setup_s": ("s", "lower"),
    "write_p50_s": ("s", "lower"),
    "read_p50_ms": ("ms", "lower"),
    "index_bytes_per_input_byte": ("B/B", "lower"),
    "driver_peak_rss_mb": ("MB", "lower"),
}


def fail(msg: str, code: int = 2) -> None:
    """Exit without a result line, killing a JVM this process started."""
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    pyspark = sys.modules.get("pyspark")
    gateway = getattr(getattr(pyspark, "SparkContext", None), "_gateway", None)
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait(timeout=10)
    os._exit(code)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["build_batch", "interactive_zipf", "append_refresh"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def threads() -> int:
    return max(1, min(MAX_THREADS, len(os.sched_getaffinity(0))))


def socket_dir(work: str) -> str:
    """The socket directory under `work`, as the shorter of its absolute
    path and its path relative to the working directory (the JVM and
    every Python worker share it). A socket file adds 42 characters to
    it, and AF_UNIX paths end at 107, so a deep checkout would not fit
    with the absolute path."""
    d = os.path.join(work, "sock")
    rel = os.path.relpath(d)
    path = rel if len(rel) < len(d) else d
    if len(path) + 43 > 107:
        fail(f"socket directory path too long for AF_UNIX: {path}")
    return path


def start_spark(work: str):
    """Local session whose JVM and Python workers see the checkout's
    package and keep every scratch file under `work`. Python worker IPC
    runs over Unix domain sockets, as the package's CLI sets it up."""
    for d in ("tmp", "spark-local", "warehouse", "sock"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    from pyspark.sql import SparkSession

    n = threads()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Dderby.system.home={work}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", socket_dir(work))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(res) -> dict[str, float]:
    return {
        "setup_s": res.setup_s,
        "write_p50_s": statistics.median(res.write_s),
        "read_p50_ms": statistics.median(res.read_s) * 1e3,
        "index_bytes_per_input_byte": res.index_bytes / res.input_bytes,
        "driver_peak_rss_mb": res.peak_rss_mb,
    }


def tail_percentile(xs: list[float]) -> tuple[float, float]:
    """(q, value): the highest percentile up to p99 with at least ten
    samples beyond it (q = 0 when there are too few samples)."""
    n = len(xs)
    q = min(0.99, 1.0 - 10.0 / n) if n > 10 else 0.0
    if q <= 0:
        return 0.0, float("nan")
    s = sorted(xs)
    return q, s[min(n - 1, int(q * n))]


def named_figures(workload: str, res) -> list[str]:
    """The workload's own named figures, printed for people (the JSON
    line carries the uniform end-to-end set)."""
    import querygen

    lines = []
    info = dict(res.info)
    lat = [dt * 1e3 for _, _, dt in res.routes]
    if workload == "interactive_zipf":
        q, tail = tail_percentile(lat)
        info.update({
            "query_p50_ms": statistics.median(lat),
            "query_p99_ms": tail,
            "query_p99_ms.percentile": q,
            "query_samples": len(lat),
            "queries_per_s": len(lat) / sum(res.read_s),
        })
    if res.routes:
        c = Counter(r for r, _, _ in res.routes)
        info["route_shares"] = {r: v / len(res.routes) for r, v in sorted(c.items())}
    info["repeat_term_share"] = querygen.repeat_term_share(res.queries)
    info["failed_ops_frac"] = res.failed / max(res.attempted, 1)
    for k, v in info.items():
        lines.append(f"{k}: {v}")
    for f in res.failures:
        lines.append(f"FAILED {f}")
    return lines


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        fail("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "sparkbm25", "__init__.py")):
        fail(f"no sparkbm25 package next to {HERE}; run from a repository checkout")
    signal.signal(signal.SIGALRM, lambda *_: fail(f"no result within {DEADLINE_S} s", 3))
    signal.alarm(DEADLINE_S)
    sys.path[:0] = [HERE, ROOT]

    run_dir = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(run_dir, f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = start_spark(work)

    import spans
    import workloads

    rec = spans.Recorder(spark.sparkContext) if args.trace else spans.NullRecorder()
    ctx = workloads.Ctx(spark, work, args.seed, args.seconds, rec, T_PROC0)
    saved = spans.install(rec, workloads.record_manifest) if args.trace else []
    try:
        workloads.WORKLOADS[args.workload](ctx)
    finally:
        spans.uninstall(saved)
    res = ctx.res
    if not res.write_s or not res.read_s:
        for f in res.failures:
            print(f"FAILED {f}", file=sys.stderr)
        stop_spark(spark)
        fail("nothing was measured: every timed write or read failed", 1)

    lines = [f"workload: {args.workload} seed: {args.seed} threads: {threads()} "
             f"timed_s: {res.timed_s:.3f}"]
    if args.trace:
        import layers

        rec.resolve_spark()
        metrics = {k: {"value": v, "unit": layers.PER_LAYER[k][0]}
                   for k, v in layers.compute(ctx).items()}
        lines += spans.layer_table(rec)
        rec.dump(os.path.join(run_dir, f"spans-{args.workload}-{args.seed}.json"))
    stop_spark(spark)
    if not args.trace:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]}
                   for k, v in end_to_end(res).items()}
    lines += named_figures(args.workload, res)
    shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)

    for line in lines:
        print(line)
    for k, v in metrics.items():
        print(f"{k}: {v['value']} {v['unit']}")
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
