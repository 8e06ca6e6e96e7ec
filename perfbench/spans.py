"""Span recorder and layer table for traced benchmark runs.

Spans are recorded from the benchmark's own code, around calls into the
package's public layers (build_index, update_index, compact_generations,
search_batch, Searcher.search / refresh, querystring.parse_query_string,
localio.LocalParquetIndex.read). Each span has a name, start, end and
parent; spans that can run Spark jobs also get their own Spark job group,
so the jobs, tasks, shuffle bytes and executor time they caused are
attributed to them. Spans stay in memory and are written out at exit.

Work done inside Python workers is visible only at stage level (the
Spark metrics); spans inside the package itself are out of scope.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children_of(spans: list[dict]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for i, sp in enumerate(spans):
        if sp["parent"] is not None:
            kids[sp["parent"]].append(i)
    return kids


def self_times(spans: list[dict]) -> list[float]:
    """Per span: duration minus the part of it covered by child spans or
    by Spark jobs of the span's own job group (the JVM's share)."""
    kids = children_of(spans)
    out = []
    for i, sp in enumerate(spans):
        covered = [(spans[c]["start"], spans[c]["end"]) for c in kids[i]]
        covered += [tuple(j) for j in sp.get("jobs", ())]
        out.append(sp["end"] - sp["start"]
                   - union_length(covered, sp["start"], sp["end"]))
    return out


def own_job_times(spans: list[dict]) -> list[float]:
    """Per span: wall time its own Spark jobs cover, outside children."""
    kids = children_of(spans)
    out = []
    for i, sp in enumerate(spans):
        jobs = [tuple(j) for j in sp.get("jobs", ())]
        child = [(spans[c]["start"], spans[c]["end"]) for c in kids[i]]
        out.append(union_length(jobs + child, sp["start"], sp["end"])
                   - union_length(child, sp["start"], sp["end"]))
    return out


def descendants(spans: list[dict], i: int, kids=None) -> list[int]:
    """Span i and every span below it (`kids` from children_of, if the
    caller already has it)."""
    kids = children_of(spans) if kids is None else kids
    out, todo = [], [i]
    while todo:
        j = todo.pop()
        out.append(j)
        todo.extend(kids[j])
    return out


class NullRecorder:
    """Tracing off: spans cost one no-op context manager."""

    phase = "setup"

    def span(self, name: str, spark: bool = False, **attrs):
        return contextlib.nullcontext({"attrs": attrs})


class Recorder:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.phase = "setup"
        self.overhead_s = 0.0
        self._t0 = time.perf_counter()
        # Spark reports epoch milliseconds; map them onto this clock
        self._epoch_offset = time.time() - time.perf_counter()

    def now(self) -> float:
        return time.perf_counter() - self._t0

    def _group_of(self, idx: int | None) -> str | None:
        while idx is not None:
            g = self.spans[idx]["group"]
            if g is not None:
                return g
            idx = self.spans[idx]["parent"]
        return None

    def _set_group(self, gid: str | None) -> None:
        if gid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(gid, gid)

    @contextlib.contextmanager
    def span(self, name: str, spark: bool = False, **attrs):
        t_in = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = {"name": name, "parent": parent, "phase": self.phase,
              "group": None, "attrs": attrs}
        self.spans.append(sp)
        self._stack.append(idx)
        if spark and self.sc is not None:
            sp["group"] = f"perfbench-{idx}"
            self._set_group(sp["group"])
        sp["start"] = self.now()
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield sp
        finally:
            sp["end"] = self.now()
            t_out = time.perf_counter()
            self._stack.pop()
            if sp["group"] is not None:
                self._set_group(self._group_of(parent))
            self.overhead_s += time.perf_counter() - t_out

    def wrap(self, fn, name: str, spark: bool = False, after=None):
        """fn wrapped in a span; after(span, result, args) may add
        attributes (its cost counts as tracing overhead)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, spark=spark) as sp:
                out = fn(*args, **kwargs)
            if after is not None:
                t = time.perf_counter()
                after(sp, out, args)
                self.overhead_s += time.perf_counter() - t
            return out

        return traced

    def resolve_spark(self) -> None:
        """Attach each job group's jobs, tasks, shuffle and executor
        figures to its span. Runs after timing: it waits for the
        listener bus so the status store has every finished stage."""
        if self.sc is None:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            if sp["group"] is None:
                continue
            jobs, stats = [], defaultdict(int)
            for jid in tracker.getJobIdsForGroup(sp["group"]):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    jobs.append((sub.get().getTime() / 1e3 - self._epoch_offset - self._t0,
                                 done.get().getTime() / 1e3 - self._epoch_offset - self._t0))
                stats["spark_jobs"] += 1
                sids = jd.stageIds()
                for k in range(sids.size()):
                    st = store.lastStageAttempt(sids.apply(k))
                    if st.status().toString() == "SKIPPED":
                        continue
                    stats["tasks"] += st.numTasks()
                    stats["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    stats["shuffle_records"] += st.shuffleWriteRecords()
                    stats["executor_run_ms"] += st.executorRunTime()
            sp["jobs"] = jobs
            sp["spark"] = dict(stats)

    def inclusive_spark(self, i: int, kids=None) -> dict:
        """Spark figures of span i and every span below it."""
        out = defaultdict(int)
        jobs = []
        for j in descendants(self.spans, i, kids):
            for k, v in self.spans[j].get("spark", {}).items():
                out[k] += v
            jobs.extend(self.spans[j].get("jobs", ()))
        out["job_intervals"] = jobs
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"overhead_s": self.overhead_s, "spans": self.spans}, f)


def install(rec: Recorder, on_build) -> list:
    """Wrap the package's layer entry points in spans; on_build(span,
    BuildResult) runs after each build. Returns the (owner, attribute,
    original) list that `uninstall` restores."""
    import sparkbm25
    import sparkbm25.localio as localio
    import sparkbm25.querystring as querystring
    import sparkbm25.streaming as streaming

    def after_read(sp, table, args):
        sp["attrs"]["key"] = args[0].key
        sp["attrs"]["rows"] = 0 if table is None else table.num_rows
        sp["attrs"]["bytes"] = 0 if table is None else table.nbytes

    def after_build(sp, res, args):
        on_build(sp, res)

    patches = [
        (sparkbm25, "build_index", "build_index", True, after_build),
        (streaming, "build_index", "build_index", True, after_build),
        (streaming, "update_index", "update_index", True, None),
        (streaming, "compact_generations", "compact_generations", True, None),
        (querystring, "parse_query_string", "parse_query_string", False, None),
        (localio.LocalParquetIndex, "read", "localio.read", False, after_read),
    ]
    saved = []
    for owner, attr, name, spark, after in patches:
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, rec.wrap(orig, name, spark=spark, after=after))
    return saved


def uninstall(saved: list) -> None:
    for owner, attr, orig in reversed(saved):
        setattr(owner, attr, orig)


def layer_table(rec: Recorder, phase: str = "timed") -> list[str]:
    """Per span name: calls, total, self and own-Spark-job time. Then,
    per top-level span name, its wall time split into the self times of
    the layers along its blocking path plus the Spark jobs they ran;
    the top-level span's own self time is driver work no deeper span
    covers."""
    spans = rec.spans
    kids = children_of(spans)
    selfs = self_times(spans)
    jobt = own_job_times(spans)
    rows = defaultdict(lambda: [0, 0.0, 0.0, 0.0])
    tops = defaultdict(lambda: defaultdict(float))
    for i, sp in enumerate(spans):
        if sp["phase"] != phase:
            continue
        r = rows[sp["name"]]
        r[0] += 1
        r[1] += sp["end"] - sp["start"]
        r[2] += selfs[i]
        r[3] += jobt[i]
        if sp["parent"] is None:
            parts = tops[sp["name"]]
            parts["wall"] += sp["end"] - sp["start"]
            for j in descendants(spans, i, kids):
                parts[spans[j]["name"] + " self"] += selfs[j]
                parts["Spark jobs"] += jobt[j]
    lines = [f"{'layer span':<24}{'calls':>7}{'total_ms':>12}{'self_ms':>12}{'spark_job_ms':>14}"]
    for name, (n, tot, slf, jt) in sorted(rows.items(), key=lambda kv: -kv[1][1]):
        lines.append(f"{name:<24}{n:>7}{tot * 1e3:>12.1f}{slf * 1e3:>12.1f}{jt * 1e3:>14.1f}")
    for name, parts in sorted(tops.items()):
        wall = parts.pop("wall")
        split = ", ".join(f"{k} {v / wall * 100:.1f}%" for k, v in
                          sorted(parts.items(), key=lambda kv: -kv[1]) if wall)
        lines.append(f"{name} {wall * 1e3:.1f} ms = {split} "
                     f"(sum {sum(parts.values()) / wall * 100 if wall else 0.0:.1f}%)")
    return lines
