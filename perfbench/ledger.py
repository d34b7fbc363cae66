"""The per-layer ledger: spans the harness records around its own calls
into the program, and the Spark event log turned into counters per span.

Spans are kept in memory (name, start, end, parent). The event log is
attached only around traced rounds, as a plain JSONL file per round, and
parsed after the measurement ends. Jobs, stages and SQL executions are
attributed to the innermost traced span whose time window holds their
start. Time windows, not job groups, because the profiler and the
validation runner submit jobs from ``ThreadPoolExecutor`` threads, which
do not inherit a job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

CORE = ("self_s", "driver_only_s", "jobs", "executor_cpu_s",
        "shuffle_write_mb")

# span name -> counters beyond CORE. ``session.register_views`` only has
# ``self_s``: it runs in set-up, outside any traced round.
SPANS: dict[str, tuple[str, ...]] = {
    "profiler.profile_table": ("input_mb",),
    "profiler.partition_profile": (),
    "validations.run_validations": ("input_mb",),
    "operators.remove_boilerplate_lines": (),
    "operators.prepare_corpus": ("python_run_s", "spill_mb"),
    "functions.train_kn_lm": (),
    "functions.score_perplexity_kn": ("python_run_s",),
    "operators.train_nb": (),
    "operators.classify_nb": ("python_run_s",),
    "operators.train_dsir": (),
    "operators.select_corpus": ("python_run_s",),
    "operators.filter_ngram_contaminated": ("spill_mb",),
    "operators.novelty_filter": (),
    "sources.probe_minhash_index": ("input_mb", "files_read"),
    "sources.append_minhash_index": ("files_written",),
    "sources.compact_minhash_index_if": ("files_written", "written_mb"),
    "sources.delete_from_minhash_index": (),
}
SETUP_SPAN = "session.register_views"
MEASURED = ("cold", "warm")  # the phases end-to-end figures come from

UNITS = {"self_s": "s", "driver_only_s": "s", "jobs": "count",
         "executor_cpu_s": "s", "shuffle_write_mb": "MB",
         "python_run_s": "s", "spill_mb": "MB", "input_mb": "MB",
         "files_read": "count", "files_written": "count",
         "written_mb": "MB"}

# RDD scope names of stages that run Python workers
PYTHON_SCOPES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas")


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as ``(name, unit)``, in a fixed order."""
    out = [(f"{SETUP_SPAN}.self_s", "s")]
    for span, extra in SPANS.items():
        out += [(f"{span}.{c}", UNITS[c]) for c in CORE + extra]
    out.append(("trace.overhead_s", "s"))
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    phase: str = ""
    files_written: int = 0
    written_mb: float = 0.0


def _listing(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every data file under ``root``
    (dot-files such as Hadoop checksums are skipped)."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith("."):
                st = os.stat(os.path.join(d, n))
                out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


class Tracer:
    """Records a span around each call into the program, tagged with the
    harness's current ``phase``: ``setup``, ``cold`` (the first round),
    ``warm`` or ``traced`` (a round whose event log is kept). Only
    traced spans feed the ledger, and only they diff index directories."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.phase = "setup"
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, watch: str | None = None):
        traced = self.phase == "traced"
        before = _listing(watch) if watch and traced else None
        rec = Span(name, time.time(),
                   parent=self._stack[-1] if self._stack else None,
                   phase=self.phase)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec.end = time.time()
            self._stack.pop()
            if before is not None:
                after = _listing(watch)
                new = [p for p, v in after.items() if before.get(p) != v]
                rec.files_written = len(new)
                rec.written_mb = sum(after[p][0] for p in new) / 1e6

    def durations(self, name: str, phases=None) -> list[float]:
        """Durations of ``name``'s calls in the measured (untraced)
        rounds, or in the given phases."""
        phases = phases or MEASURED
        return [s.end - s.start for s in self.spans
                if s.name == name and s.phase in phases]


class EventLog:
    """Attaches Spark's own event-log writer to a running session for the
    duration of a ``with`` block, one plain JSONL file per block."""

    def __init__(self, spark, root: str) -> None:
        self._sc = spark.sparkContext
        self.root = root
        self._n = 0

    @contextmanager
    def attached(self):
        jsc = self._sc._jsc.sc()
        jvm = self._sc._jvm
        d = os.path.join(self.root, f"log{self._n}")
        self._n += 1
        os.makedirs(d)
        conf = jsc.conf().clone()
        conf.set("spark.eventLog.compress", "false")
        conf.set("spark.eventLog.rolling.enabled", "false")
        listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            jsc.applicationId(), jvm.scala.Option.empty(),
            jvm.java.net.URI(f"file://{os.path.abspath(d)}"), conf,
            jsc.hadoopConfiguration())
        listener.start()
        jsc.addSparkListener(listener)
        try:
            yield
        finally:
            jsc.listenerBus().waitUntilEmpty()
            jsc.removeSparkListener(listener)
            listener.stop()

    def files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.root, "log*", "*")))


@dataclass
class Events:
    jobs: list[tuple[float, float]] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    sql_start: dict[int, float] = field(default_factory=dict)
    accum_names: dict[int, str] = field(default_factory=dict)
    driver_accums: list[tuple[int, int, float]] = field(default_factory=list)


def _plan_metrics(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in plan.get("children", []):
        _plan_metrics(c, out)


def parse(paths: list[str]) -> Events:
    ev = Events()
    job_start: dict[int, float] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    job_start[e["Job ID"]] = e["Submission Time"] / 1e3
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in job_start:
                        ev.jobs.append((job_start.pop(e["Job ID"]),
                                        e["Completion Time"] / 1e3))
                elif kind == "SparkListenerStageCompleted":
                    ev.stages.append(_stage(e["Stage Info"]))
                elif kind.endswith("SQLExecutionStart"):
                    ev.sql_start[e["executionId"]] = e["time"] / 1e3
                    _plan_metrics(e["sparkPlanInfo"], ev.accum_names)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_metrics(e["sparkPlanInfo"], ev.accum_names)
                elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                    for m in e["sqlPlanMetrics"]:
                        ev.accum_names[m["accumulatorId"]] = m["name"]
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc, v in e["accumUpdates"]:
                        ev.driver_accums.append((e["executionId"], acc, v))
    return ev


def _stage(info: dict) -> dict:
    acc = {a["Name"]: a.get("Value") for a in info.get("Accumulables", [])}

    def num(key: str) -> float:
        try:
            return float(acc.get(f"internal.metrics.{key}", 0) or 0)
        except (TypeError, ValueError):
            return 0.0

    scopes = " ".join(str(r.get("Scope", "")) + str(r.get("Name", ""))
                      for r in info.get("RDD Info", []))
    return {
        "start": info.get("Submission Time", 0) / 1e3,
        "run_s": num("executorRunTime") / 1e3,
        "cpu_s": num("executorCpuTime") / 1e9,
        "shuffle_write_mb": num("shuffle.write.bytesWritten") / 1e6,
        "spill_mb": num("diskBytesSpilled") / 1e6,
        "input_mb": num("input.bytesRead") / 1e6,
        "python": any(p in scopes for p in PYTHON_SCOPES),
    }


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def ledger(tracer: Tracer, ev: Events) -> dict[str, dict[str, float]]:
    """Per span name, each counter summed over its traced calls and
    divided by the number of calls (0 for a span with no traced call)."""
    spans = [s for s in tracer.spans if s.phase == "traced"]
    index = {id(s): i for i, s in enumerate(tracer.spans)}
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def owner(t: float) -> Span | None:
        best = None
        for s in spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    acc: dict[int, dict[str, float]] = {id(s): {} for s in spans}

    def add(s: Span | None, key: str, v: float) -> None:
        if s is not None:
            acc[id(s)][key] = acc[id(s)].get(key, 0.0) + v

    for start, _ in ev.jobs:
        add(owner(start), "jobs", 1)
    for st in ev.stages:
        s = owner(st["start"])
        add(s, "executor_cpu_s", st["cpu_s"])
        add(s, "shuffle_write_mb", st["shuffle_write_mb"])
        add(s, "spill_mb", st["spill_mb"])
        add(s, "input_mb", st["input_mb"])
        if st["python"]:
            add(s, "python_run_s", st["run_s"])
    for exec_id, acc_id, v in ev.driver_accums:
        if ev.accum_names.get(acc_id) == "number of files read" \
                and exec_id in ev.sql_start:
            add(owner(ev.sql_start[exec_id]), "files_read", float(v))

    out: dict[str, dict[str, float]] = {}
    calls: dict[str, int] = {}
    for s in spans:
        kids = children.get(index[id(s)], [])
        self_windows = [(s.start, s.end)]
        for k in kids:  # cut child windows out of the span's own time
            self_windows = [w for a, b in self_windows
                            for w in ((a, min(b, k.start)), (max(a, k.end), b))
                            if w[1] > w[0]]
        self_s = sum(b - a for a, b in self_windows)
        busy = sum(_union_len(_clip(ev.jobs, a, b)) for a, b in self_windows)
        c = acc[id(s)]
        c["self_s"] = self_s
        c["driver_only_s"] = self_s - busy
        c["files_written"] = float(s.files_written)
        c["written_mb"] = s.written_mb
        tot = out.setdefault(s.name, {})
        for k, v in c.items():
            tot[k] = tot.get(k, 0.0) + v
        calls[s.name] = calls.get(s.name, 0) + 1
    return {n: {k: v / calls[n] for k, v in tot.items()}
            for n, tot in out.items()}
