"""Benchmark harness for sparvi_core_spark: one seeded, single-client,
closed-loop workload per run.

    python3 perfbench/run.py --workload quality_checks --seed 1 \
        --seconds 1 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer ledger (see
README.md in this directory). The line before it starts with
``detail:`` and carries each workload's own figures.

A run starts one Spark session with the pinned configuration below,
sets its inputs up ``SETUP_REPS`` times (the median, plus session
start, is ``setup_s``), then runs rounds until ``--seconds`` have
passed, at least one. The first round runs cold, as each invocation of
a batch job does; a round is never cut short, so with a ``--seconds``
below one round's time (as BENCHMARK.json sets it) a run measures
exactly that cold round. With ``--trace 1`` the cold round is followed
by warm rounds alternating between untraced and traced (Spark event log
attached); the ledger comes from the traced ones, and
``trace.overhead_s`` is the difference of the two warm medians.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# The first set-up runs cold and costs as much as a round (index builds);
# two keep a run under a minute, and their median is their mean.
SETUP_REPS = 2


def session_conf(work: str) -> dict:
    """The pinned session: production defaults (AQE on, from
    ``get_spark``), ``local[min(cores, 4)]``, shuffle partitions equal to
    cores, UI off, and a driver heap that fits a 16 GB machine."""
    cores = min(len(os.sched_getaffinity(0)), 4)
    tmp = os.path.join(work, "tmp")
    return {
        "master": f"local[{cores}]",
        "shuffle_partitions": cores,
        "extra_conf": {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "4g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp} -XX:-UsePerfData",
        },
    }


def _processes() -> dict[int, tuple[int, str, float]]:
    """This process and its descendants: pid -> (parent pid, command
    name, CPU seconds so far)."""
    tick = os.sysconf("SC_CLK_TCK")
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                head, rest = fh.read().rsplit(")", 1)
        except OSError:  # exited while listing
            continue
        f = rest.split()
        # own user + system time, plus that of reaped children (a Python
        # worker that exits mid-round moves its time to its parent)
        procs[int(pid)] = (int(f[1]), head.split("(", 1)[1],
                           sum(int(x) for x in f[11:15]) / tick)
    mine, frontier = {}, {os.getpid()}
    while frontier:
        mine.update({p: procs[p] for p in frontier if p in procs})
        frontier = {p for p, v in procs.items() if v[0] in frontier}
    return mine


def _cpu_s() -> float:
    """CPU seconds used so far by this process, its JVM and the JVM's
    Python workers."""
    return sum(v[2] for v in _processes().values())


def _peak_rss_mb() -> float:
    """VmHWM of this process plus the JVM it launched."""
    def hwm(pid: int) -> float:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    me = os.getpid()
    return hwm(me) + sum(hwm(p) for p, (ppid, comm, _) in _processes().items()
                         if ppid == me and comm == "java")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test shrinks it)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sparvi_core_spark")):
        print(f"no sparvi_core_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import ledger
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = None
    try:
        t0 = time.perf_counter()
        from sparvi_core_spark import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          **session_conf(work))
        spark.sparkContext.setLogLevel("FATAL")
        session_s = time.perf_counter() - t0
        return _run(args, spark, work, session_s, ledger, workloads)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:  # the parent stays while another run is using it
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _stop(spark) -> None:
    """Stop the session, then wait for the JVM and its Python workers to
    exit (the JVM exits when its stdin closes; the workers follow it)."""
    children = set(_processes()) - {os.getpid()}
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = []
        for pid in children:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] != "Z":
                        alive.append(pid)
            except OSError:
                pass
        if not alive:
            return
        time.sleep(0.1)


def _run(args, spark, work, session_s, ledger, workloads) -> int:
    tracer = ledger.Tracer()
    cls = workloads.WORKLOADS[args.workload]
    failed = 0

    setup_reps = []
    for i in range(SETUP_REPS):  # the last set-up's inputs are measured
        wl = cls(spark, args.seed, args.scale, tracer)
        t = time.perf_counter()
        wl.setup(os.path.join(work, f"setup{i}"))
        setup_reps.append(time.perf_counter() - t)
    setup_s = session_s + _median(setup_reps)

    events = ledger.EventLog(spark, os.path.join(work, "eventlog"))
    if args.trace:  # a known query: the ledger must attribute its job
        tracer.phase = "traced"
        with events.attached(), tracer.span("trace.selfcheck"):
            spark.range(0, 100_000, 1, 4).count()

    # Round 0 runs cold: it compiles every plan and starts the Python
    # workers, as each invocation of a batch job does. Rounds go on until
    # --seconds have passed; later rounds run warm, and with --trace 1
    # they alternate between untraced and traced (at least one each).
    rounds: list[tuple[float, str]] = []
    cpu: list[float] = []
    start = time.perf_counter()
    while len(rounds) < (3 if args.trace else 1) or \
            time.perf_counter() - start < args.seconds:
        n = len(rounds)
        phase = "cold" if n == 0 else \
            "traced" if args.trace and n % 2 == 0 else "warm"
        tracer.phase = phase
        t, c = time.perf_counter(), _cpu_s()
        try:
            if phase == "traced":
                with events.attached():
                    wl.round(n)
            else:
                wl.round(n)
        except Exception:  # a failed round counts; the loop goes on
            traceback.print_exc()
            failed += 1
        rounds.append((time.perf_counter() - t, phase))
        cpu.append(_cpu_s() - c)

    measured = [d for d, p in rounds if p != "traced"]
    cpu = [c for c, (_, p) in zip(cpu, rounds) if p != "traced"]
    calls = [s.end - s.start for s in tracer.spans
             if s.phase in ledger.MEASURED and s.name in ledger.SPANS]
    attempted = (sum(s.name in ledger.SPANS for s in tracer.spans)
                 + wl.checks)
    failed += wl.failures

    if args.trace:
        by_span = ledger.ledger(tracer, ledger.parse(events.files()))
        metrics = _per_layer(tracer, by_span, ledger, rounds)
        failed += _ledger_checks(metrics, by_span, args.workload)
        attempted += 1
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "round_cpu_s": {"value": _median(cpu), "unit": "s"},
        }
    detail = {
        "workload": args.workload, "seed": args.seed, "rounds": len(rounds),
        "round_s": [[round(d, 3), p] for d, p in rounds],
        "round_p50_s": _median(measured),
        "session_s": session_s, "setup_reps_s": setup_reps,
        "failed_frac": failed / max(1, attempted),
        "call_p50_s": _median(calls), "peak_rss_mb": _peak_rss_mb(),
        **wl.detail(),
    }
    print("detail: " + json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _per_layer(tracer, by_span, ledger, rounds) -> dict:
    out = {}
    for name, unit in ledger.metric_names():
        span, counter = name.rsplit(".", 1)
        out[name] = {"value": by_span.get(span, {}).get(counter, 0.0),
                     "unit": unit}
    # set-up runs untraced: its span is timed from the set-up calls
    out[f"{ledger.SETUP_SPAN}.self_s"]["value"] = _median(
        tracer.durations(ledger.SETUP_SPAN, ("setup",)))
    traced = [d for d, p in rounds if p == "traced"]
    warm = [d for d, p in rounds if p == "warm"]
    out["trace.overhead_s"]["value"] = _median(traced) - _median(warm)
    return out


def _ledger_checks(metrics: dict, by_span: dict, workload: str) -> int:
    """The ledger's own invariants; each broken one is a failure."""
    probe = by_span.get("trace.selfcheck", {})
    bad = 0
    if probe.get("jobs", 0) < 1 or probe["driver_only_s"] > probe["self_s"]:
        print(f"ledger: self-check span got {probe}", file=sys.stderr)
        bad += 1
    for span in metrics:
        if span.endswith(".driver_only_s"):
            base = span[: -len(".driver_only_s")]
            if metrics[span]["value"] > metrics[f"{base}.self_s"]["value"] + 1e-6:
                print(f"ledger: {base} driver_only_s > self_s", file=sys.stderr)
                bad += 1
    if workload == "quality_checks" and \
            metrics["profiler.profile_table.jobs"]["value"] <= 0:
        print("ledger: no jobs attributed to profile_table", file=sys.stderr)
        bad += 1
    return bad


if __name__ == "__main__":
    sys.exit(main())
