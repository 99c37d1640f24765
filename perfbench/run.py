"""Benchmark of the validation engine, layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload suite_default_30k --seed 1 --seconds 8 --trace 0

One process, one Spark driver at ``local[<cores>]``.  It builds the
workload's input from ``--seed``, sets the session up several times
(``setup_s`` is the median of the warm set-ups; the cold one, which
launches the JVM, is ``session.cold_start_s``), primes a few untimed ops,
then runs ops in a closed loop for ``--seconds`` and checks every op's
output outside the clock.  The last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is the run's context (host, phases, samples, problems).

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on the
Spark event log and spans, traces every op of the loop, measures drift
and the kernel, then runs the loop twice more in new sessions: untraced
without the event log, then traced again (``trace_overhead`` = traced /
untraced median op wall: the event log and the span bookkeeping), and
prints the per-layer metrics.  Spans and the stage table go to
``.perfbench_work/traces/``.  Everything the run writes stays under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
WARM_SETUP_CYCLES = 5
MIN_OPS = 2  # ops per loop, whatever --seconds says
JIT_THREADS = 8


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> dict:
    """Keep every file the run writes inside ``work``; returns the Spark
    settings the benchmark adds to ``session.get_spark``'s."""
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # HotSpot's perf-data file ignores java.io.tmpdir and lands in /tmp.
    # The JIT's compile queue stays full for about ten ops at the 3
    # compiler threads HotSpot picks for 4 CPUs (it picks 15 for 32), and
    # op walls keep falling meanwhile; with 8 the registry pass levels
    # off one pass after the oracle pass (README.md).
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-XX:CICompilerCount={JIT_THREADS}") if p
    )
    # heap ceiling for a 4-core run on a shared host (get_spark's default
    # is 8g); the heap starts small and grows as the engine needs it
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.eventLog.enabled": "false",
    }


def _event_log(conf: dict, work: str) -> dict:
    return {
        **conf,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _start(cores, conf, tracer, timings):
    """One set-up cycle: ``get_spark`` + a small warm-up job through
    codegen and a shuffle.  Returns the session and its seconds."""
    from pyspark.sql import functions as F

    from harness import noop
    from pynomaly_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.layer("session", "get_spark", timings):
        spark = get_spark("perfbench", cpus=cores, extra_conf=conf)
    tracer.sc = spark.sparkContext
    with tracer.layer("session", "warmup", timings):
        noop(spark.range(0, 1000).groupBy((F.col("id") % 4).alias("k")).count())
    return spark, time.perf_counter() - t0


def _restart(spark, cores, conf, tracer, timings):
    tracer.sc = None
    spark.stop()
    return _start(cores, conf, tracer, timings)


def _setup(cores, conf, tracer, timings):
    """A cold cycle, which also launches the JVM, then ``WARM_SETUP_CYCLES``
    warm ones (stop, get_spark, warm-up).  Returns the session, the cold
    seconds and the warm cycles' seconds.  The Python workers start in
    the first priming op."""
    spark, cold = _start(cores, conf, tracer, None)
    warm = []
    for _ in range(WARM_SETUP_CYCLES):
        spark, s = _restart(spark, cores, conf, tracer, timings)
        warm.append(s)
    return spark, cold, warm


def _loop(wl, seconds, tracer):
    """Closed loop: ops until ``seconds`` have passed (at least
    ``MIN_OPS``).  Returns the op walls, the ops attempted and failed,
    and the problems found."""
    walls, problems = [], []
    failed = 0
    t_end = time.perf_counter() + seconds
    while True:
        tracer.next_op()
        wall, bad = wl.op()
        walls.append(wall)
        failed += bool(bad)
        problems += bad
        if time.perf_counter() >= t_end and len(walls) >= MIN_OPS:
            break
    tracer.op = None
    return walls, len(walls), failed, problems


def run(args) -> tuple[dict, dict]:
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> tuple[dict, dict]:
    import harness
    from metrics import report
    from workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    traces = os.path.join(ROOT, ".perfbench_work", "traces")
    conf = _environment(work)
    cores = len(os.sched_getaffinity(0))
    host = harness.host_context(cores)  # before the JVM competes for the box

    trace = bool(args.trace)
    tracer = harness.Tracer(args.workload, enabled=trace)
    timings: dict = {}
    spark = None
    phases: dict = {}
    untraced: list = []
    try:
        spark, cold, warm = _setup(cores, _event_log(conf, work) if trace else conf, tracer, timings)
        wl = cls(spark, tracer, work, args.seed, timings)
        t0 = time.perf_counter()
        wl.prepare()
        phases["input"] = time.perf_counter() - t0
        tracer.enabled = False
        primes = wl.prime()
        tracer.enabled = trace
        t0 = time.perf_counter()
        walls, attempted, failed, problems = _loop(wl, args.seconds, tracer)
        phases["loop"] = time.perf_counter() - t0
        attempted += len(primes)
        failed += sum(bool(bad) for _, bad in primes)
        problems = [p for _, bad in primes for p in bad] + problems
        t0 = time.perf_counter()
        check = wl.after_loop(trace)
        rss = harness.jvm_peak_rss_mb(spark)
        if trace:
            wl.measure_drift(cores)
            # trace_overhead: an untraced loop in a session without the
            # event log, then a traced one again, so that op walls still
            # falling over the run weigh on both sides alike; a new
            # session (same JVM) gets one priming op
            for side in (False, True):
                tracer.enabled = False
                spark, _ = _restart(spark, cores, _event_log(conf, work) if side else conf,
                                    tracer, None)
                wl.reopen(spark)
                prime = wl.op()
                tracer.enabled = side
                more_walls, n, bad_ops, more = _loop(wl, args.seconds, tracer)
                (walls if side else untraced).extend(more_walls)
                attempted += 1 + n
                failed += bool(prime[1]) + bad_ops
                problems += prime[1] + more
        if check is not None:
            if wl.CHECK_COVERS_ALL_OPS:
                failed = attempted if check else failed
            else:
                attempted += 1
                failed += bool(check)
            problems += check
        phases["after_loop"] = time.perf_counter() - t0
    finally:
        if spark is not None:
            harness.stop_jvm(spark)

    op_wall = harness.median(walls)
    values = {
        "op_wall_s": op_wall,
        "rows_per_s": wl.rows / op_wall,
        "setup_s": harness.median(warm),
        "jvm_peak_rss_mb": rss,
        "session.get_spark_s": harness.median(timings.get("session.get_spark_s", [])),
        "session.warmup_s": harness.median(timings.get("session.warmup_s", [])),
        "session.cold_start_s": cold,
        **wl.values,
        **wl.layer_values(),
    }
    stages = []
    if trace:
        values["trace_overhead"] = op_wall / harness.median(untraced)
        logs = sorted(os.path.join(work, "events", f) for f in os.listdir(os.path.join(work, "events")))
        stage_values, stages = harness.parse_event_log(logs, tracer, cores)
        values.update(stage_values)
        os.makedirs(traces, exist_ok=True)
        with open(os.path.join(traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"), "w") as fh:
            json.dump({"spans": tracer.spans, "stages": stages, "values": values}, fh)

    context = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "input_rows": wl.rows,
        "phases_s": {
            "setup": round(cold + sum(warm), 2),
            "input": round(phases["input"], 2),
            "prime_ops": [round(w, 2) for w, _ in primes],
            "loop": round(phases["loop"], 2),
            "after_loop": round(phases["after_loop"], 2),
            "process": round(time.perf_counter() - T_START, 2),
        },
        "op_samples": len(walls),
        "op_walls_s": [round(w, 4) for w in walls],
        "op_wall_tail": harness.tail(walls),
        "untraced_op_walls_s": [round(w, 4) for w in untraced],
        "setup_cycles_s": {"cold": round(cold, 4), "warm": [round(c, 4) for c in warm]},
        "failed_op_ratio": failed / attempted,
        "problems": problems[:20],
        "starved_stages": [s for s in stages if s["starved"]][:20],
        **wl.context,
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": report(values, trace=trace),
    }
    return context, result


def main(argv=None) -> int:
    args = _parse(argv)
    # the benchmark drives the repository's own sources; without them
    # (a directory holding only the benchmark) there is nothing to run
    for need in ("bench.py", "pynomaly_spark/__init__.py", "tests/oracle_compare.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    context, result = run(args)
    print(json.dumps(context, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
