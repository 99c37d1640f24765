"""Measurement plumbing: layer spans, job groups, event-log stage costs,
host context and the Spark session lifecycle.

Spans are recorded from the benchmark's own files around each call into
a layer's public functions; nothing inside the engine is instrumented.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import time
from contextlib import contextmanager

from metrics import STAGE_LAYERS

# the stage figures that add up over a layer's calls
PER_OP = ("executor_run_s", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes",
          "starved_stages", "tasks", "failed_tasks", "jobs")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> dict:
    """The highest percentile with at least ten samples beyond it, or
    ``None`` when fewer than eleven samples exist; with the count."""
    n = len(xs)
    if n < 11:
        return {"pct": None, "value": None, "samples": n}
    pct = 100.0 * (n - 10) / n
    return {"pct": round(pct, 1), "value": sorted(xs)[n - 11], "samples": n}


def tree_bytes(path: str) -> tuple[int, int]:
    """``(bytes, files)`` under ``path``, like ``du -b`` plus a file count."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


class Tracer:
    """Job groups on every run; spans only when ``enabled``.

    ``layer(layer, fn)`` sets the Spark job group ``<layer>:<workload>``
    for the calls inside it and, when tracing, records a span
    ``(name, start, end, parent, op)`` with wall-clock times so the
    event log's jobs can be matched to it afterwards.  Jobs the engine
    launches from its own worker threads carry no job group; they are
    attributed to the innermost span open at their submission time.
    """

    def __init__(self, workload: str, enabled: bool):
        self.workload = workload
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self.op = None
        self._ops = 0
        self.sc = None

    def next_op(self) -> None:
        """Number the next loop op (``None`` while not tracing)."""
        self.op = self._ops if self.enabled else None
        self._ops += 1

    def _set_group(self, group) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def group(self, name: str):
        """A job group without a span (output checks, bookkeeping)."""
        self._groups.append(f"{name}:{self.workload}")
        self._set_group(self._groups[-1])
        try:
            yield
        finally:
            self._groups.pop()
            self._set_group(self._groups[-1] if self._groups else None)

    @contextmanager
    def layer(self, layer: str, fn: str, timings: dict | None = None):
        """Job group for the calls inside; when tracing, also a span and
        the call's wall time appended to ``timings["<layer>.<fn>_s"]``."""
        start = time.time()
        t0 = time.perf_counter()
        idx = None
        if self.enabled:
            idx = len(self.spans)
            self.spans.append(
                {
                    "name": f"{layer}.{fn}",
                    "layer": layer,
                    "start": start,
                    "end": None,
                    "parent": self._stack[-1] if self._stack else None,
                    "op": self.op,
                }
            )
            self._stack.append(idx)
        try:
            with self.group(layer):
                yield
        finally:
            dt = time.perf_counter() - t0
            if idx is not None:
                if timings is not None:
                    timings.setdefault(f"{layer}.{fn}_s", []).append(dt)
                self.spans[idx]["end"] = start + dt
                self._stack.pop()

    def layer_wall(self) -> dict:
        """Wall seconds per layer, counting only outermost spans of it."""
        out: dict = {}
        for s in self.spans:
            parent = self.spans[s["parent"]] if s["parent"] is not None else None
            if parent is not None and parent["layer"] == s["layer"]:
                continue
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"])
        return out

    def ops_by_layer(self) -> dict:
        """Number of traced loop ops that ran each layer."""
        ops: dict = {}
        for s in self.spans:
            if s["op"] is not None:
                ops.setdefault(s["layer"], set()).add(s["op"])
        return {layer: len(o) for layer, o in ops.items()}

    def layer_at(self, t: float):
        """Layer of the innermost span open at wall-clock ``t``."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or t):
                best = s  # later spans open inside earlier ones
        return best["layer"] if best else None


def parse_event_log(paths, tracer: Tracer, cores: int) -> tuple[dict, list]:
    """Per-layer stage costs from the Spark event logs of one run (one
    log per SparkContext; job and stage ids restart in each).

    A job belongs to its job group's layer, or, without a group, to the
    innermost span open when it was submitted; jobs outside every span
    (untraced ops, output checks) are left out.  Returns ``(values,
    stages)``: ``values`` holds the ``<layer>.*`` stage metrics plus
    ``<layer>.jobs/tasks/failed_tasks``; ``stages`` is the per-stage
    table for the trace file.  For a layer the loop's ops run, the counts
    and costs are per traced op, so a faster op, which fits more ops into
    the loop, does not read as more work; other layers run a fixed number
    of times per run and report totals.  A stage is *starved* when it is
    CPU-dense (executor CPU time at least half its executor run time),
    its tasks ran for at least 0.5 s together, and it had fewer tasks
    than cores: idle cores next to a straggler.
    """
    job_layer: dict = {}
    stage_job: dict = {}
    stages: dict = {}
    tasks: dict = {}
    for log, path in enumerate(paths):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                et = ev.get("Event")
                if et == "SparkListenerJobStart":
                    span_layer = tracer.layer_at(ev["Submission Time"] / 1000.0)
                    if span_layer is None:
                        continue
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jid = (log, ev["Job ID"])
                    job_layer[jid] = group.split(":", 1)[0] if group else span_layer
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault((log, sid), jid)
                elif et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    key = (log, si["Stage ID"], si.get("Stage Attempt ID", 0))
                    sub, comp = si.get("Submission Time"), si.get("Completion Time")
                    stages[key] = {
                        "stage": si["Stage ID"],
                        "attempt": key[2],
                        "name": si.get("Stage Name", "")[:120],
                        "tasks": si.get("Number of Tasks", 0),
                        "wall_s": (comp - sub) / 1000.0 if sub and comp else 0.0,
                    }
                elif et == "SparkListenerTaskEnd":
                    key = (log, ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    tm = ev.get("Task Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    agg = tasks.setdefault(
                        key, {"run_s": 0.0, "cpu_s": 0.0, "shuffle_write": 0, "spill": 0,
                              "failed": 0, "n": 0},
                    )
                    agg["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    agg["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    agg["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    agg["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    agg["n"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                    agg["failed"] += reason != "Success"

    values: dict = {}
    table = []
    for key, st in sorted(stages.items()):
        layer = job_layer.get(stage_job.get(key[:2]))
        if layer not in STAGE_LAYERS:
            continue
        t = tasks.get(key, {})
        starved = (
            st["tasks"] < cores
            and t.get("run_s", 0.0) >= 0.5
            and t.get("cpu_s", 0.0) >= 0.5 * t["run_s"]
        )
        table.append({**st, **t, "layer": layer, "starved": starved})
        for name, v in (
            ("executor_run_s", t.get("run_s", 0.0)),
            ("executor_cpu_s", t.get("cpu_s", 0.0)),
            ("shuffle_write_bytes", t.get("shuffle_write", 0)),
            ("spill_bytes", t.get("spill", 0)),
            ("starved_stages", int(starved)),
            ("tasks", t.get("n", 0)),
            ("failed_tasks", t.get("failed", 0)),
        ):
            values[f"{layer}.{name}"] = values.get(f"{layer}.{name}", 0) + v
    for layer in job_layer.values():
        values[f"{layer}.jobs"] = values.get(f"{layer}.jobs", 0) + 1
    for layer, wall in tracer.layer_wall().items():
        if wall > 0 and layer in STAGE_LAYERS:
            run = values.get(f"{layer}.executor_run_s", 0.0)
            values[f"{layer}.core_busy_ratio"] = run / (wall * cores)
    for layer, n in tracer.ops_by_layer().items():
        for name in PER_OP:
            if f"{layer}.{name}" in values:
                values[f"{layer}.{name}"] /= n
    return values, table


def host_context(cores: int) -> dict:
    """Recorded with every result: noisy-host runs stay recognisable, and
    numbers from other core counts are not compared by mistake."""
    from bench import _box_probe  # the frozen bench's load/bandwidth canary

    from pynomaly_spark import kernel

    ctx = {"nproc": len(os.sched_getaffinity(0)), "cores_used": cores, **_box_probe()}
    erf = kernel._erf_vec
    ctx["erf"] = (
        "np.vectorize(math.erf)" if hasattr(erf, "pyfunc") else getattr(erf, "__module__", "?")
    )
    return ctx


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark driver JVM, read from /proc."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_jvm(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
