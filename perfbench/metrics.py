"""Names, units and bounds of every metric the benchmark prints.

``BENCHMARK.json`` at the repository root mirrors these lists;
``test_perfbench.py`` keeps the two equal.  Import with the repository
root on ``sys.path`` (``run.py`` puts it there).  Every workload prints every
metric: a layer a workload does not exercise reads 0 there.
"""

from __future__ import annotations

from bench import HEADLINE  # the frozen bench's query list, one source

# layers whose Spark stages the traced run attributes by job group; the
# kernel runs on the driver and has no stages of its own
STAGE_LAYERS = ("session", "datagen_spark", "checks", "drift", "checkpoint", "queries")

# (name, unit, better, bound)
# op walls follow the host's speed: across runs minutes apart on a shared
# 4-core host the numpy bandwidth canary swung 6-10 GB/s and the op walls
# with it, so the timings get the widest bound allowed.  The JVM's peak
# RSS follows how far its heap grew, which depends on GC timing too.
END_TO_END = (
    ("op_wall_s", "s", "lower", 0.25),
    ("rows_per_s", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("jvm_peak_rss_mb", "MB", "lower", 0.2),
)

# (name, unit, better)
PER_LAYER = (
    ("session.get_spark_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("session.cold_start_s", "s", "lower"),
    ("datagen_spark.write_s", "s", "lower"),
    ("checks.run_suite_s", "s", "lower"),
    ("checks.unified_collect_s", "s", "lower"),
    ("checks.jobs", "count", "lower"),
    ("checks.tasks", "count", "lower"),
    ("checks.failed_tasks", "count", "lower"),
    ("checks.stage_bytes", "bytes", "lower"),
    ("checks.metric_rows", "count", "lower"),
    ("checks.violation_rows", "count", "lower"),
    ("drift.score_s", "s", "lower"),
    ("drift.groups", "count", "lower"),
    ("drift.rows_scored", "count", "lower"),
    ("drift.gated_rows", "count", "lower"),
    ("drift.kernel_share", "ratio", "higher"),
    ("kernel.knn_ms_per_group", "ms", "lower"),
    ("kernel.loop_from_knn_ms_per_group", "ms", "lower"),
    ("kernel.loop_scores_ms_per_group", "ms", "lower"),
    ("checkpoint.validate_resumable_s", "s", "lower"),
    ("checkpoint.resume_s", "s", "lower"),
    ("checkpoint.bytes_written", "bytes", "lower"),
    ("checkpoint.files_written", "count", "lower"),
    ("checkpoint.manifests", "count", "lower"),
    ("checkpoint.stored_bytes_per_input_byte", "ratio", "lower"),
    *((f"queries.{q}.wall_s", "s", "lower") for q in HEADLINE),
    *(
        m
        for layer in STAGE_LAYERS
        for m in (
            (f"{layer}.executor_run_s", "s", "lower"),
            (f"{layer}.executor_cpu_s", "s", "lower"),
            (f"{layer}.shuffle_write_bytes", "bytes", "lower"),
            (f"{layer}.spill_bytes", "bytes", "lower"),
            (f"{layer}.core_busy_ratio", "ratio", "higher"),
            (f"{layer}.starved_stages", "count", "lower"),
        )
    ),
    ("trace_overhead", "ratio", "lower"),
)

UNITS = {name: unit for name, unit, *_ in END_TO_END + PER_LAYER}

def report(values: dict, trace: bool) -> dict:
    """The ``metrics`` object of the result line: every declared metric
    of the run's kind, 0 where the workload leaves a layer idle."""
    names = [m[0] for m in (PER_LAYER if trace else END_TO_END)]
    return {
        n: {"value": float(values.get(n, 0.0)), "unit": UNITS[n]} for n in names
    }
