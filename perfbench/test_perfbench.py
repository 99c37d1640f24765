"""The benchmark's own tests (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import harness  # noqa: E402
import metrics  # noqa: E402
import verify  # noqa: E402
from tables import write_registry_tables  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units():
    names = [m[0] for m in metrics.END_TO_END + metrics.PER_LAYER]
    assert len(names) == len(set(names))
    for name in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name) and NAME.match(name), name
    for _, unit, better, *bound in metrics.END_TO_END + metrics.PER_LAYER:
        assert UNIT.match(unit) and better in ("higher", "lower")
        assert not bound or 0 < bound[0] <= 0.25
    assert "setup_s" in [m[0] for m in metrics.END_TO_END]


def test_benchmark_json_mirrors_the_code():
    from workloads import WORKLOADS

    b = _bench_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["end_to_end"] == [
        {"name": n, "unit": u, "better": w, "bound": bd} for n, u, w, bd in metrics.END_TO_END
    ]
    assert b["per_layer"] == [
        {"name": n, "unit": u, "better": w} for n, u, w in metrics.PER_LAYER
    ]
    assert b["workloads"] == [{"name": w.name, "why": w.why} for w in WORKLOADS.values()]
    for w in b["workloads"]:
        assert NAME.match(w["name"]) and len(w["why"]) <= 200 and "\n" not in w["why"]


def test_headline_is_the_frozen_bench_list():
    import bench

    assert list(metrics.HEADLINE) == bench.HEADLINE


def test_report_fills_idle_layers_with_zero():
    out = metrics.report({"op_wall_s": 1.5}, trace=False)
    assert list(out) == [m[0] for m in metrics.END_TO_END]
    assert out["op_wall_s"] == {"value": 1.5, "unit": "s"}
    assert out["setup_s"]["value"] == 0.0
    assert len(metrics.report({}, trace=True)) == len(metrics.PER_LAYER)


EXPECTED = {
    "dup_extra_rows": 25, "orphan_rows": 40, "null_lang_rows": 30,
    "null_content_rows": 20, "total_rows": 50065, "drift_partition": "lang=c",
    "partitions": 3,
}


def _suite_output():
    rows = [
        ("lang=python", "unique(repo,path,commit)", "dup_extra_rows", 20.0),
        ("lang=c", "unique(repo,path,commit)", "dup_extra_rows", 5.0),
        ("lang=python", "ref_integrity(repo,commit)", "orphan_rows", 40.0),
        ("lang=__null__", "null_rate(lang)", "null_rate", 1.0),
        ("lang=python", "null_rate(lang)", "null_rate", 0.0),
        ("lang=python", "sha256_invariant(content)", "sha_mismatch_rows", 0.0),
    ] + [
        (p, "loop_drift(k=10,ext=3)", "violation_rate", 0.002)
        for p in ("lang=python", "lang=c", "lang=__null__")
    ]
    m = pd.DataFrame(rows, columns=["partition_id", "check_name", "metric", "value"])
    viol = {"ref_integrity(repo,commit)": 40, "loop_drift(k=10,ext=3)": 12}
    drift = {"min_score": 0.97, "null_scores": 0, "in_drifted": 3}
    return m, viol, drift


def test_suite_check_accepts_right_counts():
    assert verify.suite_problems(*_suite_output(), EXPECTED, 0.95) == []


def _set_value(row: int, value: float):
    def change(m, v, d):
        m.loc[row, "value"] = value
    return change


@pytest.mark.parametrize(
    "break_it",
    [
        _set_value(0, 21.0),  # one duplicate row too many
        lambda m, v, d: v.update({"ref_integrity(repo,commit)": 39}),
        _set_value(3, 0.5),  # NULL-lang partition not all NULL
        _set_value(5, 1.0),  # sha mismatch on an untampered table
        lambda m, v, d: d.update(in_drifted=0),
        lambda m, v, d: d.update(min_score=0.5),
    ],
    ids=["dup_count", "ri_rows", "null_rate", "sha", "drift_partition", "drift_score"],
)
def test_suite_check_rejects_a_wrong_count(break_it):
    m, v, d = _suite_output()
    break_it(m, v, d)
    assert verify.suite_problems(m, v, d, EXPECTED, 0.95)


def test_checkpoint_check():
    fresh = {"total_partitions": 7, "committed_now": 7, "skipped_committed": 0}
    rerun = {"total_partitions": 7, "committed_now": 0, "skipped_committed": 7}
    assert verify.checkpoint_problems(fresh, rerun, 7) == []
    assert verify.checkpoint_problems({**fresh, "committed_now": 6}, rerun, 7)
    assert verify.checkpoint_problems(fresh, {**rerun, "committed_now": 1}, 7)


def test_oracle_check():
    ok = {q: {"mode": "oracle", "ok": True, "rows": 1} for q in metrics.HEADLINE}
    assert verify.oracle_problems(ok, metrics.HEADLINE) == []
    bad = {**ok, "doc_minhash": {"mode": "oracle", "ok": False, "detail": "rowcount 99 vs 100"}}
    assert verify.oracle_problems(bad, metrics.HEADLINE) == ["doc_minhash: rowcount 99 vs 100"]
    assert verify.oracle_problems({}, ["doc_minhash"])


def test_registry_tables_follow_the_seed(tmp_path):
    write_registry_tables(str(tmp_path / "a"), 5)
    write_registry_tables(str(tmp_path / "b"), 5)
    write_registry_tables(str(tmp_path / "c"), 6)
    for t in ("documents", "embeddings", "lineitem"):
        a, b, c = ((tmp_path / d / f"{t}.parquet").read_bytes() for d in "abc")
        assert a == b and a != c


def test_tail_needs_ten_samples_beyond_it():
    assert harness.tail(list(range(10)))["pct"] is None
    t = harness.tail([float(i) for i in range(20)])
    assert t == {"pct": 50.0, "value": 9.0, "samples": 20}


def test_event_log_attribution_and_starved_stages(tmp_path):
    tr = harness.Tracer("w", enabled=True)
    with tr.layer("checks", "run_suite"):
        pass
    span = tr.spans[0]
    span["start"], span["end"] = 100.0, 110.0
    t_ms = 105_000
    events = [
        # grouped job, and a job from a worker thread (no group) inside the span
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": t_ms,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "checks:w"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": t_ms,
         "Stage IDs": [1], "Properties": {}},
        # a job outside every span (an untraced op) is left out
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 200_000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "checks:w"}},
    ]
    for sid, tasks, wall_ms in ((0, 4, 1000), (1, 1, 2000), (2, 4, 1000)):
        events.append({"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": sid, "Stage Attempt ID": 0, "Stage Name": f"s{sid}",
            "Number of Tasks": tasks, "Submission Time": t_ms, "Completion Time": t_ms + wall_ms}})
        for _ in range(tasks):
            events.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
                           "Task End Reason": {"Reason": "Success"},
                           "Task Metrics": {"Executor Run Time": 1000, "Executor CPU Time": 9e8,
                                            "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}})
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events))
    values, stages = harness.parse_event_log([str(log)], tr, cores=4)
    assert values["checks.jobs"] == 2 and values["checks.tasks"] == 5
    assert values["checks.executor_run_s"] == pytest.approx(5.0)
    assert values["checks.shuffle_write_bytes"] == 50
    assert values["checks.starved_stages"] == 1  # stage 1: one task, CPU-bound, 2 s
    assert values["checks.core_busy_ratio"] == pytest.approx(5.0 / (10.0 * 4))
    assert [s["stage"] for s in stages if s["starved"]] == [1]


def _one_op_log(job: int, t_ms: int) -> list:
    """A grouped job of one stage with four 1 s tasks at ``t_ms``."""
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t_ms,
         "Stage IDs": [job], "Properties": {"spark.jobGroup.id": "checks:w"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": job, "Stage Attempt ID": 0, "Stage Name": "s", "Number of Tasks": 4,
            "Submission Time": t_ms, "Completion Time": t_ms + 1000}},
    ]
    return ev + [
        {"Event": "SparkListenerTaskEnd", "Stage ID": job, "Stage Attempt ID": 0,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 1000, "Executor CPU Time": 9e8}}
    ] * 4


def test_loop_layer_figures_are_per_traced_op(tmp_path):
    def parse(n_ops):
        tr = harness.Tracer("w", enabled=True)
        events = []
        for op in range(n_ops):
            tr.op = op
            with tr.layer("checks", "run_suite"):
                pass
            tr.spans[-1]["start"], tr.spans[-1]["end"] = 100.0 + 10 * op, 105.0 + 10 * op
            events += _one_op_log(op, 101_000 + 10_000 * op)
        log = tmp_path / f"app{n_ops}"
        log.write_text("\n".join(json.dumps(e) for e in events))
        return harness.parse_event_log([str(log)], tr, cores=4)[0]

    one, two = parse(1), parse(2)
    for name in ("jobs", "tasks", "executor_run_s", "executor_cpu_s", "core_busy_ratio"):
        assert two[f"checks.{name}"] == pytest.approx(one[f"checks.{name}"]), name
    assert one["checks.jobs"] == 1 and one["checks.tasks"] == 4


def _hourly(avg_spark, avg_oracle, values):
    events = pd.DataFrame({"event_type": "click", "hour": "2024-01-01 00", "value": values})
    out = lambda avg: pd.DataFrame(
        {"event_type": ["click"], "hour": ["2024-01-01 00"], "n_events": [len(values)],
         "avg_value": [avg]})
    return verify.events_hourly_problems(out(avg_spark), out(avg_oracle), events)


def test_events_hourly_check_accepts_only_rounding_ties():
    # mean 1.2345675 is halfway: either 6-place neighbour is right
    assert _hourly(1.234567, 1.234568, [1.23, 1.239135]) == ([], 1)
    assert _hourly(1.234567, 1.234567, [1.23, 1.239135]) == ([], 0)
    # mean 1.5 is no tie: a one-unit difference is a wrong value
    problems, ties = _hourly(1.5, 1.500001, [1.0, 2.0])
    assert problems and ties == 0
    # a tie, but a value two units off
    assert _hourly(1.234566, 1.234568, [1.23, 1.239135])[0]
