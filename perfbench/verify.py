"""Output checks, run outside the clock on every op.

Each function returns a list of problems; an empty list means the op's
output is right.  They take plain pandas / dict inputs so the tests can
feed them deliberately wrong counts without a Spark session.
"""

from __future__ import annotations

from fractions import Fraction

import pandas as pd


def suite_problems(
    metrics: pd.DataFrame, violations: dict, drift: dict, expected: dict, threshold: float
) -> list[str]:
    """``run_suite`` output against the generator's planted defects.

    ``metrics``: the suite's metric rows; ``violations``: violation row
    count per check name; ``drift``: over the drift violation rows, the
    lowest ``loop_score`` (``min_score``), the rows without one
    (``null_scores``) and the rows in the drifted partition
    (``in_drifted``); ``expected``: the dict
    ``datagen_spark.generate_code_table_spark`` returns; ``threshold``:
    the Drift check's score threshold.  The facts are those
    ``tests/test_checks.py`` pins on the pandas twin of the table, less
    one: that the drifted partition has the highest drift violation
    rate does not hold for this generator at 30k-100k rows.
    """
    out = []

    def total(prefix: str) -> float:
        sel = metrics[metrics.check_name.str.startswith(prefix)]
        return float(sel.value.fillna(0).sum())

    def vcount(prefix: str) -> int:
        return sum(n for name, n in violations.items() if name.startswith(prefix))

    if total("unique") != expected["dup_extra_rows"]:
        out.append(f"uniqueness counted {total('unique')} duplicate rows, "
                   f"expected {expected['dup_extra_rows']}")
    if total("ref_integrity") != expected["orphan_rows"]:
        out.append(f"ref_integrity counted {total('ref_integrity')} orphans, "
                   f"expected {expected['orphan_rows']}")
    if vcount("ref_integrity") != expected["orphan_rows"]:
        out.append(f"ref_integrity emitted {vcount('ref_integrity')} violation rows, "
                   f"expected {expected['orphan_rows']}")
    null_lang = metrics[
        (metrics.check_name == "null_rate(lang)") & (metrics.partition_id == "lang=__null__")
    ]
    if len(null_lang) != 1 or null_lang.value.iloc[0] != 1.0:
        out.append("null_rate(lang) of partition lang=__null__ is not exactly 1.0")
    if total("sha256_invariant") != 0 or vcount("sha256_invariant") != 0:
        out.append("sha256_invariant flagged rows of an untampered table")
    rate = metrics[
        metrics.check_name.str.startswith("loop_drift") & (metrics.metric == "violation_rate")
    ]
    if rate.partition_id.nunique() != expected["partitions"]:
        out.append(f"drift rated {rate.partition_id.nunique()} partitions, "
                   f"expected {expected['partitions']}")
    if vcount("loop_drift") == 0 or drift["in_drifted"] == 0:
        out.append(f"drift flagged no row of {expected['drift_partition']}")
    if drift["null_scores"] or not drift["min_score"] > threshold:
        out.append(f"drift flagged a row scored {drift['min_score']} (threshold {threshold})")
    return out


def checkpoint_problems(first: dict, second: dict, partitions: int) -> list[str]:
    """A fresh checkpoint commits every partition; the rerun commits none."""
    out = []
    if first.get("total_partitions") != partitions or first.get("committed_now") != partitions:
        out.append(f"first call committed {first.get('committed_now')} of "
                   f"{first.get('total_partitions')} partitions, expected {partitions} of {partitions}")
    if second.get("committed_now") != 0 or second.get("skipped_committed") != partitions:
        out.append(f"resume committed {second.get('committed_now')} and skipped "
                   f"{second.get('skipped_committed')}, expected 0 and {partitions}")
    return out


def oracle_problems(results: dict, names) -> list[str]:
    """``tests/oracle_compare.compare_all`` results for the headline queries."""
    out = []
    for name in names:
        r = results.get(name)
        if r is None or r.get("mode") != "oracle":
            out.append(f"{name}: no oracle comparison")
        elif not r["ok"]:
            out.append(f"{name}: {r.get('detail', 'mismatch')}")
    return out


def events_hourly_problems(
    spark_out: pd.DataFrame, oracle_out: pd.DataFrame, events: pd.DataFrame, digits: int = 6
) -> tuple[list[str], int]:
    """``events_hourly`` against its DuckDB twin: exact, except at ties.

    The query rounds a double average to ``digits`` places.  Where the
    decimal mean of a group's values lies exactly halfway between two
    such numbers, the order of a double sum decides which one it rounds
    to, and Spark and DuckDB sum in different orders.  Those groups, and
    only those, accept either neighbour.  ``events`` holds the input rows
    with an ``hour`` column rendered like the query's.  Returns
    ``(problems, ties)``.
    """
    keys = ["event_type", "hour"]
    m = spark_out.merge(oracle_out, on=keys, how="outer", suffixes=("_s", "_o"), indicator=True)
    if (m["_merge"] != "both").any():
        return [f"events_hourly: {(m['_merge'] != 'both').sum()} groups in one result only"], 0
    problems = []
    if (m.n_events_s != m.n_events_o).any():
        problems.append(f"events_hourly: n_events differs in {(m.n_events_s != m.n_events_o).sum()} groups")
    ties = 0
    scale = 10**digits
    for r in m[m.avg_value_s != m.avg_value_o].itertuples():
        vals = events.value[(events.event_type == r.event_type) & (events.hour == r.hour)]
        # repr is the decimal a double was written as (2-decimal values)
        mean = sum(Fraction(repr(float(v))) for v in vals) / max(len(vals), 1)
        scaled = mean * scale
        lo = (scaled.numerator // scaled.denominator) / scale
        got = sorted((r.avg_value_s, r.avg_value_o))
        if (
            scaled.denominator == 2
            and abs(got[0] - lo) < 1e-12
            and abs(got[1] - (lo + 1 / scale)) < 1e-12
        ):
            ties += 1
        else:
            problems.append(
                f"events_hourly: avg_value {r.avg_value_s} vs oracle {r.avg_value_o} "
                f"at {r.event_type} {r.hour} (mean {float(mean)})"
            )
    return problems, ties
