"""The benchmark's workloads: closed loops with one client.

Each workload builds its input from the seed, then ``op()`` runs one unit
of work and returns ``(wall_s, problems)``: the wall time of the clocked
part and the output check's findings, taken after the clock stops and
before cached frames are released.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from harness import median, noop, tree_bytes
from metrics import HEADLINE
import verify

KNN_K = 10
KERNEL_GROUP_ROWS = 1000
KERNEL_GROUPS = 5


def _kernel_timings(sample: np.ndarray) -> dict:
    """Single-threaded driver timings of the LoOP kernel on groups of
    ``KERNEL_GROUP_ROWS`` rows cut from ``sample``."""
    from pynomaly_spark import kernel

    t_knn, t_loop, t_all = [], [], []
    n = min(KERNEL_GROUP_ROWS, len(sample))
    groups = [sample[i:i + n] for i in range(0, len(sample) - n + 1, n)]
    for pts in (groups * KERNEL_GROUPS)[:KERNEL_GROUPS]:
        t0 = time.perf_counter()
        d, ids = kernel.knn(pts, KNN_K)
        t1 = time.perf_counter()
        kernel.loop_from_knn(d, ids, KNN_K, extent=3)
        t2 = time.perf_counter()
        kernel.loop_scores(pts, KNN_K, extent=3)
        t3 = time.perf_counter()
        t_knn.append(t1 - t0)
        t_loop.append(t2 - t1)
        t_all.append(t3 - t2)
    return {
        "kernel.knn_ms_per_group": 1e3 * median(t_knn),
        "kernel.loop_from_knn_ms_per_group": 1e3 * median(t_loop),
        "kernel.loop_scores_ms_per_group": 1e3 * median(t_all),
        "kernel_group_rows": n,
    }


class Workload:
    """Shared drift/kernel measurement; subclasses supply the input."""

    name = ""
    why = ""
    # True when ``after_loop``'s check speaks for every op (one oracle
    # diff per process); False when it checks an op of its own
    CHECK_COVERS_ALL_OPS = False
    # untimed ops before the loop: op walls keep falling over the first
    # ops while caches fill and the JVM compiles the hot paths
    PRIME_OPS = 3

    def __init__(self, spark, tracer, work_dir: str, seed: int, timings: dict):
        self.spark = spark
        self.tracer = tracer
        self.work = work_dir
        self.seed = seed
        self.timings = timings
        self.values: dict = {}
        self.context: dict = {}  # extra facts for the run's context line

    def drift_features(self):
        """``(row_id, partition_id, features)`` of the workload's input."""
        raise NotImplementedError

    def reopen(self, spark) -> None:
        """Carry on in a new session (the input stays on disk)."""
        self.spark = spark

    def prime(self) -> list:
        """``PRIME_OPS`` untimed ops before the loop, checked like the others."""
        return [self.op() for _ in range(self.PRIME_OPS)]

    def measure_drift(self, cores: int) -> None:
        """Traced run only: ``checks.drift_scores`` on the workload's
        features, and the kernel on 1000-row groups sampled from them."""
        from pynomaly_spark.checks import Drift, drift_scores
        from pynomaly_spark.skew import with_salt

        feats = self.drift_features()
        chk = Drift()
        with self.tracer.layer("drift", "drift_scores", self.timings):
            scored = drift_scores(feats, chk, carry=())
            row = scored.agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.col("gated").cast("int")).alias("g")
            ).head()
        with self.tracer.group("verify"):
            groups = (
                with_salt(feats, chk.max_group_rows).select("partition_id", "salt").distinct().count()
            )
            biggest = feats.groupBy("partition_id").count().orderBy(F.desc("count")).head()[0]
            sample = np.array(
                [
                    r[0]
                    for r in feats.where(F.col("partition_id") == biggest)
                    .orderBy("row_id")
                    .select("features")
                    .limit(KERNEL_GROUP_ROWS * KERNEL_GROUPS)
                    .collect()
                ],
                dtype=np.float64,
            )
        kt = _kernel_timings(sample)
        score_s = self.timings["drift.drift_scores_s"][-1]
        # kernel core-seconds if every scored row sat in a group of the
        # sampled size, over the core-seconds the drift call had
        kernel_core_s = kt["kernel.loop_scores_ms_per_group"] / 1e3 * row["n"] / kt["kernel_group_rows"]
        self.values.update(
            {
                "drift.score_s": score_s,
                "drift.groups": groups,
                "drift.rows_scored": row["n"],
                "drift.gated_rows": row["g"] or 0,
                "drift.kernel_share": kernel_core_s / (score_s * cores),
                **{k: v for k, v in kt.items() if k.startswith("kernel.")},
            }
        )


class SuiteDefault(Workload):
    """``CheckSuite.default()`` + ``RowInvariant()`` over the code table."""

    name = "suite_default_30k"
    why = (
        "the north metric at 30k rows: default suite + RowInvariant, "
        "staged; drift/kernel gains show here (no scipy: the kernel's erf "
        "is np.vectorize(math.erf))"
    )
    ROWS = 30_000
    # six languages plus the NULL-lang partition (datagen_spark)
    PARTITIONS = 7

    def prepare(self) -> None:
        from pynomaly_spark.checks import CheckSuite, Drift, RowInvariant
        from pynomaly_spark.datagen_spark import write_code_table_spark

        self.data = os.path.join(self.work, "code_table")
        self.stage = os.path.join(self.work, "stage")
        os.makedirs(self.stage, exist_ok=True)
        with self.tracer.layer("datagen_spark", "write", self.timings):
            self.expected = write_code_table_spark(
                self.spark, self.data, self.ROWS, seed=self.seed
            )
        self.values["datagen_spark.write_s"] = median(self.timings.get("datagen_spark.write_s", []))
        self.reopen(self.spark)
        self.expected["partitions"] = self.PARTITIONS
        self.rows = self.expected["total_rows"]
        self.suite = CheckSuite.default()
        self.suite.checks.append(RowInvariant())
        self.drift_threshold = Drift().score_threshold
        self.constraints = CheckSuite(
            [c for c in CheckSuite.default().checks if not isinstance(c, Drift)]
        )

    def reopen(self, spark) -> None:
        self.spark = spark
        read = spark.read.parquet
        self.files = read(f"{self.data}/files.parquet")
        self.commits = read(f"{self.data}/commits.parquet")
        self.oracle = read(f"{self.data}/sha_oracle.parquet")

    def op(self):
        from pynomaly_spark.checks import run_suite

        t0 = time.perf_counter()
        with self.tracer.layer("checks", "run_suite", self.timings):
            res = run_suite(
                self.files, self.suite, commits=self.commits,
                sha_oracle=self.oracle, stage_dir=self.stage,
            )
        # the final fused pass; its few hundred rows come back to the
        # driver so the output check needs no second Spark job
        unified = res.unified()
        with self.tracer.layer("checks", "unified_collect", self.timings):
            rows = unified.collect()
        wall = time.perf_counter() - t0
        out = pd.DataFrame([r.asDict() for r in rows], columns=unified.columns)
        metrics = out[out.kind == "metric"]
        viol = out[out.kind == "violation"]
        drift = viol[viol.check_name.str.startswith("loop_drift")]
        problems = verify.suite_problems(
            metrics,
            viol.check_name.value_counts().to_dict(),
            {
                "min_score": drift.loop_score.min() if len(drift) else None,
                "null_scores": int(drift.loop_score.isna().sum()),
                "in_drifted": int((drift.partition_id == self.expected["drift_partition"]).sum()),
            },
            self.expected,
            self.drift_threshold,
        )
        self.values["checks.metric_rows"] = len(metrics)
        self.values["checks.violation_rows"] = len(viol)
        self.values["checks.stage_bytes"] = tree_bytes(self.stage)[0]
        res.unpersist()
        return wall, problems

    def after_loop(self, trace: bool):
        """Traced run only: one checkpoint pair with the constraints
        suite (no Drift), a fresh tree that must commit every partition,
        then a rerun that must commit none.  ``None`` when skipped."""
        from pynomaly_spark.checkpoint import CheckpointManager, validate_resumable

        if not trace:
            return None
        ckpt = os.path.join(self.work, "ckpt")
        kw = dict(commits=self.commits, sha_oracle=self.oracle, stage_dir=self.stage)
        with self.tracer.layer("checkpoint", "validate_resumable", self.timings):
            first = validate_resumable(self.spark, self.files, self.constraints, ckpt, **kw)
        with self.tracer.layer("checkpoint", "resume", self.timings):
            second = validate_resumable(self.spark, self.files, self.constraints, ckpt, **kw)
        written, n_files = tree_bytes(ckpt)
        self.values.update(
            {
                "checkpoint.validate_resumable_s": self.timings["checkpoint.validate_resumable_s"][-1],
                "checkpoint.resume_s": self.timings["checkpoint.resume_s"][-1],
                "checkpoint.bytes_written": written,
                "checkpoint.files_written": n_files,
                "checkpoint.manifests": len(CheckpointManager(ckpt).manifests()),
                "checkpoint.stored_bytes_per_input_byte": written
                / tree_bytes(f"{self.data}/files.parquet")[0],
            }
        )
        return verify.checkpoint_problems(first, second, self.PARTITIONS)

    def drift_features(self):
        from pynomaly_spark.checks import default_partition_expr, drift_features

        return self.files.where(F.col("content").isNotNull()).select(
            F.xxhash64("repo", "path", "commit").alias("row_id"),
            default_partition_expr().alias("partition_id"),
            drift_features("content").alias("features"),
        )

    def layer_values(self) -> dict:
        return {
            "checks.run_suite_s": median(self.timings.get("checks.run_suite_s", [])),
            "checks.unified_collect_s": median(self.timings.get("checks.unified_collect_s", [])),
        }


class RegistryHeadline(Workload):
    """One pass over the 12 ``bench.HEADLINE`` queries into the noop sink."""

    name = "registry_headline"
    why = (
        "the operator registry: the 12 bench.HEADLINE queries on seeded copies of the sf0.1 "
        "tables (measured shape, tables.py); checks and checkpoint idle, drift in 2 of 12"
    )
    CHECK_COVERS_ALL_OPS = True
    # the oracle pass, then one plain pass
    PRIME_OPS = 2

    def prepare(self) -> None:
        from tables import write_registry_tables

        self.data = os.path.join(self.work, "registry")
        write_registry_tables(self.data, self.seed)
        self.rows = sum(
            self.spark.read.parquet(f"{self.data}/{t}.parquet").count()
            for t in ("documents", "embeddings", "events", "lineitem", "orders", "customer")
        )
        # the seed draws the tables; the queries run in bench.HEADLINE's
        # order, the same sequence in every run
        self.order = list(HEADLINE)

    def op(self):
        from pynomaly_spark.queries import QUERIES

        problems = []
        t0 = time.perf_counter()
        for name in self.order:
            with self.tracer.layer("queries", name, self.timings):
                try:
                    noop(QUERIES[name](self.spark, self.data))
                except Exception as e:  # a failing query fails the op, the loop goes on
                    problems.append(f"{name}: {type(e).__name__}: {str(e)[:200]}")
        return time.perf_counter() - t0, problems

    def prime(self) -> list:
        """The first priming pass is the oracle diff: every headline query
        runs (collected instead of sunk) and is diffed against its DuckDB
        twin; the verdict covers every op of the process.  A plain pass
        follows: the first noop pass after the oracle pass is still slow."""
        from oracle_compare import compare_all

        t0 = time.perf_counter()
        self.context["events_hourly_rounding_ties"] = 0
        with self.tracer.group("verify"):
            res = compare_all(self.spark, self.data, names=list(HEADLINE))
            if not res["events_hourly"]["ok"]:
                res["events_hourly"] = self._events_hourly_with_ties()
        self.oracle_problems = verify.oracle_problems(res, HEADLINE)
        return [(time.perf_counter() - t0, [])] + [self.op() for _ in range(self.PRIME_OPS - 1)]

    def _events_hourly_with_ties(self) -> dict:
        """The ``events_hourly`` diff again, with rounding ties resolved
        from the input (``verify.events_hourly_problems``)."""
        import duckdb

        import __spark_entry__ as entry

        path = f"{self.data}/events.parquet"
        ours = entry.queries()["events_hourly"](self.spark, self.data).toPandas()
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        theirs = con.sql(entry.oracle_sql()["events_hourly"]).df()
        con.close()
        events = pd.read_parquet(path, columns=["ts", "event_type", "value"])
        events["hour"] = events.ts.dt.strftime("%Y-%m-%d %H")
        problems, ties = verify.events_hourly_problems(ours, theirs, events)
        self.context["events_hourly_rounding_ties"] = ties
        return {"mode": "oracle", "ok": not problems, "detail": "; ".join(problems)[:300]}

    def after_loop(self, trace: bool) -> list:
        return self.oracle_problems

    def drift_features(self):
        from pynomaly_spark.checks import drift_features

        return (
            self.spark.read.parquet(f"{self.data}/documents.parquet")
            .where(F.col("text").isNotNull())
            .select(
                F.col("doc_id").alias("row_id"),
                F.col("lang").alias("partition_id"),
                drift_features("text").alias("features"),
            )
        )

    def layer_values(self) -> dict:
        return {
            f"queries.{q}.wall_s": median(self.timings.get(f"queries.{q}_s", []))
            for q in HEADLINE
        }


WORKLOADS = {w.name: w for w in (SuiteDefault, RegistryHeadline)}
