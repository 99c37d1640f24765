"""Repeated plans reuse their generated code within one session.

Spark keeps compiled whole-stage-codegen classes in one JVM-wide LRU
cache.  One suite run generates about 118 distinct sources and one pass
of the 12 headline registry queries about 104, so a cache smaller than
their sum evicts the suite's classes between two suite runs and the
second run recompiles them all.  The engine session sizes the cache
above that working set (``session._ENGINE_CONF``).
"""

import os

import pytest

from bench import HEADLINE
from pynomaly_spark.checks import CheckSuite, RowInvariant, run_suite
from pynomaly_spark.datagen import CodeTableSpec, generate_code_table
from pynomaly_spark.queries import QUERIES
from test_entry_contract import SF

# AQE's runtime choices (join strategy, coalesced partition counts) can
# differ between two runs of the same plan and add a few fresh classes.
MAX_RECOMPILES = 8


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


@pytest.mark.skipif(not os.path.isdir(SF), reason="testdata missing")
def test_suite_reuses_generated_code_after_registry_pass(spark):
    files_pd, commits_pd, _ = generate_code_table(CodeTableSpec(n_rows=2000))
    oracle = spark.createDataFrame(
        files_pd[["repo", "path", "commit", "content_sha"]]
    )
    files = spark.createDataFrame(files_pd.drop(columns=["content_sha"]))
    commits = spark.createDataFrame(commits_pd)
    suite = CheckSuite(checks=CheckSuite.default().checks + [RowInvariant()])

    def suite_once():
        res = run_suite(files, suite, commits=commits, sha_oracle=oracle)
        rows = res.unified().collect()
        res.unpersist()
        return rows

    first = suite_once()
    # ~100 more generated sources: enough to push the suite's classes
    # out of Spark's default 100-entry cache
    for name in HEADLINE:
        QUERIES[name](spark, SF).write.mode("overwrite").format("noop").save()

    before = _compilations(spark)
    again = suite_once()
    recompiled = _compilations(spark) - before

    assert len(again) == len(first)
    assert recompiled <= MAX_RECOMPILES, (
        f"second suite run compiled {recompiled} classes; generated code "
        "is being evicted between runs"
    )
