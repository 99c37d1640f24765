"""validate_job's session carries the engine's codegen-cache size.

Each case launches its own JVM through ``PYSPARK_SUBMIT_ARGS``, the way
spark-submit would, because the setting is static and the test session
has fixed it already.
"""

import os
import subprocess
import sys

from pynomaly_spark.session import _ENGINE_CONF

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
KEY = "spark.sql.codegen.cache.maxEntries"

_PROBE = (
    "from pynomaly_spark.jobs.validate_job import build_session\n"
    "s = build_session()\n"
    f"print('VALUE', s.conf.get({KEY!r}))\n"
    "s.stop()\n"
)


def _job_value(submit_args: str) -> str:
    env = dict(
        os.environ,
        PYSPARK_SUBMIT_ARGS=(
            "--master local[1] --driver-memory 512m "
            f"{submit_args} pyspark-shell"
        ),
    )
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    values = [ln.split()[1] for ln in out.stdout.splitlines() if ln.startswith("VALUE ")]
    assert len(values) == 1, out.stdout
    return values[0]


def test_job_session_takes_engine_codegen_cache_size():
    assert _job_value("") == _ENGINE_CONF[KEY]


def test_spark_submit_conf_wins_over_engine_default():
    assert _ENGINE_CONF[KEY] != "37"
    assert _job_value(f"--conf {KEY}=37") == "37"
