"""Driver-environment mirror: queries must be correct on a VANILLA session.

The grading driver owns its SparkSession and applies none of our
``get_spark`` configs. Round 2 lost four CORRECTNESS rows (t1, t3, w5,
f4) to exactly this gap: the fixtures' timestamp unit changed and the
bug only manifested under a default-config session. A truly default
session cannot be built inside the test JVM (getOrCreate returns the
already-configured one; newSession inherits its SparkConf), so the
check runs scripts/vanilla_check.py in a subprocess — same mechanism
as the driver invoking ``__spark_entry__`` in its own interpreter.
"""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_env_sensitive_queries_on_default_session(sf_oracle_dir):
    proc = subprocess.run(
        [sys.executable, os.path.join(_REPO, "scripts", "vanilla_check.py"), sf_oracle_dir],
        capture_output=True,
        text=True,
        timeout=900,
        cwd=_REPO,
    )
    assert proc.returncode == 0, f"vanilla-session check failed:\n{proc.stdout[-3000:]}\n{proc.stderr[-2000:]}"


def test_get_spark_puts_the_checkout_on_the_workers_path(spark):
    """``get_spark`` sessions hand Python workers the checkout root, so
    a script started outside the checkout can still import the package
    inside a UDF."""
    root = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert os.path.samefile(root, _REPO)
