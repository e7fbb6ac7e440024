from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from x8313_etl_spark import audit  # noqa: E402
from x8313_etl_spark.session import get_spark  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("x8313-tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle_dir() -> str:
    return SF_ORACLE


@pytest.fixture(scope="session")
def cold_plans(spark, sf_dir):
    """The one cold-plan sweep every plan gate reads
    (tests/test_shuffle_audit.py, tests/test_scan_reexec.py):
    ``(plans, ledger)`` — each batch query's executed-plan string, or
    the exception its build raised, plus the materialization ledger as
    it stood at sweep end. The snapshot matters: a later module's
    ``clear_pool()`` forgets ledger keys before the ledger gates run."""
    plans = dict(audit.cold_plans(spark, sf_dir))
    return plans, audit.ledger()
