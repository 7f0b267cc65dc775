from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trino_demo_spark.session import get_spark  # noqa: E402

from .oracle import duck_views  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_CORRECT = "/root/testdata/sf0.01"
# The parity/oracle gate runs at driver scale (sf0.01) by default so the
# advertised bit-exact check is what actually runs; unit/invariant tests
# stay on the smoke SF. SPARK_GRAFT_TEST_SF overrides both.
SF_PARITY = os.environ.get("SPARK_GRAFT_TEST_SF", SF_CORRECT)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="trino_demo_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck():
    """DuckDB oracle views over the parity-gate SF (sf0.01 unless
    overridden) — must match the SF the parity tests feed to Spark."""
    with duck_views(SF_PARITY) as con:
        yield con
