from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# tests time nothing — skip the one-time JVM warmup the session factory
# runs for measured/serving entry points
os.environ.setdefault("SPARK_GRAFT_SKIP_WARMUP", "1")

from mhealth_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mhealth_spark_tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()
