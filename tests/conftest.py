from __future__ import annotations

import pytest

from database_query_processor_spark.cache import scope
from database_query_processor_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dqps-tests", driver_memory="16g")
    yield s
    s.stop()  # orderly JVM/temp-dir teardown instead of interpreter exit


@pytest.fixture(autouse=True)
def _cache_scope():
    """Each test releases what its operators persisted, so no later
    test runs warm on an earlier test's cached blocks."""
    with scope():
        yield
