from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from mining_data_integration_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=4)
    yield s


@pytest.fixture
def jobs_of():
    """`jobs_of(fn) -> (result, n)`: fn run under a root span, n the
    Spark jobs in its run record (jobs that pool threads submit through
    `spans.inherit` included). The one job counter of the tests."""
    from mining_data_integration_spark import spans

    def run(fn):
        with spans.span("jobs_of") as s:
            out = fn()
        return out, len(s.record["spans"]["jobs"])
    return run
