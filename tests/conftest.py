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
