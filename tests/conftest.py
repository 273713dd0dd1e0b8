import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scidbgeo_spark.session import get_spark, stop_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("scidbgeo-tests", cores=8, shuffle_partitions=8)
    yield s
    # waits for the JVM, which writes the class archive when it is the
    # first: that must not outlive pytest
    stop_spark(s)


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT
