import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))


@pytest.fixture(scope="session")
def spark():
    from gofias_spark.session import get_spark

    os.environ.setdefault("GOFIAS_DRIVER_MEM", "1g")
    s = get_spark("perfbench_tests", master="local[2]")
    yield s
    s.stop()
