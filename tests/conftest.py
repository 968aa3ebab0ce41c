import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from pravega_flink_ai_flow_spark.engine.session import get_spark
    s = get_spark("pytest", master="local[4]")
    yield s
    s.stop()


@pytest.fixture()
def tmp_workdir(tmp_path):
    return str(tmp_path)
