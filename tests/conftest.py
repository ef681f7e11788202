import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The generated test data at three scale factors.
SF_DIRS = tuple(f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1"))
SF_SMOKE = SF_DIRS[0]


@pytest.fixture(scope="session")
def spark():
    from engine.session import build_session

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    spark = build_session(4, SF_SMOKE, app_name="tests")
    yield spark
    spark.stop()
