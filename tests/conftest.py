import os
import sys
from contextlib import contextmanager

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


@contextmanager
def spark_conf(spark, confs):
    """Set the Spark confs `confs` ({key: value}) for the with-block, then
    restore each one's old value, or unset it if it had none."""
    old = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
