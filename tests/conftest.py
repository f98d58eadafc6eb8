import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
# local[N] sized to the host the tests run on
CORES = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


@pytest.fixture(scope="session")
def spark():
    from pdftabextract_spark.session import get_spark
    s = get_spark(app_name="pdftabextract-spark-tests", cores=CORES, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
