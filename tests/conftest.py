import os
import shutil
import tempfile

import pytest

from getl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("getl-spark-tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    yield s
    s.stop()


@pytest.fixture()
def tmp_warehouse():
    d = tempfile.mkdtemp(prefix="getl_wh_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
