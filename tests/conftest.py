from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from hadoop_ir_spark.session import get_spark

    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def testsh(tmp_path_factory):
    """(warc path, topics path): the test.sh inputs, generated by
    fixtures/testsh.py into a fresh directory."""
    from fixtures.testsh import write_testsh_fixture

    return write_testsh_fixture(str(tmp_path_factory.mktemp("testsh")))
