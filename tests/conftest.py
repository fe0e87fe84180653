import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from python_etl_rest_api_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", cpus="8")
    yield s


@pytest.fixture(scope="session")
def testdata(spark):
    from python_etl_rest_api_spark.sources import load_tables
    return load_tables(spark, SF_DIR)
