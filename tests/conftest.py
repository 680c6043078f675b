import os
import sys

import pytest

# this checkout's root, so a second clone tests its own package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from kinesis2elastic_spark.session import get_spark

    s = get_spark("k2e-tests", cpus=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "e2e: full-dataflow test against real local endpoints"
    )
