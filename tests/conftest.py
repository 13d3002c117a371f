from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from developing_img_etl_spark.session import get_spark
from developing_img_etl_spark.vendor import ensure_protobuf

# Install the vendored protobuf mini-runtime at collection time, before
# ANY test (or test-ordering plugin) can import a protobuf-dependent
# module: the pytest tier must certify exactly what the driver path
# ships (VERDICT r9 — the st7 test must never skip where driver_sim
# succeeds). The real package still wins when installed.
ensure_protobuf()

# Tests default to the smallest SF for speed; CI/driver can point at sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    # Tests that need the reference pipeline's own photo snapshot (they
    # skip without it); select or count them with `-m reference`.
    config.addinivalue_line(
        "markers", "reference: needs the reference pipeline's photo snapshot"
    )


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
