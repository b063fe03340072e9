from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from de_project_airflow_etl_spark.session import get_spark  # noqa: E402

SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_CORRECTNESS


@pytest.fixture(scope="session")
def duck(sf_dir):
    from tests.harness import duck_connection
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.fixture
def release_caches(spark):
    """Drop every cached relation after the test. Modules whose queries
    persist() intermediates opt in with
    ``pytestmark = pytest.mark.usefixtures("release_caches")``."""
    yield
    spark.catalog.clearCache()
