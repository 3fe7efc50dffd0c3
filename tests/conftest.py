from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from opendosm_parquet_to_sqlite_spark.session import get_spark

    s = get_spark(app_name="pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s
