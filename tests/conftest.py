from __future__ import annotations

import os

import pytest

from apache_iceberg_demo_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # The engine's 48g driver-heap default lets G1 grow the one test JVM
    # past a 16 GB host's memory: measured 14-15 GB RSS during
    # test_llm_ops, then a kernel OOM kill that failed every later test.
    # The suite's live data needs a fraction of 8g; an explicit setting wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    s = get_spark("tests")
    yield s
