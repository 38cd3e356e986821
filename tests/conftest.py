from __future__ import annotations

import pytest

import gate
from kmeans_with_mapreduce_cuda_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the fixture tables registered as views,
    mirroring the driver's oracle setup."""
    con = gate.duck(SF_DIR)
    yield con
    con.close()
