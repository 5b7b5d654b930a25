"""Shared fixtures: one SparkSession per test session, fixture dirs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from export_oltp_to_olap_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"


# The session default heap (16g) is sized for a benchmark host; the
# fixtures are at most sf0.1 (17 MB), and an unbounded heap leaves no
# room for the DuckDB oracles and Python workers on a 16 GB machine.
TEST_DRIVER_MEMORY = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": TEST_DRIVER_MEMORY},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf0001():
    return SF0001


@pytest.fixture(scope="session")
def sf001():
    return SF001


@pytest.fixture(scope="session")
def sf01():
    return SF01
