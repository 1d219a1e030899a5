from __future__ import annotations

import os

import pytest

from distributed_mapreduce_in_docker_rpyc_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # The session's 48g default heap outgrows a smaller box's RAM over the
    # full suite and the kernel OOM-kills the JVM mid-run; cap it at half.
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(48, max(2, ram_gb // 2))}g")
    spark =get_spark("distributed_mapreduce_in_docker_rpyc_spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return SF_ORACLE
