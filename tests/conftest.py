from __future__ import annotations

import os

import pytest

from distributed_mapreduce_in_docker_rpyc_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark =get_spark("distributed_mapreduce_in_docker_rpyc_spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture
def reapplies_get_spark(spark):
    """For a test that calls ``get_spark`` again: the builder reapplies its
    confs to the shared session (AQE's initial partition count 32 instead of
    the 8 asked for above), so both partition counts are put back after it."""
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    yield saved
    for k, v in saved.items():
        spark.conf.set(k, v)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return SF_ORACLE
