"""Parquet star-schema loaders.

Columnar Parquet scans are the engine's default source: Catalyst pushes filters
(PushedFilters) and prunes columns (ReadSchema) into the scan, which at 100 TB
is the difference between reading terabytes and reading gigabytes.
The reference's only source is text files on a shared volume
(reference coordinator/coordinator.py:17-55; SURVEY.md §2.2 'Scans').

Schema memo: ``spark.read.parquet(path)`` with no schema launches one Spark
job to read the file's footer, on every call.  ``parquet_schema`` infers a
file's schema once per session and every read here passes it back through
``.schema(...)``, which launches no job.  The memo lives in the session's
shared memo (``operators/_shared.shared``), keyed by the path plus the
file's length and modification time as Hadoop's ``FileSystem`` reports
them, so a rewritten file is inferred afresh and any URI Spark can read
(not only a local path) can be keyed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import shared
from distributed_mapreduce_in_docker_rpyc_spark.schemas import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    session and per version of the file (see the module docstring)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    status = jpath.getFileSystem(spark._jsc.hadoopConfiguration()).getFileStatus(jpath)
    key = ("parquet_schema", path, status.getLen(), status.getModificationTime())
    return shared(spark, key, lambda: spark.read.parquet(path).schema)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Turn ``events.ts`` into a TIMESTAMP, whichever fixture generation
    wrote the file.

    Older files carry TIMESTAMP(NANOS), which arrives as bigint
    ns-since-epoch under ``nanosAsLong``: convert by integer µs division (a
    double divide would lose precision above 2^53 ns), which matches
    DuckDB's nanos→µs read.  Newer files carry TIMESTAMP_NTZ: cast it to
    TIMESTAMP (with local timezone).  The session timezone is pinned to UTC,
    so the cast preserves the values of the oracle's naive reading, and
    casts to bigint / unix_micros and watermarks all require LTZ."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLES)}")
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS); without this conf a plain
        # Spark session (e.g. the grading driver's) throws PARQUET_TYPE_ILLEGAL
        # before the query even starts.  Runtime-settable, so set it here at
        # the read site rather than only in our own session builder.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_events_ts(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in (names or list(TABLES))}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register each table as a temp view so operators can use spark.sql."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
