"""SparkSession factory with scale-aware defaults.

Local test posture: ``local[$SPARK_GRAFT_CPUS]`` (default all cores).
Cluster posture (100 TB): the same confs apply — AQE re-plans shuffle fan-out
at runtime, skew-join splits hot partitions, and 32 MB–128 MB input splits
keep scan tasks balanced (the reference hand-rolled exactly this with its
32 MB line-aligned chunks, reference coordinator/coordinator.py:57-89 —
Spark's ``spark.sql.files.maxPartitionBytes`` subsumes it).

Shuffle fan-out is split between batch and streaming:

- Batch: AQE starts every shuffle at
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` (32 by
  default) and coalesces small partitions at runtime.  While AQE and
  coalescing are on, Spark takes the initial number in place of
  ``spark.sql.shuffle.partitions``.
- Streaming: a streaming query turns AQE off in its cloned session, so its
  stateful operators take ``spark.sql.shuffle.partitions``, which is the
  session's core count.  Each state partition costs a state-store load and
  commit per micro-batch, so one per core keeps every core busy without
  paying that fixed cost 32 times per batch.

Codegen cache: Spark keeps the classes janino compiles for whole-stage
codegen and expressions in one JVM-wide cache, 100 entries by default.
The six headline_mix queries of ``perfbench`` generate 102 classes at
sf0.01 and the 16 ``bench.py`` HEADLINE queries 242–247 at sf0.1, so with
100 entries every warm pass evicted and recompiled classes it had compiled
before (47–48 per headline_mix pass, 235 per ``bench.py`` rep; 4 cores), and
the JVM's JIT then compiled the fresh classes again.  ``CODEGEN_CACHE_ENTRIES``
holds that working set several times over.  The conf is static: it takes
effect only in a session built here (or one whose builder sets it), so a
caller that builds its own session keeps Spark's 100.

JIT policy: the driver JVM (in local mode also the executor) starts with
``JIT_OPTIONS``, which raise HotSpot 17's four tier-4 (C2) thresholds to
10x their defaults.  Per-thread CPU of the six headline_mix queries at
sf0.01 (4 cores, HotSpot's default thresholds) put the C2 compiler threads
at 10.2 of the cold pass's 19.2 s and at about half of each warm pass
(3.8 of 7.1 s, 2.4 of 5.3 s): first-time C2 compiles of Catalyst,
analyzer, janino and Py4J methods whose counters crossed the default
thresholds a little further on every pass, not deoptimization churn.
Raised thresholds keep such plan-sized code in C1, while per-row and
per-batch loops still cross them within one data-sized query and reach
C2.  ``-XX:TieredStopAtLevel=1`` (C1 only) cuts the cold pass as well but
gives up C2 on the data path too: the word count's DataFrame top-20 and
JSON sink ran about twice as slow with it.  The conf is ``JIT_OPTIONS``
verbatim; ``SPARK_GRAFT_EXTRA_CONFS``, applied last, can replace it, and a
session built outside ``get_spark`` keeps HotSpot's defaults.  Cluster
executors run data-sized code, so ``spark.executor.extraJavaOptions`` is
left alone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Reference parity knobs (SURVEY.md §4): the only two physical-planning knobs the
# reference exposes are reduce fan-out (NUM_REDUCERS, coordinator/coordinator.py:11)
# and map split size (32 MB, coordinator/coordinator.py:57).  Both are config here,
# neither affects results.  The fan-out is AQE's initial batch partition count.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_MAX_PARTITION_BYTES = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728")
# spark.sql.codegen.cache.maxEntries: see the module docstring.
CODEGEN_CACHE_ENTRIES = 1000
# spark.driver.extraJavaOptions: HotSpot 17's four tier-4 (C2) thresholds at
# 10x their defaults; see "JIT policy" in the module docstring.
JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000"
    " -XX:Tier4CompileThreshold=150000 -XX:Tier4BackEdgeThreshold=400000"
)


def _default_driver_mem() -> str:
    """Half the RAM, capped at 48g (at least 2g): a larger heap outgrows a
    smaller box's RAM over a long session and the kernel OOM-kills the JVM."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return f"{min(48, max(2, ram_gb // 2))}g"


def get_spark(app_name: str = "distributed_mapreduce_in_docker_rpyc_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``shuffle_partitions`` (default ``SPARK_GRAFT_SHUFFLE_PARTITIONS``, 32)
    is AQE's initial batch partition count; ``spark.sql.shuffle.partitions``
    is set to the session's ``defaultParallelism`` (see the module
    docstring).  The driver heap is ``SPARK_GRAFT_DRIVER_MEM``, by default
    half the RAM capped at 48g.

    UTC session timezone is load-bearing: the DuckDB oracle compares timestamp
    values and DuckDB timestamps are UTC-naive.

    ``SPARK_GRAFT_EXTRA_CONFS`` (``key=value;key=value``) appends arbitrary
    build-time confs — measurement harnesses (event log), cluster posture
    overrides.  Applied last, so it can override any default here.
    Limitations (r11, ADVICE r10): ``;`` cannot appear inside a value (it is
    the entry separator), and an entry without ``=`` raises instead of
    silently setting the key to an empty string.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", DEFAULT_MAX_PARTITION_BYTES)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/sg-warehouse"))
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.extraJavaOptions", JIT_OPTIONS)
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long and convert at load (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    extra_keys = set()
    for kv in filter(None, extra.split(";")):
        k, sep, v = kv.partition("=")
        k = k.strip()
        if not sep or not k:
            raise ValueError(
                f"SPARK_GRAFT_EXTRA_CONFS entry {kv!r} is not key=value"
            )
        builder = builder.config(k, v.strip())
        extra_keys.add(k)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in extra_keys:
        # The core count is only known once the context exists (local[*]).
        spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    spark.sparkContext.setLogLevel("WARN")
    return spark
