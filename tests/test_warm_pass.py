"""A warm pass pays only for its own work: query builders launch no Spark
job once each table's schema is known (``sources.tables.parquet_schema``),
and a repeated query compiles no generated class again
(``session.CODEGEN_CACHE_ENTRIES``)."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from distributed_mapreduce_in_docker_rpyc_spark.registry import EAGER, QUERIES, load_all
from distributed_mapreduce_in_docker_rpyc_spark.session import CODEGEN_CACHE_ENTRIES
from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table

# Lazy (non-EAGER) builders that still launch a Spark job on every build,
# most of them a `.first()` or `.collect()` on a scalar aggregate that
# feeds a threshold into the plan.  A ratchet: shrink it as builders
# become lazy; a name added here needs a reason.
BUILD_TIME_JOBS = frozenset(
    {
        "q11_important_stock",
        "q15_top_supplier",
        "q22_global_sales_opportunity",
        "supplier_pareto",
        "part_price_histogram",
        "mv_incremental_daily_revenue",
        "mv_incremental_join_delta",
        "corpus_mixture_plan",
        "corpus_stratified_sample",
        "sim_topk_vectorized",
    }
)

# perfbench's headline_mix workload.
HEADLINE_MIX = (
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "window_running_sum",
    "dedup_exact",
    "sim_topk_lsh",
    "stream_tumbling_hourly",
)


def _jobs_launched(spark, group: str, fn) -> list[int]:
    """Ids of the Spark jobs that ``fn()`` launches from this thread."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_builders_launch_no_job(spark, sf_dir):
    load_all()
    lazy = [n for n in QUERIES if n not in EAGER]
    for name in lazy:
        QUERIES[name](spark, sf_dir)
    launched = set()
    for name in lazy:
        if _jobs_launched(spark, f"warm-build-{name}", lambda: QUERIES[name](spark, sf_dir)):
            launched.add(name)
    assert launched == BUILD_TIME_JOBS, (
        f"new build-time jobs: {sorted(launched - BUILD_TIME_JOBS)}; "
        f"builders now lazy: {sorted(BUILD_TIME_JOBS - launched)}"
    )


def test_warm_headline_pass_compiles_no_class(spark, sf_dir):
    """Spark's default codegen cache (100 classes) is smaller than the
    headline_mix working set (102 classes at sf0.01), so a warm pass
    recompiled about half of them; with the engine's cache size it
    compiles none."""
    load_all()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_pass():
        for name in HEADLINE_MIX:
            QUERIES[name](spark, sf_dir).collect()

    run_pass()
    before = compiles.getCount()
    run_pass()
    assert compiles.getCount() - before == 0
    conf = spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries")
    assert conf == str(CODEGEN_CACHE_ENTRIES)


def test_schema_memo_follows_a_rewritten_file(spark, sf_dir, tmp_path):
    # A file: URI, which os.stat cannot read but Hadoop's FileSystem can.
    local = tmp_path / "region.parquet"
    shutil.copy(os.path.join(sf_dir, "region.parquet"), local)
    sf_uri = f"file://{tmp_path}"
    before = load_table(spark, sf_uri, "region").columns
    assert not _jobs_launched(spark, "memo-unchanged", lambda: load_table(spark, sf_uri, "region"))

    table = pq.read_table(local)
    table = table.drop_columns([table.column_names[-1]]).append_column("added", pa.array([1] * table.num_rows))
    pq.write_table(table, local)
    after = load_table(spark, sf_uri, "region")
    assert after.columns == [*before[:-1], "added"]
    assert after.count() == table.num_rows
