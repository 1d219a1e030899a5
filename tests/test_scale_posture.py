"""Scale-posture tests: bucketed co-located joins and task-retry fault
tolerance (SURVEY.md §5 — one smoke test with an injected failing task;
Spark's own guarantees do the rest)."""

from __future__ import annotations

import pytest

import subprocess
import sys
import textwrap
import uuid

from pyspark.sql import functions as F

from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Pre-bucketing both fact tables on the join key makes the join
    shuffle-free — the 100 TB answer to repeated fact-fact joins. Assert the
    physical plan contains no Exchange (vs 2 for the plain join)."""
    suffix = uuid.uuid4().hex[:8]
    li, o = f"li_b_{suffix}", f"o_b_{suffix}"
    load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity").write.bucketBy(
        8, "l_orderkey"
    ).sortBy("l_orderkey").mode("overwrite").saveAsTable(li)
    load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus").write.bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").mode("overwrite").saveAsTable(o)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Disable broadcast so the planner must choose between shuffling and
        # the bucket layout — with both sides bucketed on the key it picks a
        # shuffle-free sort-merge join.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(li).join(
            spark.table(o), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {li}")
        spark.sql(f"DROP TABLE IF EXISTS {o}")


def test_task_retry_recovers_injected_failure():
    """A task that fails on its first attempt must be retried and succeed
    (reference semantics: timeout + reassignment, reference
    coordinator/coordinator.py:162-185 → spark.task.maxFailures). Needs a
    retry-enabled master (local[2,2]), so it runs in its own JVM."""
    script = textwrap.dedent(
        """
        from pyspark.sql import SparkSession
        from pyspark import TaskContext

        spark = (
            SparkSession.builder.master("local[2,2]")
            .appName("retry-smoke").config("spark.ui.enabled", "false")
            .getOrCreate()
        )

        def flaky(it):
            tc = TaskContext.get()
            if tc.partitionId() == 0 and tc.attemptNumber() == 0:
                raise RuntimeError("injected failure, first attempt")
            return it

        total = spark.sparkContext.parallelize(range(1000), 4).mapPartitions(flaky).sum()
        assert total == 499500, total
        print("RETRY_OK")
        spark.stop()
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    assert "RETRY_OK" in out.stdout, out.stderr[-2000:]


def test_partitioned_sink_prunes_on_read(spark, sf_dir, tmp_path):
    """Partition layout must reach the read plan: filtering on the partition
    column shows PartitionFilters and scans only matching directories."""
    from distributed_mapreduce_in_docker_rpyc_spark.sources import sinks

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_type")
    sinks.write_partitioned(ev, path, ["event_type"], sort_cols=["ts"])

    back = sinks.read_table(spark, path)
    assert back.count() == ev.count()

    filtered = back.filter(F.col("event_type") == "purchase")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert filtered.count() == ev.filter(F.col("event_type") == "purchase").count()


def test_plan_regression_guard(spark):
    """Physical-plan contract for the headline join queries at sf0.001:
    every dim join broadcasts (no sort-merge join anywhere), filters are
    pushed to the parquet scans, and scans read only referenced columns.
    Catches silent plan regressions (e.g. a lost broadcast hint or a filter
    that stopped folding) that correctness tests cannot see."""
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in ["q3_shipping_priority", "q5_local_supplier_volume", "q7_volume_shipping", "q8_market_share"]:
        plan = QUERIES[name](spark, sf)._jdf.queryExecution().explainString(mode)
        assert "SortMergeJoin" not in plan, f"{name}: unexpected SortMergeJoin"
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"
        assert "PushedFilters: [" in plan, f"{name}: no pushed filters"
        # lineitem scans must be pruned: never read all 11 columns
        for line in plan.splitlines():
            if "ReadSchema" in line and "l_orderkey" in line:
                assert line.count(",") < 8, f"{name}: lineitem scan not pruned: {line}"


def test_small_file_compaction(spark, sf_dir, tmp_path):
    """The small-files problem and its fix: a 64-way fragmented write is
    compacted to a handful of right-sized files with identical contents —
    the maintenance job every 100 TB table needs."""
    import glob

    ev = load_table(spark, sf_dir, "events")
    frag = str(tmp_path / "fragmented")
    ev.repartition(64).write.parquet(frag)
    assert len(glob.glob(f"{frag}/part-*.parquet")) == 64

    compact = str(tmp_path / "compacted")
    spark.read.parquet(frag).coalesce(2).write.parquet(compact)
    assert len(glob.glob(f"{compact}/part-*.parquet")) == 2
    a = spark.read.parquet(frag).groupBy("event_type").count()
    b = spark.read.parquet(compact).groupBy("event_type").count()
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_schema_evolution_merge(spark, tmp_path):
    """Additive schema evolution: an old-schema partition and a new-schema
    partition read together with mergeSchema; missing columns are null, not
    errors."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "name"]).write.parquet(f"{path}/batch=1")
    spark.createDataFrame([(2, "b", 9.5)], ["id", "name", "score"]).write.parquet(
        f"{path}/batch=2"
    )
    df = spark.read.option("mergeSchema", True).parquet(path)
    rows = {(r["id"], r["name"], r["score"]) for r in df.collect()}
    assert rows == {(1, "a", None), (2, "b", 9.5)}


def test_extended_operator_plan_guard(spark):
    """Shape contracts for the custom operators: the as-of join and binned
    interval join must never plan a nested-loop/cartesian join (that is the
    naive formulation they exist to avoid), and the as-of join needs no
    join operator at all (union + window)."""
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    for name in ["asof_purchase_click", "interval_join_error_window", "dedup_minhash_lsh"]:
        plan = QUERIES[name](spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
    asof_plan = (
        QUERIES["asof_purchase_click"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in asof_plan  # union-and-carry: window, not a join
    assert "Window" in asof_plan and "Union" in asof_plan


def test_bench_headline_names_exist():
    """bench.py must never reference a renamed/removed query."""
    import bench
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, missing


def test_global_sort_uses_range_partitioning(spark, sf_dir):
    """A full global sort must compile to Exchange rangepartitioning (sampled
    range boundaries, each partition sorted AND globally ordered across
    partition ids) — never a single-partition sort."""
    try:
        # the fixture is tiny; stop AQE from coalescing the range exchange
        # to one partition so the distributed property is observable
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        o = load_table(spark, sf_dir, "orders").orderBy("o_totalprice")
        plan = o._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" in plan

        parts = o.select("o_totalprice", F.spark_partition_id().alias("pid"))
        bounds = (
            parts.groupBy("pid")
            .agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
            .orderBy("pid")
            .collect()
        )
        assert len(bounds) > 1  # actually distributed
        for prev, nxt in zip(bounds, bounds[1:]):
            assert prev["hi"] <= nxt["lo"]
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")


def test_multi_dim_partitioned_write_prunes_both_dims(spark, sf_dir, tmp_path):
    """Two-level partition layout (event_type / day): a predicate on BOTH
    dims must prune to exactly one leaf directory — the layout a 100 TB
    event table actually ships with (coarse type × date)."""
    import glob

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "events_2d")
    ev.write.partitionBy("event_type", "day").parquet(path)
    leaves = glob.glob(f"{path}/event_type=*/day=*")
    assert len(leaves) > 10  # genuinely multi-dimensional

    back = spark.read.parquet(path)
    one_day = ev.select(F.max(F.to_date("ts"))).first()[0]
    q = back.filter((F.col("event_type") == "purchase") & (F.col("day") == F.lit(one_day)))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert "isnotnull(day" in plan
    want = ev.filter((F.col("event_type") == "purchase") & (F.col("day") == F.lit(one_day))).count()
    assert q.count() == want > 0


def test_extra_confs_override_both_shuffle_partition_settings(spark, reapplies_get_spark, monkeypatch):
    """``get_spark`` sets ``spark.sql.shuffle.partitions`` to the core count
    and AQE's initial partition count to ``shuffle_partitions``; an entry in
    ``SPARK_GRAFT_EXTRA_CONFS`` overrides either (the builder applies its
    confs to the reused test session)."""
    from distributed_mapreduce_in_docker_rpyc_spark.session import get_spark

    shuffle, initial = reapplies_get_spark
    assert reapplies_get_spark == {shuffle: str(spark.sparkContext.defaultParallelism), initial: "8"}
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONFS", f"{shuffle}=3;{initial}=5")
    assert get_spark("distributed_mapreduce_in_docker_rpyc_spark-tests", shuffle_partitions=8) is spark
    assert {k: spark.conf.get(k) for k in (shuffle, initial)} == {shuffle: "3", initial: "5"}


def test_driver_jvm_takes_the_jit_policy(spark):
    """``get_spark`` starts the driver JVM with ``session.JIT_OPTIONS``: the
    running JVM's input arguments hold every flag of it, and the session's
    conf carries it as ``spark.driver.extraJavaOptions``.  The context's
    copy of that conf ends with it: SparkContext puts Spark's own
    ``--add-opens`` module options in front."""
    from distributed_mapreduce_in_docker_rpyc_spark import session

    key = "spark.driver.extraJavaOptions"
    jvm = spark.sparkContext._jvm
    args = set(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert set(session.JIT_OPTIONS.split()) <= args, sorted(args)
    assert spark.conf.get(key) == session.JIT_OPTIONS
    assert spark.sparkContext.getConf().get(key).endswith(" " + session.JIT_OPTIONS)


def test_runtime_bloom_filter_prunes_join_probe(spark, sf_dir, tmp_path):
    """Runtime row-level filtering: with a selective build side, Spark
    injects a bloom filter (might_contain) on the probe side so the big
    table's shuffle drops non-joining rows early — the AQE-era answer to
    semi-join pushdown at 100 TB."""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force shuffle join
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
        j = li.join(o, li.l_orderkey == o.o_orderkey).select("l_orderkey", "l_quantity")
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan or "might_contain" in plan, plan[:2000]
        assert j.count() > 0
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


@pytest.mark.slow  # full-fleet sweep (~3 min); default run deselects, see pytest.ini
def test_plan_features_match_golden(spark):
    """Fleet-wide plan-regression guard: every plan-stable query's physical
    plan features (join strategies, shuffle count, Python eval nodes,
    pushed-filter scans) must match PLAN_FEATURES.json.  A lost broadcast, a
    new shuffle, or a pushdown that stopped reaching the scan fails HERE
    instead of shipping as a silent 100 TB regression.  After an intentional
    plan change: `python scripts/gen_plan_features.py` and commit the diff."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    import gen_plan_features as gpf

    with open(gpf.GOLDEN_PATH) as f:
        golden = json.load(f)
    got = gpf.compute_all(spark)
    assert set(got) == set(golden), (
        f"query set drifted: +{sorted(set(got) - set(golden))} "
        f"-{sorted(set(golden) - set(got))} — regenerate the golden"
    )
    diffs = {
        name: {k: (golden[name][k], feats[k]) for k in feats if feats[k] != golden[name][k]}
        for name, feats in got.items()
        if feats != golden[name]
    }
    assert not diffs, f"plan features drifted (golden, current): {diffs}"


def test_coverage_md_matches_registry():
    """COVERAGE.md is generated from the registry; a query added or removed
    without `python scripts/gen_coverage.py` fails here.  No Spark session:
    loading the registry only imports the operator modules."""
    import os
    import re

    from distributed_mapreduce_in_docker_rpyc_spark import registry

    registry.load_all()
    with open(os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md"), encoding="utf-8") as f:
        text = f.read()
    listed = re.findall(r"^\| `([^`]+)` \|", text, flags=re.M)
    assert sorted(listed) == sorted(registry.QUERIES)
    header = f"{len(registry.QUERIES)} queries, {len(registry.ORACLES)} oracle-checked."
    assert header in text.splitlines()


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE's skew-join split — the runtime answer to the hot-key join that
    salting handles manually (functions/skew.py): a 90%-hot key must get its
    sort-merge partition split (SortMergeJoin(skew=true) in the FINAL
    adaptive plan), and the result must equal the plain join.

    Two operational facts this test pins (both bit in practice at scale):
    the split only appears in the final executed plan of the SAME
    QueryExecution that ran (re-planning fresh shows the static guess), and
    AQE vetoes the split when the join feeds a same-key downstream shuffle
    whose partitioning reuse it would break (then you need
    forceOptimizeSkewedJoin or salting) — so the asserted join is terminal."""
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        # Fixture-sized thresholds (defaults are 256MB-scale)
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        fact = spark.range(300000).select(
            F.when((F.col("id") % 10) < 9, F.lit(0)).otherwise(F.col("id") % 1000).alias("k"),
            (F.col("id") * 7 % 100).alias("v"),
        )
        dim = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("w"))
        j = fact.join(dim, "k")
        n = len(j.collect())
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
        assert n == 300000  # split changed the partitioning, not the result
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_cbo_uses_table_stats_for_broadcast(spark, sf_dir, tmp_path):
    """Cost-based optimization from ANALYZE statistics: with hints disabled
    and accurate row/size stats in the catalog, the optimizer broadcasts
    the small catalog table on its own — the stats-driven planning a
    warehouse relies on instead of per-query hints."""
    spark.conf.set("spark.sql.cbo.enabled", "true")
    db_tbls = []
    try:
        for name in ("nation", "customer"):
            tbl = f"cbo_{name}"
            load_table(spark, sf_dir, name).write.mode("overwrite").saveAsTable(tbl)
            spark.sql(f"ANALYZE TABLE {tbl} COMPUTE STATISTICS")
            db_tbls.append(tbl)
        stats = spark.sql("DESC EXTENDED cbo_nation").filter("col_name = 'Statistics'").collect()
        assert stats and "rows" in stats[0][1]  # stats actually recorded
        j = spark.table("cbo_customer").join(
            spark.table("cbo_nation"),
            spark.table("cbo_customer").c_nationkey == spark.table("cbo_nation").n_nationkey,
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan  # chosen from stats, no hint anywhere
    finally:
        for tbl in db_tbls:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.conf.set("spark.sql.cbo.enabled", "false")


# Queries allowed to plan a BroadcastNestedLoopJoin — each one broadcasts a
# PROVABLY TINY side (scalar aggregate, parameter-sized probe/spine set), so
# the nested loop is a linear scan against a constant-size build side, not a
# pair explosion.  Anything NOT listed here that plans a BNLJ (e.g. an
# all-pairs self-join that AQE demoted from hash join) fails the guard.
BNLJ_ALLOWED = {
    "sim_topk_bruteforce": "documented exact baseline; broadcast side = 5 query vectors",
    "sim_ann_recall_report": "recall report re-uses the exact baseline as ground truth",
    "sim_quantized_recall": "quantization recall report re-uses the exact baseline as ground truth",
    "sim_lsh_recall": "hash-checked LSH recall re-uses the exact baseline (broadcast 5-query side)",
    "sim_topk_ivf": "broadcast side = 16 deterministic Lloyd centroids (constant in corpus size)",
    "events_funnel": "scalar funnel-stage counts crossed into one 1-row result",
    "events_active_users_7d": "broadcast day-spine range join; spine = distinct days",
    "dq_join_key_skew": "broadcast side = 1-row global mean frequency",
    "scalar_subquery_above_avg": "broadcast side = 1-row scalar subquery (global avg)",
    "winsorized_prices": "broadcast side = 1-row percentile bounds",
    "text_bm25_search": "broadcast side = 1-row (n_docs, avgdl) corpus stats",
    "hybrid_search_rrf": "fuses the BM25 (1-row stats) and exact-baseline (1 query vector) runs",
    "ts_interpolate_daily": "broadcast side = 5 distinct priorities crossed into the O(days) spine",
    "corpus_temperature_mixture": "broadcast side = 1-row corpus totals (sum chars, sum pow)",
    "text_collocations_pmi": "broadcast side = 1-row (n_uni, n_bg) corpus totals",
    "text_unigram_logprob": "broadcast side = 1-row corpus token total",
    "text_length_outliers_mad": "broadcast side = 1-row median and 1-row MAD",
    "stream_watermark_finalize": "feed builder crosses in a 1-row max-timestamp frame",
    "target_encode_brand": "broadcast side = 1-row global prior mean",
    "target_encode_kfold": "broadcast side = 1-row global prior mean",
    "ab_test_conversion": "broadcast side = 1-row pooled totals",
    "token_label_mi": "broadcast sides = label marginals (<= n_labels rows) and 1-row corpus total",
    "naive_bayes_langid": "broadcast sides = per-class token totals (<= n_labels rows) and 1-row vocab size",
    "logreg_gradient_descent": "broadcast side = 1-row model-state frame (3 coefficients) per GD step",
    "basket_association_rules": "broadcast side = 1-row corpus order total",
    "events_sequence_loglik": "broadcast sides = 1-row event-type count and the <= K^2-row transition model",
    "bootstrap_mean_ci": "broadcast sides = 1-row center/spread/base scalar aggregates (three crossJoins)",
    "stat_ks_test": "broadcast side = 1-row group totals (n1, n2) crossed into the distinct-value grid",
    "sim_ann_join_recall_report": "recall report re-uses the exact cross-slice baseline (broadcast incoming-batch slice)",
    "sim_auto_k_recall_report": "auto-k recall report re-uses the exact cross-slice baseline (broadcast incoming-batch slice)",
    "dataset_fingerprint_incremental": "broadcast sides = two 1-row aggregate frames (delta sums and recompute arm) crossed into the 1-row base frame",
    "dataloader_shard_plan": "broadcast side = the 1-row corpus token total crossed into the 16-row shard frame",
    "ann_join_ivf": "broadcast side = 16 deterministic Lloyd centroids (constant in corpus size, same pattern as sim_topk_ivf)",
    "events_bandit_ucb": "broadcast side = 1-row total pull count crossed into the O(arms) frame",
    "stat_dunn_posthoc": "pairwise stage self-joins the k-row group frame (k = 5 priorities) + 1-row totals cross",
    "knn_label_vote": "broadcast side = constant 50-vector held-out probe set (same pattern as sim_topk_bruteforce)",
    "bloom_filter_probe": "broadcast sides = 3-row hash-index spine and two 1-row count frames; the bit set itself is a bounded-65536-row broadcast equi-join",
    "tfidf_cosine_pairs": "broadcast side = 1-row corpus count (idf quantization input)",
    "dq_benford_leading_digit": "broadcast side = 1-row global digit total crossed into the 9-digit frame",
    "emb_matryoshka_recall": "both arms re-use the exact baseline (broadcast 50-query side), 64-dim truth vs 16-dim truncated",
    "bitmap_index_intersection": "broadcast side = 1-row direct-scan counts crossed into the 1-row bitmap counts (self-certifying output)",
    "text_bigram_lm_score": "broadcast side = 1-row vocabulary size (Laplace denominator)",
    "sim_kmeans_report": "broadcast side = 16 deterministic Lloyd centroids (same index as sim_topk_ivf)",
    "dedup_semdedup_report": "broadcast side = 16 deterministic Lloyd centroids (same index as sim_topk_ivf); the pairwise step itself is a cluster-id equi-join",
    "dedup_semdedup_survivors": "broadcast side = 16 deterministic Lloyd centroids (same index as sim_topk_ivf); the pairwise step itself is a cluster-id equi-join",
    "kmv_type_intersection": "broadcast sides = three 1-row KMV estimate frames crossed into the exact counts",
    "dedup_lsh_tuning_report": "broadcast sides = per-config 1-row true-pair count frames crossed into the 1-row candidate counts",
    "text_chi2_keyness": "broadcast side = 1-row corpus-half token totals",
    "survival_kaplan_meier": "broadcast side = 1-row observation-horizon (max ts) frame",
    "ams_f2_sketch": "broadcast side = 1-row median-of-means estimate crossed into the 1-row exact count",
    "dq_psi_drift": "broadcast side = 1-row global (date, value) min/max bounds frame",
    "corpus_js_divergence": "broadcast sides = distinct language codes (bounded inventory) and 1-row reference token total",
    "conformal_interval_coverage": "broadcast sides = 5-row per-priority train means and 1-row conformal radius",
    "emb_silhouette": "broadcast side = 16 deterministic Lloyd centroids (same index as sim_topk_ivf)",
    "stat_mann_kendall": "broadcast sides = 1-row day-count and 1-row tie-adjustment scalar aggregates",
    "stat_chisq_independence": "broadcast side = distinct priority margins (|prio| rows) crossed into the |seg|-row margin frame to build the contingency spine",
    "stat_kruskal_wallis": "broadcast side = 1-row tie-adjustment scalar crossed into the 1-row rank-sum reduce",
    "dq_t_closeness": "broadcast sides = sensitive-band margins (|bands| rows) and the 1-row total crossed into the |classes|-row margin frame to build the closeness spine",
    "sim_mmr_diversify": "re-uses the exact baseline (broadcast 5-query side); every MMR frame after candidate generation is a <= nq*k^2-row broadcast",
    "emb_pq_codebook": "broadcast side = 8 deterministic Lloyd centroids per 16-dim subspace (same ivf_index assignment pattern as sim_topk_ivf)",
    "dq_freshness_lag_report": "broadcast side = 1-row fleet-wide newest-mark frame crossed into the 3-row table-marks frame",
    "stat_permutation_test": "broadcast sides = 1-row calendar midpoint, the 64-row replicate index over the calendar-bounded daily frame, and the 1-row observed statistic",
    "stat_bh_fdr_report": "broadcast side = |sources|-row count frame crossed into the pooled distinct-value grid (the complete-ECDF spine)",
    "events_did_analysis": "broadcast side = 1-row midpoint-epoch threshold",
    "search_ndcg_report": "re-uses the exact baseline (broadcast 5-query side, same pattern as sim_ann_recall_report)",
    "events_session_gap_sensitivity": "broadcast side = 1-row session-start counts crossed into the 3-row gap spine",
    "stat_mcnemar_test": "broadcast side = 1-row midpoint-epoch threshold (same pattern as events_did_analysis)",
    "feature_woe_iv": "broadcast side = 1-row global event/non-event totals crossed into the 10-band frame",
    "negative_sampling_plan": "broadcast side = 1-row total-weight scalar crossed into the bounded draw range",
    "dq_contract_validation": "broadcast side = 1-row orphan count crossed into the 1-row checked-count frame",
    "sim_pq_adc_topk": "broadcast sides = 96-row ADC distance tables and the 32-row codebook (same training broadcast as emb_pq_codebook)",
    "contrastive_pair_mining": "broadcast side = 3 anchor vectors (same pattern as sim_topk_bruteforce)",
    "storage_zorder_cluster": "broadcast side = 1-row global zmax (range-relative band split)",
    "forecast_mase_backtest": "broadcast sides = 1-row train mean and 1-row MASE scale crossed into day-count-sized reduces",
    "stat_sprt_sequential": "broadcast sides = 1-row final-LLR and 1-row decision-day frames crossed into the 1-row day count",
    "corpus_importance_resample": "broadcast side = 1-row corpus totals crossed into the |langs|-row weight table",
    "sim_multiprobe_recall_report": "multiprobe recall report re-uses the exact cross-slice baseline (broadcast incoming-batch slice) + a 1-row candidate-count frame",
    "sim_directed_probe_recall_report": "directed-probe recall report re-uses the exact cross-slice baseline (broadcast incoming-batch slice) + a 1-row candidate-count frame",
}


@pytest.mark.slow  # full-fleet sweep (~4 min); default run deselects, see pytest.ini
def test_no_query_plans_cartesian_or_row_python(spark):
    """Fleet-wide plan guard: NO registered query may plan a
    CartesianProduct, a row-at-a-time Python eval (BatchEvalPython), or an
    unvetted BroadcastNestedLoopJoin — the quiet killers at 100 TB.
    Python is allowed only Arrow-batched (ArrowEvalPython /
    ArrowEvalPythonUDTF / mapInPandas / mapInArrow / FlatMapGroupsInPandas); BNLJ is
    allowed only for the named tiny-broadcast patterns in BNLJ_ALLOWED."""
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in QUERIES.items():
        plan = fn(spark, sf)._jdf.queryExecution().executedPlan().toString()
        hits = [m for m in ("CartesianProduct", "BatchEvalPython") if m in plan]
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            hits.append("BroadcastNestedLoopJoin")
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_concurrent_queries_share_one_session(spark, sf_dir):
    """Multi-tenant posture: one SparkSession serving many simultaneous
    queries (the thin-server shape a shared engine runs as).  Eight distinct
    registered queries execute concurrently from worker threads — Spark
    schedules jobs from any thread against the shared context — and each
    must return exactly what it returns when run alone: no cross-query
    interference via session-scoped state (the memoized frames in
    operators/_shared.py are the risk surface this pins)."""
    import concurrent.futures

    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    names = [
        "q1_pricing_summary",
        "q6_forecast_revenue",
        "dedup_exact",
        "wordcount_top20",
        "text_stats",
        "events_top_users",
        "join_semi",
        "agg_stats",
    ]

    def run(name):
        return {tuple(r) for r in QUERIES[name](spark, sf_dir).collect()}

    solo = {n: run(n) for n in names}
    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as pool:
        futs = {n: pool.submit(run, n) for n in names}
        concurrent = {n: f.result(timeout=300) for n, f in futs.items()}
    assert concurrent == solo


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark):
    """100 TB posture: when a selective dimension side feeds a shuffle join,
    Spark's runtime bloom filter must inject a ``might_contain`` pre-filter
    on the fact-side scan (rows that cannot join die before the exchange).
    The thresholds are tuned here because the test tables are tiny; at real
    scale the defaults (10 MB creation / 10 GB application) engage on their
    own.  Broadcast joins don't need the filter, so broadcast is disabled
    for the probe."""
    from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        sf = "/root/testdata/sf0.001"
        o = (
            load_table(spark, sf, "orders")
            .where(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
        plan = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_bucketed_query_joins_without_exchange(spark, sf_dir):
    """The registered bucketed_join_colocated query (vs the synthetic
    layout test above): its sort-merge join must consume the bucketed,
    pre-sorted scans directly — the plan's ONLY exchange is the final
    5-group aggregate's, and no Sort node exists below the join."""
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    df = QUERIES["bucketed_join_colocated"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "BroadcastHashJoin" not in plan, plan
    # the one exchange must be the aggregate's (priority key), not a join
    # input: it hashes o_orderpriority, never the orderkey
    ex_line = next(ln for ln in plan.splitlines() if "Exchange" in ln)
    assert "o_orderpriority" in ex_line, plan
    assert "orderkey" not in ex_line, plan
    # (a LOCAL in-partition Sort below the join remains: Spark >= 3.0
    # dropped bucketed scans' output-ordering guarantee, SPARK-28632 — the
    # sort is linear per co-located bucket, never a shuffle)
    assert "Bucketed: true" in plan, plan
    assert "SelectedBucketsCount: 8 out of 8" in plan, plan


def test_shared_frame_memo_stays_bounded(spark, sf_dir):
    """VERDICT r10 #6: the session-shared persisted frames (operators/_shared)
    must stay bounded — one memo entry per distinct (builder, params) key,
    NOT one per query invocation — and persist at MEMORY_AND_DISK so a
    memory-pressured session spills instead of silently recomputing.  Runs a
    repeated mix of memo-consuming queries and asserts the memo count is
    identical after the second pass (re-invocation adds nothing).

    Spark's CacheManager lives in SharedState (shared by every session of
    the context) and keeps an identical plan at the level it was FIRST
    cached at, so the test starts from an empty cache and an empty memo:
    the memo's own persist is then the first cache of those plans, whatever
    ran earlier in the session."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import (
        _MEMO_ATTR,
        shared_frame_count,
    )
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    spark.catalog.clearCache()
    if hasattr(spark, _MEMO_ATTR):
        delattr(spark, _MEMO_ATTR)
    names = ["sim_topk_lsh", "dedup_minhash_lsh", "sim_cosine_pairs"]
    for name in names:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    count_after_first = shared_frame_count(spark)
    assert count_after_first >= 1  # the mix does exercise the memo
    for _ in range(2):
        for name in names:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    assert shared_frame_count(spark) == count_after_first
    # storage level: every memoized DataFrame is MEMORY_AND_DISK
    from pyspark.sql import DataFrame
    from pyspark.storagelevel import StorageLevel

    memo = getattr(spark, _MEMO_ATTR)
    checked = 0
    for v in memo.values():
        for df in v if isinstance(v, tuple) else (v,):
            # only CACHED memo members carry the contract (tuple builders
            # may memoize uncached companions, e.g. _ivf's tiny centroids)
            if isinstance(df, DataFrame) and df.storageLevel != StorageLevel.NONE:
                assert df.storageLevel == StorageLevel.MEMORY_AND_DISK, df.storageLevel
                checked += 1
    assert checked >= 1


def test_memo_pins_one_rdd_per_memoized_frame(spark, sf_dir):
    """A memoized frame pins only its own cache: ``semantic_pairs_lsh``
    persists no 16-table bucket frame under the memoized pair frame, so
    after ``sim_topk_lsh`` and ``sim_cosine_pairs`` in a fresh memo the
    session holds one new persisted RDD per memoized frame, not three for
    two."""
    from pyspark.sql import DataFrame
    from pyspark.storagelevel import StorageLevel

    from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import _MEMO_ATTR
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    spark.catalog.clearCache()
    if hasattr(spark, _MEMO_ATTR):
        delattr(spark, _MEMO_ATTR)
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    for name in ("sim_topk_lsh", "sim_cosine_pairs"):
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    pinned = set(jsc.getPersistentRDDs().keys()) - before
    frames = [
        df
        for v in getattr(spark, _MEMO_ATTR).values()
        for df in (v if isinstance(v, tuple) else (v,))
        if isinstance(df, DataFrame) and df.storageLevel != StorageLevel.NONE
    ]
    assert len(frames) == 2
    assert len(pinned) == len(frames), sorted(pinned)
