"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized through the noop sink (full execution, no
driver-side result transfer) so the timing measures the engine, not collect().

Median-of-N protocol (default N=7, override $SPARK_GRAFT_BENCH_REPS):
single-run timings on this VM vary up to 3x per query (JIT warm-up of
interpreted expressions + noisy-neighbor effects — BASELINE.md documents the
measured variance), so the harness makes N full passes over the headline list
and reports the per-query MEDIAN; "value" is the sum of medians.  A 7-pass
median tolerates 3 corrupted passes.  Every query gets the same N.  The
per-query MINIMUM is reported beside it as "value_min"/"queries_min", the
noise floor: noise only ever adds time.

An untimed warm-up touches the parquet reader, shuffle, noop sink and the
Python/Arrow worker pool first, so the first timed pass does not pay
first-touch init.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from distributed_mapreduce_in_docker_rpyc_spark import registry
from distributed_mapreduce_in_docker_rpyc_spark.session import get_spark

# Headline set: the flagship word count, the heavy relational shapes (scan-agg,
# fact-fact join, 6-way star join, having, window), and one of each extended
# family (dedup, ANN, sessionization, text stats).
HEADLINE = [
    "wordcount_top20",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q18_large_volume_customers",
    "window_running_sum",
    "q9_product_type_profit",
    "q21_waiting_orders",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "sim_topk_lsh",
    "asof_purchase_click",
    "events_sessionize",
    "stream_tumbling_hourly",
    "text_stats",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    registry.load_all()
    spark = get_spark("distributed_mapreduce_in_docker_rpyc_spark-bench")
    # Warm-up: touch the same machinery the queries use (parquet reader,
    # shuffle, noop sink, Python/Arrow worker pool) so timings measure the
    # engine, not first-touch init.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    (
        spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
        .groupBy("r_name").count()
        .write.format("noop").mode("overwrite").save()
    )
    (
        spark.range(10_000)
        .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        .mapInPandas(lambda it: it, "id long")
        .write.format("noop").mode("overwrite").save()
    )

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "7")))
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(reps):
        for name in HEADLINE:
            fn = registry.QUERIES[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs[name].append(time.perf_counter() - t0)

    timings = {name: round(statistics.median(ts), 3) for name, ts in runs.items()}
    total = round(sum(timings.values()), 3)
    # Noise floor: reported NEXT TO the median (which stays the headline
    # "value" for round-over-round comparability), never instead of it.
    mins = {name: round(min(ts), 3) for name, ts in runs.items()}
    print(
        json.dumps(
            {
                "metric": f"headline query wall-clock (noop sink, local, median of {reps})",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "reps": reps,
                "value_min": round(sum(mins.values()), 3),
                "queries_min": mins,
                "all_runs": {n: [round(t, 3) for t in ts] for n, ts in runs.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
