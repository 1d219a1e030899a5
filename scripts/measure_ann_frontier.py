"""Measure the ANN record-linkage frontier per scale decade: for the
auto-k join and its Hamming-1 multiprobe sibling, the chosen k, distinct
candidate pairs per query, and recall@1 vs the exact cross-slice neighbor
— feeds the SCALING.md round-10 frontier table (VERDICT r9 next-round #2
and #7).

Usage: python scripts/measure_ann_frontier.py [sf_dir1 sf_dir2 ...]
Defaults to sf0.001, sf0.01, sf0.1 and the tiled sf1 fixture at
/tmp/sg-sf1 (generate with scripts/gen_sf1.py).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
        "/tmp/sg-sf1",
    ]
    from distributed_mapreduce_in_docker_rpyc_spark.operators import similarity as sim
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_similarity import (
        sim_auto_k_recall_report,
        sim_directed_probe_recall_report,
        sim_multiprobe_recall_report,
    )
    from distributed_mapreduce_in_docker_rpyc_spark.session import get_spark

    spark = get_spark("measure-ann-frontier")
    print("| sf_dir | |R| | k | variant | cands/query | recall@1 |")
    print("|---|---|---|---|---|---|")
    for d in dirs:
        if not os.path.exists(os.path.join(d, "embeddings.parquet")):
            print(f"| {d} | (missing — run scripts/gen_sf1.py) |")
            continue
        emb = spark.read.parquet(os.path.join(d, "embeddings.parquet"))
        nn = sim.non_null_vectors(emb, "embedding")
        n_index = nn.filter(F.col("vec_id") % 17 != 3).count()
        n_q = nn.filter(F.col("vec_id") % 17 == 3).count()
        k = sim.auto_planes_per_table(n_index)
        buckets = sim.lsh_bucket_tables_np(
            emb, n_tables=sim.N_TABLES, planes_per_table=k
        ).persist()
        for label, probe in (
            ("auto-k", None),
            ("auto-k + Hamming-1", k),
            ("auto-k + directed T=2", "directed"),
        ):
            if probe == "directed":
                qside = sim.lsh_bucket_tables_np(
                    nn.filter(F.col("vec_id") % 17 == 3),
                    n_tables=sim.N_TABLES,
                    planes_per_table=k,
                    n_probes=2,
                )
            else:
                qside = buckets.filter(F.col("vec_id") % 17 == 3)
                if probe is not None:
                    qside = sim.hamming1_probes(qside, probe)
            n_cand = sim.lsh_candidates(
                qside, buckets.filter(F.col("vec_id") % 17 != 3)
            ).count()
            report_fn = {
                None: sim_auto_k_recall_report,
                k: sim_multiprobe_recall_report,
                "directed": sim_directed_probe_recall_report,
            }[probe]
            report = report_fn(spark, d).collect()[0]
            print(
                f"| {d} | {n_index} | {k} | {label} | "
                f"{n_cand / max(n_q, 1):.1f} | {report['recall_at_1']} |",
                flush=True,
            )
        buckets.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
