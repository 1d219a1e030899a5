"""Capture .explain('formatted') for the headline bench queries into
<out_dir>/<query>_<tag>.txt (tag = before/after).  sf0.1 with AQE on —
the same data the bench times, so plan shapes match the measured runs.

Usage: python scripts/capture_plans.py OUT_DIR [TAG] [NAME,NAME,...]
e.g.   python scripts/capture_plans.py plans/r12 before"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_mapreduce_in_docker_rpyc_spark import registry
from distributed_mapreduce_in_docker_rpyc_spark.session import get_spark

OUT_DIR = sys.argv[1]
TAG = sys.argv[2] if len(sys.argv) > 2 else "before"
NAMES = sys.argv[3].split(",") if len(sys.argv) > 3 else [
    "wordcount_top20", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q18_large_volume_customers",
    "window_running_sum", "q9_product_type_profit", "q21_waiting_orders",
    "dedup_exact", "dedup_minhash_lsh", "sim_topk_bruteforce",
    "sim_topk_lsh", "asof_purchase_click", "events_sessionize",
    "text_stats",
]
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

registry.load_all()
spark = get_spark(f"plan-capture-{os.path.basename(os.path.normpath(OUT_DIR))}")
os.makedirs(OUT_DIR, exist_ok=True)
for name in NAMES:
    df = registry.QUERIES[name](spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    with open(os.path.join(OUT_DIR, f"{name}_{TAG}.txt"), "w") as f:
        f.write(buf.getvalue())
    print("captured", name)
