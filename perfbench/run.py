"""The repo benchmark: one run of one workload.

    python3 perfbench/run.py --workload headline_mix --seed 1 --seconds 6 --trace 0

Run from the root of a checkout.  The run makes its inputs from ``--seed``
(cached under ``.perfbench/`` at the checkout root), launches the measured
run in fresh processes (``worker.py``), and prints a human-readable summary
on stderr and, as the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` they are the per-layer metrics, from
a traced run whose warm passes alternate between untraced and traced.  See
``perfbench/README.md`` for the metric definitions.

Exits non-zero without printing a result when the engine package is not
beside ``perfbench/`` or a worker fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import tracing  # noqa: E402
from worker import PKG, session_procs  # noqa: E402

# Byte copies of the engine's sf0.01 fixture tables (seed 42; see SHA256SUMS).
TABLES = os.path.join(HERE, "fixtures", "sf0.01")
# Six of the 16 ``bench.py`` HEADLINE queries, so that a run fits the time
# budget of the benchmark.  Together they keep every layer of the workload
# busy: the Python workers and the memo (sim_topk_lsh), the streaming runner
# (stream_tumbling_hourly), and jobs launched while building (q5, the
# streaming backfill).
HEADLINE = [
    "q1_pricing_summary", "q5_local_supplier_volume", "window_running_sum",
    "dedup_exact", "sim_topk_lsh", "stream_tumbling_hourly",
]
# ``min_passes``: warm passes every run has, so that the median over them
# is taken over the same number of passes on every commit.
WORKLOADS = {
    "headline_mix": {"queries": HEADLINE, "min_passes": 2},
    "wordcount_corpus": {"corpus_bytes": 8 << 20, "min_passes": 3},
}
DRIVER_MEM = "3g"
RUN_TIMEOUT_S = 170.0
TRACE_FINISH_S = 25.0  # for a traced worker to stop Spark and parse its event log

# Metric names, in the order of BENCHMARK.json.
END_TO_END = ("setup_s", "cold_pass_cpu_s", "warm_pass_cpu_s")
PER_OP = (  # counted per op by worker.finish_trace
    "operators.build_s", "operators.build_jobs",
    "planner.analysis_ms", "planner.optimization_ms", "planner.planning_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.driver_gap_s", "exec.task_s",
    "exec.task_skew", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
    "exec.spill_mb", "exec.gc_s",
    "sources.input_mb", "sources.input_rows",
    "python.task_s", "python.data_sent_mb", "python.data_received_mb",
    "streaming.batches", "streaming.batch_s",
    "operators.self_s", "driver.self_s", "planner.self_s", "exec.self_s", "sources.self_s",
)
PER_LAYER = (
    "session.get_spark_s", "registry.load_all_s", *PER_OP,
    "memo.entries", "memo.new_entries", "memo.cached_mb", "jvm_peak_rss_mb",
    "sink.bytes_written_mb", "sink.files", "trace.overhead_frac",
)


# --- inputs -------------------------------------------------------------------

def prepare_inputs(root: str, workload: str, seed: int) -> dict:
    """Generate (or reuse) the workload's inputs; return the worker's spec."""
    w = WORKLOADS[workload]
    cache = os.path.join(root, ".perfbench", "cache")
    os.makedirs(cache, exist_ok=True)
    spec = {"tables": TABLES}
    if "queries" in w:
        spec["queries"] = w["queries"]
        oracles = oracle_sql(w["queries"])
        key = hashlib.sha256(json.dumps(oracles, sort_keys=True).encode()).hexdigest()[:16]
        spec["oracle"] = inputs.cached(cache, f"oracle-{workload}-{key}",
                                       lambda d: write_oracle(d, TABLES, oracles))
    else:
        n = w["corpus_bytes"]
        spec["corpus"] = inputs.cached(cache, f"corpus-s{seed}-b{n}",
                                       lambda d: inputs.write_corpus(d, seed, n))
    return spec


def oracle_sql(names: list[str]) -> dict[str, str]:
    """The registered DuckDB oracle SQL of each query."""
    sys.path.insert(0, os.path.dirname(HERE))
    registry = __import__(f"{PKG}.registry", fromlist=["registry"])
    registry.load_all()
    missing = [n for n in names if n not in registry.ORACLES]
    if missing:
        raise RuntimeError(f"queries without a DuckDB oracle: {missing}")
    return {n: registry.ORACLES[n] for n in names}


def write_oracle(out_dir: str, tables: str, oracles: dict[str, str]) -> None:
    """Canonical DuckDB oracle results of each query on ``tables``."""
    from checks import oracle_expectations

    expected = oracle_expectations(tables, oracles)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "oracle.pkl"), "wb") as fh:
        pickle.dump(expected, fh)


# --- launching ----------------------------------------------------------------

def worker_env(root: str, work: str, trace: bool) -> dict:
    """Environment of a measured process: all cores, a driver memory that
    fits a small box, and every temporary path inside ``work``."""
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = []
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
                  "spark.eventLog.rolling.enabled=false", "spark.eventLog.compress=false"]
    env.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_EXTRA_CONFS": ";".join(confs),
        "TMPDIR": tmp,
        # Every JVM, the spark-submit launcher too; no /tmp/hsperfdata_*.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the engine by name; they start in Spark's
        # working directory, not here.
        "PYTHONPATH": os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")])),
        "PYTHONHASHSEED": "0",
    })
    return env


def subdir(parent: str, name: str) -> str:
    path = os.path.join(parent, name)
    os.makedirs(path)
    return path


def launch(root: str, work: str, args: list[str], trace: bool, deadline: float) -> dict:
    """Run ``worker.py`` in a fresh session; return its JSON result.

    The worker's session (the worker, its JVM and Python workers) is
    killed once the worker exits or the deadline passes."""
    out = os.path.join(work, "out.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--root", root, "--work", work,
           "--out", out, "--spawn-time", repr(time.time()), *args]
    with open(os.path.join(work, "worker.log"), "ab") as log:
        proc = subprocess.Popen(cmd, env=worker_env(root, work, trace), cwd=work,
                                stdout=log, stderr=log, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_session(proc)
    if code != 0:
        with open(os.path.join(work, "worker.log"), encoding="utf-8", errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError("worker timed out" if code is None else f"worker exited with {code}")
    with open(out, encoding="utf-8") as fh:
        return json.load(fh)


def stop_session(proc: subprocess.Popen) -> None:
    """Kill every process of the worker's session and wait until each has
    ended.  The worker has written its result by then, so nothing needs a
    clean shutdown.  PySpark's worker daemon leaves the worker's process
    group, but not its session."""
    end = time.time() + 30
    while True:
        alive = [pid for pid, state, _ in session_procs(proc.pid) if state not in "ZX"]
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        proc.poll()  # reaps the worker itself once it has died
        if not alive or time.time() > end:
            break
        time.sleep(0.1)
    proc.wait()


# --- metrics ------------------------------------------------------------------

def wall_s(r: dict) -> float:
    return r["end"] - r["start"]


def cpu_s(r: dict) -> float:
    return r["cpu_s"]


def pass_times(records: list[dict], time_of=wall_s) -> dict[int, float]:
    """Time of each pass: the sum of its ops' times.  The ops run one after
    the other; the output checks between them are left out."""
    out: dict[int, float] = {}
    for r in records:
        out[r["pass_no"]] = out.get(r["pass_no"], 0.0) + time_of(r)
    return out


def warm_pass(records: list[dict], time_of) -> float:
    """Median time of the warm passes."""
    return statistics.median(v for p, v in pass_times(records, time_of).items() if p > 0)


def end_to_end(res: dict) -> tuple[dict[str, float], dict]:
    """End-to-end metrics of one untraced run, plus wall-clock details for
    the summary.

    The pass metrics are CPU time, which the machine's other tenants do not
    inflate; see README.md.  A pass with a failed op still counts, but the
    failed op's latency is left out of the op latencies.  The summary names
    the op latency tail with its percentile and sample count; a run has too
    few warm ops for it to be a metric."""
    recs = res["records"]
    warm_ok = [wall_s(r) for r in recs if r["pass_no"] > 0 and r["ok"]]
    if not warm_ok:
        raise RuntimeError("no warm op succeeded")
    pct, tail_v, n = tracing.tail(warm_ok)
    by_op: dict[str, list[float]] = {}
    for r in recs:
        if r["pass_no"] > 0 and r["ok"]:
            by_op.setdefault(r["name"], []).append(wall_s(r))
    metrics = {
        "setup_s": res["setup_s"],
        "cold_pass_cpu_s": pass_times(recs, cpu_s)[0],
        "warm_pass_cpu_s": warm_pass(recs, cpu_s),
    }
    details = {
        "setup_cpu_s": round(res["setup_cpu_s"], 2),
        "cold_pass_s": round(pass_times(recs)[0], 3),
        "warm_pass_s": round(warm_pass(recs, wall_s), 3),
        "op_s.p50": round(statistics.median(warm_ok), 4),
        "op_s.tail": f"p{pct} of {n} warm op samples: {tail_v:.4f}",
        "warm passes": len(pass_times(recs)) - 1,
        "jvm_peak_rss_mb": round(res["jvm_peak_rss_mb"], 1),
        "per op median s": {k: round(statistics.median(v), 4) for k, v in sorted(by_op.items())},
    }
    return metrics, details


def per_layer(traced: dict) -> dict[str, float]:
    """Per-layer metrics of a traced run.  A per-op counter is summed over
    the ops of each traced warm pass (``exec.task_skew``: the worst op) and
    the median over those passes is reported; memo misses are summed over
    every pass, cold included; set-up, memo and RSS state are measured once.
    ``trace.overhead_frac`` compares the CPU time of the traced and the
    untraced warm passes, leaving out the untraced settling pass 1."""
    recs = traced["records"]
    per_op = traced["trace"]
    warm = sorted({r["pass_no"] for r in recs if r["pass_no"] > 0 and r["traced"]})

    def over_warm_passes(key: str, combine=sum) -> float:
        return statistics.median(
            combine(per_op[str(r["op_id"])][key] for r in recs if r["pass_no"] == p) for p in warm
        )

    out = {k: traced[k] for k in ("session.get_spark_s", "registry.load_all_s")}
    for k in PER_OP:
        out[k] = over_warm_passes(k, max if k == "exec.task_skew" else sum)
    out["memo.new_entries"] = sum(r["memo_new"] for r in recs)
    for k in ("memo.entries", "memo.cached_mb", "jvm_peak_rss_mb"):
        out[k] = traced[k]
    warm_ids = {r["op_id"] for r in recs if r["pass_no"] in warm}
    sink = [(files, size) for op_id, files, size in traced["sink"] if op_id in warm_ids]
    out["sink.files"] = statistics.median(f for f, _ in sink) if sink else 0
    out["sink.bytes_written_mb"] = statistics.median(b for _, b in sink) / tracing.MB if sink else 0.0
    out["trace.overhead_frac"] = (
        warm_pass([r for r in recs if r["traced"]], cpu_s)
        / warm_pass([r for r in recs if r["pass_no"] > 1 and not r["traced"]], cpu_s) - 1.0
    )
    return {k: out[k] for k in PER_LAYER}


def outcome(recs: list[dict]) -> tuple[int, int]:
    """``(attempted, failed)`` ops."""
    return len(recs), sum(1 for r in recs if not r["ok"])


# --- main ---------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    deadline = started + RUN_TIMEOUT_S

    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, PKG)):
        print(f"perfbench: engine package {PKG!r} not found beside perfbench/", file=sys.stderr)
        return 2

    spec = prepare_inputs(root, args.workload, args.seed)
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        worker_args = ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds),
                       "--min-passes", str(WORKLOADS[args.workload]["min_passes"]),
                       "--deadline", repr(deadline - TRACE_FINISH_S), "--inputs", json.dumps(spec)]
        if args.trace:
            traced = subdir(work, "traced")
            res = launch(root, traced, worker_args + ["--trace", "1"], True, deadline)
            metrics = per_layer(res)
            spans = os.path.join(root, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.spans.json")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.move(os.path.join(traced, "spans.json"), spans)
            details = {"spans": os.path.relpath(spans, root),
                       "warm passes (untraced, traced)": [
                           len({r["pass_no"] for r in res["records"] if r["pass_no"] > 1 and r["traced"] is t})
                           for t in (False, True)]}
            records = res["records"]
        else:
            res = launch(root, subdir(work, "measured"), worker_args, False, deadline)
            metrics, details = end_to_end(res)
            records = res["records"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = outcome(records)
    failures = sorted({r["name"] + ": " + r["error"] for r in records if not r["ok"]})
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "failed_frac": failed / attempted, "failures": failures[:10],
        "host": {"cores": os.cpu_count(), "mem_gb": round(os.sysconf("SC_PAGE_SIZE")
                 * os.sysconf("SC_PHYS_PAGES") / 2**30, 1), "driver_mem": DRIVER_MEM,
                 "python": platform.python_version(), "spark": res["versions"]["spark"],
                 "java": res["versions"]["java"]},
        "loop": "closed, one client",
        "total_s": round(time.time() - started, 2),
        **details,
    }
    unit = {k: tracing.unit_of(k) for k in metrics}
    for k, v in metrics.items():
        print(f"{args.workload:18s} {k:28s} {v:14.6g} {unit[k]}", file=sys.stderr)
    print(json.dumps(summary), file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
