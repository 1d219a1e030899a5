"""One measured run of one workload, in a fresh process.

Launched by ``run.py``; prints nothing on stdout and writes its result as
JSON to ``--out``.  The run is a closed loop with one client: one op at a
time, each waiting for the last.

1. Set-up (``setup_s``): from the moment ``run.py`` spawned this process
   until the first op may start -- interpreter start, ``registry.load_all``,
   ``session.get_spark`` and the warm-up steps of ``bench.py``.
2. Pass 0, the cold pass, runs every op once in a seeded order.
3. Warm passes, each in a fresh seeded order: ``--min-passes`` of them,
   and more while less than ``--seconds`` has gone by since the first.

Each op is split into a build (the library call that returns a DataFrame)
and an action (the call that runs it); only build + action is timed.  The
result is checked afterwards, outside the timed region.  An op that raises,
times out or fails its check counts as failed and its time is dropped.

With ``--trace 1`` the run also records spans and counters at each layer
boundary, from outside the package: wrappers around the source readers,
the Catalyst phase tracker of each DataFrame, a streaming listener, the
memo size, and the Spark event log (enabled by ``run.py`` through
``SPARK_GRAFT_EXTRA_CONFS``).  Its warm passes are then alternately
untraced and traced, so that the two can be compared.
"""

from __future__ import annotations

import argparse
import datetime
import glob
import json
import os
import pickle
import random
import sys
import threading
import time
from dataclasses import dataclass
from typing import Any, Callable, Iterator, NoReturn

import tracing
from tracing import GROUP_PREFIX, Span

PKG = "distributed_mapreduce_in_docker_rpyc_spark"
OP_TIMEOUT_S = 60.0
SELF_LAYERS = ("operators", "driver", "planner", "exec", "sources")
CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    action: Callable[[Any], Any]
    check: Callable[[Any], bool]


@dataclass
class Record:
    op_id: int
    name: str
    pass_no: int
    start: float
    end: float
    build_end: float
    ok: bool
    error: str = ""
    memo_new: int = 0
    traced: bool = False
    cpu_s: float = 0.0


# --- ops ----------------------------------------------------------------------

def registry_ops(spark, registry, names: list[str], sf_dir: str, expected: dict) -> list[Op]:
    def make(name: str) -> Op:
        fn = registry.QUERIES[name]

        def action(df):
            return df, df.columns, [tuple(r) for r in df.collect()]

        def check(res) -> bool:
            from checks import matches

            return matches(*res, expected[name])

        return Op(name, lambda: fn(spark, sf_dir), action, check)

    return [make(n) for n in names]


def wordcount_ops(spark, corpus_dir: str, sink_dir: str) -> list[Op]:
    from checks import read_json_sink
    from distributed_mapreduce_in_docker_rpyc_spark.operators import wordcount as wc
    from distributed_mapreduce_in_docker_rpyc_spark.sources import ingest

    corpus = os.path.join(corpus_dir, "corpus.txt")
    with open(os.path.join(corpus_dir, "expected.json"), encoding="utf-8") as fh:
        expected = json.load(fh)
    top20 = [tuple(kv) for kv in expected["top20"]]
    counts = expected["counts"]

    def lines():
        return ingest.read_lines(spark, corpus)

    def df_action(df):
        return df, [(r[0], r[1]) for r in df.collect()]

    def sink_action(df):
        wc.write_json_sink(df, sink_dir)
        return df, sink_dir

    return [
        Op("top20_df", lambda: wc.top_k_words(lines(), text_col="value"),
           df_action, lambda res: res[1] == top20),
        Op("top20_rdd", lines,
           lambda df: (None, [tuple(kv) for kv in wc.top_k_words_rdd(df, text_col="value")]),
           lambda res: res[1] == top20),
        Op("json_sink", lambda: wc.word_counts(lines(), "value"),
           sink_action, lambda res: read_json_sink(res[1]) == counts),
    ]


def warm_up(spark, tables_dir: str) -> None:
    """The untimed warm-up steps of ``bench.py``: parquet reader, shuffle,
    noop sink and the Python/Arrow worker pool."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    (
        spark.read.parquet(os.path.join(tables_dir, "region.parquet"))
        .groupBy("r_name").count()
        .write.format("noop").mode("overwrite").save()
    )
    (
        spark.range(10_000)
        .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
        .mapInPandas(lambda it: it, "id long")
        .write.format("noop").mode("overwrite").save()
    )


def session_procs(sid: int) -> Iterator[tuple[int, str, int]]:
    """``(pid, state, CPU ticks)`` of every process in session ``sid``.  The
    ticks are user and system time, plus that of the children the process
    has reaped; the kernel leaves out the time the hypervisor steals."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        if int(fields[3]) == sid:  # fields[11:15]: utime, stime, cutime, cstime
            yield int(entry), fields[0].decode(), sum(int(x) for x in fields[11:15])


def session_cpu_s() -> float:
    """CPU time so far of this worker's session: the worker, its JVM,
    PySpark's worker daemon and its Python workers."""
    return sum(ticks for _, _, ticks in session_procs(os.getsid(0))) / CLK_TCK


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


# --- tracing hooks (only with --trace 1) -------------------------------------

class Tracer:
    """Spans and counters recorded from outside the package."""

    def __init__(self, spark):
        self.spark = spark
        self.on = True  # off in the untraced passes of a traced run
        self.spans: list[Span] = []
        self.current_op: int = -1
        self.current_parent: int | None = None
        self.batches: list[tuple[float, float]] = []
        self.planner: list[Span] = []

    def span(self, name: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        s = Span(name, start, end, self.current_op, parent, len(self.spans), attrs)
        self.spans.append(s)
        return s

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Replace ``module.attr`` everywhere the package holds a reference
        to it, with a version that records a span per call."""
        orig = getattr(module, attr)

        def wrapped(*a, **kw):
            if not self.on:
                return orig(*a, **kw)
            t0 = time.time()
            try:
                return orig(*a, **kw)
            finally:
                self.span(span_name, t0, time.time(), self.current_parent)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith(PKG):
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, wrapped)

    def install(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        from distributed_mapreduce_in_docker_rpyc_spark.sources import ingest, tables

        self.wrap(tables, "load_table", "sources.load_table")
        self.wrap(ingest, "read_lines", "sources.read_lines")
        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if not tracer.on:
                    return
                p = event.progress
                started = datetime.datetime.fromisoformat(p.timestamp).timestamp()
                tracer.batches.append((started, p.batchDuration / 1000.0))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Listener())

    def planner_phases(self, df) -> None:
        """Catalyst phases from the DataFrame's ``QueryExecution.tracker``."""
        jvm = self.spark._jvm
        phases = jvm.scala.collection.JavaConverters.mapAsJavaMap(
            df._jdf.queryExecution().tracker().phases()
        )
        for name, summary in phases.items():
            a, b = summary.startTimeMs() / 1000.0, summary.endTimeMs() / 1000.0
            self.planner.append(Span(f"planner.{name}", a, b, self.current_op, attrs={"ms": summary.durationMs()}))


# --- the run ------------------------------------------------------------------

def run_op(spark, op: Op, op_id: int, pass_no: int, tracer: Tracer | None, memo_count) -> tuple[Record, Any]:
    sc = spark.sparkContext
    group = f"{GROUP_PREFIX}{op_id}"
    sc.setJobGroup(group, f"{op.name} pass {pass_no}")
    timer = threading.Timer(OP_TIMEOUT_S, sc.cancelJobGroup, args=(group,))
    memo_before = memo_count()
    result, error, action_span = None, "", None
    if tracer:
        tracer.current_op = op_id
        root = tracer.span("op", 0.0, 0.0, None, query=op.name, pass_no=pass_no)
        build_span = tracer.span("operators.build", 0.0, 0.0, root.id)
        tracer.current_parent = build_span.id
    cpu0 = session_cpu_s()
    timer.start()
    t0 = time.time()
    build_end = None
    try:
        built = op.build()
        build_end = time.time()
        if tracer:
            action_span = tracer.span("driver.action", build_end, build_end, root.id)
            tracer.current_parent = action_span.id
        result = op.action(built)
    except Exception as exc:  # an op failure is a measured outcome, not a crash
        error = f"{type(exc).__name__}: {exc}"[:300]
    t1 = time.time()
    cpu1 = session_cpu_s()
    timer.cancel()
    if build_end is None:
        build_end = t1
    if not error and t1 - t0 > OP_TIMEOUT_S:
        error = f"timed out after {OP_TIMEOUT_S:.0f} s"
    if tracer:
        root.start, root.end = t0, t1
        build_span.start, build_span.end = t0, build_end
        if action_span:
            action_span.end = t1
        if result and result[0] is not None:
            tracer.planner_phases(result[0])
    rec = Record(op_id, op.name, pass_no, t0, t1, build_end, not error, error,
                 memo_count() - memo_before, tracer is not None, cpu1 - cpu0)
    if not error:
        try:
            rec.ok = bool(op.check(result))
            if not rec.ok:
                rec.error = "output mismatch"
        except Exception as exc:
            rec.ok, rec.error = False, f"check raised {type(exc).__name__}: {exc}"[:300]
    return rec, result


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--min-passes", type=int, required=True)
    ap.add_argument("--deadline", type=float, required=True,
                    help="epoch time by which a traced run must have ended its passes")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spawn-time", type=float, required=True)
    ap.add_argument("--root", required=True)
    ap.add_argument("--inputs", required=True, help="JSON from run.prepare_inputs")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = json.loads(args.inputs)
    sys.path.insert(0, args.root)

    t_imp = time.time()
    from distributed_mapreduce_in_docker_rpyc_spark import registry
    from distributed_mapreduce_in_docker_rpyc_spark.operators import _shared

    registry.load_all()
    t_reg = time.time()
    from distributed_mapreduce_in_docker_rpyc_spark.session import get_spark

    spark = get_spark("perfbench")
    t_sess = time.time()
    warm_up(spark, spec["tables"])
    ready = time.time()

    out: dict[str, Any] = {
        "setup_s": ready - args.spawn_time,
        "setup_cpu_s": session_cpu_s(),
        "session.get_spark_s": t_sess - t_reg,
        "registry.load_all_s": t_reg - t_imp,
    }

    if spec.get("corpus"):
        ops = wordcount_ops(spark, spec["corpus"], os.path.join(args.work, "sink"))
    else:
        with open(os.path.join(spec["oracle"], "oracle.pkl"), "rb") as fh:
            expected = pickle.load(fh)
        ops = registry_ops(spark, registry, spec["queries"], spec["tables"], expected)

    tracer = None
    if args.trace:
        tracer = Tracer(spark)
        tracer.install()

    def memo_count() -> int:
        return _shared.shared_frame_count(spark)

    rng = random.Random(args.seed)
    records: list[Record] = []
    sink_stats: list[tuple[int, int, int]] = []

    def one_pass(pass_no: int, traced: bool) -> None:
        if tracer:
            tracer.on = traced
        order = list(ops)
        rng.shuffle(order)
        for op in order:
            rec, result = run_op(spark, op, len(records), pass_no, tracer if traced else None, memo_count)
            records.append(rec)
            if op.name == "json_sink" and rec.ok:
                files = glob.glob(os.path.join(result[1], "part-*"))
                sink_stats.append((rec.op_id, len(files), sum(os.path.getsize(f) for f in files)))

    one_pass(0, tracer is not None)
    warm_start, pass_no = time.time(), 1
    if tracer:
        # An untraced settling pass, in which the JIT still compiles much of
        # the code, then two untraced and two traced warm passes in the order
        # U T T U, so that neither side gets the later, warmer passes.  On a
        # slow machine the run ends early, after one of each, rather than
        # overrun the deadline.
        last = 0.0
        while pass_no <= 3 or (pass_no <= 5 and time.time() + last < args.deadline):
            t = time.time()
            one_pass(pass_no, pass_no in (3, 4))
            last = time.time() - t
            pass_no += 1
    else:
        while pass_no <= args.min_passes or time.time() - warm_start < args.seconds:
            one_pass(pass_no, False)
            pass_no += 1

    out["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    out["records"] = [r.__dict__ for r in records]
    out["sink"] = sink_stats
    out["versions"] = {"spark": spark.version, "java": spark._jvm.java.lang.System.getProperty("java.version")}
    if tracer:
        out["memo.entries"] = memo_count()
        storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        out["memo.cached_mb"] = sum(i.memSize() + i.diskSize() for i in storage) / tracing.MB
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        spark.stop()  # flushes the event log
        out["trace"] = finish_trace(tracer, records, args.work)
    return finish(out, args.out)


def finish(out: dict, path: str) -> NoReturn:
    """Write the result and leave at once; ``run.py`` stops the JVM with
    the rest of the worker's session, so an untraced run pays no shutdown."""
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(out, fh)
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


def finish_trace(tracer: Tracer, records: list[Record], work: str) -> dict:
    """Join the event log and listener data to the spans of the traced ops;
    per-op layer counters plus the self time of every span."""
    logs = glob.glob(os.path.join(work, "eventlog", "local-*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    with open(logs[0], encoding="utf-8") as fh:
        jobs = tracing.parse_event_log(fh)
    spans = tracer.spans
    job_spans, per_op = [], {}
    records = [r for r in records if r.traced]
    for rec in records:
        mine = tracing.jobs_of_op(jobs, f"{GROUP_PREFIX}{rec.op_id}", rec.start, rec.end)
        m = tracing.exec_metrics(mine, rec.start, rec.end)
        m["operators.build_s"] = rec.build_end - rec.start
        m["operators.build_jobs"] = sum(1 for j in mine if j.submit_ms / 1000.0 <= rec.build_end)
        ph = [p for p in tracer.planner if p.op == rec.op_id]
        for phase in ("analysis", "optimization", "planning"):
            m[f"planner.{phase}_ms"] = sum(p.attrs["ms"] for p in ph if p.name == f"planner.{phase}")
        batches = [d for t, d in tracer.batches if rec.start <= t <= rec.end]
        m["streaming.batches"] = len(batches)
        m["streaming.batch_s"] = sum(batches)
        per_op[rec.op_id] = m
        for j in mine:
            job_spans.append(Span("exec.job", j.submit_ms / 1000.0, j.end_ms / 1000.0, rec.op_id, attrs={"job": j.id}))
    tracing.attach(spans, tracer.planner + job_spans)
    selfs = tracing.self_times(spans)
    for rec in records:
        m = per_op[rec.op_id]
        for layer in SELF_LAYERS:
            m[f"{layer}.self_s"] = 0.0
        for s in spans:
            if s.op == rec.op_id and tracing.layer_of(s.name) in SELF_LAYERS:
                m[f"{tracing.layer_of(s.name)}.self_s"] += selfs[s.id]
    with open(os.path.join(work, "spans.json"), "w", encoding="utf-8") as fh:
        json.dump([s.__dict__ for s in spans], fh)
    return {str(k): v for k, v in per_op.items()}


if __name__ == "__main__":
    sys.exit(main())
