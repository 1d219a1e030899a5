"""Pure measurement logic: percentiles, spans and self time, event-log parsing.

Nothing here imports Spark, so the tests in ``perfbench/tests`` exercise it
on small hand-made inputs.
"""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable
from dataclasses import dataclass, field

MB = 1 << 20
GROUP_PREFIX = "perfbench-op-"  # job group of each op: GROUP_PREFIX + op id

# Physical operators (RDD scope names) whose tasks run Python workers, plus
# the RDD class PySpark's RDD API runs them through.
PYTHON_SCOPES = (
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "FlatMapGroupsInPandasWithState", "TransformWithStateInPandas",
    "PythonUDTF", "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF",
)
PYTHON_RDD = "PythonRDD"


def unit_of(metric: str) -> str:
    """Unit of a metric, from its name's suffix."""
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_mb", "MiB"), ("_frac", "ratio"), ("_skew", "ratio")):
        if metric.endswith(suffix):
            return unit
    if metric.startswith("op_s."):
        return "s"
    return "count"


# --- percentiles ------------------------------------------------------------

def nearest_rank(sorted_vals: list[float], pct: int) -> float:
    """Nearest-rank percentile of an ascending list."""
    return sorted_vals[max(1, _ceil_share(pct, len(sorted_vals))) - 1]


def _ceil_share(pct: int, n: int) -> int:
    """``ceil(pct% of n)`` in integers: ``0.2 * 15`` is not 3 in floats."""
    return -(-pct * n // 100)


def tail(samples: Iterable[float], beyond: int = 10) -> tuple[int, float, int]:
    """The highest whole percentile that leaves at least ``beyond`` samples
    above it, as ``(percentile, value, sample_count)``.

    With ``beyond`` samples or fewer no percentile qualifies; the maximum is
    returned as percentile 100 so the caller still sees the sample count.
    """
    vals = sorted(samples)
    n = len(vals)
    if n == 0:
        raise ValueError("no samples")
    for pct in range(99, 0, -1):
        if n - _ceil_share(pct, n) >= beyond:
            return pct, nearest_rank(vals, pct), n
    return 100, vals[-1], n


# --- spans ------------------------------------------------------------------

@dataclass
class Span:
    """One timed interval at a layer boundary (epoch seconds)."""

    name: str
    start: float
    end: float
    op: int
    parent: int | None = None
    id: int = -1
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attach(spans: list[Span], children: list[Span]) -> None:
    """Give each child the innermost span of ``spans`` of the same op that
    contains its start, then append it.  Spans recorded by the harness
    already carry their parent; spans reconstructed afterwards (jobs from
    the event log, planner phases from the tracker) are placed by time, and
    never under each other: two jobs of one op are siblings."""
    parents = list(spans)
    for child in children:
        best = None
        for s in parents:
            if s.op == child.op and s.start <= child.start <= s.end:
                if best is None or s.dur < best.dur:
                    best = s
        child.parent = best.id if best is not None else None
        child.id = len(spans)
        spans.append(child)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - union_length(kids.get(s.id, []), s.start, s.end) for s in spans}


def layer_of(name: str) -> str:
    """``"exec.job"`` -> ``"exec"``; the layer is the name's first part."""
    return name.split(".", 1)[0]


# --- event log --------------------------------------------------------------

@dataclass
class Stage:
    id: int
    python: bool = False
    task_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    py_sent_bytes: int = 0
    py_recv_bytes: int = 0


@dataclass
class Job:
    id: int
    group: str | None
    submit_ms: int
    end_ms: int
    stage_ids: list[int]
    stages: list[Stage] = field(default_factory=list)


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        if rdd.get("Name") == PYTHON_RDD:
            return True
        scope = rdd.get("Scope")
        if scope and json.loads(scope).get("name") in PYTHON_SCOPES:
            return True
    return False


def _accum(stage_info: dict, name: str) -> int:
    for acc in stage_info.get("Accumulables", []):
        if acc.get("Name") == name:
            return int(acc.get("Value") or 0)
    return 0


def parse_event_log(lines: Iterable[str]) -> list[Job]:
    """Jobs with the stages that actually ran in them, from a Spark JSON
    event log.  A stage listed by several jobs (a reused shuffle) belongs
    to the first job that ran it."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"],
                ev["Submission Time"], list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            m = ev.get("Task Metrics") or {}
            st.task_ms.append(m.get("Executor Run Time", 0))
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += m.get("Disk Bytes Spilled", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            inp = m.get("Input Metrics") or {}
            st.input_bytes += inp.get("Bytes Read", 0)
            st.input_records += inp.get("Records Read", 0)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            st.python = _is_python_stage(info)
            st.py_sent_bytes += _accum(info, "data sent to Python workers")
            st.py_recv_bytes += _accum(info, "data returned from Python workers")
    taken: set[int] = set()
    for job in sorted(jobs.values(), key=lambda j: j.id):
        for sid in job.stage_ids:
            if sid in stages and sid not in taken and stages[sid].task_ms:
                taken.add(sid)
                job.stages.append(stages[sid])
    return sorted(jobs.values(), key=lambda j: j.id)


def exec_metrics(jobs: list[Job], op_start: float, op_end: float) -> dict[str, float]:
    """Execution-layer counters for the jobs of one op (times in seconds,
    sizes in MiB).  ``exec.driver_gap_s`` is the op's wall time not covered
    by any of its job spans."""
    stages = [s for j in jobs for s in j.stages]
    all_tasks = [t for s in stages for t in s.task_ms]
    worst = max(stages, key=lambda s: sum(s.task_ms), default=None)
    skew = 0.0
    if worst is not None and statistics.median(worst.task_ms) > 0:
        skew = max(worst.task_ms) / statistics.median(worst.task_ms)
    py = [s for s in stages if s.python]
    spans = [(j.submit_ms / 1000.0, j.end_ms / 1000.0) for j in jobs]
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": len(all_tasks),
        "exec.driver_gap_s": (op_end - op_start) - union_length(spans, op_start, op_end),
        "exec.task_s": sum(all_tasks) / 1000.0,
        "exec.task_skew": skew,
        "exec.shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / MB,
        "exec.shuffle_read_mb": sum(s.shuffle_read_bytes for s in stages) / MB,
        "exec.spill_mb": sum(s.spill_bytes for s in stages) / MB,
        "exec.gc_s": sum(s.gc_ms for s in stages) / 1000.0,
        "sources.input_mb": sum(s.input_bytes for s in stages) / MB,
        "sources.input_rows": sum(s.input_records for s in stages),
        "python.task_s": sum(t for s in py for t in s.task_ms) / 1000.0,
        "python.data_sent_mb": sum(s.py_sent_bytes for s in stages) / MB,
        "python.data_received_mb": sum(s.py_recv_bytes for s in stages) / MB,
    }


def jobs_of_op(jobs: list[Job], op_group: str, start: float, end: float) -> list[Job]:
    """Jobs tagged with the op's job group, plus untagged-by-us jobs (a
    streaming query sets its own group) submitted inside the op's span.
    The loop is closed with one client, so nothing else runs then."""
    out = []
    for j in jobs:
        if j.group == op_group:
            out.append(j)
        elif not (j.group or "").startswith(GROUP_PREFIX) and start <= j.submit_ms / 1000.0 <= end:
            out.append(j)
    return out
