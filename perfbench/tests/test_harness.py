"""Tests for the benchmark harness's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import collections
import decimal
import filecmp
import hashlib
import os
import re
import statistics

import pytest

import inputs
import run
import tracing
import checks
from checks import canonical
from tracing import Span

HERE = os.path.dirname(os.path.abspath(__file__))


# --- tail percentile ----------------------------------------------------------

def test_tail_is_highest_percentile_with_ten_samples_beyond():
    assert tracing.tail(range(1, 101)) == (90, 90, 100)
    assert tracing.tail(range(1, 1001)) == (99, 990, 1000)


def test_tail_on_few_samples():
    # 15 samples: p33 leaves 15 - ceil(4.95) = 10 above it, p34 only 9.
    assert tracing.tail(range(1, 16)) == (33, 5, 15)
    # 20% of 15 is exactly 3 samples, not 4.
    assert tracing.nearest_rank(list(range(1, 16)), 20) == 3
    # Ten or fewer samples: no percentile qualifies; the maximum is reported.
    assert tracing.tail([3.0, 1.0, 2.0]) == (100, 3.0, 3)
    with pytest.raises(ValueError):
        tracing.tail([])


# --- spans and self time ------------------------------------------------------

def test_union_length_merges_overlaps_and_clips():
    assert tracing.union_length([(5, 7), (6, 9), (12, 14)], 0, 13) == pytest.approx(5.0)
    assert tracing.union_length([], 0, 10) == 0.0


def test_self_time_subtracts_covered_part_of_children():
    spans = [
        Span("op", 0, 10, 0, None, 0),
        Span("operators.build", 0, 4, 0, 0, 1),
        Span("driver.action", 4, 10, 0, 0, 2),
    ]
    tracing.attach(spans, [
        Span("planner.analysis", 1, 2, 0),
        Span("exec.job", 5, 7, 0),
        Span("exec.job", 6, 9, 0),
    ])
    assert [s.parent for s in spans[3:]] == [1, 2, 2]
    selfs = tracing.self_times(spans)
    assert selfs == pytest.approx({0: 0.0, 1: 3.0, 2: 2.0, 3: 1.0, 4: 2.0, 5: 3.0})
    # Self times of one op add up to its wall time.
    assert sum(selfs.values()) - selfs[4] - selfs[5] + tracing.union_length([(5, 7), (6, 9)], 0, 10) == 10


def test_attach_ignores_spans_of_other_ops():
    spans = [Span("op", 0, 10, 0, None, 0), Span("op", 0, 10, 1, None, 1)]
    tracing.attach(spans, [Span("exec.job", 2, 3, 1)])
    assert spans[2].parent == 1


# --- event log ----------------------------------------------------------------

@pytest.fixture
def jobs():
    with open(os.path.join(HERE, "eventlog_small.jsonl"), encoding="utf-8") as fh:
        return tracing.parse_event_log(fh)


def test_event_log_assigns_a_reused_stage_to_its_first_job(jobs):
    assert [(j.id, j.group, [s.id for s in j.stages]) for j in jobs] == [
        (0, "perfbench-op-0", [0, 1]),
        (1, "perfbench-op-0", [2]),
        (2, "stream-query-1", [3]),
    ]
    assert [s.python for j in jobs for s in j.stages] == [True, False, True, False]


def test_event_log_jobs_of_op_take_foreign_groups_by_time(jobs):
    assert [j.id for j in tracing.jobs_of_op(jobs, "perfbench-op-0", 0.9, 3.0)] == [0, 1]
    assert [j.id for j in tracing.jobs_of_op(jobs, "perfbench-op-1", 4.9, 5.5)] == [2]


def test_exec_metrics_from_event_log(jobs):
    m = tracing.exec_metrics(jobs[:2], 0.9, 3.0)
    assert m == pytest.approx({
        "exec.jobs": 2, "exec.stages": 3, "exec.tasks": 4,
        "exec.driver_gap_s": 2.1 - 0.8 - 0.5,
        "exec.task_s": 0.65, "exec.task_skew": 1.5,
        "exec.shuffle_write_mb": 1.0, "exec.shuffle_read_mb": 1.0,
        "exec.spill_mb": 2.0, "exec.gc_s": 0.015,
        "sources.input_mb": 2.0, "sources.input_rows": 150,
        "python.task_s": 0.45, "python.data_sent_mb": 2.0, "python.data_received_mb": 1.0,
    })


# --- inputs -------------------------------------------------------------------

def test_corpus_is_deterministic_and_its_counts_are_exact(tmp_path):
    text, counts = inputs.make_corpus(7, 200_000)
    assert inputs.make_corpus(7, 200_000) == (text, counts)
    assert inputs.make_corpus(8, 200_000)[0] != text
    assert collections.Counter(re.findall(r"[A-Za-z']+", text.lower())) == counts
    inputs.write_corpus(str(tmp_path / "a"), 7, 200_000)
    inputs.write_corpus(str(tmp_path / "b"), 7, 200_000)
    for name in ("corpus.txt", "expected.json"):
        assert filecmp.cmp(tmp_path / "a" / name, tmp_path / "b" / name, shallow=False)


def test_fixture_tables_match_their_checksums():
    with open(os.path.join(run.TABLES, "SHA256SUMS"), encoding="ascii") as fh:
        sums = dict(reversed(line.split()) for line in fh)
    assert sorted(sums) == sorted(f for f in os.listdir(run.TABLES) if f.endswith(".parquet"))
    for name, digest in sums.items():
        with open(os.path.join(run.TABLES, name), "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == digest, name


def test_top_k_breaks_ties_by_length_then_word():
    counts = {"bb": 2, "a": 2, "ccc": 2, "ab": 2, "z": 5}
    assert inputs.top_k(counts, 4) == [("z", 5), ("ccc", 2), ("ab", 2), ("bb", 2)]


def test_cached_builds_once(tmp_path):
    calls = []

    def build(d):
        calls.append(d)
        os.makedirs(d)

    first = inputs.cached(str(tmp_path), "k", build)
    assert inputs.cached(str(tmp_path), "k", build) == first
    assert len(calls) == 1 and os.path.isdir(first)


# --- oracle normalization -----------------------------------------------------

def test_canonical_sorts_columns_and_rows_and_rounds_floats():
    cols, rows = canonical([("b", 1.00000004), ("a", 2.0)], ["y", "x"])
    assert cols == ("x", "y")
    assert rows == [(1.0, "b"), (2.0, "a")]
    assert canonical([(2,), (1,)], ["v"]) == canonical([(1,), (2,)], ["v"])
    assert canonical([(0.12345640001,)], ["v"]) == canonical([(0.1234564,)], ["v"])


def test_canonical_keeps_a_decimal_apart_from_a_float():
    # No cell is converted: the engine must return the oracle's types.
    assert canonical([(decimal.Decimal("0.1234564"),)], ["v"]) != canonical([(0.1234564,)], ["v"])


class _Field:
    def __init__(self, name, type_name):
        self.name = name
        self.dataType = type("T", (), {"typeName": lambda self: type_name})()


def test_matches_fails_a_column_of_another_type_class():
    pd = pytest.importorskip("pandas")
    oracle = (canonical([(1.5,)], ["v"]), pd.DataFrame({"v": [1.5]}))
    df = type("DF", (), {})()
    df.schema = type("S", (), {"fields": [_Field("v", "double")]})()
    assert checks.matches(df, ["v"], [(1.5,)], oracle)
    df.schema.fields = [_Field("v", "decimal(10,1)")]
    assert not checks.matches(df, ["v"], [(1.5,)], oracle)


# --- run aggregation ----------------------------------------------------------

def _rec(op_id, pass_no, start, end, ok=True, name="q", cpu=None):
    return {"op_id": op_id, "name": name, "pass_no": pass_no, "start": start, "end": end,
            "ok": ok, "cpu_s": 2 * (end - start) if cpu is None else cpu}


def _run(recs):
    return {"records": recs, "setup_s": 2.0, "setup_cpu_s": 5.0, "jvm_peak_rss_mb": 100.0}


def test_end_to_end_counts_failed_ops_and_drops_them_from_latency():
    recs = [_rec(0, 0, 0, 5), _rec(1, 0, 5, 8),
            _rec(2, 1, 10, 11), _rec(3, 1, 11.5, 19.5, ok=False),
            _rec(4, 2, 20, 22), _rec(5, 2, 22.5, 23.5, cpu=7)]
    m, details = run.end_to_end(_run(recs))
    assert sorted(m) == sorted(run.END_TO_END)
    assert m["setup_s"] == 2.0
    assert m["cold_pass_cpu_s"] == 16
    assert m["warm_pass_cpu_s"] == 14.5  # median of 18 and 11: CPU time of the ops, not of the gaps
    assert details["cold_pass_s"] == 8
    assert details["warm_pass_s"] == 6
    assert details["op_s.p50"] == 1  # of 1, 2 and 1; the failed op's 8 s is left out
    assert run.outcome(recs) == (6, 1)


def test_end_to_end_names_the_tail_with_its_percentile_and_sample_count():
    recs = [_rec(0, 0, 0, 9)]
    for p in range(1, 7):  # six warm passes of two ops; later passes are faster
        recs += [_rec(2 * p - 1, p, 10 * p, 10 * p + 10 - p), _rec(2 * p, p, 10 * p, 10 * p + 1)]
    m, details = run.end_to_end(_run(recs))
    # Twelve warm samples: p16 leaves ten beyond it, and is the second
    # smallest sample.  It is a summary line, not a metric.
    assert details["op_s.tail"] == "p16 of 12 warm op samples: 1.0000"
    assert details["op_s.p50"] == statistics.median([9, 8, 7, 6, 5, 4] + [1] * 6)


def test_per_layer_takes_traced_warm_passes_and_compares_them_with_untraced_ones():
    recs = []
    # A traced cold pass, the untraced settling pass, then U T T U.
    order = [(True, 9), (False, 20), (False, 2), (True, 3), (True, 5), (False, 4)]
    for p, (traced, secs) in enumerate(order):
        for k in range(2):
            rec = _rec(2 * p + k, p, 10 * p, 10 * p + secs / 2)
            rec.update(traced=traced, memo_new=1 if p == 0 else 0)
            recs.append(rec)
    per_op = {str(r["op_id"]): dict.fromkeys(run.PER_OP, 1.0 if r["traced"] else 100.0) for r in recs}
    traced = {"records": recs, "trace": per_op, "sink": [], "session.get_spark_s": 1.0,
              "registry.load_all_s": 0.5, "memo.entries": 2, "memo.cached_mb": 0.0,
              "jvm_peak_rss_mb": 900.0}
    m = run.per_layer(traced)
    assert m["exec.jobs"] == 2  # summed over a traced warm pass's two ops
    assert m["exec.task_skew"] == 1  # the worst op, not the sum
    assert m["memo.new_entries"] == 2  # every pass, the cold one too
    # Median CPU time 8 of the traced warm passes over 6 of the untraced
    # ones; the settling pass is left out.
    assert m["trace.overhead_frac"] == pytest.approx(4 / 3 - 1)
