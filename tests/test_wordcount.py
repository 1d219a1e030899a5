"""Flagship word-count tests: DF path ≡ RDD path ≡ DuckDB oracle, plus the
reference-derived property tests from SURVEY.md §5 (chunking invariance,
partition-count invariance) and the OP-11/OP-14 sinks."""

from __future__ import annotations

import glob
import json

from pyspark.sql import functions as F

from distributed_mapreduce_in_docker_rpyc_spark.operators import wordcount as wc
from distributed_mapreduce_in_docker_rpyc_spark.registry import ORACLES, QUERIES, load_all
from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table
from tests.oracle import compare

load_all()


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_top20_matches_oracle(spark, sf_dir):
    compare(QUERIES["wordcount_top20"](spark, sf_dir), ORACLES["wordcount_top20"], sf_dir)


def test_full_counts_match_oracle(spark, sf_dir):
    compare(QUERIES["wordcount_full"](spark, sf_dir), ORACLES["wordcount_full"], sf_dir)


def test_rdd_path_equals_df_path(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    df_counts = {(r["word"], r["cnt"]) for r in wc.word_counts(docs).collect()}
    rdd_counts = {(r["word"], r["cnt"]) for r in wc.word_counts_rdd(docs).collect()}
    assert df_counts == rdd_counts


def test_partition_count_invariance(spark, sf_dir):
    """Reference property: results independent of NUM_REDUCERS
    (coordinator/Dockerfile:8 pins 3; code default 2×parallelism)."""
    docs = _docs(spark, sf_dir)
    base = {(r["word"], r["cnt"]) for r in wc.word_counts_rdd(docs, num_partitions=3).collect()}
    other = {(r["word"], r["cnt"]) for r in wc.word_counts_rdd(docs, num_partitions=17).collect()}
    assert base == other


def test_chunking_invariance(spark, sf_dir):
    """Reference property: counts identical for any input split layout
    (OP-4/OP-15/OP-16 are all count-preserving)."""
    docs = _docs(spark, sf_dir)
    base = {(r["word"], r["cnt"]) for r in wc.word_counts(docs).collect()}
    rechunked = {(r["word"], r["cnt"]) for r in wc.word_counts(docs.repartition(13)).collect()}
    assert base == rechunked


def test_tokenizer_semantics(spark):
    """Reference tokenizer edge cases (worker/worker.py:7): apostrophes kept,
    digits/underscores/accents are separators, case-folded."""
    df = spark.createDataFrame(
        [("Don't stop_me now; café 123 naïve ABCdef",)], ["text"]
    )
    got = sorted(r["word"] for r in wc.tokens(df).collect())
    # café → caf|é split; naïve → na|ve split ('ï' is a separator pre-lowering)
    assert got == sorted(["don't", "stop", "me", "now", "caf", "abcdef", "na", "ve"])


def test_rdd_path_equals_df_path_on_case_expanding_letters(spark):
    """The Kelvin sign lowercases to ``k`` and ``İ`` to ``i`` + U+0307; the
    DataFrame and RDD paths both lower before matching, so they agree.  A
    null row counts nothing, and partitions left empty (more partitions than
    rows) emit no pairs."""
    df = spark.createDataFrame(
        [("\u212aelvin \u0130stanbul ok",), (None,), ("ok",)], "text string"
    ).repartition(7)
    assert wc.text_rdd(df).getNumPartitions() == 7
    want = {("kelvin", 1), ("i", 1), ("stanbul", 1), ("ok", 2)}
    assert {(r["word"], r["cnt"]) for r in wc.word_counts(df).collect()} == want
    assert {(r["word"], r["cnt"]) for r in wc.word_counts_rdd(df).collect()} == want


def test_topk_deterministic_tiebreak(spark):
    df = spark.createDataFrame([("bb cc aa dd",)], ["text"])
    rows = wc.top_k_words(df, k=4).collect()
    assert [r["word"] for r in rows] == ["aa", "bb", "cc", "dd"]


def test_json_sink_and_report(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    top = wc.top_k_words(docs, 5)
    out = str(tmp_path / "json_sink")
    wc.write_json_sink(top, out, num_partitions=2)
    files = glob.glob(f"{out}/part-*.json")
    assert files
    rows = [json.loads(line) for f in files for line in open(f)]
    assert len(rows) == 5 and all({"word", "cnt"} <= set(r) for r in rows)

    rep = wc.report(docs, k=3)
    lines = rep.splitlines()
    assert len(lines) == 3 and lines[0].startswith(" 1. ") and " -> " in lines[0]


def test_takeordered_rdd_topk(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    df_rows = [(r["word"], r["cnt"]) for r in wc.top_k_words(docs, 20).collect()]
    rdd_rows = wc.top_k_words_rdd(docs, 20)
    assert df_rows == rdd_rows


def test_empty_input(spark):
    """Reference guard: empty file still yields a (empty) result
    (coordinator/coordinator.py:84-87 always emits ≥1 chunk)."""
    df = spark.createDataFrame([], "text string")
    assert wc.word_counts(df).count() == 0
    assert wc.top_k_words(df, 20).count() == 0


def test_rdd_core_accumulator_counts_records(spark, sf_dir):
    """Task-level bookkeeping parity with the reference's per-task metrics
    (SURVEY.md §4): an accumulator tallies records seen by map tasks; its
    final value equals the dataset size regardless of partitioning."""
    from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("text")
    acc = spark.sparkContext.accumulator(0)

    def count_rows(row):
        acc.add(1)
        return row

    n = docs.rdd.map(count_rows).count()
    assert acc.value == n == docs.count()
