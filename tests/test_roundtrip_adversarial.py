"""Adversarial-content regression tests for the filesystem round-trip
deviation proofs (VERDICT r6 next-round #1 + #2).

Rounds 4–6 had 8 driver-red / locally-green round-trip queries.  Round 7
reproduced the class locally by injecting fixture content the standard
generator never produces, which surfaced four REAL defects:

1. CSV line-split read shreds writer-quoted embedded newlines into extra
   corrupt fragments  → fixed with ``multiLine`` read.
2. Reader default ``nullValue=''`` maps even a QUOTED empty string to
   NULL, so ``''`` fields read back as NULL  → fixed with the ``\\N``
   null convention on both sides.
3. CSV *writer* defaults trim leading/trailing whitespace, so ``'   '``
   writes as ``''``  → fixed by pinning ``ignore*WhiteSpace=false``.
4. PERMISSIVE's corrupt-record set is PROJECTION-DEPENDENT (a row is
   corrupt only if a *requested* column fails to parse), so two
   differently-pruned aggregates over the same directory see DIFFERENT
   corrupt sets  → fixed by materializing ONE full-projection parse.

These tests pin all four behaviors by running the registered proof
queries against a fixture whose documents/orders tables carry U+2028/29,
astral-plane codepoints, \\r / \\r\\n, NUL bytes, 20k-char lines, empty
vs NULL strings, quotes/backslashes/commas in fields, whitespace-only
fields, non-finite-adjacent doubles and extreme dates.  Every deviation
column must still be exactly zero and the corrupt-shard literals exact.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def adv_dir(spark, sf_dir, tmp_path_factory) -> str:
    """Adversarial copy of the documents/orders fixtures (the only tables
    the round-trip proofs read)."""
    root = str(tmp_path_factory.mktemp("sg-adv-fixture"))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    adv_docs = [
        (150, "line sep and para sep", "en", "advsrc"),
        (151, "nbsp and astral \U0001f600\U0001f4a9 plane", "xx", "advsrc"),
        (152, "carriage\rreturn and crlf\r\nmix", "en", "advsrc"),
        (153, "tab\tand \"quotes\" and \\backslash\\ and 'single'", None, "advsrc"),
        (154, "x" * 20000, "en", "advsrc"),
        (155, "", "en", "advsrc"),
        (156, None, "en", "advsrc"),
        (157, "embedded\nnewline\nlines", "en", "advsrc"),
        (158, "null\x00char and bell\x07", "en", "advsrc"),
        (159, "trailing space   \nand , commas, everywhere", None, None),
    ]
    adv_ids = [r[0] for r in adv_docs]
    inject = spark.createDataFrame(
        [(i, t, lang, src, len(t) if t is not None else None) for i, t, lang, src in adv_docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.filter(~F.col("doc_id").isin(adv_ids)).unionByName(inject).coalesce(
        2
    ).write.parquet(f"{root}/documents.parquet")

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    adv_orders = [
        (450, 1, "has,comma", 100.5, "1996-01-01", "1-URGENT"),
        (451, 1, "has\nnewline", None, "1996-01-02", "2-HIGH"),
        (452, 1, 'has"quote', 3.25, None, "3-MEDIUM"),
        (453, 1, None, 7.0, "1996-01-04", ""),
        (454, 1, "has\rcr", 1e-7, "1996-01-05", "pri,with,commas"),
        (455, 1, "F", 12345.678901234, "1996-01-06", "pri\nnl"),
        (456, 1, '"', 0.1, "1996-01-07", 'a"b"c'),
        (457, 1, "x\\", 999999999999999999.5, "0001-01-01", "ends\\"),
        (458, 1, "   ", 5e-7, "9999-12-31", ",leading"),
        (459, 1, "trailing,", 0.1 + 0.2, "1996-02-29", 'mix,"q",\nnl'),
    ]
    adv_keys = [r[0] for r in adv_orders]
    inject_o = spark.createDataFrame(
        adv_orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    orders.filter(~F.col("o_orderkey").isin(adv_keys)).unionByName(
        inject_o
    ).coalesce(2).write.parquet(f"{root}/orders.parquet")
    return root


def _one(df) -> dict:
    rows = df.collect()
    assert len(rows) == 1
    return rows[0].asDict()


def test_jsonl_deviation_proof_is_zero_on_adversarial_content(spark, adv_dir):
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_wordcount import (
        jsonl_roundtrip,
    )

    row = _one(jsonl_roundtrip(spark, adv_dir))
    assert row["n_corrupt"] == 3
    assert row["sum_corrupt_bytes"] == 86
    devs = {k: v for k, v in row.items() if k.startswith("dev_")}
    assert devs == {k: 0 for k in devs}, devs


def test_csv_deviation_proof_is_zero_on_adversarial_content(spark, adv_dir):
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_wordcount import (
        csv_roundtrip,
    )

    row = _one(csv_roundtrip(spark, adv_dir))
    assert row["n_corrupt"] == 3
    assert row["sum_corrupt_bytes"] == 89
    assert row["n_rows_changed"] == 0
    assert row["n_price_rows_changed"] == 0
    devs = {k: v for k, v in row.items() if k.startswith("dev_")}
    assert devs == {k: 0 for k in devs}, devs


def test_compaction_deviation_proof_is_zero_on_adversarial_content(spark, adv_dir):
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_quality import (
        compaction_roundtrip,
    )

    row = _one(compaction_roundtrip(spark, adv_dir))
    assert row["n_files_after"] == 1
    devs = {k: v for k, v in row.items() if k.startswith("dev_")}
    assert devs == {k: 0 for k in devs}, devs


def test_source_agreement_queries_match_duckdb_on_adversarial_content(spark, adv_dir):
    """The engine-agreement siblings must hash-match DuckDB even on the
    adversarial fixture (exotic codepoints, extreme doubles/dates)."""
    import duckdb

    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_quality import (
        compaction_source_agreement,
    )
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_wordcount import (
        csv_source_agreement,
        jsonl_source_agreement,
    )
    from distributed_mapreduce_in_docker_rpyc_spark.registry import ORACLES, load_all

    load_all()
    con = duckdb.connect()
    for t in ("documents", "orders"):
        # Spark writes <name>.parquet as a directory of part files
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{adv_dir}/{t}.parquet/*.parquet')"
        )
    for name, fn in (
        ("jsonl_source_agreement", jsonl_source_agreement),
        ("csv_source_agreement", csv_source_agreement),
        ("compaction_source_agreement", compaction_source_agreement),
    ):
        got = _one(fn(spark, adv_dir))
        res = con.execute(ORACLES[name])
        want = dict(zip([d[0] for d in res.description], res.fetchone()))
        assert got == want, (name, got, want)


def test_jsonl_gzip_deviation_proof_is_zero_on_adversarial_content(spark, adv_dir):
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_wordcount import (
        jsonl_gzip_roundtrip,
    )

    row = _one(jsonl_gzip_roundtrip(spark, adv_dir))
    assert row["n_files"] == 4
    devs = {k: v for k, v in row.items() if k.startswith("dev_")}
    assert devs == {k: 0 for k in devs}, devs
