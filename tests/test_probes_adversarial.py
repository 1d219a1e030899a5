"""Adversarial-content differential tests for the four source-only
engine-agreement queries (``jsonl/csv/compaction_source_agreement``,
``dataset_fingerprint_report``).

Each agreement query folds several properties of a table into one value,
so this file pins that each stays Spark≡DuckDB on the nastiest VALID
content we can synthesize locally:

* documents: astral-plane codepoints (4-byte UTF-8), C0/C1 controls, a
  literal U+FFFD, NFC vs NFD composed/decomposed pairs, U+2028/29, NUL,
  empty vs NULL text, a 20k-char body, and rows whose stored ``n_chars``
  deliberately disagrees with the body's codepoint count.
* orders: NaN / +Inf / -Inf / NULL prices, finite values beyond the ±1e12
  clamp, subnormals, 0001-01-01 / 9999-12-31 timestamp extremes, and NULL
  dates.

INVALID UTF-8 (lone surrogates / WTF-8, overlong, truncated sequences) is
deliberately absent: DuckDB 1.0 rejects every such value at parquet-scan
time with InvalidInputException, so it cannot reach a hash comparison.
"""

from __future__ import annotations

import unicodedata

import pytest
from pyspark.sql import functions as F

AGREEMENT_NAMES = [
    "jsonl_source_agreement",
    "csv_source_agreement",
    "compaction_source_agreement",
    "dataset_fingerprint_report",
]


@pytest.fixture(scope="module")
def probe_adv_dir(spark, sf_dir, tmp_path_factory) -> str:
    root = str(tmp_path_factory.mktemp("sg-probe-adv"))

    nfc = unicodedata.normalize("NFC", "étude")  # étude, composed
    nfd = unicodedata.normalize("NFD", "étude")  # same text, decomposed
    adv_docs = [
        # (doc_id, text, lang, source, n_chars_override)
        (150, "astral \U0001f600\U0001f4a9\U00010000 tail", "xx", "advsrc", None),
        (151, "controls \x01\x02\x1f\x7f\x85 tail", "en", "advsrc", None),
        (152, "replacement � char literal", "en", "advsrc", None),
        (153, nfc, "fr", "advsrc", None),
        (154, nfd, "fr", "advsrc", None),
        (155, "line para seps", "en", "advsrc", None),
        (156, "nul\x00byte", "en", "advsrc", None),
        (157, "", "en", "advsrc", None),
        (158, None, None, None, None),
        (159, "y" * 20000, "en", "advsrc", None),
        # stored n_chars deliberately disagrees with the body
        (160, "four", "en", "advsrc", 7),
        (161, "\U0001f600\U0001f600", "en", "advsrc", 5),
    ]
    ids = [r[0] for r in adv_docs]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inject = spark.createDataFrame(
        [
            (i, t, lang, src, (len(t) if t is not None else None) if nc is None else nc)
            for i, t, lang, src, nc in adv_docs
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.filter(~F.col("doc_id").isin(ids)).unionByName(inject).coalesce(
        2
    ).write.parquet(f"{root}/documents.parquet")

    nan, inf = float("nan"), float("inf")
    adv_orders = [
        (450, 1, "O", nan, "1996-01-01", "1-URGENT"),
        (451, 1, "F", inf, "1996-01-02", "2-HIGH"),
        (452, 1, "P", -inf, "1996-01-03", "3-MEDIUM"),
        (453, 1, "O", None, None, None),
        (454, 1, "F", 9.9e14, "0001-01-01", "4-NOT SPECIFIED"),
        (455, 1, "P", -8.8e13, "9999-12-31", "5-LOW"),
        (456, 1, "O", 5e-324, "1996-02-29", "pri éxotique"),
        (457, 1, "F", -0.0, "1996-01-07", ""),
        (458, 1, "P", 0.1 + 0.2, "1996-01-08", "1-URGENT"),
        (459, 1, "O", 123456.654321, "1996-01-09", "2-HIGH"),
    ]
    keys = [r[0] for r in adv_orders]
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    inject_o = spark.createDataFrame(
        adv_orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    orders.filter(~F.col("o_orderkey").isin(keys)).unionByName(
        inject_o
    ).coalesce(2).write.parquet(f"{root}/orders.parquet")
    return root


@pytest.fixture(scope="module")
def duck(probe_adv_dir):
    import duckdb

    con = duckdb.connect()
    for t in ("documents", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{probe_adv_dir}/{t}.parquet/*.parquet')"
        )
    return con


@pytest.mark.parametrize("name", AGREEMENT_NAMES)
def test_agreement_query_matches_duckdb_on_adversarial_content(
    spark, probe_adv_dir, duck, name
):
    from distributed_mapreduce_in_docker_rpyc_spark.registry import ORACLES, QUERIES, load_all

    load_all()
    rows = QUERIES[name](spark, probe_adv_dir).collect()
    res = duck.execute(ORACLES[name])
    cols = [d[0] for d in res.description]
    want = res.fetchall()
    got = [tuple(r[c] for c in cols) for r in rows]
    assert sorted(map(repr, got)) == sorted(map(repr, want)), (name, got, want)
