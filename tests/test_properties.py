"""Property-based tests (hypothesis): the tokenizer contract holds for
adversarial inputs, and shingle/count invariants follow from it.

One Spark job per test: hypothesis generates a corpus driver-side, the
whole batch ships as one DataFrame, and per-row results are compared
against the pure-Python reference semantics (reference worker/worker.py:7,18).
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from distributed_mapreduce_in_docker_rpyc_spark.functions.text import tokenize_column, tokenize_line

# Adversarial text: ASCII letters/apostrophes mixed with digits, unicode
# letters (müller), combining marks, newlines, punctuation, emoji, and the
# letters whose lowercase contains an ASCII letter (Kelvin sign → k,
# İ → i + U+0307): both engine paths lower the text before matching, so
# they must split those the same way (functions/text.py).
TEXT = st.text(
    alphabet=st.sampled_from(
        list("abcXYZ'0_9-– \t\n.,!?") + ["é", "ü", "ß", "中", "🙂", "́", "\u212a", "\u0130"]
    ),
    max_size=80,
)


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(TEXT, min_size=1, max_size=40))
def test_spark_tokenizer_equals_reference_python(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    got = {
        r["i"]: list(r["toks"])
        for r in df.select("i", tokenize_column("text").alias("toks")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == tokenize_line(t), repr(t)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(TEXT, min_size=1, max_size=20))
def test_wordcount_equals_python_counter(spark, texts):
    from distributed_mapreduce_in_docker_rpyc_spark.operators.wordcount import word_counts, word_counts_rdd

    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    got = {r["word"]: r["cnt"] for r in word_counts(df).collect()}
    want = Counter(w for t in texts for w in tokenize_line(t))
    assert got == dict(want)
    assert {r["word"]: r["cnt"] for r in word_counts_rdd(df).collect()} == dict(want)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(TEXT, min_size=1, max_size=20), st.integers(min_value=1, max_value=6))
def test_counts_invariant_under_repartition(spark, texts, nparts):
    """OP-4/OP-16 invariance (SURVEY.md §5): results never depend on the
    partition count."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.wordcount import word_counts, word_counts_rdd

    df = spark.createDataFrame([(t,) for t in texts], ["text"]).repartition(nparts)
    got = {r["word"]: r["cnt"] for r in word_counts(df).collect()}
    want = Counter(w for t in texts for w in tokenize_line(t))
    assert got == dict(want)
    assert {r["word"]: r["cnt"] for r in word_counts_rdd(df).collect()} == dict(want)


def test_shingles_match_token_slices_on_fixture(spark, sf_dir):
    """dedup.shingles_column ≡ the definitional k-token slices, checked
    row-for-row on the real fixture corpus."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.dedup import SHINGLE_K, shingles_column
    from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = docs.select(
        "doc_id", F.col("text"), shingles_column("text").alias("sh")
    ).collect()
    for r in rows:
        toks = tokenize_line(r["text"])
        if len(toks) < SHINGLE_K:
            want = [" ".join(toks)]
        else:
            want = [
                " ".join(toks[i : i + SHINGLE_K])
                for i in range(len(toks) - SHINGLE_K + 1)
            ]
        assert list(r["sh"]) == want, r["doc_id"]


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(TEXT, min_size=1, max_size=15))
def test_exact_dedup_is_idempotent(spark, texts):
    """dedup(dedup(X)) == dedup(X), and survivors are pairwise-distinct —
    for arbitrary corpora including all-duplicates and near-empty rows."""
    from pyspark.sql import Window

    def keep_first(df):
        # same formulation as the registered dedup_keep_first query
        w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
        return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    once = keep_first(df)
    twice = keep_first(once)
    got_once = sorted(tuple(r) for r in once.collect())
    got_twice = sorted(tuple(r) for r in twice.collect())
    assert got_once == got_twice
    surviving_texts = [t for _, t in got_once]
    assert len(surviving_texts) == len(set(surviving_texts))
    # keep-first: every survivor is the minimum doc_id of its text group
    by_text = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, i)
    assert {(by_text[t], t) for t in set(texts)} == set(map(tuple, got_once))


def test_transition_matrix_rows_are_distributions(spark, sf_dir):
    """Each source state's outgoing probabilities sum to 1 (±rounding)."""
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["events_transition_matrix"](spark, sf_dir).collect()
    sums = {}
    for r in rows:
        sums[r.src] = sums.get(r.src, 0.0) + r.p
    assert sums and all(abs(s - 1.0) < 1e-3 for s in sums.values()), sums


def test_winsorize_never_widens_range(spark, sf_dir):
    """Capped averages stay within [p01, p99] and capping counts are ~2%
    of rows total — the winsorization contract."""
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all
    from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table

    load_all()
    li = load_table(spark, sf_dir, "lineitem")
    lo, hi = li.selectExpr(
        "percentile(l_extendedprice, 0.01)", "percentile(l_extendedprice, 0.99)"
    ).first()
    n = li.count()
    rows = QUERIES["winsorized_prices"](spark, sf_dir).collect()
    assert rows
    capped = 0
    for r in rows:
        assert lo <= r.avg_capped <= hi
        capped += r.n_capped_low + r.n_capped_high
    assert capped / n < 0.03


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=9),
    data=st.binary(min_size=1, max_size=96),
)
def test_bmp_codec_roundtrip_property(w, h, data):
    """BMP encode→decode preserves dimensions and channel sums for arbitrary
    pixel bytes and every padding width — pure-Python, no Spark."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.multimodal import bmp_decode, bmp_encode

    stream = bytes(data[i % len(data)] for i in range(3 * w * h))
    dw, dh, sr, sg, sb = bmp_decode(bmp_encode(w, h, stream))
    assert (dw, dh) == (w, h)
    assert (sr, sg, sb) == (sum(stream[0::3]), sum(stream[1::3]), sum(stream[2::3]))


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=st.binary(min_size=0, max_size=256))
def test_wav_codec_roundtrip_property(data):
    """WAV encode→decode preserves sample count, amplitude sum and peak for
    arbitrary 8-bit PCM payloads, including empty and odd lengths."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.multimodal import wav_decode, wav_encode

    n, rate, s, peak = wav_decode(wav_encode(data))
    assert (n, rate) == (len(data), 8000)
    assert s == sum(data)
    assert peak == (max(data) if data else 0)


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(TEXT, min_size=1, max_size=12), st.integers(min_value=1, max_value=7))
def test_token_spans_tile_exactly(spark, texts, span):
    """The C4 pseudo-line builder must TILE: joining the spans back with a
    single space reproduces the tokenized text exactly (every token in one
    and only one span, order preserved), for any span width and any input —
    including empty and non-ASCII documents."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_text import _token_spans
    from distributed_mapreduce_in_docker_rpyc_spark.functions.text import tokenize_line

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    got = {
        r["i"]: list(r["spans"])
        for r in df.select(
            "i", _token_spans(tokenize_column("text"), span).alias("spans")
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = tokenize_line(t)
        spans = got[i]
        assert " ".join(spans) == " ".join(toks), (t, span)
        assert all(1 <= len(s.split(" ")) <= span for s in spans if s)
        expect_n = (len(toks) + span - 1) // span
        assert len(spans) == expect_n


@settings(deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=255), min_size=0, max_size=200))
def test_wht_involution_and_parseval(samples):
    """The unnormalized Walsh–Hadamard transform used by
    multimodal_wav_hadamard is a scaled involution (H @ H == 64·I) and
    satisfies Parseval exactly (Σc² == 64·Σv²) for ARBITRARY byte signals —
    generated inputs, not just the fixture corpus."""
    import numpy as np

    from distributed_mapreduce_in_docker_rpyc_spark.operators.multimodal import WHT_N

    idx = np.arange(WHT_N)
    parity = np.zeros((WHT_N, WHT_N), dtype=np.int64)
    for k in range(WHT_N):
        v = k & idx
        for sh in (32, 16, 8, 4, 2, 1):
            v = v ^ (v >> sh)
        parity[k] = v & 1
    H = 1 - 2 * parity
    # scaled involution: applying H twice recovers 64x the input
    v = np.zeros(WHT_N, dtype=np.int64)
    arr = np.array(samples[:WHT_N], dtype=np.int64) - 128
    v[: len(arr)] = arr
    c = H @ v
    assert np.array_equal(H @ c, WHT_N * v)
    # Parseval, exactly, in integers
    assert int((c * c).sum()) == WHT_N * int((v * v).sum())
