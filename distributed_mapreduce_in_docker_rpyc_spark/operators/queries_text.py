"""Text-analysis operators for training-data pipelines (SURVEY.md §7 M4).

Everything is JVM-side expression math over the tokenizer from
functions/text.py (reference semantics, worker/worker.py:7,18) — no Python
UDFs in any of these paths, so they run at scan speed on 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_in_docker_rpyc_spark.functions.text import tokenize_column
from distributed_mapreduce_in_docker_rpyc_spark.registry import register
from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table

# Stopword lists for the language-ID heuristic (tiny, deterministic).
LANG_STOPWORDS = {
    "de": ["der", "die", "das", "und", "ist"],
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "les", "et", "des", "un"],
}

_EN_STOP = ("the", "a", "of", "and", "to", "in", "is")


@register(
    "text_stats",
    oracle="""
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len(regexp_extract_all(text, '\\S+')) AS n_tokens_ws,
           len(regexp_extract_all(lower(text), '[a-z'']+')) AS n_words,
           CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
             / greatest(len(regexp_extract_all(text, '\\S+')), 1) AS avg_token_len,
           CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s'']', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1) AS punct_ratio,
           CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z'']+'),
                                t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
             / greatest(len(regexp_extract_all(lower(text), '[a-z'']+')), 1) AS stopword_ratio
    FROM documents
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality statistics: char/token/word counts, average token
    length, punctuation ratio, stopword ratio."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    ws_tokens = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_calc"),
        F.size(ws_tokens).alias("n_tokens_ws"),
        F.size(toks).alias("n_words"),
        (
            F.length(F.regexp_replace("text", r"\s+", "")).cast("double")
            / F.greatest(F.size(ws_tokens), F.lit(1))
        ).alias("avg_token_len"),
        (
            (F.length("text") - F.length(F.regexp_replace("text", r"[^A-Za-z0-9\s']", ""))).cast("double")
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("punct_ratio"),
        (
            F.size(F.filter(toks, lambda t: t.isin(*_EN_STOP))).cast("double")
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("stopword_ratio"),
    )


def _lang_scores_spark(toks):
    def hit_count(words):
        wlist = list(words)
        return F.size(F.filter(toks, lambda t: t.isin(*wlist)))

    return {lang: hit_count(words) for lang, words in LANG_STOPWORDS.items()}


@register(
    "text_langid",
    oracle="""
    WITH s AS (
        SELECT doc_id,
               len(list_filter(regexp_extract_all(lower(text), '[a-z'']+'), t -> t IN ('der','die','das','und','ist'))) AS s_de,
               len(list_filter(regexp_extract_all(lower(text), '[a-z'']+'), t -> t IN ('the','and','of','to','a'))) AS s_en,
               len(list_filter(regexp_extract_all(lower(text), '[a-z'']+'), t -> t IN ('el','la','de','y','que'))) AS s_es,
               len(list_filter(regexp_extract_all(lower(text), '[a-z'']+'), t -> t IN ('le','les','et','des','un'))) AS s_fr
        FROM documents
    )
    SELECT doc_id, s_de, s_en, s_es, s_fr,
           CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS predicted_lang
    FROM s
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: argmax of per-language stopword hits,
    ties broken alphabetically, no hits → 'und'. A real pipeline would swap
    the word lists for character-n-gram profiles — the dataflow (per-row
    expression scoring, no shuffle) is the part that scales."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    s = _lang_scores_spark(toks)
    pred = (
        F.when((s["de"] == 0) & (s["en"] == 0) & (s["es"] == 0) & (s["fr"] == 0), "und")
        .when((s["de"] >= s["en"]) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return docs.select(
        "doc_id",
        s["de"].alias("s_de"),
        s["en"].alias("s_en"),
        s["es"].alias("s_es"),
        s["fr"].alias("s_fr"),
        pred.alias("predicted_lang"),
    )


@register(
    "text_token_count_bpe",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
           len(regexp_extract_all(text, '\\S+')) AS n_ws_tokens,
           length(text) AS n_chars_calc
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: BPE-ish pre-tokenizer regex (letter runs / digit runs /
    single punctuation) vs whitespace tokens vs chars."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)).alias(
            "n_bpe_tokens"
        ),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)).alias("n_ws_tokens"),
        F.length("text").alias("n_chars_calc"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(regexp_extract_all(lower(text), '[a-z'']+'), ' ')) AS stream_fp,
           md5(array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '[a-z'']+'))), ' ')) AS bag_fp
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 of the token stream (order-sensitive) and of
    the sorted distinct-token bag (order-insensitive) — the cheap first stage
    of any dedup cascade."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    return docs.select(
        "doc_id",
        F.md5(F.array_join(toks, " ")).alias("stream_fp"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("bag_fp"),
    )


@register(
    "text_bigram_freq",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS t
        FROM documents
    ),
    bg AS (
        SELECT t[i] || ' ' || t[i + 1] AS bigram
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
    )
    SELECT bigram, COUNT(*) AS cnt
    FROM bg GROUP BY bigram
    HAVING COUNT(*) >= 10
    """,
)
def text_bigram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequencies (≥10 occurrences): the n-gram LM statistics
    pass of a training pipeline. Same overlapping-regex construction as the
    dedup shingles — per-row, codegen'd, one shuffle on the bigram."""
    toks = tokenize_column("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.regexp_extract_all(
            F.array_join(toks, " "), F.lit(r"(?<![a-z'])(?=([a-z']+ [a-z']+))"), 1
        ),
    ).otherwise(F.array())
    return (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 10)
    )


@register(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           ROUND(
               0.4 * least(len(regexp_extract_all(lower(text), '[a-z'']+')) / 50.0, 1.0)
             + 0.3 * (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s'']', '', 'g')) AS DOUBLE)
                            / greatest(length(text), 1))
             + 0.3 * least(4.0 * CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z'']+'),
                                                       t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                                 / greatest(len(regexp_extract_all(lower(text), '[a-z'']+')), 1), 1.0),
           6) AS quality
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document-quality score in [0,1]: length saturation (40%),
    low punctuation density (30%), stopword-rate naturalness (30%) — the
    filter-threshold input of a corpus-cleaning pipeline, all JVM-side."""
    toks = tokenize_column("text")
    n_words = F.size(toks)
    length_part = F.least(n_words / F.lit(50.0), F.lit(1.0))
    punct_ratio = (
        (F.length("text") - F.length(F.regexp_replace("text", r"[^A-Za-z0-9\s']", ""))).cast("double")
        / F.greatest(F.length("text"), F.lit(1))
    )
    stop_rate = (
        F.size(F.filter(toks, lambda t: t.isin(*_EN_STOP))).cast("double")
        / F.greatest(n_words, F.lit(1))
    )
    quality = F.round(
        0.4 * length_part + 0.3 * (F.lit(1.0) - punct_ratio) + 0.3 * F.least(4.0 * stop_rate, F.lit(1.0)),
        6,
    )
    return load_table(spark, sf_dir, "documents").select("doc_id", quality.alias("quality"))


@register(
    "text_langid_confusion",
    oracle="""
    WITH s AS (
        SELECT doc_id, lang,
               len(list_filter(regexp_extract_all(lower(text), '[a-z'']+'), t -> t IN ('der','die','das','und','ist'))) AS s_de,
               len(list_filter(regexp_extract_all(lower(text), '[a-z'']+'), t -> t IN ('the','and','of','to','a'))) AS s_en,
               len(list_filter(regexp_extract_all(lower(text), '[a-z'']+'), t -> t IN ('el','la','de','y','que'))) AS s_es,
               len(list_filter(regexp_extract_all(lower(text), '[a-z'']+'), t -> t IN ('le','les','et','des','un'))) AS s_fr
        FROM documents
    ),
    pred AS (
        SELECT lang AS actual_lang,
               CASE WHEN s_de = 0 AND s_en = 0 AND s_es = 0 AND s_fr = 0 THEN 'und'
                    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS predicted_lang
        FROM s
    )
    SELECT actual_lang, predicted_lang, COUNT(*) AS n
    FROM pred GROUP BY actual_lang, predicted_lang
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation shape: confusion matrix of the language-ID
    heuristic against the fixture's ground-truth lang column — the quality
    gate a corpus pipeline runs before trusting a filter."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    s = _lang_scores_spark(toks)
    pred = (
        F.when((s["de"] == 0) & (s["en"] == 0) & (s["es"] == 0) & (s["fr"] == 0), "und")
        .when((s["de"] >= s["en"]) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when((s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return (
        docs.select(F.col("lang").alias("actual_lang"), pred.alias("predicted_lang"))
        .groupBy("actual_lang", "predicted_lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "corpus_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
        FROM documents
    )
    """,
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 train/val/test split: bucket = first 8 hex
    chars of md5(doc_id) mod 100 — engine-portable (no RNG state), stable
    under reshuffling/re-partitioning, and joinable from any table that
    carries doc_id. The split every training pipeline must be able to
    recompute bit-identically."""
    b = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    ) % 100
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
    )


@register(
    "corpus_shuffle_shards",
    oracle="""
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
    FROM (
        SELECT doc_id,
               md5('shuffle:42:' || CAST(doc_id AS VARCHAR)) AS h,
               CAST(('0x' || substr(md5('shuffle:42:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS shard
        FROM documents
    )
    """,
)
def corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle into training shards: each
    document gets a shard (md5 bucket, 16-way) and a position within its
    shard (rank of the salted hash) — the reproducible training-order
    randomization every epoch-0 data loader needs, recomputable
    bit-identically by any engine with md5 (no RNG state; salt
    'shuffle:42:' keeps it independent of corpus_split's buckets).

    Scale shape: shard assignment is per-row expression math; the only
    shuffle is the 16-way hash exchange + per-shard local sort (each
    shard ≈ N/16 — a ROW_NUMBER window over uniform md5 partitions, never
    a global sort).  Writing shard files is then a partitionBy('shard')
    sink; at 100 TB raise the shard count so each sorts in memory."""
    h = F.md5(F.concat(F.lit("shuffle:42:"), F.col("doc_id").cast("string")))
    shard = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 16
    w = Window.partitionBy("shard").orderBy(F.asc("h"), F.asc("doc_id"))
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", h.alias("h"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


@register(
    "corpus_mixture_plan",
    oracle="""
    WITH stats AS (
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY source
    )
    SELECT source, n_docs, total_chars,
           ROUND(CAST(total_chars AS DOUBLE) / (SELECT SUM(total_chars) FROM stats), 6) AS natural_share,
           ROUND(least(1.0, (0.05 * (SELECT SUM(total_chars) FROM stats))
                            / CAST(total_chars AS DOUBLE)), 6) AS sample_fraction
    FROM stats
    """,
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixing plan: per-source character inventory, natural share,
    and the sampling fraction that caps every source at 5% of the corpus —
    the rebalancing computation before building a training mixture. Pure
    aggregation + a broadcast scalar; sampling itself composes with
    corpus_split's hash buckets."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )
    total = stats.agg(F.sum("total_chars")).first()[0] or 1  # 1 on empty corpus
    return stats.select(
        "source",
        "n_docs",
        "total_chars",
        F.round(F.col("total_chars").cast("double") / F.lit(float(total)), 6).alias("natural_share"),
        F.round(
            F.least(F.lit(1.0), F.lit(0.05 * float(total)) / F.col("total_chars").cast("double")), 6
        ).alias("sample_fraction"),
    )


@register(
    "corpus_stratified_sample",
    oracle="""
    WITH stats AS (
        SELECT source, SUM(n_chars) AS total_chars FROM documents GROUP BY source
    ),
    frac AS (
        SELECT source,
               least(1.0, (0.05 * (SELECT SUM(total_chars) FROM stats))
                          / CAST(total_chars AS DOUBLE)) AS f
        FROM stats
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN frac ON frac.source = d.source
    WHERE CAST(('0x' || substr(md5('sample:' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
          < CAST(frac.f * 1000000 AS BIGINT)
    """,
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixture plan APPLIED: hash-bucket sampling at each source's
    capped fraction (ppm resolution). Deterministic — rerunning yields the
    same sample, and the hash is salted ('sample:') so it is independent of
    the train/test split buckets."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(F.sum("n_chars").alias("total_chars"))
    total = stats.agg(F.sum("total_chars")).first()[0] or 1  # 1 on empty corpus
    frac = stats.select(
        "source",
        F.least(
            F.lit(1.0), F.lit(0.05 * float(total)) / F.col("total_chars").cast("double")
        ).alias("f"),
    )
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint") % 1000000
    return (
        docs.join(F.broadcast(frac), "source")
        .filter(bucket < (F.col("f") * 1000000).cast("bigint"))
        .select("doc_id", "source")
    )


@register(
    "corpus_packing_plan",
    oracle="""
    WITH toks AS (
        SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z'']+')) AS n_tokens
        FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST((SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) // 512
                AS BIGINT) AS bin_id
    FROM toks
    """,
)
def corpus_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan: assign documents (in stable doc_id order) to
    ~512-token training bins by running token count — the packing step
    before building fixed-length training sequences. One global window; at
    100 TB partition by shard first and pack within shards."""
    from pyspark.sql import Window

    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokenize_column("text")).alias("n_tokens")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return toks.select(
        "doc_id",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 512)
        .cast("bigint")
        .alias("bin_id"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents
    ), tf AS (
        SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word
    ), df AS (
        SELECT word, count(DISTINCT doc_id) AS df FROM toks GROUP BY word
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word,
               round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
        FROM tf JOIN df USING (word), n
    )
    SELECT doc_id, word, tfidf FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rk
        FROM scored
    ) WHERE rk <= 5
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-5 terms per document by
    tf * ln(N/df), deterministic (score rounded to 6 places BEFORE ranking
    so Java/C libm ulp differences can't flip rank boundaries; ties break
    on word).  One token explode feeds both the tf and df aggregations;
    df is vocabulary-sized, so it broadcasts back onto tf."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = docs.select("doc_id", F.explode(tokenize_column("text")).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = toks.groupBy("word").agg(F.count_distinct("doc_id").alias("df"))
    scored = tf.join(F.broadcast(df), "word").select(
        "doc_id",
        "word",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "word", "tfidf")
    )


_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_URL_RE = "https?://[^ ]+"


@register(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_URL_RE}', '<URL>', 'g') AS scrubbed,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_URL_RE}')) AS n_urls
    FROM documents
    WHERE doc_id < 2000
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass a training corpus gets before
    anything else: emails and URLs replaced by placeholder tokens, with
    per-document redaction counts for audit.  Pure JVM regexp (patterns are
    valid in both Java regex and RE2, asserted by the oracle), so it runs
    at scan speed; doc_id slice keeps the differential compact."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
        ).alias("scrubbed"),
        F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_URL_RE), 0)).alias("n_urls"),
    )


@register(
    "udtf_sentence_split",
    oracle="""
    SELECT doc_id, trim(s, ' \t\n\r') AS sentence
    FROM (
        SELECT doc_id, unnest(string_split_regex(text, '[.!?]+[ \t\n\r]+')) AS s
        FROM documents WHERE doc_id < 500
    )
    WHERE trim(s, ' \t\n\r') <> ''
    """,
)
def udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation through a Python UDTF (Spark 3.5+ user-defined
    TABLE function) — the API-coverage entry for one-row-to-many-rows
    Python operators, invoked via SQL LATERAL.  Arrow-optimized transfer
    (``spark.sql.execution.pythonUDTF.arrow.enabled``); the splitter regex
    is byte-identical across Python re / Java / RE2 (explicit ASCII
    whitespace class), which is what makes the oracle possible."""
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, sentence string", useArrow=True)
    class SentenceSplit:
        def eval(self, doc_id, text):  # noqa: ANN001
            for s in _re.split(r"[.!?]+[ \t\n\r]+", text or ""):
                s = s.strip(" \t\n\r")
                if s:
                    yield (doc_id, s)

    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    spark.udtf.register("sentence_split", SentenceSplit)
    load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500).createOrReplaceTempView(
        "docs_for_udtf"
    )
    return spark.sql(
        "SELECT s.doc_id, s.sentence FROM docs_for_udtf, LATERAL sentence_split(doc_id, text) AS s"
    )


@register(
    "text_collocations_pmi",
    oracle="""
    WITH toks AS (
        SELECT regexp_extract_all(lower(text), '[a-z'']+') AS t FROM documents
    ),
    uni AS (
        SELECT u AS word, count(*) AS cnt FROM (SELECT unnest(t) AS u FROM toks) GROUP BY u
    ),
    n_uni AS (SELECT sum(cnt) AS n FROM uni),
    bg AS (
        SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS cnt
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
        GROUP BY w1, w2
        HAVING count(*) >= 10
    ),
    n_bg AS (SELECT sum(cnt) AS n FROM (
        SELECT count(*) AS cnt
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
        GROUP BY t[i], t[i + 1]
    ))
    SELECT bg.w1, bg.w2, bg.cnt,
           round(ln((CAST(bg.cnt AS DOUBLE) / n_bg.n)
                    / ((CAST(u1.cnt AS DOUBLE) / n_uni.n) * (CAST(u2.cnt AS DOUBLE) / n_uni.n))), 6) AS pmi
    FROM bg
    JOIN uni u1 ON u1.word = bg.w1
    JOIN uni u2 ON u2.word = bg.w2, n_uni, n_bg
    """,
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information for bigrams seen
    ≥10 times — the phrase-detection pass (word2vec-style) of a corpus
    pipeline.  One token scan feeds unigram and bigram counts; the unigram
    table is vocabulary-sized so it broadcasts onto the bigram frame; the
    two totals are scalar aggregates.  PMI rounded to 6 places before
    emission for cross-engine float identity."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.regexp_extract_all(
            F.array_join(toks, " "), F.lit(r"(?<![a-z'])(?=([a-z']+ [a-z']+))"), 1
        ),
    ).otherwise(F.array())

    uni = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    bg_all = (
        docs.select(F.explode(bigrams).alias("b"))
        .withColumn("w1", F.split_part(F.col("b"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("b"), F.lit(" "), F.lit(2)))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )

    # Corpus totals ride along as a broadcast 1×1 frame (crossJoin of two
    # scalar aggregates) instead of driver-side .collect()s — one DAG, no
    # mid-build action, still O(1) bytes moved (VERDICT r2 §wrong-4).
    totals = (
        uni.agg(F.sum("cnt").cast("double").alias("n_uni"))
        .crossJoin(bg_all.agg(F.sum("cnt").cast("double").alias("n_bg")))
    )

    bg = bg_all.filter(F.col("cnt") >= 10)
    u1 = uni.select(F.col("word").alias("w1"), F.col("cnt").alias("c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("cnt").alias("c2"))
    return (
        bg.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            "cnt",
            F.round(
                F.log(
                    (F.col("cnt") / F.col("n_bg"))
                    / ((F.col("c1") / F.col("n_uni")) * (F.col("c2") / F.col("n_uni")))
                ),
                6,
            ).alias("pmi"),
        )
    )


def _pagerank_oracle(iters: int = 10) -> str:
    """Unrolled fixed-iteration PageRank as DuckDB SQL (VERDICT r2 #5).

    The Spark query is a deterministic DataFrame loop (damping 0.85, 10
    rounds, w>=5 directed bigram edges), so the oracle unrolls the same 10
    rounds as chained CTEs ``pr1..pr10`` — standard SQL forbids aggregation
    inside a recursive CTE, and a fixed unroll is exactly equivalent for a
    fixed iteration count.  Both engines run double precision; ROUND(pr, 4)
    absorbs the summation-order drift."""
    sql = [
        """
        WITH toks AS (
            SELECT regexp_extract_all(lower(text), '[a-z'']+') AS t FROM documents
        ),
        edges AS (
            SELECT t[i] AS src, t[i + 1] AS dst, count(*) AS w
            FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
            GROUP BY 1, 2
            HAVING count(*) >= 5
        ),
        norm_edges AS (
            SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.out_w AS p
            FROM edges e
            JOIN (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src) o USING (src)
        ),
        nodes AS (
            SELECT src AS word FROM norm_edges UNION SELECT dst FROM norm_edges
        ),
        pr0 AS (SELECT word, CAST(1.0 AS DOUBLE) AS pr FROM nodes)
        """
    ]
    for i in range(1, iters + 1):
        sql.append(
            f""",
        pr{i} AS (
            SELECT n.word, 0.15 + 0.85 * COALESCE(SUM(q.pr * e.p), 0.0) AS pr
            FROM nodes n
            LEFT JOIN norm_edges e ON e.dst = n.word
            LEFT JOIN pr{i - 1} q ON q.word = e.src
            GROUP BY n.word
        )"""
        )
    sql.append(
        f"""
        SELECT word, ROUND(pr, 4) AS pr FROM pr{iters}
        ORDER BY ROUND(pr, 4) DESC, word ASC
        LIMIT 20
        """
    )
    return "".join(sql)


@register("pagerank_word_graph", oracle=_pagerank_oracle())
def pagerank_word_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative algorithm coverage: 10 rounds of weighted PageRank over the
    word co-occurrence digraph (bigrams seen ≥5 times), top-20 words.

    The DataFrame-loop pattern for iterative work at scale: edges are
    normalized ONCE (out-weight division) and persisted; each round is one
    join + agg; every few rounds ``localCheckpoint`` truncates the lineage
    so the plan doesn't grow unboundedly (the classic iterative-Spark
    failure mode).  Damping 0.85, rank rounded to 4 places for a stable
    report.  Hash-checked against a fixed-unroll DuckDB oracle
    (``_pagerank_oracle``) — iteration count is fixed, so the "iterative"
    loop is SQL-expressible after all.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.regexp_extract_all(
            F.array_join(toks, " "), F.lit(r"(?<![a-z'])(?=([a-z']+ [a-z']+))"), 1
        ),
    ).otherwise(F.array())
    edges = (
        docs.select(F.explode(bigrams).alias("b"))
        .select(
            F.split_part("b", F.lit(" "), F.lit(1)).alias("src"),
            F.split_part("b", F.lit(" "), F.lit(2)).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 5)
    )
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    norm_edges = (
        edges.join(out_w, "src").select("src", "dst", (F.col("w") / F.col("out_w")).alias("p")).persist()
    )
    nodes = (
        norm_edges.select(F.col("src").alias("word"))
        .union(norm_edges.select("dst"))
        .distinct()
        .persist()
    )
    pr = nodes.withColumn("pr", F.lit(1.0))
    for i in range(10):
        contribs = (
            norm_edges.join(pr.withColumnRenamed("word", "src"), "src")
            .groupBy(F.col("dst").alias("word"))
            .agg(F.sum(F.col("pr") * F.col("p")).alias("in_pr"))
        )
        new_pr = nodes.join(contribs, "word", "left").select(
            "word", (F.lit(0.15) + F.lit(0.85) * F.coalesce("in_pr", F.lit(0.0))).alias("pr")
        )
        pr = new_pr.localCheckpoint(eager=True) if i % 3 == 2 else new_pr
    return (
        pr.select("word", F.round("pr", 4).alias("pr"))
        .orderBy(F.desc("pr"), F.asc("word"))
        .limit(20)
    )


# --- General PageRank with dangling-mass redistribution (r9) -----------------
#
# ``graph_pagerank`` (queries_relational.py) is exact on the SYMMETRIC
# co-purchase graph, which has no dangling nodes by construction, and
# ``pagerank_word_graph`` runs the "leaky" 0.15-floor variant.  This is the
# GENERAL library operator (VERDICT r8 next-round #6): on a directed graph,
# nodes with no out-edges (dangling) must redistribute their rank uniformly
# each round — pr'(v) = (1-d)/n + d·(Σ_in pr/out + dangling_mass/n) — or the
# rank vector leaks mass and stops being a probability distribution.  The
# fixture graph is the LEXICOGRAPHIC word DAG (bigram edges seen ≥5 times,
# kept only in the src < dst direction): acyclic by construction, so it is
# GUARANTEED to contain dangling sinks at every scale factor — the plain
# w≥5 digraph turned out to have none at sf0.001 OR sf0.01, which would
# have left the term dead on the driver's correctness fixture.
#
# Determinism contract (the repo's fixed-point recipe): per-edge
# contributions AND the dangling-rank terms quantize ROUND 12 →
# DECIMAL(38,12) before summation, so both reduces are exact and
# order-independent under any partitioning; the damping update runs in
# IEEE double with pinned parentheses.
_PRD_ROUNDS = 8
_PRD_TERM = "CAST(ROUND(pr * p, 12) AS DECIMAL(38,12))"
_PRD_DANG_TERM = "CAST(ROUND(pr, 12) AS DECIMAL(38,12))"


def _pagerank_dangling_oracle() -> str:
    parts = [
        """
    WITH toks AS (
        SELECT regexp_extract_all(lower(text), '[a-z'']+') AS t FROM documents
    ),
    edges AS (
        SELECT t[i] AS src, t[i + 1] AS dst, count(*) AS w
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
        WHERE t[i] < t[i + 1]
        GROUP BY 1, 2
        HAVING count(*) >= 5
    ),
    norm_edges AS MATERIALIZED (
        SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / o.out_w AS p
        FROM edges e
        JOIN (SELECT src, SUM(w) AS out_w FROM edges GROUP BY src) o USING (src)
    ),
    nodes AS MATERIALIZED (
        SELECT src AS v FROM norm_edges UNION SELECT dst FROM norm_edges
    ),
    nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    dang AS MATERIALIZED (
        SELECT v FROM nodes WHERE v NOT IN (SELECT src FROM norm_edges)
    ),
    pr0 AS (SELECT v, (1.0 / (SELECT n FROM nn)) AS pr FROM nodes)"""
    ]
    for i in range(1, _PRD_ROUNDS + 1):
        parts.append(
            f""",
    dm{i} AS MATERIALIZED (
        SELECT CAST(COALESCE(SUM({_PRD_DANG_TERM}), 0) AS DOUBLE) AS dm
        FROM pr{i - 1} JOIN dang USING (v)
    ),
    pr{i} AS MATERIALIZED (
        SELECT n.v,
               ((0.15 / (SELECT n FROM nn))
                + (0.85 * (CAST(COALESCE(SUM({_PRD_TERM}), 0) AS DOUBLE)
                           + ((SELECT dm FROM dm{i}) / (SELECT n FROM nn)))))
                 AS pr
        FROM nodes n
        LEFT JOIN norm_edges e ON e.dst = n.v
        LEFT JOIN pr{i - 1} q ON q.v = e.src
        GROUP BY n.v
    )"""
        )
    parts.append(
        f"""
    SELECT v AS word, ROUND(pr, 8) AS pagerank FROM pr{_PRD_ROUNDS}"""
    )
    return "".join(parts)


@register("graph_pagerank_dangling", oracle=_pagerank_dangling_oracle())
def graph_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General directed PageRank with dangling-mass redistribution (r9,
    VERDICT r8 next-round #6): damping 0.85, 8 fixed power iterations over
    the weighted word-bigram digraph (edges seen ≥5 times), where each
    round adds the standard ``dangling_mass / n`` term so rank never leaks
    through out-degree-0 nodes and the vector stays a probability
    distribution (``test_relational`` asserts Σpr = 1 and that the fixture
    actually has dangling nodes).  This is the form that is correct on ANY
    directed graph; ``graph_pagerank`` documents why the symmetric
    co-purchase graph doesn't need the term.

    Each iteration is one equi-join of the rank frame to the normalized
    edge list + a map-side-combinable exact-decimal SUM per destination,
    plus a 1-row dangling-mass aggregate broadcast onto the update — the
    same O(edges) shuffle shape as ``graph_pagerank``.  The rank frame is
    persisted per round (it is read TWICE per iteration: dangling mass +
    contributions) and lineage truncates via ``localCheckpoint`` every 4
    rounds.  Oracle: the same 8 rounds unrolled as chained CTEs with the
    dangling sum per round, identical quantized expressions.

    Reference provenance: the reference's only iterative surface is the
    wordcount loop (``coordinator/coordinator.py:17-257``); PageRank is
    part of the graph family the Spark engine adds on top."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.regexp_extract_all(
            F.array_join(toks, " "), F.lit(r"(?<![a-z'])(?=([a-z']+ [a-z']+))"), 1
        ),
    ).otherwise(F.array())
    edges = (
        docs.select(F.explode(bigrams).alias("b"))
        .select(
            F.split_part("b", F.lit(" "), F.lit(1)).alias("src"),
            F.split_part("b", F.lit(" "), F.lit(2)).alias("dst"),
        )
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 5)
    )
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    norm_edges = (
        edges.join(out_w, "src")
        .select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
        .persist()
    )
    nodes = (
        norm_edges.select(F.col("src").alias("v"))
        .union(norm_edges.select("dst"))
        .distinct()
        .persist()
    )
    n = float(nodes.count())
    if n == 0:
        return spark.createDataFrame([], "word string, pagerank double")
    dang = nodes.join(
        norm_edges.select(F.col("src").alias("v")).distinct(), "v", "left_anti"
    ).persist()
    base = 0.15 / n
    pr = nodes.withColumn("pr", F.lit(1.0 / n))
    prev = None
    for i in range(_PRD_ROUNDS):
        pr = pr.persist()  # read twice per round: dangling mass + contribs
        dm = pr.join(dang, "v").agg(
            F.coalesce(F.sum(F.expr(_PRD_DANG_TERM)), F.lit(0))
            .cast("double")
            .alias("dm")
        )
        contrib = (
            norm_edges.join(pr.withColumnRenamed("v", "src"), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum(F.expr(_PRD_TERM)).alias("s"))
        )
        new_pr = (
            nodes.join(contrib, "v", "left")
            .crossJoin(F.broadcast(dm))
            .select(
                "v",
                (
                    F.lit(base)
                    + F.lit(0.85)
                    * (
                        F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                        + (F.col("dm") / F.lit(n))
                    )
                ).alias("pr"),
            )
        )
        if prev is not None:
            prev.unpersist()
        prev = pr
        pr = new_pr.localCheckpoint(eager=True) if i % 4 == 3 else new_pr
    return pr.select(F.col("v").alias("word"), F.round("pr", 8).alias("pagerank"))


_COOC_EDGES_CTE = """
    WITH toks AS (
        SELECT regexp_extract_all(lower(text), '[a-z'']+') AS t FROM documents
    ),
    bg AS (
        SELECT least(t[i], t[i + 1]) AS w1, greatest(t[i], t[i + 1]) AS w2, count(*) AS cnt
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
        WHERE t[i] <> t[i + 1]
        GROUP BY 1, 2
        HAVING count(*) >= 5
    )
"""


@register(
    "word_cooc_triangles",
    oracle=_COOC_EDGES_CTE
    + """
    SELECT e1.w1 AS a, e1.w2 AS b, e2.w2 AS c
    FROM bg e1
    JOIN bg e2 ON e2.w1 = e1.w2
    JOIN bg e3 ON e3.w1 = e1.w1 AND e3.w2 = e2.w2
    """,
)
def word_cooc_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration on the undirected word co-occurrence graph
    (adjacent-token pairs seen ≥5 times, canonicalized a<b<c).

    The standard distributed-triangle plan: orient every edge low→high so
    each triangle is produced exactly once, join edges on the shared middle
    vertex, then close the wedge with a third edge join.  Two shuffle
    joins total; the orientation trick is what keeps high-degree hub words
    from exploding the wedge count at scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.regexp_extract_all(
            F.array_join(toks, " "), F.lit(r"(?<![a-z'])(?=([a-z']+ [a-z']+))"), 1
        ),
    ).otherwise(F.array())
    pairs = (
        docs.select(F.explode(bigrams).alias("b"))
        .select(
            F.split_part("b", F.lit(" "), F.lit(1)).alias("x"),
            F.split_part("b", F.lit(" "), F.lit(2)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("w1"), F.greatest("x", "y").alias("w2"))
    )
    edges = pairs.groupBy("w1", "w2").agg(F.count("*").alias("cnt")).filter(F.col("cnt") >= 5).persist()
    e1 = edges.select(F.col("w1").alias("a"), F.col("w2").alias("b"))
    e2 = edges.select(F.col("w1").alias("b"), F.col("w2").alias("c"))
    e3 = edges.select(F.col("w1").alias("a"), F.col("w2").alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")


def _bfs_oracle(depth: int = 8) -> str:
    """Unrolled fixed-depth BFS as DuckDB SQL (same unroll technique as
    ``_pagerank_oracle``): round ``i`` is min(dist) over round ``i-1`` plus
    its one-hop expansion, so ``r{depth}`` holds the exact shortest-path
    distance of every word within ``depth`` hops of the source."""
    sql = [
        _COOC_EDGES_CTE
        + """,
        sym AS (
            SELECT w1 AS src, w2 AS dst FROM bg
            UNION ALL
            SELECT w2 AS src, w1 AS dst FROM bg
        ),
        uni AS (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
            FROM documents
        ),
        src0 AS (
            SELECT word FROM uni GROUP BY word
            ORDER BY count(*) DESC, word ASC LIMIT 1
        ),
        r0 AS (SELECT word, 0 AS dist FROM src0)
        """
    ]
    for i in range(1, depth + 1):
        sql.append(
            f""",
        r{i} AS (
            SELECT word, MIN(dist) AS dist FROM (
                SELECT word, dist FROM r{i - 1}
                UNION ALL
                SELECT e.dst AS word, r.dist + 1 AS dist
                FROM r{i - 1} r JOIN sym e ON e.src = r.word
            ) GROUP BY word
        )"""
        )
    sql.append(f" SELECT word, CAST(dist AS BIGINT) AS dist FROM r{depth}")
    return "".join(sql)


@register("bfs_word_distances", oracle=_bfs_oracle())
def bfs_word_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier BFS: shortest-path distance (≤8 hops) from the corpus's most
    frequent word to every word reachable over the undirected co-occurrence
    graph (adjacent-token pairs seen ≥5 times) — the graph-traversal member
    of the iterative family next to PageRank (fixed-point), connected
    components (label propagation), and triangles (join closure).

    The scale-right BFS plan: each round joins only the CURRENT FRONTIER
    against the edge table (not the whole visited set), anti-joins out
    already-visited words, and appends the new layer — per-round shuffle
    volume is proportional to the frontier, total work to edges × 1.  The
    source is a one-row frame joined in, never a collected driver value.

    Unlike PageRank's linear pr-chain, every BFS round references BOTH
    running frames (dist for the anti-join, frontier for the expansion), so
    un-truncated lineage here grows a DAG that re-derives the corpus scan
    per round (measured 72 s → 7 s at sf0.01): the seed and every layer are
    ``localCheckpoint``ed, making each round a small bounded job over the
    cached edge table.  Hash-checked against a fixed-unroll DuckDB oracle
    (``_bfs_oracle``)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.regexp_extract_all(
            F.array_join(toks, " "), F.lit(r"(?<![a-z'])(?=([a-z']+ [a-z']+))"), 1
        ),
    ).otherwise(F.array())
    pairs = (
        docs.select(F.explode(bigrams).alias("b"))
        .select(
            F.split_part("b", F.lit(" "), F.lit(1)).alias("x"),
            F.split_part("b", F.lit(" "), F.lit(2)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("w1"), F.greatest("x", "y").alias("w2"))
    )
    und = pairs.groupBy("w1", "w2").agg(F.count("*").alias("cnt")).filter(F.col("cnt") >= 5)
    sym = (
        und.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .union(und.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
        .persist()
    )
    source = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(1)
        .select("word")
    )
    dist = source.select("word", F.lit(0).cast("bigint").alias("dist")).localCheckpoint(
        eager=True
    )
    frontier = dist
    for d in range(1, 9):
        layer = (
            frontier.join(sym, frontier["word"] == sym["src"])
            .select(F.col("dst").alias("word"))
            .distinct()
            .join(dist, "word", "left_anti")
            .select("word", F.lit(d).cast("bigint").alias("dist"))
            .localCheckpoint(eager=True)
        )
        dist = dist.union(layer)
        frontier = layer
    return dist


@register(
    "zipf_law_fit",
    oracle="""
    WITH counts AS (
        SELECT count(*) AS cnt
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word FROM documents)
        GROUP BY word
    ),
    ranked AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC) AS rank FROM counts
    )
    SELECT round(regr_slope(ln(cnt), ln(rank)), 4) AS zipf_slope,
           round(regr_r2(ln(cnt), ln(rank)), 4) AS r2,
           count(*) AS n_points
    FROM ranked
    """,
)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law check: OLS slope of log(freq) vs log(rank) over the whole
    vocabulary via the ``regr_*`` aggregate family — a one-pass distributed
    regression (co-moment partials merge like any aggregate).  Healthy
    natural-language corpora fit slope ≈ -1; corpus-quality monitoring in
    one scan.  Rank ties broken identically (row_number on cnt desc is
    engine-stable because ln() is applied after ranking — equal counts give
    equal ln(cnt), so assignment among ties can't change the fit)."""
    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(tokenize_column("text")).alias("word")
    )
    counts = toks.groupBy("word").agg(F.count("*").alias("cnt"))
    ranked = counts.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("cnt"), F.monotonically_increasing_id()))
    )
    return ranked.agg(
        F.round(F.regr_slope(F.log("cnt"), F.log("rank")), 4).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("cnt"), F.log("rank")), 4).alias("r2"),
        F.count("*").alias("n_points"),
    )


@register(
    "text_gopher_quality",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
        FROM documents
    ),
    words AS (SELECT doc_id, unnest(w) AS word FROM toks),
    wc AS (SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY doc_id, word),
    perword AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(MAX(c) AS BIGINT) AS top_word_count,
               COUNT(*) AS n_distinct_words
        FROM wc GROUP BY doc_id
    ),
    bidx AS (
        SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM toks
    ),
    bigrams AS (
        SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg FROM bidx
    ),
    bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg),
    perbig AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(MAX(c) AS BIGINT) AS top_bigram_count,
               COUNT(*) AS n_distinct_bigrams
        FROM bc GROUP BY doc_id
    )
    SELECT w.doc_id,
           w.n_words,
           round(CAST(w.top_word_count AS DOUBLE) / w.n_words, 6) AS top_word_frac,
           round(CAST(w.n_words - w.n_distinct_words AS DOUBLE) / w.n_words, 6) AS dup_word_frac,
           round(CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams, 6) AS top_bigram_frac,
           round(CAST(b.n_bigrams - b.n_distinct_bigrams AS DOUBLE) / b.n_bigrams, 6) AS dup_bigram_frac,
           CAST(CAST(w.top_word_count AS DOUBLE) / w.n_words <= 0.2
                AND CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams <= 0.08 AS INT)
               AS passes_repetition
    FROM perword w JOIN perbig b USING (doc_id)
    """,
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality signals per document (Rae et al. 2021
    §A1.1 repetition filters, re-expressed relationally): most-common-word
    fraction, duplicate-word fraction, most-common-bigram fraction,
    duplicate-bigram fraction, and a pass/fail repetition gate.

    Boilerplate and template spam show up as high top-n-gram fractions long
    before perplexity models see them, so this is the first quality gate a
    training-data pipeline runs.  All counting is explode -> groupBy on
    (doc_id, gram) — uniform composite keys, two shuffles, no per-doc state
    wider than one aggregation row, no Python.  (The reference has no quality
    surface; extended scope per SURVEY.md §2.2.)  Thresholds (0.2 / 0.08) are
    demo values; production gates tune per corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize_column("text").alias("w"))
    words = toks.select("doc_id", F.explode("w").alias("word"))
    wc = words.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    perword = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.max("c").alias("top_word_count"),
        F.count("*").alias("n_distinct_words"),
    )
    n_pairs = F.greatest(F.size("w") - 1, F.lit(0))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("w", 1, n_pairs),
                F.slice("w", 2, n_pairs),
                lambda x, y: F.concat_ws(" ", x, y),
            )
        ).alias("bg"),
    )
    bc = bigrams.groupBy("doc_id", "bg").agg(F.count("*").alias("c"))
    perbig = bc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_bigram_count"),
        F.count("*").alias("n_distinct_bigrams"),
    )
    top_word_frac = F.col("top_word_count").cast("double") / F.col("n_words")
    top_bigram_frac = F.col("top_bigram_count").cast("double") / F.col("n_bigrams")
    return perword.join(perbig, "doc_id").select(
        "doc_id",
        "n_words",
        F.round(top_word_frac, 6).alias("top_word_frac"),
        F.round(
            (F.col("n_words") - F.col("n_distinct_words")).cast("double") / F.col("n_words"), 6
        ).alias("dup_word_frac"),
        F.round(top_bigram_frac, 6).alias("top_bigram_frac"),
        F.round(
            (F.col("n_bigrams") - F.col("n_distinct_bigrams")).cast("double") / F.col("n_bigrams"),
            6,
        ).alias("dup_bigram_frac"),
        ((top_word_frac <= 0.2) & (top_bigram_frac <= 0.08)).cast("int").alias("passes_repetition"),
    )


@register(
    "decontam_ngram_overlap",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
        FROM documents
    ),
    gidx AS (
        SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM toks
    ),
    grams AS (
        SELECT doc_id, array_to_string(list_slice(w, i, i + 4), ' ') AS ngram FROM gidx
    ),
    eval_grams AS (SELECT DISTINCT ngram FROM grams WHERE doc_id % 10 = 0),
    train_grams AS (SELECT DISTINCT doc_id, ngram FROM grams WHERE doc_id % 10 <> 0),
    hits AS (
        SELECT tg.doc_id, COUNT(*) AS n_shared_ngrams
        FROM train_grams tg JOIN eval_grams e USING (ngram)
        GROUP BY tg.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_shared_ngrams, 0) AS BIGINT) AS n_shared_ngrams,
           CAST(COALESCE(h.n_shared_ngrams, 0) > 0 AS INT) AS is_contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 10 <> 0
    """,
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination by word-5-gram overlap (the GPT-3 appendix-C
    / PaLM recipe: flag a training document if it shares any n-gram with the
    eval set).  Here the "eval set" is the deterministic doc_id%10==0 slice;
    in production it is the actual benchmark suite.

    Scale shape: the eval side is tiny relative to the corpus (benchmarks are
    MBs, corpora are TBs), so its distinct n-grams are BROADCAST — the corpus
    side streams through a map-side hash probe with no shuffle of the big
    side; per-doc counts then aggregate on uniform doc_id keys.  5-gram
    specificity keeps hot-key fan-out bounded (stop-phrase n-grams are far
    rarer than stop-shingles — contrast the DF cap dedup_ngram_jaccard needs).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize_column("text").alias("w"))
    gram_arr = F.when(
        F.size("w") >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 4),
            lambda i: F.array_join(F.slice("w", i, F.lit(5)), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks.select("doc_id", F.explode(gram_arr).alias("ngram"))
    eval_grams = grams.filter(F.col("doc_id") % 10 == 0).select("ngram").distinct()
    train_grams = grams.filter(F.col("doc_id") % 10 != 0).distinct()
    hits = (
        train_grams.join(F.broadcast(eval_grams), "ngram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("hit_count"))
    )
    return (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("hit_count", F.lit(0)).cast("bigint").alias("n_shared_ngrams"),
            (F.coalesce("hit_count", F.lit(0)) > 0).cast("int").alias("is_contaminated"),
        )
    )


_BM25_TERMS = ("spark", "table", "query")

# The BM25 oracle split into reusable pieces: the CTE chain (no leading WITH)
# and the top-20 ranking select, so hybrid_search_rrf can splice them into a
# larger WITH alongside the cosine CTEs.
BM25_ORACLE_CTES = """
    toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
        FROM documents
    ),
    dl AS (SELECT doc_id, len(w) AS dl FROM toks),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
    words AS (SELECT doc_id, unnest(w) AS term FROM toks),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM words WHERE term IN ('spark', 'table', 'query')
        GROUP BY doc_id, term
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT t.doc_id,
               SUM(
                   ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1)
                   * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
               ) AS score
        FROM tf t JOIN df d USING (term) JOIN dl l USING (doc_id), stats s
        GROUP BY t.doc_id
    )
"""

BM25_TOPK_SELECT = """
    SELECT doc_id, round(score, 6) AS bm25_score,
           CAST(row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS BIGINT) AS rank
    FROM scored
    QUALIFY rank <= 20
"""


@register("text_bm25_search", oracle="WITH " + BM25_ORACLE_CTES + BM25_TOPK_SELECT)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (Robertson/Sparck-Jones; k1=1.2, b=0.75) for a
    fixed 3-term query — the lexical half of a hybrid (BM25 + vector)
    retrieval stack over the same corpus the ANN queries serve.

    Scale shape: term frequencies only for the QUERY terms (the explode is
    filtered before the shuffle, so corpus vocabulary size is irrelevant);
    document frequencies and the (n_docs, avgdl) stats row are tiny
    broadcasts; scoring joins on uniform doc_id keys; global top-20 compiles
    to TakeOrderedAndProject.  The 1-row stats cross-join is an allowlisted
    BroadcastNestedLoopJoin (tests/test_scale_posture.py BNLJ_ALLOWED).
    Scores rounded to 6 places on both engines BEFORE ranking so float
    summation order cannot flip ranks."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize_column("text").alias("w"))
    dl = toks.select("doc_id", F.size("w").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    words = toks.select("doc_id", F.explode("w").alias("term"))
    tf = (
        words.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    tf_part = (F.col("tf") * 2.2) / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(idf * tf_part).alias("score"))
        .select("doc_id", F.round("score", 6).alias("bm25_score"))
    )
    w = Window.orderBy(F.desc("bm25_score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select("doc_id", "bm25_score", "rank")
    )


@register(
    "corpus_pipeline_report",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
        FROM documents
    ),
    words AS (SELECT doc_id, unnest(w) AS word FROM toks),
    wc AS (SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY doc_id, word),
    perword AS (
        SELECT doc_id, SUM(c) AS n_words, MAX(c) AS top_word_count
        FROM wc GROUP BY doc_id
    ),
    bidx AS (
        SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM toks
    ),
    bigrams AS (
        SELECT doc_id, w[i] || ' ' || w[i + 1] AS bg FROM bidx
    ),
    bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bigrams GROUP BY doc_id, bg),
    perbig AS (
        SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_count
        FROM bc GROUP BY doc_id
    ),
    gate AS (
        SELECT w.doc_id,
               CAST(CAST(w.top_word_count AS DOUBLE) / w.n_words <= 0.2
                    AND CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams <= 0.08 AS INT)
                   AS passes_quality
        FROM perword w JOIN perbig b USING (doc_id)
    ),
    keeper AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        FROM documents
    ),
    gidx AS (
        SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM toks
    ),
    grams AS (
        SELECT doc_id, array_to_string(list_slice(w, i, i + 4), ' ') AS ngram FROM gidx
    ),
    eval_grams AS (SELECT DISTINCT ngram FROM grams WHERE doc_id % 10 = 0),
    train_grams AS (SELECT DISTINCT doc_id, ngram FROM grams WHERE doc_id % 10 <> 0),
    hits AS (
        SELECT tg.doc_id, COUNT(*) AS n_shared
        FROM train_grams tg JOIN eval_grams e USING (ngram)
        GROUP BY tg.doc_id
    )
    SELECT d.doc_id,
           g.passes_quality,
           CAST(k.rn > 1 AS INT) AS is_dup_loser,
           CAST(COALESCE(h.n_shared, 0) > 0 AS INT) AS is_contaminated,
           CAST(g.passes_quality = 1 AND k.rn = 1
                AND COALESCE(h.n_shared, 0) = 0 AS INT) AS selected
    FROM documents d
    JOIN gate g USING (doc_id)
    JOIN keeper k USING (doc_id)
    LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 10 <> 0
    """,
)
def corpus_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline end-to-end in ONE DAG: repetition-quality
    gate (text_gopher_quality) → exact-dedup keeper (dedup_keep_first's
    window) → benchmark decontamination (decontam_ngram_overlap) → per-doc
    verdict flags and the final `selected` bit.

    Each stage keeps its individual scale shape: uniform (doc, gram)
    aggregation keys, content-hash shuffle, broadcast eval-set probe, final
    joins on uniform doc_id.  Spark does not dedupe identical subtrees, so
    each stage re-scans `documents` (column-pruned to doc_id/text — scans
    parallelize; the shuffles dominate); a production nightly would persist
    the tokenized frame first (operators/_shared.py pattern).  This is the
    query a user runs nightly; the per-stage queries debug each gate in
    isolation."""
    docs = load_table(spark, sf_dir, "documents")
    gate = text_gopher_quality(spark, sf_dir).select(
        "doc_id", F.col("passes_repetition").alias("passes_quality")
    )
    keeper_w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    keeper = docs.select(
        "doc_id", (F.row_number().over(keeper_w) > 1).cast("int").alias("is_dup_loser")
    )
    contam = decontam_ngram_overlap(spark, sf_dir).select("doc_id", "is_contaminated")
    return (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select("doc_id")
        .join(gate, "doc_id")
        .join(keeper, "doc_id")
        .join(contam, "doc_id")
        .select(
            "doc_id",
            "passes_quality",
            "is_dup_loser",
            "is_contaminated",
            (
                (F.col("passes_quality") == 1)
                & (F.col("is_dup_loser") == 0)
                & (F.col("is_contaminated") == 0)
            )
            .cast("int")
            .alias("selected"),
        )
    )


@register(
    "corpus_weighted_sample",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang, source, n_chars,
               (SELECT SUM((strpos('0123456789abcdef', substr(md5(text), k, 1)) - 1)
                           * POWER(16, 6 - k))
                FROM generate_series(1, 6) t(k)) / POWER(16, 6) AS u,
               least(1.0, n_chars / 400.0) AS p
        FROM documents
    )
    SELECT doc_id, lang, source, n_chars, round(u, 6) AS u, round(p, 6) AS p
    FROM scored
    WHERE u < p
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality-weighted sampling: keep a document iff
    uniform(md5(text)) < p(doc), here p = min(1, n_chars/400) — the
    upsample-by-quality step of a training-data mixture, with the acceptance
    draw derived from the CONTENT hash so the sample is reproducible across
    runs, engines, partitionings, and retries (rand() is none of those).

    Pure per-row expression — no shuffle, no state, trivially 100 TB; the
    same u < p contract resumes correctly when new documents arrive (old
    docs keep their verdicts).  u uses the first 6 md5 nibbles (2^24
    resolution), bit-identical in Spark (conv/substring) and DuckDB
    (strpos nibble sum) — see the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    u = F.conv(F.substring(F.md5("text"), 1, 6), 16, 10).cast("double") / F.lit(
        float(16**6)
    )
    p = F.least(F.lit(1.0), F.col("n_chars") / F.lit(400.0))
    # Filter on the UNROUNDED u/p, exactly like the oracle's WHERE over the
    # scored CTE (base columns outrank select aliases there); filtering on the
    # rounded aliases would drop a doc whose u lies within 5e-7 below p.
    return (
        docs.filter(u < p)
        .select(
            "doc_id", "lang", "source", "n_chars",
            F.round(u, 6).alias("u"), F.round(p, 6).alias("p"),
        )
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents
    ),
    uni AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM uni)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(CAST(u.cnt AS DOUBLE) / tot.n)), 6) AS mean_logprob,
           round(avg(CASE WHEN u.cnt = 1 THEN 1.0 ELSE 0.0 END), 6) AS hapax_frac
    FROM tok t JOIN uni u USING (word), tot
    GROUP BY t.doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score: each document's mean unigram log-probability
    under the corpus's own unigram distribution (the cheap KenLM stand-in
    used for perplexity-style quality gates) plus its fraction of
    corpus-hapax tokens — low logprob or high hapax fraction flags
    out-of-distribution or noisy documents.

    Shape at 100 TB: one token scan feeds both the vocabulary aggregate and
    the per-doc join; the vocabulary is words (small) so it broadcasts; the
    corpus total rides a broadcast 1-row frame.  No Python anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokenize_column("text")).alias("word"))
    uni = tok.groupBy("word").agg(F.count("*").alias("cnt")).persist()
    tot = uni.agg(F.sum("cnt").cast("double").alias("n"))
    return (
        tok.join(F.broadcast(uni), "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(F.log(F.col("cnt").cast("double") / F.col("n"))), 6).alias(
                "mean_logprob"
            ),
            F.round(F.avg(F.when(F.col("cnt") == 1, 1.0).otherwise(0.0)), 6).alias(
                "hapax_frac"
            ),
        )
    )


@register(
    "bpe_merge_pairs",
    oracle="""
    WITH words AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents
    ),
    pairs AS (
        SELECT substr(word, i, 2) AS pair
        FROM words, unnest(generate_series(1, length(word) - 1)) AS g(i)
    )
    SELECT pair, count(*) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair ASC
    LIMIT 20
    """,
)
def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training's first step: corpus frequencies of adjacent
    character pairs within words — the statistic byte-pair encoding
    maximizes when choosing its first merge.  Top 20 pairs, deterministic
    tie-break.

    All codegen expressions (sequence → transform → explode), one shuffle on
    the pair key; at 100 TB this is a scan plus a vocabulary-sized agg."""
    docs = load_table(spark, sf_dir, "documents")
    word = F.explode(tokenize_column("text")).alias("word")
    pairs = (
        docs.select(word)
        .filter(F.length("word") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
            ).alias("pair")
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(20)
    )


@register(
    "corpus_temperature_mixture",
    oracle="""
    WITH stats AS (
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY source
    ),
    powed AS (
        SELECT source, n_docs, total_chars,
               CAST(total_chars AS DOUBLE) / (SELECT SUM(total_chars) FROM stats) AS nat,
               POW(CAST(total_chars AS DOUBLE), 0.3) AS p
        FROM stats
    )
    SELECT source, n_docs, total_chars,
           ROUND(nat, 6) AS natural_share,
           ROUND(p / (SELECT SUM(p) FROM powed), 6) AS temp_share,
           ROUND((p / (SELECT SUM(p) FROM powed)) / nat, 6) AS upsample_factor
    FROM powed
    """,
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing: target share of source i is
    n_i^alpha / sum_j n_j^alpha with alpha=0.3 — the standard flattening
    exponent for multilingual / multi-source training mixtures (low-resource
    sources are upsampled toward uniform as alpha -> 0, natural sampling at
    alpha=1).  Reports natural share, temperature share, and the effective
    upsample factor per source.

    Scale posture: one aggregation by source plus broadcast 1-row corpus
    totals; output is O(sources)."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").cast("bigint").alias("total_chars")
    )
    powed = stats.withColumn(
        "p", F.pow(F.col("total_chars").cast("double"), F.lit(0.3))
    )
    totals = powed.agg(
        F.sum("total_chars").alias("_tc"), F.sum("p").alias("_tp")
    )
    nat = F.col("total_chars").cast("double") / F.col("_tc")
    tshare = F.col("p") / F.col("_tp")
    return powed.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "total_chars",
        F.round(nat, 6).alias("natural_share"),
        F.round(tshare, 6).alias("temp_share"),
        F.round(tshare / nat, 6).alias("upsample_factor"),
    )


# --- Corpus-level span dedup (C4 / CCNet / ExactSubstr family) -------------
#
# The fixture documents are single-line token soup (no '\n', TESTDATA.md), so
# the "line" unit is a fixed-width token span; on a real corpus the span
# column would be split(text, '\n') and everything downstream is unchanged.

_LINE_SPAN = 3          # tokens per pseudo-line (c4_line_dedup)
_LINE_DROP_AT = 3       # drop a line occurring this many times corpus-wide
_SUBSTR_N = 4           # token n-gram width (dedup_substring_coverage)


def _token_spans(toks, span: int, step_offset: int = 0):
    """Array of space-joined token windows, JVM-side only.

    With ``step_offset=0`` the windows tile the document (disjoint spans,
    the C4 "line" unit); the n-gram variant below uses a dense slide.
    Guarded so NULL/empty text yields an empty array, never NULL.
    """
    n = F.coalesce(F.size(toks), F.lit(0))
    n_spans = F.ceil(n / F.lit(span)).cast("long")
    return F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0).cast("long"), n_spans - 1),
            lambda i: F.array_join(F.slice(toks, i * span + 1, span), " "),
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))


@register(
    "c4_line_dedup",
    oracle="""
    WITH base AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS toks
        FROM documents
    ),
    lines AS (
        SELECT doc_id, i AS idx,
               array_to_string(list_slice(toks, i*3 + 1, i*3 + 3), ' ') AS line
        FROM base,
             unnest(generate_series(0,
                 CAST(ceil(coalesce(len(toks), 0) / 3.0) AS BIGINT) - 1)) AS g(i)
    ),
    cnt AS (SELECT line, count(*) AS n_occ FROM lines GROUP BY line),
    kept AS (
        SELECT l.doc_id, l.idx, l.line
        FROM lines l JOIN cnt c USING (line)
        WHERE c.n_occ < 3
    ),
    rebuilt AS (
        SELECT doc_id, count(*) AS n_kept,
               string_agg(line, ' ' ORDER BY idx) AS cleaned_text
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(ceil(coalesce(len(b.toks), 0) / 3.0) AS BIGINT) AS n_lines,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(r.cleaned_text, '') AS cleaned_text
    FROM base b LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def c4_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet-style line-level corpus dedup: split every document into
    line units (3-token spans here — see module note), count each line's
    corpus-wide occurrences, drop every occurrence of any line seen >= 3
    times (the C4 rule applied CCNet-style: boilerplate headers/footers
    vanish from all documents), and reassemble the surviving lines in
    their original order.

    Scale posture: span building is per-row array math inside codegen (no
    shuffle); the line-frequency aggregate and the line equi-join are the
    only two shuffles.  Real corpora make "line" a heavy-hitter-skewed key
    (boilerplate), which is exactly what AQE skew-join handles; the
    reassembly groupBy is on doc_id, a uniform key.  Reference scope: the
    reference has no corpus-cleaning ops at all (SURVEY.md §2.2) — this is
    part of the M4 training-data surface."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    base = docs.select("doc_id", _token_spans(toks, _LINE_SPAN).alias("lines")).persist()
    ex = base.select("doc_id", F.posexplode("lines").alias("idx", "line"))
    cnt = ex.groupBy("line").agg(F.count("*").alias("n_occ"))
    kept = ex.join(cnt, "line").where(F.col("n_occ") < _LINE_DROP_AT)
    rebuilt = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    return (
        base.select("doc_id", F.size("lines").cast("long").alias("n_lines"))
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


@register(
    "dedup_substring_coverage",
    oracle="""
    WITH base AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS toks
        FROM documents
    ),
    grams AS (
        SELECT doc_id, array_to_string(list_slice(toks, i + 1, i + 4), ' ') AS gram
        FROM base,
             unnest(generate_series(0, coalesce(len(toks), 0) - 4)) AS g(i)
    ),
    dup AS (SELECT gram, count(DISTINCT doc_id) AS ndocs FROM grams GROUP BY gram),
    per_doc AS (
        SELECT g.doc_id, count(*) AS n_grams,
               sum(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END) AS n_dup
        FROM grams g JOIN dup d USING (gram)
        GROUP BY g.doc_id
    )
    SELECT b.doc_id,
           CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup,
           round(CAST(coalesce(p.n_dup, 0) AS DOUBLE)
                 / greatest(coalesce(p.n_grams, 0), 1), 6) AS dup_frac,
           (CAST(coalesce(p.n_dup, 0) AS DOUBLE)
                 / greatest(coalesce(p.n_grams, 0), 1)) >= 0.8 AS is_verbatim
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dedup_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring coverage — the scalable
    approximation of ExactSubstr dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): slide a dense token
    4-gram window over every document, mark a gram "duplicated" when it
    occurs in >= 2 distinct documents, and report each document's fraction
    of gram positions covered by duplicated grams plus a verbatim-copy
    flag at 80% coverage.  Unlike dedup_ngram_jaccard (pairwise doc
    similarity) this is corpus-wide per-position coverage — the signal the
    suffix-array pass computes exactly.

    Scale posture: gram arrays are built per-row in codegen; the
    gram-frequency aggregate (partial agg on a near-uniform 4-gram key)
    and the gram equi-join are the only shuffles; per-doc rollup is on the
    uniform doc_id key.  No Python anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    n = F.coalesce(F.size(toks), F.lit(0))
    grams_col = F.when(
        n >= _SUBSTR_N,
        F.transform(
            F.sequence(F.lit(0), n - _SUBSTR_N),
            lambda i: F.array_join(F.slice(toks, i + 1, _SUBSTR_N), " "),
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))
    base = docs.select("doc_id", grams_col.alias("grams")).persist()
    ex = base.select("doc_id", F.explode("grams").alias("gram"))
    dup = ex.groupBy("gram").agg(F.count_distinct("doc_id").alias("ndocs"))
    per_doc = (
        ex.join(dup, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
    )
    frac = F.coalesce("n_dup", F.lit(0).cast("long")).cast("double") / F.greatest(
        F.coalesce("n_grams", F.lit(0).cast("long")), F.lit(1).cast("long")
    )
    return (
        base.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_dup", F.lit(0).cast("long")).alias("n_dup"),
            F.round(frac, 6).alias("dup_frac"),
            (frac >= 0.8).alias("is_verbatim"),
        )
    )


@register(
    "text_length_outliers_mad",
    oracle="""
    WITH med AS (SELECT median(n_chars) AS med FROM documents),
    mad AS (
        SELECT median(abs(n_chars - med)) AS mad FROM documents, med
    )
    SELECT doc_id, n_chars,
           round((n_chars - med) / (1.4826 * greatest(mad, 0.5)), 6) AS robust_z,
           abs((n_chars - med) / (1.4826 * greatest(mad, 0.5))) > 3.5 AS is_outlier
    FROM documents, med, mad
    """,
)
def text_length_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust document-length outlier screen: the Iglewicz-Hoaglin modified
    z-score |x - median| / (1.4826 * MAD) with the 3.5 cutoff — the
    outlier gate that, unlike mean/stddev z-scores (``grouped_zscore_pandas``),
    does not let the outliers themselves inflate the spread they are judged
    against.  Standard corpus QC before length-based quality filtering.

    Scale posture: two exact-median aggregates (at 100 TB these become
    ``approx_percentile``'s mergeable sketches — the exact form is kept so
    the cutoff is oracle-checkable) riding broadcast 1-row frames; the
    per-document score is pure codegen arithmetic, no extra shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    med = docs.agg(F.expr("percentile(n_chars, 0.5)").alias("med"))
    mad = (
        docs.crossJoin(F.broadcast(med))
        .agg(F.expr("percentile(abs(n_chars - med), 0.5)").alias("mad"))
    )
    z = (F.col("n_chars") - F.col("med")) / (
        F.lit(1.4826) * F.greatest(F.col("mad"), F.lit(0.5))
    )
    return (
        docs.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .select(
            "doc_id",
            "n_chars",
            F.round(z, 6).alias("robust_z"),
            (F.abs(z) > 3.5).alias("is_outlier"),
        )
    )


@register(
    "corpus_chunk_windows",
    oracle="""
    WITH base AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS toks
        FROM documents
    ),
    chunks AS (
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
               list_slice(toks, i*24 + 1, i*24 + 32) AS chunk
        FROM base,
             unnest(generate_series(0,
                 CAST(ceil(greatest(coalesce(len(toks), 0) - 8, 1) / 24.0) AS BIGINT) - 1)) AS g(i)
        WHERE coalesce(len(toks), 0) > 0
    )
    SELECT doc_id, chunk_idx,
           CAST(len(chunk) AS BIGINT) AS n_tokens,
           md5(array_to_string(chunk, ' ')) AS chunk_hash
    FROM chunks
    """,
)
def corpus_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window document chunker (size 32 tokens, stride 24,
    overlap 8) — the standard pre-embedding / RAG segmentation step: every
    token appears in at least one chunk, boundaries overlap so no span of
    meaning is cut without context, and each chunk carries a content hash
    for downstream chunk-level dedup.  Completes the segmentation family:
    tiling spans (``c4_line_dedup``), dense n-grams
    (``dedup_substring_coverage``), greedy packing (``corpus_packing_plan``).

    Scale posture: chunk building is per-row array math in codegen (one
    explode, no join, no shuffle before the sink) — output rows ≈
    tokens/stride, each a fixed-width hash, not the text itself."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    n = F.coalesce(F.size(toks), F.lit(0))
    n_chunks = F.ceil(F.greatest(n - F.lit(8), F.lit(1)) / F.lit(24.0)).cast("long")
    chunks = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(0).cast("long"), n_chunks - 1),
            lambda i: F.slice(toks, i * 24 + 1, 32),
        ),
    ).otherwise(F.expr("cast(array() as array<array<string>>)"))
    return (
        docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size("chunk").cast("long").alias("n_tokens"),
            F.md5(F.array_join("chunk", " ")).alias("chunk_hash"),
        )
    )


@register(
    "text_byte_entropy",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               regexp_extract_all(upper(hex(COALESCE(text, ''))), '..') AS bytes
        FROM documents
    )
    SELECT doc_id,
           len(bytes) AS n_bytes,
           len(list_distinct(bytes)) AS n_distinct_bytes,
           COALESCE(list_aggregate(
               list_transform(
                   list_distinct(bytes),
                   d -> -(CAST(len(list_filter(bytes, x -> x = d)) AS DOUBLE)
                            / len(bytes))
                        * log2(CAST(len(list_filter(bytes, x -> x = d)) AS DOUBLE)
                            / len(bytes))),
               'sum'), 0.0) AS byte_entropy,
           CAST(len(list_filter(bytes, x -> x < '80')) AS DOUBLE)
             / greatest(len(bytes), 1) AS ascii_fraction,
           CAST(COALESCE(list_aggregate(
               list_transform(
                   list_distinct(bytes),
                   d -> -(CAST(len(list_filter(bytes, x -> x = d)) AS DOUBLE)
                            / len(bytes))
                        * log2(CAST(len(list_filter(bytes, x -> x = d)) AS DOUBLE)
                            / len(bytes))),
               'sum'), 0.0) BETWEEN 3.0 AND 6.0 AS INT) AS passes_entropy_gate
    FROM b
    """,
)
def text_byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy over the UTF-8 byte distribution — the
    classic cheap quality gate that catches binary junk, base64 blobs, and
    single-character spam (too-high or too-low entropy both fail), plus the
    ASCII byte fraction as an encoding-health signal.

    Byte-level (not char-level) on purpose: UTF-8 bytes are what a 100 TB
    scan actually touches, and byte histograms sidestep the engines'
    diverging surrogate-pair/codepoint splitting (the hex-pair trick the
    multimodal oracles standardized).  The histogram is built ROW-LOCALLY
    with higher-order array functions — ``aggregate`` over
    ``array_distinct`` with a ``filter`` count per distinct byte — so the
    whole query is a zero-shuffle projection: no explode, no groupBy, no
    data movement at all.  Cost is O(n_bytes x distinct_bytes) per row
    (distinct <= 256, typically ~60); for pathological multi-MB documents
    the explode + two-level aggregate variant trades a uniform-key shuffle
    for linear work, but at normal document sizes row-local wins.

    No reference counterpart (the reference has no quality surface); the
    gate band [3, 6] bits follows common web-corpus filtering practice."""
    docs = load_table(spark, sf_dir, "documents")
    byte_arr = F.regexp_extract_all(
        F.upper(F.hex(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"))),
        F.lit(".."),
        0,
    )
    entropy = F.expr(
        """
        coalesce(aggregate(
            array_distinct(bytes),
            CAST(0.0 AS DOUBLE),
            (acc, d) -> acc
                - (CAST(size(filter(bytes, x -> x = d)) AS DOUBLE) / size(bytes))
                  * log2(CAST(size(filter(bytes, x -> x = d)) AS DOUBLE) / size(bytes))
        ), 0.0)
        """
    )
    return (
        docs.select("doc_id", byte_arr.alias("bytes"))
        .select(
            "doc_id",
            F.size("bytes").alias("n_bytes"),
            F.size(F.array_distinct("bytes")).alias("n_distinct_bytes"),
            entropy.alias("byte_entropy"),
            (
                F.size(F.filter(F.col("bytes"), lambda x: x < F.lit("80"))).cast("double")
                / F.greatest(F.size("bytes"), F.lit(1))
            ).alias("ascii_fraction"),
            entropy.between(3.0, 6.0).cast("int").alias("passes_entropy_gate"),
        )
    )


# Binary-presence mutual information between a token and the document's
# class label.  The SAME term string feeds Spark's F.expr and the DuckDB
# oracle so the double math is shape-identical in both engines; all counts
# (ntc, nt, nc, nn) are exact integers, so the only float work is the final
# p*ln(ratio) terms, summed over <=5 classes and rounded to 6 places.
_MI_TERM = """
  (CASE WHEN ntc > 0
        THEN (CAST(ntc AS DOUBLE) / nn)
             * ln(CAST(nn AS DOUBLE) * ntc / (CAST(nt AS DOUBLE) * nc))
        ELSE 0 END)
+ (CASE WHEN nc - ntc > 0 AND nn - nt > 0
        THEN (CAST(nc - ntc AS DOUBLE) / nn)
             * ln(CAST(nn AS DOUBLE) * (nc - ntc) / (CAST(nn - nt AS DOUBLE) * nc))
        ELSE 0 END)
"""
_MI_MIN_DF = 5


@register(
    "token_label_mi",
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, lang,
               unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents
    ),
    ntc_t AS (SELECT word, lang, COUNT(*) AS ntc FROM tok GROUP BY 1, 2),
    nt_t  AS (SELECT word, CAST(SUM(ntc) AS BIGINT) AS nt FROM ntc_t GROUP BY 1),
    cls   AS (SELECT lang, COUNT(*) AS nc FROM documents GROUP BY 1),
    tot   AS (SELECT COUNT(*) AS nn FROM documents),
    grid  AS (
        SELECT nt_t.word, nt_t.nt, cls.lang, cls.nc, tot.nn,
               COALESCE(x.ntc, 0) AS ntc
        FROM nt_t CROSS JOIN cls CROSS JOIN tot
        LEFT JOIN ntc_t x ON x.word = nt_t.word AND x.lang = cls.lang
    )
    SELECT word, nt AS df, ROUND(SUM({_MI_TERM}), 6) AS mi
    FROM grid
    GROUP BY word, nt
    HAVING nt >= {_MI_MIN_DF}
    ORDER BY mi DESC, word ASC
    LIMIT 50
    """,
)
def token_label_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature selection for corpus classifiers: mutual information between
    binary token presence and the document's language label (Manning &
    Schütze's MI feature-selection formulation) — the statistic that ranks
    which tokens carry label signal before training a fastText-style filter
    or a quality classifier.  Top 50 tokens by MI, deterministic tie-break.

    Shape at 100 TB: one token scan → per-(token,label) doc counts (a
    vocabulary x n_labels agg on uniform keys), then everything downstream
    operates on vocabulary-sized frames; the label marginals (5 rows) and
    the corpus total (1 row) ride broadcast frames.  The full
    token x label grid is materialized via a broadcast cross join so
    zero-count cells contribute their absent-cell term — no collect, no
    Python."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(F.array_distinct(tokenize_column("text"))).alias("word")
    )
    ntc = tok.groupBy("word", "lang").agg(F.count("*").alias("ntc"))
    nt = ntc.groupBy("word").agg(F.sum("ntc").cast("long").alias("nt"))
    cls = docs.groupBy("lang").agg(F.count("*").alias("nc"))
    tot = docs.agg(F.count("*").alias("nn"))
    grid = (
        nt.crossJoin(F.broadcast(cls))
        .crossJoin(F.broadcast(tot))
        .join(ntc, ["word", "lang"], "left")
        .withColumn("ntc", F.coalesce(F.col("ntc"), F.lit(0)))
    )
    return (
        grid.withColumn("term", F.expr(_MI_TERM))
        .groupBy("word", F.col("nt").alias("df"))
        .agg(F.round(F.sum("term"), 6).alias("mi"))
        .filter(F.col("df") >= _MI_MIN_DF)
        .orderBy(F.desc("mi"), F.asc("word"))
        .limit(50)
    )


# Multinomial naive Bayes with add-1 smoothing.  The log-likelihood and
# score expressions are shared verbatim between Spark and the oracle; all
# inputs to the float math (token counts ntc, per-class token totals nc,
# vocabulary size vv, doc/class counts) are exact integers, and per-class
# scores are rounded to 6 places BEFORE the argmax so the predicted label
# is stable against summation-order jitter in either engine.
_NB_LL = "ln(CAST(ntc + 1 AS DOUBLE) / (nc + vv))"


@register(
    "naive_bayes_langid",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang,
               unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents
    ),
    ntc_t AS (SELECT word, lang, COUNT(*) AS ntc FROM tok GROUP BY 1, 2),
    nc_t  AS (SELECT lang, COUNT(*) AS nc FROM tok GROUP BY 1),
    vocab AS (SELECT DISTINCT word FROM tok),
    vv_t  AS (SELECT COUNT(*) AS vv FROM vocab),
    prior AS (
        SELECT lang, COUNT(*) AS ndc,
               (SELECT COUNT(*) FROM documents) AS nd
        FROM documents GROUP BY lang
    ),
    ll_in AS (
        SELECT v.word, c.lang, c.nc, vv_t.vv, COALESCE(x.ntc, 0) AS ntc
        FROM vocab v
        CROSS JOIN nc_t c CROSS JOIN vv_t
        LEFT JOIN ntc_t x ON x.word = v.word AND x.lang = c.lang
    ),
    ll AS (SELECT word, lang, {_NB_LL} AS ll FROM ll_in),
    scored AS (
        SELECT t.doc_id, ll.lang,
               ROUND(SUM(ll.ll) + ln(CAST(p.ndc AS DOUBLE) / p.nd), 6) AS score
        FROM tok t
        JOIN ll ON ll.word = t.word
        JOIN prior p ON p.lang = ll.lang
        GROUP BY t.doc_id, ll.lang, p.ndc, p.nd
    ),
    pred AS (
        SELECT doc_id, lang AS pred_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang ASC) AS rn
        FROM scored
    )
    SELECT d.lang AS true_lang, pred.pred_lang, COUNT(*) AS n
    FROM documents d
    JOIN pred ON pred.doc_id = d.doc_id AND pred.rn = 1
    GROUP BY 1, 2
    """,
)
def naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A TRAINED language classifier over the corpus — multinomial naive
    Bayes with add-1 smoothing, fit and evaluated distributively (the
    fastText-style quality/language filter of a training-data pipeline,
    reduced to joins and aggregates): per-class token log-likelihoods from
    one token scan, per-document class scores by a vocabulary-grid join,
    argmax with a deterministic tie-break, and the 5x5 confusion matrix
    against the fixture's true labels as output.

    Shape at 100 TB: the model (vocab x 5 log-likelihoods) is
    vocabulary-sized and BROADCASTS — training is one groupBy, scoring is a
    broadcast-join + per-(doc, class) sum, exactly how you score 100 TB of
    text against a dictionary model without shuffling the corpus.  Scores
    are rounded to 6 places before the argmax so engine summation order
    cannot flip a prediction."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokenize_column("text")).alias("word")
    )
    ntc = tok.groupBy("word", "lang").agg(F.count("*").alias("ntc"))
    nc = tok.groupBy("lang").agg(F.count("*").alias("nc"))
    vocab = tok.select("word").distinct()
    vv = vocab.agg(F.count("*").alias("vv"))
    nd = docs.count()
    prior = docs.groupBy("lang").agg(
        F.count("*").alias("ndc"), F.lit(nd).alias("nd")
    )
    ll = (
        vocab.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(vv))
        .join(ntc, ["word", "lang"], "left")
        .withColumn("ntc", F.coalesce(F.col("ntc"), F.lit(0)))
        .select("word", "lang", F.expr(_NB_LL).alias("ll"))
    )
    scored = (
        tok.select("doc_id", "word")
        .join(F.broadcast(ll), "word")
        .join(F.broadcast(prior), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                F.sum("ll")
                + F.first(F.log(F.col("ndc").cast("double") / F.col("nd"))),
                6,
            ).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"))
    )
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "tfidf_cosine_pairs",
    oracle="""
    WITH n_corpus AS (SELECT COUNT(*) AS n FROM documents),
    tok AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents
    ),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    w AS (
        /* integer-quantized tf-idf: idf_q = (1e6*(N+1)) // (df+1), weight =
           tf * idf_q — EXACT integers, so dot products and norms are exact
           decimal sums with no float-accumulation order lottery */
        SELECT t.doc_id, t.word,
               CAST(t.tf * ((1000000 * (n.n + 1)) // (d.df + 1)) AS DECIMAL(38,0)) AS w
        FROM tf t JOIN df d USING (word), n_corpus n
        WHERE d.df * 10 <= n.n
    ),
    norms AS (
        SELECT doc_id, sqrt(CAST(SUM(w * w) AS DOUBLE)) AS nrm
        FROM w GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.w * b.w) AS DOUBLE) AS dot
        FROM w a JOIN w b ON b.word = a.word AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.doc_a, d.doc_b,
           ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE ROUND(d.dot / (na.nrm * nb.nrm), 6) >= 0.3
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs sparse document similarity (Bayardo et al., WWW'07 shape):
    TF-IDF-weighted cosine over the token space, computed by an INVERTED-
    INDEX equi-join — never a doc × doc product.  Two scale levers: the
    document-frequency cap (df ≤ N/10 drops stopword-grade terms whose
    postings would dominate candidate volume while contributing almost no
    discrimination), and the similarity threshold (0.3) pruning the output.

    Exactness by construction: weights are integer-quantized tf-idf
    (idf_q = (1e6·(N+1)) ÷ (df+1), integer division; weight = tf·idf_q),
    so every dot product and norm is an EXACT decimal integer sum —
    order- and engine-independent — and the only float ops are one sqrt
    and one division per pair, IEEE-identical in both engines.

    Shape at 100 TB: tf/df are map-side-combined token aggregates; the
    pair join shuffles postings by TERM (uniform after the DF cap), and
    per-term candidate work is bounded by the cap squared — the same
    asymptotics as the prefix-filter join (dedup_prefix_filter), traded
    for exact weighted cosine instead of set overlap."""
    docs = load_table(spark, sf_dir, "documents")
    n_corpus = docs.agg(F.count("*").alias("n"))
    tok = docs.select("doc_id", F.explode(tokenize_column("text")).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    w = (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n_corpus))
        .filter(F.col("df") * 10 <= F.col("n"))
        .selectExpr(
            "doc_id",
            "word",
            "CAST(tf * ((1000000 * (n + 1)) DIV (df + 1)) AS DECIMAL(38,0)) AS w",
        )
        .persist()
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "word", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), F.col("word").alias("word_b"), F.col("w").alias("wb"))
    dots = (
        a.join(b, (F.col("word_b") == F.col("word")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("double").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        # norms is O(docs) — NOT broadcast-hinted; at 100 TB this is a
        # doc-key equi-join (AQE still broadcasts it at small scale).
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("cos_sim", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("cos_sim") >= 0.3)
        .select("doc_a", "doc_b", "cos_sim")
    )


@register(
    "text_bigram_lm_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS t
        FROM documents
    ),
    doc_bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
    ),
    bg AS (SELECT w1, w2, COUNT(*) AS c12 FROM doc_bg GROUP BY w1, w2),
    ctx AS (SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY w1),
    vocab AS (SELECT COUNT(DISTINCT unnest.word) AS v
              FROM (SELECT unnest(t) AS word FROM toks) AS unnest(word)),
    scored AS (
        SELECT d.doc_id,
               ln((CAST(b.c12 AS DOUBLE) + 1.0)
                  / (CAST(c.c1 AS DOUBLE) + CAST(vb.v AS DOUBLE))) AS lp
        FROM doc_bg d
        JOIN bg b ON b.w1 = d.w1 AND b.w2 = d.w2
        JOIN ctx c ON c.w1 = d.w1, vocab vb
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(-AVG(lp), 6) AS mean_neg_logprob
    FROM scored
    GROUP BY doc_id
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-smoothed bigram language-model score per document — the
    n-gram step up from ``text_unigram_logprob``'s KenLM stand-in: train
    bigram counts over the corpus, then score every document's bigrams by
    −avg ln((c(w1,w2)+1)/(c(w1)+V)).  High scores flag out-of-distribution
    or shuffled/garbled text that unigram statistics miss (unigram models
    can't see word ORDER).

    Shape at 100 TB: one bigram explode feeds both the model aggregate and
    the scoring join; the bigram model is vocabulary-bounded (≪ corpus) so
    the scoring join shuffles on the uniform bigram key; V and the context
    totals ride broadcast frames.  No Python anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.regexp_extract_all(
            F.array_join(toks, " "), F.lit(r"(?<![a-z'])(?=([a-z']+ [a-z']+))"), 1
        ),
    ).otherwise(F.array())
    doc_bg = (
        docs.select("doc_id", F.explode(bigrams).alias("bgm"))
        .withColumn("w1", F.split(F.col("bgm"), " ").getItem(0))
        .withColumn("w2", F.split(F.col("bgm"), " ").getItem(1))
        .drop("bgm")
        .persist()
    )
    bg = doc_bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    ctx = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = docs.select(F.explode(toks).alias("word")).agg(
        F.count_distinct("word").alias("v")
    )
    return (
        doc_bg.join(bg, ["w1", "w2"])
        .join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "lp",
            F.log(
                (F.col("c12").cast("double") + F.lit(1.0))
                / (F.col("c1").cast("double") + F.col("v").cast("double"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.round(-F.avg("lp"), 6).alias("mean_neg_logprob"),
        )
    )


@register(
    "phrase_search_positional",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS t
        FROM documents
    ),
    tri AS (
        SELECT doc_id, t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS phrase
        FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)
    ),
    top5 AS (
        SELECT phrase FROM (
            SELECT phrase, COUNT(*) AS cnt,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, phrase ASC) AS rk
            FROM tri GROUP BY phrase
        ) WHERE rk <= 5
    )
    SELECT tri.phrase, tri.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM tri JOIN top5 USING (phrase)
    GROUP BY tri.phrase, tri.doc_id
    """,
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search over the corpus via a positional inverted index —
    the search-engine primitive bag-of-words retrieval can't express: a
    phrase matches only where its words are ADJACENT.  The corpus's 5 most
    frequent trigram phrases (ties broken lexically) are searched back
    against the index; output is per (phrase, doc) occurrence counts.

    The positional index (word, doc, pos) is built with one posexplode;
    phrase instances come from self-joining positions at +1/+2 offsets —
    equi-joins on (doc, pos) keys, the classic positional-index merge.  At
    100 TB the index shuffles once on the uniform (doc, pos) composite and
    phrase probes are semi-joins against a broadcast phrase list (here the
    mining and probing share the instance frame outright)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(tokenize_column("text")).alias("pos", "word")
    )
    t1 = tok.select("doc_id", "pos", F.col("word").alias("w1"))
    t2 = tok.select("doc_id", (F.col("pos") - 1).alias("pos"), F.col("word").alias("w2"))
    t3 = tok.select("doc_id", (F.col("pos") - 2).alias("pos"), F.col("word").alias("w3"))
    tri = (
        t1.join(t2, ["doc_id", "pos"])
        .join(t3, ["doc_id", "pos"])
        .select(
            "doc_id",
            F.concat_ws(" ", "w1", "w2", "w3").alias("phrase"),
        )
        .persist()
    )
    w_rk = Window.orderBy(F.desc("cnt"), F.asc("phrase"))
    top5 = (
        tri.groupBy("phrase")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= 5)
        .select("phrase")
    )
    return (
        tri.join(F.broadcast(top5), "phrase")
        .groupBy("phrase", "doc_id")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
    )


@register(
    "text_readability_scores",
    oracle="""
    WITH counts AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '[a-z'']+')) AS n_words,
               greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
               len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_vowel_groups
        FROM documents
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_vowel_groups AS BIGINT) AS n_syllables_approx,
           ROUND(CASE WHEN n_words = 0 THEN 0.0
                 ELSE 206.835
                      - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                      - 84.6 * (CAST(n_vowel_groups AS DOUBLE) / n_words)
                 END, 6) AS flesch_score
    FROM counts
    """,
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document with a vowel-group syllable
    approximation — the classic readability feature of a text-quality
    model (very high or very low scores flag word salad and boilerplate
    respectively).  Sentence count floors at 1 so fragment-only documents
    score rather than divide by zero.

    Pure codegen regexes, one scan, no shuffle at all — the cheapest kind
    of 100 TB operator (the score is literally three counters per row)."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(tokenize_column("text"))
    n_sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0)), F.lit(1)
    )
    n_vowels = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    )
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        n_sentences.cast("bigint").alias("n_sentences"),
        n_vowels.cast("bigint").alias("n_syllables_approx"),
        F.round(
            F.when(n_words == 0, F.lit(0.0)).otherwise(
                F.lit(206.835)
                - F.lit(1.015) * (n_words.cast("double") / n_sentences)
                - F.lit(84.6) * (n_vowels.cast("double") / n_words)
            ),
            6,
        ).alias("flesch_score"),
    )


@register(
    "corpus_reservoir_sample",
    oracle="""
    WITH pri AS (
        SELECT doc_id, source, n_chars,
               CAST(n_chars + 1 AS DOUBLE)
               / CAST(CAST(('0x' || substr(md5('reservoir:' || CAST(doc_id AS VARCHAR)), 1, 8))
                           AS BIGINT) + 1 AS DOUBLE) AS priority
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, n_chars, priority,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY priority DESC, doc_id) AS rank
        FROM pri
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 10
    """,
)
def corpus_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-SIZE sample: exactly min(10, group size) documents per source,
    drawn by deterministic hash priority weighted toward longer documents —
    the distributed reservoir-sampling shape (every row gets a priority key,
    top-k per group survive), complementing ``corpus_weighted_sample``
    (Bernoulli, fixed RATE, random size) and ``corpus_stratified_sample``
    (rate per stratum).  Priority = (n_chars+1) / (h+1) with h the salted
    md5 hash — size-biased like Efraimidis–Spirakis A-ES but with a
    rational priority instead of u^(1/w): the ordering is then ONE double
    division of two exact integers, bit-identical across engines, where
    A-ES's pow() would hash-mismatch on libm differences.

    Scale shape: one shuffle on the group key, O(k) retained per group by
    the rank filter — at 100 TB you'd add a per-partition top-k combine
    (Spark's window already sorts within uniform source keys; a two-level
    top-k drops the sort to O(n log k)).  No collects, no driver state."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("reservoir:"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
    pri = docs.select(
        "doc_id",
        "source",
        "n_chars",
        (
            (F.col("n_chars") + F.lit(1)).cast("double")
            / (h + F.lit(1)).cast("double")
        ).alias("priority"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("priority"), F.asc("doc_id"))
    return (
        pri.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


_VOCAB_SIZE = 500


@register(
    "vocab_oov_rate",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents
    ),
    vocab AS (
        SELECT word FROM (
            SELECT word,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) AS rk
            FROM words GROUP BY word
        ) WHERE rk <= {_VOCAB_SIZE}
    ),
    in_vocab AS (
        SELECT w.doc_id, COUNT(*) AS n_in_vocab
        FROM words w JOIN vocab v ON v.word = w.word
        GROUP BY w.doc_id
    )
    SELECT d.doc_id,
           CAST(len(regexp_extract_all(lower(d.text), '[a-z'']+')) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(lower(d.text), '[a-z'']+'))
                - COALESCE(n_in_vocab, 0) AS BIGINT) AS n_oov,
           CAST(len(regexp_extract_all(lower(d.text), '[a-z'']+'))
                - COALESCE(n_in_vocab, 0) AS DOUBLE)
           / greatest(len(regexp_extract_all(lower(d.text), '[a-z'']+')), 1) AS oov_rate
    FROM documents d LEFT JOIN in_vocab iv ON iv.doc_id = d.doc_id
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-500 word vocabulary — the tokenizer-coverage diagnostic a
    training pipeline runs before committing to a vocab: documents with
    high OOV rates are the ones a fixed vocabulary will shred into UNKs
    (or byte-fallback blowup under BPE).  Vocabulary selection ties break
    by frequency DESC then word ASC, so the cut at rank 500 is
    deterministic on both engines.

    Two aggregations and one broadcast join: corpus word counts (map-side
    combined), rank-filtered to the bounded vocab (broadcastable by
    construction — 500 rows), then a per-doc in-vocab count
    joined back to the documents scan.  The global vocab-ranking window
    runs over the distinct-words frame, not the corpus — at 100 TB that is
    millions of rows (bounded by lexicon size, not data volume); beyond
    that you'd pre-aggregate to the top-k per partition before the global
    rank, same cut."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", F.explode(tokenize_column("text")).alias("word"))
    vocab = (
        words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("word"))),
        )
        .filter(F.col("rk") <= _VOCAB_SIZE)
        .select("word")
    )
    in_vocab = (
        words.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_in_vocab"))
    )
    n_tokens = F.size(tokenize_column("text"))
    return (
        docs.join(in_vocab, "doc_id", "left")
        .select(
            "doc_id",
            n_tokens.cast("bigint").alias("n_tokens"),
            (n_tokens - F.coalesce("n_in_vocab", F.lit(0))).cast("bigint").alias("n_oov"),
            (
                (n_tokens - F.coalesce("n_in_vocab", F.lit(0))).cast("double")
                / F.greatest(n_tokens, F.lit(1))
            ).alias("oov_rate"),
        )
    )


_RAKE_STOPS = (
    "'the','and','of','to','a','in','is','it','for','on','with','as','was','at','by'"
)


@register(
    "text_rake_phrases",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS arr
        FROM documents
    ),
    words AS (
        SELECT doc_id, g.i AS pos, arr[g.i] AS word
        FROM arrs, unnest(generate_series(1, len(arr))) AS g(i)
    ),
    marked AS (
        SELECT doc_id, pos, word,
               CASE WHEN word IN ({_RAKE_STOPS}) THEN 1 ELSE 0 END AS is_stop
        FROM words
    ),
    grp AS (
        SELECT doc_id, pos, word, is_stop,
               SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS g
        FROM marked
    ),
    phrases AS (
        SELECT doc_id, g,
               string_agg(word, ' ' ORDER BY pos) AS phrase,
               COUNT(*) AS plen
        FROM grp WHERE is_stop = 0
        GROUP BY doc_id, g
    ),
    wordstats AS (
        SELECT gr.word, COUNT(*) AS freq, SUM(p.plen) AS deg
        FROM grp gr
        JOIN phrases p ON p.doc_id = gr.doc_id AND p.g = gr.g
        WHERE gr.is_stop = 0
        GROUP BY gr.word
    ),
    instances AS (
        SELECT phrase, COUNT(*) AS n_occurrences, MAX(plen) AS n_words
        FROM phrases GROUP BY phrase
    ),
    scored AS (
        SELECT i.phrase, i.n_words, i.n_occurrences,
               (SELECT SUM(ws.deg)
                FROM unnest(string_split(i.phrase, ' ')) AS u(word)
                JOIN wordstats ws ON ws.word = u.word) AS degree_score
        FROM instances i
    )
    SELECT phrase, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_occurrences AS BIGINT) AS n_occurrences,
           CAST(degree_score AS BIGINT) AS degree_score
    FROM scored
    ORDER BY degree_score DESC, phrase ASC
    LIMIT 20
    """,
)
def text_rake_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010), integer-scored: candidate
    phrases are maximal stopword-free word runs (gaps-and-islands on the
    running stopword count); each word's degree = Σ of the lengths of the
    phrases containing it (frequency-weighted co-occurrence); a phrase
    scores the sum of its words' degrees.  The classic RAKE score divides
    degree by frequency — a per-word double whose summation order differs
    between engines — so this variant keeps the integer numerator
    (degree-sum), preserving RAKE's ranking bias toward longer, denser
    phrases while staying bit-exact cross-engine.  Top 20 by (score,
    phrase) — a total order, so the cut is deterministic.

    Scale shape: one posexplode + per-doc window (uniform doc key), two
    bounded aggregations (phrase table ≤ token count, word stats ≤ lexicon
    size), and a split-rejoin on the DISTINCT phrase texts only.  No
    driver loops, no quadratic arm."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.posexplode(tokenize_column("text")).alias("pos", "word")
    )
    stops = [s.strip("'") for s in _RAKE_STOPS.split(",")]
    marked = words.withColumn("is_stop", F.col("word").isin(stops).cast("int"))
    w_run = (
        Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = marked.withColumn("g", F.sum("is_stop").over(w_run))
    phrases = (
        grp.filter(F.col("is_stop") == 0)
        .groupBy("doc_id", "g")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda x: x["word"],
                ),
                " ",
            ).alias("phrase"),
            F.count("*").alias("plen"),
        )
        .persist()
    )
    wordstats = (
        grp.filter(F.col("is_stop") == 0)
        .join(phrases.select("doc_id", "g", "plen"), ["doc_id", "g"])
        .groupBy("word")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
    )
    instances = phrases.groupBy("phrase").agg(
        F.count("*").alias("n_occurrences"), F.max("plen").alias("n_words")
    )
    scored = (
        instances.select(
            "phrase",
            "n_words",
            "n_occurrences",
            F.explode(F.split("phrase", " ")).alias("word"),
        )
        .join(wordstats.select("word", "deg"), "word")
        .groupBy("phrase", "n_words", "n_occurrences")
        .agg(F.sum("deg").alias("degree_score"))
    )
    return (
        scored.orderBy(F.desc("degree_score"), F.asc("phrase"))
        .limit(20)
        .select(
            "phrase",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            F.col("degree_score").cast("bigint").alias("degree_score"),
        )
    )


_LP_EDGES_CTE = _COOC_EDGES_CTE.replace("count(*) >= 5", "count(*) >= 50")


@register(
    "graph_link_prediction",
    oracle=_LP_EDGES_CTE
    + """,
    sym AS (
        SELECT w1 AS src, w2 AS dst FROM bg
        UNION ALL
        SELECT w2 AS src, w1 AS dst FROM bg
    ),
    deg AS (SELECT src AS w, COUNT(*) AS d FROM sym GROUP BY src),
    wedges AS (
        SELECT s1.dst AS a, s2.dst AS b, COUNT(*) AS common
        FROM sym s1 JOIN sym s2 ON s2.src = s1.src AND s1.dst < s2.dst
        GROUP BY s1.dst, s2.dst
    ),
    cand AS (
        SELECT w.a, w.b, w.common
        FROM wedges w
        WHERE NOT EXISTS (SELECT 1 FROM bg WHERE bg.w1 = w.a AND bg.w2 = w.b)
    ),
    scored AS (
        SELECT c.a, c.b, c.common,
               CAST(c.common AS DOUBLE)
               / CAST(da.d + db.d - c.common AS DOUBLE) AS jaccard
        FROM cand c
        JOIN deg da ON da.w = c.a
        JOIN deg db ON db.w = c.b
    )
    SELECT a, b, CAST(common AS BIGINT) AS common_neighbors, jaccard
    FROM (
        SELECT a, b, common, jaccard,
               ROW_NUMBER() OVER (ORDER BY jaccard DESC, a ASC, b ASC) AS rk
        FROM scored
    ) WHERE rk <= 20
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the word co-occurrence graph by neighborhood
    Jaccard (Liben-Nowell & Kleinberg 2003): for every NON-adjacent pair
    with at least one common neighbor, score |N(a)∩N(b)| / |N(a)∪N(b)| and
    return the top 20 predicted edges — the classic recommender /
    knowledge-graph-completion primitive, built from one wedge equi-join
    (never all-pairs: pairs with no common neighbor never materialize).
    The score is ONE double division of exact integer counts, so the
    ranking is bit-identical across engines; ties break on (a, b).

    Scale posture: the wedge join fans out quadratically in the CENTER
    vertex's degree — at 100 TB you cap or sample hub neighborhoods (the
    same hub-guard as the triangle count's edge orientation); here the
    cnt>=50 edge filter bounds the lexicon graph AND keeps it sparse
    enough that non-adjacent pairs exist — at the triangles' cnt>=5 the
    31-word fixture graph is near-complete and there is nothing left to
    predict.  The anti-join
    against existing edges and the two degree joins are all equi-joins on
    the word key."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_column("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.regexp_extract_all(
            F.array_join(toks, " "), F.lit(r"(?<![a-z'])(?=([a-z']+ [a-z']+))"), 1
        ),
    ).otherwise(F.array())
    pairs = (
        docs.select(F.explode(bigrams).alias("bg"))
        .select(
            F.split_part("bg", F.lit(" "), F.lit(1)).alias("x"),
            F.split_part("bg", F.lit(" "), F.lit(2)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("w1"), F.greatest("x", "y").alias("w2"))
    )
    edges = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 50)
        .persist()
    )
    sym = edges.select(F.col("w1").alias("src"), F.col("w2").alias("dst")).unionAll(
        edges.select(F.col("w2").alias("src"), F.col("w1").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("w")).agg(F.count("*").alias("d"))
    s1 = sym.select(F.col("src").alias("m"), F.col("dst").alias("a"))
    s2 = sym.select(F.col("src").alias("m"), F.col("dst").alias("b"))
    wedges = (
        s1.join(s2, "m")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("common"))
    )
    cand = wedges.join(
        edges.select(F.col("w1").alias("a"), F.col("w2").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    scored = (
        cand.join(deg.select(F.col("w").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("w").alias("b"), F.col("d").alias("db")), "b")
        .select(
            "a",
            "b",
            "common",
            (
                F.col("common").cast("double")
                / (F.col("da") + F.col("db") - F.col("common")).cast("double")
            ).alias("jaccard"),
        )
    )
    w = Window.orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("a", "b", F.col("common").cast("bigint").alias("common_neighbors"), "jaccard")
    )


# --- Corpus-comparison keyword extraction (chi-squared keyness) --------------
#
# The shared chi-squared expression: a/b are the word's counts in the two
# corpus halves, c/d the rest-of-corpus remainders, na/nb the half totals,
# n the grand total.  Every operand is an exact integer count; the value is
# a handful of float multiplications in a pinned association order, so both
# engines produce bit-identical doubles (same recipe as
# graph_link_prediction's jaccard).
_CHI2_EXPR = (
    "((CAST(n AS DOUBLE)"
    " * (((CAST(a AS DOUBLE) * d) - (CAST(b AS DOUBLE) * c))"
    "    * ((CAST(a AS DOUBLE) * d) - (CAST(b AS DOUBLE) * c))))"
    " / (((CAST(a AS DOUBLE) + b) * (CAST(c AS DOUBLE) + d))"
    "    * (CAST(na AS DOUBLE) * nb)))"
)


@register(
    "text_chi2_keyness",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id % 2 AS side,
               unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents
    ),
    cnt AS (
        SELECT word,
               SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS a,
               SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS b
        FROM tok GROUP BY word
    ),
    tot AS (SELECT SUM(a) AS na, SUM(b) AS nb FROM cnt),
    cells AS (
        SELECT word, a, b,
               tot.na - a AS c, tot.nb - b AS d,
               tot.na AS na, tot.nb AS nb, tot.na + tot.nb AS n
        FROM cnt, tot
        WHERE a + b >= 20
    ),
    scored AS (SELECT word, a, b, {_CHI2_EXPR} AS chi2 FROM cells)
    SELECT word, CAST(a AS BIGINT) AS count_even, CAST(b AS BIGINT) AS count_odd,
           ROUND(chi2, 6) AS chi2
    FROM (
        SELECT word, a, b, chi2,
               ROW_NUMBER() OVER (ORDER BY chi2 DESC, word ASC) AS rk
        FROM scored
    ) WHERE rk <= 20
    """,
)
def text_chi2_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction by corpus comparison: split the corpus into two
    halves (even/odd doc_id — the stand-in for reference-vs-focus corpora),
    count each word's occurrences per half, and rank words by the 2×2
    chi-squared keyness statistic n·(ad−bc)² / ((a+b)(c+d)·na·nb) — the
    standard corpus-linguistics measure (Dunning's G² sibling, chosen over
    G² because chi² is +,*,/ only: no libm, so the statistic hash-matches
    bit-identically cross-engine).  Words with <20 total occurrences are
    excluded (chi² is unstable on tiny cells); top 20 by keyness.

    Shape at 100 TB: one token scan → one map-side-combined groupBy(word);
    the half totals ride a broadcast 1-row frame; scoring is per-word
    arithmetic and the top-20 is a global ROW_NUMBER over the word-bounded
    scored frame (lexicon-sized, not corpus-sized)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 2).alias("side"),
        F.explode(tokenize_column("text")).alias("word"),
    )
    cnt = tok.groupBy("word").agg(
        F.expr("SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END)").alias("a"),
        F.expr("SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)").alias("b"),
    )
    tot = cnt.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    cells = (
        cnt.crossJoin(F.broadcast(tot))
        .filter(F.col("a") + F.col("b") >= 20)
        .selectExpr(
            "word", "a", "b", "na - a AS c", "nb - b AS d", "na", "nb",
            "na + nb AS n",
        )
    )
    scored = cells.selectExpr("word", "a", "b", f"{_CHI2_EXPR} AS chi2")
    w = Window.orderBy(F.desc("chi2"), F.asc("word"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .selectExpr(
            "word",
            "CAST(a AS BIGINT) AS count_even",
            "CAST(b AS BIGINT) AS count_odd",
            "ROUND(chi2, 6) AS chi2",
        )
    )


# Jensen-Shannon per-term contribution over (p, q, m) columns — shared by
# both engines so the double trees are identical.  0·ln0 terms are dropped
# by the CASE arms (standard JSD convention).
_JS_TERM = (
    "((0.5 * (CASE WHEN p > 0.0 THEN p * ln(p / m) ELSE 0.0 END))"
    " + (0.5 * (CASE WHEN q > 0.0 THEN q * ln(q / m) ELSE 0.0 END)))"
)


@register(
    "corpus_js_divergence",
    oracle=f"""
    WITH tok AS (
        SELECT lang, unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents WHERE lang IS NOT NULL
    ),
    cnts AS (SELECT lang, word, COUNT(*) AS c FROM tok GROUP BY lang, word),
    en AS (SELECT word, CAST(c AS DOUBLE) AS ce FROM cnts WHERE lang = 'en'),
    oth AS (SELECT lang, word, CAST(c AS DOUBLE) AS cl
            FROM cnts WHERE lang <> 'en'),
    langs AS (SELECT DISTINCT lang FROM oth),
    lt AS (SELECT lang, SUM(cl) AS nl FROM oth GROUP BY lang),
    et AS (SELECT SUM(ce) AS ne FROM en),
    merged AS (
        SELECT o.lang, o.word, o.cl, COALESCE(e.ce, 0.0) AS ce
        FROM oth o LEFT JOIN en e USING (word)
        UNION ALL
        SELECT l.lang, e.word, 0.0 AS cl, e.ce
        FROM langs l CROSS JOIN en e
        WHERE NOT EXISTS (
            SELECT 1 FROM oth o WHERE o.lang = l.lang AND o.word = e.word
        )
    ),
    pq AS (
        SELECT m.lang, (m.cl / lt.nl) AS p, (m.ce / et.ne) AS q
        FROM merged m JOIN lt USING (lang), et
    ),
    terms AS (
        SELECT lang,
               CAST(ROUND({_JS_TERM}, 12) AS DECIMAL(38,12)) AS term
        FROM (SELECT lang, p, q, ((p + q) / 2.0) AS m FROM pq)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_union_vocab,
           ROUND(CAST(SUM(term) AS DOUBLE), 6) AS jsd_nats,
           ROUND(CAST(SUM(term) AS DOUBLE) / ln(2.0), 6) AS jsd_bits
    FROM terms GROUP BY lang
    """,
)
def corpus_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each language's unigram
    distribution and the English reference distribution — the corpus-drift
    / domain-shift monitor a training pipeline runs when a new ingest
    batch lands (JSD is symmetric and bounded by ln 2, unlike KL).

    The union vocabulary per language pair is built RELATIONALLY: lang-side
    words left-join the reference counts, and reference-only words arrive
    via a (distinct-languages × reference-vocab) spine anti-joined against
    the lang side — never an all-pairs product over documents.  Per-term
    contributions are quantized (ROUND 12 → DECIMAL(38,12)) so each
    language's sum is exact and order-independent.

    At 100 TB: token counting is the only data-sized pass (map-side
    combined on uniform (lang, word) keys); everything after runs over
    vocabulary-sized frames.  The language spine is a bounded broadcast
    (the language inventory), vetted in BNLJ_ALLOWED."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.filter(F.col("lang").isNotNull()).select(
        "lang", F.explode(tokenize_column("text")).alias("word")
    )
    cnts = tok.groupBy("lang", "word").agg(F.count("*").alias("c"))
    en = (
        cnts.filter(F.col("lang") == "en")
        .selectExpr("word", "CAST(c AS DOUBLE) AS ce")
        .persist()
    )
    oth = cnts.filter(F.col("lang") != "en").selectExpr(
        "lang", "word", "CAST(c AS DOUBLE) AS cl"
    ).persist()
    langs = oth.select("lang").distinct()
    lt = oth.groupBy("lang").agg(F.sum("cl").alias("nl"))
    et = en.agg(F.sum("ce").alias("ne"))
    left = oth.join(en, "word", "left").select(
        "lang", "word", "cl", F.coalesce("ce", F.lit(0.0)).alias("ce")
    )
    right = (
        F.broadcast(langs)
        .crossJoin(en)
        .join(oth.select("lang", "word"), ["lang", "word"], "left_anti")
        .select("lang", "word", F.lit(0.0).alias("cl"), "ce")
    )
    merged = left.unionByName(right)
    pq = (
        merged.join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(et))
        .selectExpr("lang", "(cl / nl) AS p", "(ce / ne) AS q")
    )
    terms = pq.selectExpr("lang", "p", "q", "((p + q) / 2.0) AS m").selectExpr(
        "lang", f"CAST(ROUND({_JS_TERM}, 12) AS DECIMAL(38,12)) AS term"
    )
    return terms.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_union_vocab"),
        F.round(F.sum("term").cast("double"), 6).alias("jsd_nats"),
        F.round(F.sum("term").cast("double") / float(__import__("math").log(2.0)), 6).alias(
            "jsd_bits"
        ),
    )


@register(
    "text_ngram_novelty",
    oracle="""
    WITH tok AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
        FROM documents
    ),
    tri AS (
        SELECT DISTINCT doc_id,
               w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS g
        FROM tok, unnest(generate_series(1, len(w) - 2)) AS t(i)
        WHERE len(w) >= 3
    ),
    first_seen AS (SELECT g, MIN(doc_id) AS first_doc FROM tri GROUP BY g)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_trigrams,
           CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS novelty_frac
    FROM tri t JOIN first_seen f USING (g)
    GROUP BY t.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram NOVELTY: the fraction of a document's distinct
    token 3-grams that appear for the FIRST time at that document (by
    doc_id order) — the contribution curve a data-curation pipeline uses
    to decide when additional scraping of a source stops adding
    information (novelty decays toward the duplication floor).

    Two shuffles, both on uniform trigram text keys: distinct (doc, gram),
    then gram → min(doc_id) joined back.  No state wider than one
    aggregation row; at 100 TB the gram dictionary is the large side and
    both passes stay equi-partitioned on it."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize_column("text").alias("w")).filter(
        F.size("w") >= 3
    )
    n_tri = F.size("w") - 2
    tri = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("w", 1, n_tri),
                F.zip_with(
                    F.slice("w", 2, n_tri),
                    F.slice("w", 3, n_tri),
                    lambda b, c: F.concat_ws(" ", b, c),
                ),
                lambda a, bc: F.concat_ws(" ", a, bc),
            )
        ).alias("g"),
    ).distinct()
    first_seen = tri.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(F.expr("CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END"))
    return (
        tri.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_distinct_trigrams"),
            novel.cast("bigint").alias("n_novel"),
            F.round(novel.cast("double") / F.count("*"), 6).alias("novelty_frac"),
        )
    )


@register(
    "text_content_chunks",
    oracle="""
    WITH cuts AS (
        SELECT doc_id, g.i + 7 AS cut
        FROM documents, unnest(generate_series(1, length(text) - 7)) AS g(i)
        WHERE length(text) >= 8
          AND CAST('0x' || substr(md5(substr(text, g.i, 8)), 1, 4) AS BIGINT)
              % 64 = 0
    ),
    ends AS (
        SELECT doc_id, cut FROM cuts
        UNION
        SELECT doc_id, length(text) AS cut FROM documents WHERE length(text) >= 8
    ),
    lens AS (
        SELECT doc_id, cut,
               cut - COALESCE(LAG(cut) OVER (PARTITION BY doc_id ORDER BY cut), 0)
                   AS len
        FROM ends
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           ROUND(AVG(CAST(len AS DOUBLE)), 6) AS avg_chunk_chars,
           CAST(MAX(len) AS BIGINT) AS max_chunk_chars,
           md5(string_agg(CAST(len AS VARCHAR), ',' ORDER BY cut)) AS chunk_fp
    FROM lens GROUP BY doc_id
    """,
)
def text_content_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING (the rolling-window boundary rule behind
    rsync/LBFS/FastCDC dedup storage): a boundary falls after any 8-char
    window whose md5-derived value is ≡ 0 (mod 64), so chunk boundaries
    depend only on LOCAL content — an insertion early in a document
    shifts at most one chunk, unlike fixed-size splitting where every
    later chunk changes.  Emits per-document chunk count, mean/max chunk
    size and an order-sensitive fingerprint of the chunk-length sequence
    (the dedup-store key stream).

    Average chunk size is the boundary modulus (64 chars here, demo
    scale; storage systems use 2-64 KB with min/max clamps).  Shape at
    100 TB: the window hash explodes positions WITHIN each document
    (linear, partition-local, no shuffle wider than doc_id), and the
    chunk-length window runs per document over its boundary set."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 8)
    pos = docs.select(
        "doc_id",
        F.posexplode(F.expr("sequence(1, length(text) - 7)")).alias("_", "i"),
        F.col("text"),
    )
    cuts = pos.filter(
        F.expr("CAST(conv(substr(md5(substr(text, i, 8)), 1, 4), 16, 10) AS BIGINT) % 64 = 0")
    ).selectExpr("doc_id", "i + 7 AS cut")
    ends = cuts.unionByName(
        docs.selectExpr("doc_id", "length(text) AS cut")
    ).distinct()
    w_lag = Window.partitionBy("doc_id").orderBy("cut")
    lens = ends.select(
        "doc_id",
        "cut",
        (F.col("cut") - F.coalesce(F.lag("cut").over(w_lag), F.lit(0))).alias("len"),
    )
    return lens.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.round(F.avg(F.col("len").cast("double")), 6).alias("avg_chunk_chars"),
        F.max("len").cast("bigint").alias("max_chunk_chars"),
        F.md5(
            F.array_join(
                F.expr(
                    "transform(array_sort(collect_list(struct(cut, len))),"
                    " x -> CAST(x.len AS STRING))"
                ),
                ",",
            )
        ).alias("chunk_fp"),
    )


# Heaps'-law OLS over (ln cumulative tokens, ln cumulative vocab) checkpoints,
# shared by both engines; each product is quantized so the sums are exact.
_HEAPS_BETA = (
    "(((n * sxy) - (sx * sy)) / NULLIF((n * sxx) - (sx * sx), 0.0))"
)
_HEAPS_LOGK = f"((sy - ({_HEAPS_BETA} * sx)) / n)"


@register(
    "corpus_heaps_law",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents
    ),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
    first_seen AS (SELECT word, MIN(doc_id) AS first_doc FROM tok GROUP BY word),
    new_words AS (
        SELECT first_doc AS doc_id, COUNT(*) AS n_new FROM first_seen GROUP BY 1
    ),
    spine AS (
        SELECT p.doc_id,
               SUM(p.n_tok) OVER (ORDER BY p.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tok,
               SUM(COALESCE(w.n_new, 0)) OVER (ORDER BY p.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_vocab
        FROM per_doc p LEFT JOIN new_words w USING (doc_id)
    ),
    pts AS (
        SELECT ln(CAST(cum_tok AS DOUBLE)) AS x,
               ln(CAST(cum_vocab AS DOUBLE)) AS y
        FROM spine WHERE cum_tok > 0 AND cum_vocab > 0
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(ROUND(x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(ROUND(y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(ROUND(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(ROUND(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_checkpoints,
           ROUND({_HEAPS_BETA}, 6) AS heaps_beta,
           ROUND(exp({_HEAPS_LOGK}), 6) AS heaps_k
    FROM s
    """,
)
def corpus_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) ≈ K·n^β of vocabulary growth against corpus
    size: one checkpoint per document (cumulative tokens, cumulative
    distinct words in doc_id order), OLS on the log-log points — the
    growth model a curation pipeline extrapolates to budget vocabulary /
    tokenizer size before scaling a source 100×.  β well below 1 is
    healthy sublinear growth; β near 1 flags an unbounded-vocabulary
    source (ids, hashes, boilerplate noise).

    The cumulative spine is doc-count-sized, never token-sized (tokens per
    doc and first-seen word counts are aggregated before the window); log
    products are quantized (ROUND 9 → DECIMAL(38,9)) so the OLS sums are
    exact, and the β/K algebra is a shared expression string.  At 100 TB
    checkpoints coarsen to shard granularity — the fit is unchanged."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokenize_column("text")).alias("word"))
    per_doc = tok.groupBy("doc_id").agg(F.count("*").alias("n_tok"))
    first_seen = tok.groupBy("word").agg(F.min("doc_id").alias("first_doc"))
    new_words = first_seen.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count("*").alias("n_new")
    )
    w_cum = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    spine = per_doc.join(new_words, "doc_id", "left").select(
        "doc_id",
        F.sum("n_tok").over(w_cum).alias("cum_tok"),
        F.sum(F.coalesce("n_new", F.lit(0))).over(w_cum).alias("cum_vocab"),
    )
    pts = spine.filter((F.col("cum_tok") > 0) & (F.col("cum_vocab") > 0)).selectExpr(
        "ln(CAST(cum_tok AS DOUBLE)) AS x", "ln(CAST(cum_vocab AS DOUBLE)) AS y"
    )
    s = pts.agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.expr("CAST(ROUND(x, 9) AS DECIMAL(38,9))")).cast("double").alias("sx"),
        F.sum(F.expr("CAST(ROUND(y, 9) AS DECIMAL(38,9))")).cast("double").alias("sy"),
        F.sum(F.expr("CAST(ROUND(x * y, 9) AS DECIMAL(38,9))"))
        .cast("double")
        .alias("sxy"),
        F.sum(F.expr("CAST(ROUND(x * x, 9) AS DECIMAL(38,9))"))
        .cast("double")
        .alias("sxx"),
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n_checkpoints",
        f"ROUND({_HEAPS_BETA}, 6) AS heaps_beta",
        f"ROUND(exp({_HEAPS_LOGK}), 6) AS heaps_k",
    )


# --- MLM masking plan (deterministic 15% / 80-10-10) --------------------------
#
# Mask decisions are pure integer hash logic (first/second 16 bits of
# md5(doc:pos:token) compared against integer thresholds), so the plan is
# reproducible bit-for-bit across engines AND across reruns — the property
# an MLM data-prep job needs for resumable epochs.
_MLM_MASK_T = 9830  # 9830/65536 ~ 15.0% of tokens selected
_MLM_80 = 52429  # of selected: < 52429/65536 -> [MASK] (80%)
_MLM_90 = 58982  # < 58982/65536 -> random replacement (10%); else keep (10%)


@register(
    "mlm_masking_plan",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(COALESCE(text, '')), '[a-z'']+') AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, unnest(t) AS tok,
               unnest(generate_series(1, len(t))) AS p
        FROM toks
    ),
    h AS (
        SELECT doc_id,
               CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                        || CAST(p AS VARCHAR) || ':' || tok), 1, 4)
                    AS BIGINT) AS BIGINT) AS m,
               CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                        || CAST(p AS VARCHAR) || ':' || tok), 5, 4)
                    AS BIGINT) AS BIGINT) AS y
        FROM pos
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN m < {_MLM_MASK_T} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_masked,
           CAST(SUM(CASE WHEN m < {_MLM_MASK_T} AND y < {_MLM_80}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_mask_tok,
           CAST(SUM(CASE WHEN m < {_MLM_MASK_T} AND y >= {_MLM_80}
                          AND y < {_MLM_90} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_random_tok,
           CAST(SUM(CASE WHEN m < {_MLM_MASK_T} AND y >= {_MLM_90}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_tok
    FROM h
    GROUP BY doc_id
    """,
)
def mlm_masking_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masked-language-model data-prep plan: select ~15% of each document's
    tokens and split the selection 80/10/10 ([MASK] / random replacement /
    keep — the BERT recipe), ENTIRELY from integer hash logic:
    md5(doc_id:position:token), first 16 bits against 9830/65536 for the
    mask decision, next 16 bits against 52429 and 58982 for the branch.
    No RNG state anywhere, so the plan is identical across engines, runs
    and executors — what makes an MLM pipeline resumable mid-epoch and its
    batches auditable.  Per-document counts are the contract the trainer
    checks before consuming the plan.

    One token-linear posexplode → hash → doc-keyed count aggregation
    (uniform key, map-side combined).  At 100 TB: the explode is the
    workload; there is no join and no state beyond one count row per
    document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr(
        "doc_id",
        "regexp_extract_all(lower(COALESCE(text, '')), \"[a-z']+\", 0) AS t",
    )
    pos = toks.select("doc_id", F.posexplode("t").alias("p0", "tok")).selectExpr(
        "doc_id", "tok", "p0 + 1 AS p"
    )
    key = "concat(CAST(doc_id AS STRING), ':', CAST(p AS STRING), ':', tok)"
    # one md5 per token, sliced twice (the digest is the per-token cost
    # driver — at 100 TB this is the whole job)
    h = pos.selectExpr("doc_id", f"md5({key}) AS hx").selectExpr(
        "doc_id",
        "CAST(conv(substr(hx, 1, 4), 16, 10) AS BIGINT) AS m",
        "CAST(conv(substr(hx, 5, 4), 16, 10) AS BIGINT) AS y",
    )
    return h.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum(F.expr(f"CASE WHEN m < {_MLM_MASK_T} THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_masked"),
        F.sum(
            F.expr(f"CASE WHEN m < {_MLM_MASK_T} AND y < {_MLM_80} THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("n_mask_tok"),
        F.sum(
            F.expr(
                f"CASE WHEN m < {_MLM_MASK_T} AND y >= {_MLM_80} AND y < {_MLM_90}"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("n_random_tok"),
        F.sum(
            F.expr(f"CASE WHEN m < {_MLM_MASK_T} AND y >= {_MLM_90} THEN 1 ELSE 0 END")
        )
        .cast("bigint")
        .alias("n_keep_tok"),
    )


@register(
    "preference_pair_builder",
    oracle="""
    WITH scored AS (
        SELECT doc_id, source,
               len(list_distinct(regexp_extract_all(lower(COALESCE(text, '')),
                   '[a-z'']+'))) AS ndis,
               len(regexp_extract_all(lower(COALESCE(text, '')), '[a-z'']+'))
                   AS ntok
        FROM documents
        WHERE source IS NOT NULL
    ),
    ok AS (
        SELECT doc_id, source,
               CAST(ndis AS DOUBLE) / ntok AS score
        FROM scored WHERE ntok > 0
    ),
    ranked AS (
        SELECT source, doc_id, score,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY score DESC, doc_id ASC) AS rk_best,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY score ASC, doc_id DESC) AS rk_worst
        FROM ok
    )
    SELECT b.source,
           b.doc_id AS chosen_doc_id,
           w.doc_id AS rejected_doc_id,
           ROUND(b.score, 6) AS chosen_score,
           ROUND(w.score, 6) AS rejected_score,
           ROUND(b.score - w.score, 6) AS score_gap
    FROM (SELECT * FROM ranked WHERE rk_best = 1) b
    JOIN (SELECT * FROM ranked WHERE rk_worst = 1) w ON w.source = b.source
    """,
)
def preference_pair_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for reward-model / DPO training data:
    per source group, pair the highest-scoring document (chosen) with the
    lowest-scoring one (rejected) under a deterministic quality score
    (lexical diversity = distinct/total tokens), with doc_id tiebreaks on
    BOTH ends so the pair is unique even on score ties.  This is the
    relational core of every RLHF data builder — groupwise argmax/argmin
    with a documented total order — expressed as two rank windows over one
    scored scan.

    The score is one float division of two exact integers (identical IEEE
    result cross-engine); ranking keys are (score, doc_id), so no float
    accumulation anywhere.  At 100 TB: one scan, one shuffle on the
    group key, two windows over the same partitioning (single sort), and
    a group-count-sized self-join."""
    docs = load_table(spark, sf_dir, "documents")
    toks = "regexp_extract_all(lower(COALESCE(text, '')), \"[a-z']+\", 0)"
    scored = docs.filter(F.col("source").isNotNull()).selectExpr(
        "doc_id",
        "source",
        f"size(array_distinct({toks})) AS ndis",
        f"size({toks}) AS ntok",
    )
    ok = scored.filter(F.col("ntok") > 0).selectExpr(
        "doc_id", "source", "CAST(ndis AS DOUBLE) / ntok AS score"
    )
    from pyspark.sql import Window

    w_best = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    w_worst = Window.partitionBy("source").orderBy(
        F.col("score").asc(), F.col("doc_id").desc()
    )
    ranked = ok.select(
        "source",
        "doc_id",
        "score",
        F.row_number().over(w_best).alias("rk_best"),
        F.row_number().over(w_worst).alias("rk_worst"),
    )
    b = ranked.filter(F.col("rk_best") == 1).select(
        "source",
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("score").alias("bs"),
    )
    w = ranked.filter(F.col("rk_worst") == 1).select(
        "source",
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("score").alias("ws"),
    )
    return b.join(w, "source").select(
        "source",
        "chosen_doc_id",
        "rejected_doc_id",
        F.round("bs", 6).alias("chosen_score"),
        F.round("ws", 6).alias("rejected_score"),
        F.round(F.expr("bs - ws"), 6).alias("score_gap"),
    )


# PII patterns shared by report + totals: valid and identical in Java regex
# (Spark) and RE2 (DuckDB) — character classes, bounded repetition, no
# lookaround, no backrefs.  _EMAIL_RE is defined next to text_pii_scrub.
_PHONE_RE = "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
_IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


def _pii_counts(docs: DataFrame) -> DataFrame:
    """Per-document PII match counts (emails / phones / IPv4s) — JVM regex
    at scan speed, token-linear, no shuffle."""
    n_emails = F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0))
    n_phones = F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0))
    n_ipv4 = F.size(F.regexp_extract_all("text", F.lit(_IPV4_RE), 0))
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        n_emails.cast("bigint").alias("n_emails"),
        n_phones.cast("bigint").alias("n_phones"),
        n_ipv4.cast("bigint").alias("n_ipv4"),
        (n_emails + n_phones + n_ipv4).cast("bigint").alias("n_pii"),
        ((n_emails + n_phones + n_ipv4) > 0).cast("int").alias("has_pii"),
    )


@register(
    "text_pii_report",
    oracle=f"""
    SELECT doc_id,
           source,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{_IPV4_RE}')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
              + len(regexp_extract_all(text, '{_PHONE_RE}'))
              + len(regexp_extract_all(text, '{_IPV4_RE}')) AS BIGINT) AS n_pii,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
              + len(regexp_extract_all(text, '{_PHONE_RE}'))
              + len(regexp_extract_all(text, '{_IPV4_RE}')) > 0 AS INT) AS has_pii
    FROM documents WHERE text IS NOT NULL
    """,
)
def text_pii_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit (VERDICT r6 "missing" #2): per-document counts of
    email / phone / IPv4 regex matches plus a has-PII flag — the inventory a
    curation pipeline produces BEFORE scrubbing (``text_pii_scrub`` is the
    scrub itself; this is the audit trail that sizes the problem and samples
    QA).  Patterns are anchored to the Java∩RE2 common subset so Spark and
    the oracle match byte-for-byte.

    Scale posture: pure per-row JVM regex inside whole-stage codegen —
    token-linear, zero shuffles, output row-per-document (filterable before
    materialization at 100 TB)."""
    return _pii_counts(load_table(spark, sf_dir, "documents"))


@register(
    "text_pii_totals",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
              + len(regexp_extract_all(text, '{_PHONE_RE}'))
              + len(regexp_extract_all(text, '{_IPV4_RE}')) > 0 AS INT)) AS BIGINT)
               AS n_docs_with_pii,
           CAST(SUM(len(regexp_extract_all(text, '{_EMAIL_RE}'))) AS BIGINT) AS total_emails,
           CAST(SUM(len(regexp_extract_all(text, '{_PHONE_RE}'))) AS BIGINT) AS total_phones,
           CAST(SUM(len(regexp_extract_all(text, '{_IPV4_RE}'))) AS BIGINT) AS total_ipv4
    FROM documents WHERE text IS NOT NULL
    GROUP BY source
    """,
)
def text_pii_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PII totals per source (the sibling rollup of
    ``text_pii_report``): document counts, affected-document counts, and
    per-category match totals — the numbers a data-governance review asks
    for first.  One hash aggregation on the low-cardinality source key over
    the same scan-speed regex counts; group-count-sized output."""
    return (
        _pii_counts(load_table(spark, sf_dir, "documents"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("has_pii").cast("bigint").alias("n_docs_with_pii"),
            F.sum("n_emails").alias("total_emails"),
            F.sum("n_phones").alias("total_phones"),
            F.sum("n_ipv4").alias("total_ipv4"),
        )
    )


@register(
    "bpe_second_merge_round",
    oracle="""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents
    ),
    wc AS (SELECT word, COUNT(*) AS c FROM toks GROUP BY word),
    r1idx AS (
        SELECT word, c, unnest(generate_series(1, length(word) - 1)) AS i
        FROM wc WHERE length(word) >= 2
    ),
    r1 AS (
        SELECT substr(word, i, 2) AS pair, SUM(c) AS cnt
        FROM r1idx GROUP BY pair
    ),
    top1 AS (SELECT pair FROM r1 ORDER BY cnt DESC, pair ASC LIMIT 1),
    merged AS (
        SELECT replace(word, (SELECT pair FROM top1), chr(1)) AS s, c
        FROM wc
    ),
    r2idx AS (
        SELECT s, c, unnest(generate_series(1, length(s) - 1)) AS i
        FROM merged WHERE length(s) >= 2
    ),
    r2 AS (
        SELECT replace(substr(s, i, 1), chr(1), (SELECT pair FROM top1))
               || '+' ||
               replace(substr(s, i + 1, 1), chr(1), (SELECT pair FROM top1))
                   AS sym_pair,
               SUM(c) AS cnt
        FROM r2idx GROUP BY sym_pair
    )
    SELECT (SELECT pair FROM top1) AS merged_pair,
           sym_pair,
           CAST(cnt AS BIGINT) AS cnt
    FROM r2
    ORDER BY cnt DESC, sym_pair ASC
    LIMIT 20
    """,
)
def bpe_second_merge_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second round of BPE tokenizer training (VERDICT r6 "missing" #3;
    ``bpe_merge_pairs`` is round 1): pick round 1's winning pair
    deterministically (count DESC, pair ASC), APPLY the merge to the
    vocabulary — leftmost non-overlapping replacement, exactly Sennrich et
    al. 2016's merge step, modelled as replace(word, pair, sentinel) with a
    single out-of-alphabet sentinel char so post-merge symbols stay
    1-char-addressable — and recount adjacent SYMBOL pairs, emitting
    ``left+right`` labels with the merged digram expanded.  Row 1 is the
    pair a trainer would merge next.

    Scale shape: the corpus collapses to its VOCABULARY first (hash-agg on
    word; vocabulary grows ~Heaps-law sublinearly), the top-1 pair is a
    one-row bounded collect, and the merge itself is a per-row string
    replace over distinct words — no rescan of the corpus for round 2."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import shared_df

    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokenize_column("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    # the vocabulary feeds round 1 AND the merge/round-2 recount
    wc_ = shared_df(spark, ("bpe_vocab", sf_dir), lambda: vocab)
    pairs = wc_.filter(F.length("word") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "c",
    )
    r1 = pairs.groupBy("pair").agg(F.sum("c").alias("cnt"))
    # one-row, domain-bounded collect: the winning merge of round 1
    top_rows = r1.orderBy(F.desc("cnt"), F.asc("pair")).limit(1).collect()
    if not top_rows:
        # empty/degenerate corpus: no pair to merge, no round 2
        return spark.createDataFrame(
            [], "merged_pair string, sym_pair string, cnt bigint"
        )
    top1 = top_rows[0]["pair"]
    sentinel = "\x01"
    merged = wc_.select(
        F.replace("word", F.lit(top1), F.lit(sentinel)).alias("s"), "c"
    ).filter(F.length("s") >= 2)
    sym = lambda col: F.replace(col, F.lit(sentinel), F.lit(top1))  # noqa: E731
    r2 = merged.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("s") - 1),
                lambda i: F.concat(
                    sym(F.col("s").substr(i, F.lit(1))),
                    F.lit("+"),
                    sym(F.col("s").substr(i + 1, F.lit(1))),
                ),
            )
        ).alias("sym_pair"),
        "c",
    )
    return (
        r2.groupBy("sym_pair")
        .agg(F.sum("c").cast("bigint").alias("cnt"))
        .select(F.lit(top1).alias("merged_pair"), "sym_pair", "cnt")
        .orderBy(F.desc("cnt"), F.asc("sym_pair"))
        .limit(20)
    )


@register(
    "text_quality_rules_report",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               string_split(text, chr(10)) AS lines,
               len(regexp_extract_all(lower(text), '[a-z'']+')) AS n_words,
               length(text) - length(replace(text, '#', '')) AS n_hash,
               (length(text) - length(replace(text, '...', ''))) / 3 AS n_ellipsis
        FROM documents WHERE text IS NOT NULL
    ),
    per AS (
        SELECT doc_id,
               n_words,
               len(list_filter(lines, x -> trim(x) <> '')) AS n_lines,
               len(list_distinct(list_filter(lines, x -> trim(x) <> ''))) AS n_distinct_lines,
               len(list_filter(lines, x -> starts_with(ltrim(x), '-')
                                        OR starts_with(ltrim(x), '*')
                                        OR starts_with(ltrim(x), '•'))) AS n_bullet,
               len(list_filter(lines, x -> ends_with(rtrim(x), '...'))) AS n_ellipsis_end,
               n_hash,
               n_ellipsis
        FROM base
    )
    SELECT doc_id,
           n_words,
           n_lines,
           CAST(n_hash + n_ellipsis AS DOUBLE) / greatest(n_words, 1) AS symbol_word_ratio,
           CAST(n_lines - n_distinct_lines AS DOUBLE) / greatest(n_lines, 1) AS repeated_line_frac,
           CAST(n_bullet AS DOUBLE) / greatest(n_lines, 1) AS bullet_line_frac,
           CAST(n_ellipsis_end AS DOUBLE) / greatest(n_lines, 1) AS ellipsis_line_frac,
           CAST(CAST(n_hash + n_ellipsis AS DOUBLE) / greatest(n_words, 1) <= 0.1
                AND CAST(n_bullet AS DOUBLE) / greatest(n_lines, 1) <= 0.9
                AND CAST(n_ellipsis_end AS DOUBLE) / greatest(n_lines, 1) <= 0.3 AS INT)
               AS passes_symbol_rules
    FROM per
    """,
)
def text_quality_rules_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/C4 symbol-and-line rule family (VERDICT r6 "missing" #4),
    complementing ``text_gopher_quality``'s n-gram repetition gates:
    symbol-to-word ratio (# and ... occurrences per word, Gopher §A1.1),
    repeated-line fraction (exact duplicate non-empty lines within the
    document), bullet-line fraction and ellipsis-terminated-line fraction
    (C4/Gopher formatting heuristics), plus the combined pass flag at the
    published thresholds (0.1 / 0.9 / 0.3).

    Scale posture: everything is array math over ONE split of the document
    text — no explode, no shuffle, no Python; a 100 TB corpus streams
    through at scan speed and the flags prune before any downstream join."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    lines = F.split("text", "\n", -1)
    nonempty = F.filter(lines, lambda x: F.trim(x) != "")
    bullets = F.filter(
        lines,
        lambda x: F.ltrim(x).startswith("-")
        | F.ltrim(x).startswith("*")
        | F.ltrim(x).startswith("•"),
    )
    ell_end = F.filter(lines, lambda x: F.rtrim(x).endswith("..."))
    n_hash = F.length("text") - F.length(F.replace("text", F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length("text") - F.length(F.replace("text", F.lit("..."), F.lit("")))
    ) / 3
    per = docs.select(
        "doc_id",
        F.size(tokenize_column("text")).cast("bigint").alias("n_words"),
        F.size(nonempty).cast("bigint").alias("n_lines"),
        F.size(F.array_distinct(nonempty)).cast("bigint").alias("n_distinct_lines"),
        F.size(bullets).cast("bigint").alias("n_bullet"),
        F.size(ell_end).cast("bigint").alias("n_ellipsis_end"),
        (n_hash + n_ellipsis).alias("n_symbol"),
    )
    symbol_ratio = F.col("n_symbol").cast("double") / F.greatest(
        F.col("n_words"), F.lit(1)
    )
    rep_frac = (F.col("n_lines") - F.col("n_distinct_lines")).cast(
        "double"
    ) / F.greatest(F.col("n_lines"), F.lit(1))
    bullet_frac = F.col("n_bullet").cast("double") / F.greatest(
        F.col("n_lines"), F.lit(1)
    )
    ell_frac = F.col("n_ellipsis_end").cast("double") / F.greatest(
        F.col("n_lines"), F.lit(1)
    )
    return per.select(
        "doc_id",
        "n_words",
        "n_lines",
        symbol_ratio.alias("symbol_word_ratio"),
        rep_frac.alias("repeated_line_frac"),
        bullet_frac.alias("bullet_line_frac"),
        ell_frac.alias("ellipsis_line_frac"),
        ((symbol_ratio <= 0.1) & (bullet_frac <= 0.9) & (ell_frac <= 0.3))
        .cast("int")
        .alias("passes_symbol_rules"),
    )


@register(
    "decontam_eval_report",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS w
        FROM documents
    ),
    gidx AS (
        SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS i FROM toks
    ),
    grams AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 4), ' ') AS ngram
        FROM gidx
    ),
    eval_grams AS (SELECT doc_id, ngram FROM grams WHERE doc_id % 10 = 0),
    train_ngrams AS (SELECT DISTINCT ngram FROM grams WHERE doc_id % 10 <> 0),
    hit AS (
        SELECT e.doc_id, COUNT(*) AS n_hit
        FROM eval_grams e JOIN train_ngrams t USING (ngram)
        GROUP BY e.doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM eval_grams GROUP BY doc_id)
    SELECT tot.doc_id,
           CAST(tot.n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / tot.n_grams AS contamination_frac,
           CAST(COALESCE(hit.n_hit, 0) > 0 AS INT) AS is_contaminated
    FROM tot LEFT JOIN hit USING (doc_id)
    """,
)
def decontam_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-side contamination report (VERDICT r6 "missing" #1) — the
    complement of ``decontam_ngram_overlap``: that query flags TRAINING
    documents sharing an n-gram with the eval split; this one reports, per
    EVAL document, how much of it leaks from the training corpus (distinct
    word-5-grams hit, and the contamination fraction) — the number an eval
    card actually publishes.  Held-out split = the deterministic
    doc_id%10==0 slice, standing in for the benchmark suite.

    Scale shape: the eval side is tiny (benchmarks are MBs); its distinct
    (doc, ngram) pairs BROADCAST to probe the corpus-side n-gram stream, so
    the 100 TB side is never shuffled — the probe's matches (bounded by the
    eval gram count) aggregate on uniform ngram/doc keys."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize_column("text").alias("w"))
    gram_arr = F.when(
        F.size("w") >= 5,
        F.transform(
            F.sequence(F.lit(1), F.size("w") - 4),
            lambda i: F.array_join(F.slice("w", i, F.lit(5)), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks.select("doc_id", F.explode(gram_arr).alias("ngram")).distinct()
    eval_grams = grams.filter(F.col("doc_id") % 10 == 0)
    train_ngrams = grams.filter(F.col("doc_id") % 10 != 0).select("ngram").distinct()
    # eval side is the broadcast probe: matched grams (≤ eval gram count)
    # then aggregate per eval doc
    hit = (
        train_ngrams.join(F.broadcast(eval_grams), "ngram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    tot = eval_grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    return tot.join(hit, "doc_id", "left").select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
        (
            F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n_grams")
        ).alias("contamination_frac"),
        (F.coalesce("n_hit", F.lit(0)) > 0).cast("int").alias("is_contaminated"),
    )


# --- T5-style span corruption plan (round 7 second wave) ------------------
# Blocks of 3 consecutive tokens; a block is corrupted iff the first 16 bits
# of md5('span:' doc ':' block) clear the 15% threshold.  Block-level masking
# gives contiguous multi-token spans (the T5 recipe's point) while staying a
# pure per-token hash expression — no RNG, no sequential span-walk state.
_SPAN_LEN = 3
_SPAN_T = 9830  # 9830/65536 ~ 15% of blocks


@register(
    "span_corruption_plan",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(COALESCE(text, '')), '[a-z'']+') AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id,
               unnest(generate_series(1, len(t))) AS p
        FROM toks
    ),
    blk AS (
        SELECT doc_id, CAST(FLOOR((p - 1) / {_SPAN_LEN}) AS BIGINT) AS b
        FROM pos
    ),
    h AS (
        SELECT doc_id, b,
               CAST(CAST('0x' || substr(md5('span:' || CAST(doc_id AS VARCHAR)
                        || ':' || CAST(b AS VARCHAR)), 1, 4) AS BIGINT) AS BIGINT)
                   AS m,
               COUNT(*) AS n_tok
        FROM blk GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN m < {_SPAN_T} THEN n_tok ELSE 0 END) AS BIGINT)
               AS n_masked,
           CAST(SUM(CASE WHEN m < {_SPAN_T} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_spans,
           CAST(SUM(CASE WHEN m < {_SPAN_T} THEN 0 ELSE n_tok END)
                + SUM(CASE WHEN m < {_SPAN_T} THEN 1 ELSE 0 END) AS BIGINT)
               AS input_len,
           CAST(SUM(CASE WHEN m < {_SPAN_T} THEN n_tok ELSE 0 END)
                + SUM(CASE WHEN m < {_SPAN_T} THEN 1 ELSE 0 END) AS BIGINT)
               AS target_len
    FROM h
    GROUP BY doc_id
    """,
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption data-prep plan: partition each document's tokens
    into 3-token blocks, corrupt ~15% of blocks by block-keyed hash
    (md5('span:'doc':'block) < 9830/65536), and report per document the
    token/span counts plus the packed INPUT length (uncorrupted tokens + one
    sentinel per span) and TARGET length (corrupted tokens + one sentinel
    per span) — exactly the two numbers a sequence packer needs to build
    batches without materializing the sequences.  The block-hash design is
    the span analogue of `mlm_masking_plan`'s token hash: deterministic
    across engines/executors/runs, hence resumable and auditable.

    Scale posture: token-linear posexplode → per-(doc, block) count →
    per-doc sums, both aggregations on uniform keys with map-side combine;
    no joins, one row per document."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr(
        "doc_id",
        "regexp_extract_all(lower(COALESCE(text, '')), \"[a-z']+\", 0) AS t",
    )
    blk = toks.select("doc_id", F.posexplode("t").alias("p0", "tok")).selectExpr(
        "doc_id", f"CAST(FLOOR(p0 / {_SPAN_LEN}) AS BIGINT) AS b"
    )
    h = blk.groupBy("doc_id", "b").agg(F.count("*").alias("n_tok")).selectExpr(
        "doc_id",
        "n_tok",
        "CAST(conv(substr(md5(concat('span:', CAST(doc_id AS STRING), ':',"
        " CAST(b AS STRING))), 1, 4), 16, 10) AS BIGINT) AS m",
    )
    masked = f"CASE WHEN m < {_SPAN_T} THEN n_tok ELSE 0 END"
    spans = f"CASE WHEN m < {_SPAN_T} THEN 1 ELSE 0 END"
    kept = f"CASE WHEN m < {_SPAN_T} THEN 0 ELSE n_tok END"
    return h.groupBy("doc_id").agg(
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.sum(F.expr(masked)).cast("bigint").alias("n_masked"),
        F.sum(F.expr(spans)).cast("bigint").alias("n_spans"),
        (F.sum(F.expr(kept)) + F.sum(F.expr(spans)))
        .cast("bigint")
        .alias("input_len"),
        (F.sum(F.expr(masked)) + F.sum(F.expr(spans)))
        .cast("bigint")
        .alias("target_len"),
    )


# --- word2vec negative-sampling plan (round 7 second wave) ----------------
# Unigram^0.75 sampling over the top-V vocabulary, drawn with deterministic
# md5 fractions and resolved by a BUCKETED interval join (never a full
# non-equi join): integer weight space [0, W) is tiled by the vocabulary's
# cumulative-weight intervals; a draw t = floor(u * W) equi-joins on
# floor(t / bucket_width) against interval-overlapped buckets, then the
# exact range predicate filters within the bucket.
_NEG_V = 1024  # vocabulary cap (top-V by count, word tie-break)
_NEG_N = 2000  # number of negative draws
_NEG_B = 256  # interval-join buckets


@register(
    "negative_sampling_plan",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(COALESCE(text, '')), '[a-z'']+'))
               AS word
        FROM documents
    ),
    vocab AS (
        SELECT word, COUNT(*) AS cnt
        FROM toks GROUP BY word
        ORDER BY cnt DESC, word ASC LIMIT {_NEG_V}
    ),
    wts AS (
        SELECT word, cnt,
               CAST(FLOOR(POW(CAST(cnt AS DOUBLE), 0.75) * 1000000) AS BIGINT) AS w
        FROM vocab
    ),
    cum AS (
        SELECT word, cnt, w,
               SUM(w) OVER (ORDER BY cnt DESC, word ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
               CAST(SUM(w) OVER () AS BIGINT) AS wtot
        FROM wts
    ),
    iv AS (SELECT word, cnt, w, hi - w AS lo, hi, wtot FROM cum),
    draws AS (
        SELECT i,
               CAST(CAST('0x' || substr(md5('neg:' || CAST(i AS VARCHAR)), 1, 8)
                    AS BIGINT) AS DOUBLE) / 4294967296.0 AS u
        FROM generate_series(0, {_NEG_N - 1}) AS g(i)
    ),
    resolved AS (
        SELECT iv.word
        FROM draws JOIN iv
          ON CAST(FLOOR(draws.u * iv.wtot) AS BIGINT) >= iv.lo
         AND CAST(FLOOR(draws.u * iv.wtot) AS BIGINT) < iv.hi
    ),
    counts AS (
        SELECT word, COUNT(*) AS n_drawn FROM resolved GROUP BY word
    )
    SELECT iv.word, CAST(iv.cnt AS BIGINT) AS cnt, iv.w AS weight,
           ROUND(CAST(iv.w AS DOUBLE) / iv.wtot, 6) AS p_word,
           CAST(COALESCE(counts.n_drawn, 0) AS BIGINT) AS n_drawn
    FROM iv LEFT JOIN counts ON iv.word = counts.word
    """,
)
def negative_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec negative-sampling plan: the top-1024 vocabulary weighted by
    count^0.75 (the canonical smoothing), 2000 deterministic draws resolved
    against the cumulative-weight intervals, reported as per-word draw
    counts next to the exact sampling probability — the table a trainer
    ships to every worker as its negative-sampling alias table, plus the
    empirical check that the draw stream matches it.

    Determinism: weights are INTEGER (floor(c^0.75 · 1e6)), so the interval
    bounds are exact BIGINT cumulative sums (addition-order-free, identical
    across engines); a draw u is a 32-bit md5 fraction and t = floor(u·W)
    is one IEEE multiply + floor — bit-identical in Spark and DuckDB.

    Scale posture: the vocabulary cap compiles to TakeOrderedAndProject
    (never a full sort); the interval join is BUCKETED — each interval
    explodes onto the fixed-width weight buckets it overlaps (≈W/bw + V
    rows total) and draws equi-join on their bucket before the exact range
    filter, so there is no non-equi BNLJ anywhere; the draw stream is a
    broadcast-sized range."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.expr("regexp_extract_all(lower(COALESCE(text, '')), \"[a-z']+\", 0)")
        ).alias("word")
    )
    vocab = (
        toks.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(_NEG_V)
    )
    from pyspark.sql import Window

    wts = vocab.selectExpr(
        "word",
        "cnt",
        "CAST(FLOOR(POW(CAST(cnt AS DOUBLE), 0.75) * 1000000) AS BIGINT) AS w",
    )
    w_cum = Window.orderBy(F.desc("cnt"), F.asc("word")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    iv = (
        wts.select(
            "word",
            "cnt",
            "w",
            F.sum("w").over(w_cum).alias("hi"),
            F.sum("w").over(Window.partitionBy()).cast("bigint").alias("wtot"),
        )
        .withColumn("lo", F.col("hi") - F.col("w"))
    )
    # bucketed interval join: explode each interval onto the fixed-width
    # buckets it overlaps, equi-join draws on bucket, exact-filter inside
    bw = f"CAST(CEIL(CAST(wtot AS DOUBLE) / {_NEG_B}) AS BIGINT)"
    iv_b = iv.selectExpr(
        "word", "cnt", "w", "lo", "hi", "wtot"
    ).withColumn(
        "bucket",
        F.explode(
            F.expr(f"sequence(CAST(FLOOR(lo / {bw}) AS BIGINT),"
                   f" CAST(FLOOR((hi - 1) / {bw}) AS BIGINT))")
        ),
    )
    draws = spark.range(_NEG_N).selectExpr(
        "CAST(CAST(conv(substr(md5(concat('neg:', CAST(id AS STRING))), 1, 8),"
        " 16, 10) AS BIGINT) AS DOUBLE) / 4294967296.0 AS u"
    )
    wtot_row = iv.select("wtot").limit(1)
    t_draws = draws.crossJoin(F.broadcast(wtot_row)).selectExpr(
        "CAST(FLOOR(u * wtot) AS BIGINT) AS t",
        f"CAST(FLOOR(CAST(FLOOR(u * wtot) AS BIGINT) / {bw}) AS BIGINT) AS bucket",
    )
    resolved = t_draws.join(F.broadcast(iv_b), "bucket").filter(
        (F.col("t") >= F.col("lo")) & (F.col("t") < F.col("hi"))
    )
    counts = resolved.groupBy("word").agg(F.count("*").alias("n_drawn"))
    return (
        iv.join(F.broadcast(counts), "word", "left")
        .select(
            "word",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("w").alias("weight"),
            F.round(F.col("w").cast("double") / F.col("wtot"), 6).alias("p_word"),
            F.coalesce("n_drawn", F.lit(0)).cast("bigint").alias("n_drawn"),
        )
    )


@register(
    "text_repetition_report",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(COALESCE(text, '')), '[a-z'']+') AS t
        FROM documents
    ),
    tri AS (
        SELECT doc_id,
               t[g.i] || ' ' || t[g.i + 1] || ' ' || t[g.i + 2] AS gram
        FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
        WHERE len(t) >= 3
    ),
    per AS (
        SELECT doc_id, gram, COUNT(*) AS c FROM tri GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_trigrams,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS max_repeat,
           ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                 / SUM(c), 6) AS repeated_frac,
           CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 2 >= SUM(c) AS INT)
               AS is_degenerate
    FROM per GROUP BY doc_id
    """,
)
def text_repetition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document trigram repetition — the degenerate-text detector
    (boilerplate loops, keyword stuffing, decoding pathologies) that
    complements the cross-document `c4_line_dedup` and the line-level
    rules in `text_quality_rules_report`: per document, total/distinct
    trigram counts, the most-repeated trigram's count, the fraction of
    trigram mass in repeated trigrams, and the ≥50%-repeated degeneracy
    flag the Gopher rules drop documents on.  Documents under 3 tokens
    have no trigram row, matching the oracle's WHERE.

    Token-linear: one explode to (doc, trigram) with a map-side-combined
    count on the uniform composite key, then a doc-keyed reduce — no
    joins; the integer ×2 comparison keeps the flag float-free."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr(
        "doc_id",
        "regexp_extract_all(lower(COALESCE(text, '')), \"[a-z']+\", 0) AS t",
    ).filter(F.size("t") >= 3)
    tri = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 2),"
                " i -> concat(t[i - 1], ' ', t[i], ' ', t[i + 1]))"
            )
        ).alias("gram"),
    )
    per = tri.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    return per.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_trigrams"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.max("c").cast("bigint").alias("max_repeat"),
        F.round(
            F.sum(F.expr("CASE WHEN c > 1 THEN c ELSE 0 END")).cast("double")
            / F.sum("c"),
            6,
        ).alias("repeated_frac"),
        (F.sum(F.expr("CASE WHEN c > 1 THEN c ELSE 0 END")) * 2 >= F.sum("c"))
        .cast("int")
        .alias("is_degenerate"),
    )


@register(
    "corpus_importance_resample",
    oracle="""
    WITH base AS (
        SELECT doc_id, lang,
               (CAST(CAST('0x' || substr(md5('ir:' || CAST(doc_id AS VARCHAR)), 1, 8)
                     AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
        FROM documents WHERE lang IS NOT NULL
    ),
    nat AS (
        SELECT lang, COUNT(*) AS n,
               CAST(COUNT(*) AS DOUBLE)
                   / (SELECT COUNT(*) FROM base) AS p_nat,
               (1.0 / (SELECT COUNT(DISTINCT lang) FROM base)) AS p_tgt
        FROM base GROUP BY lang
    ),
    wts AS (
        SELECT lang, n, p_nat, p_tgt, p_tgt / p_nat AS w,
               MAX(p_tgt / p_nat) OVER () AS wmax
        FROM nat
    )
    SELECT b.lang,
           CAST(w.n AS BIGINT) AS n_docs,
           ROUND(w.p_nat, 6) AS p_nat,
           ROUND(w.p_tgt, 6) AS p_tgt,
           ROUND(w.w / w.wmax, 6) AS accept_rate,
           CAST(SUM(CASE WHEN b.u < w.w / w.wmax THEN 1 ELSE 0 END) AS BIGINT)
               AS n_accepted
    FROM base b JOIN wts w ON w.lang = b.lang
    GROUP BY b.lang, w.n, w.p_nat, w.p_tgt, w.w, w.wmax
    """,
)
def corpus_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling to a TARGET language distribution (uniform
    over observed languages) by deterministic rejection: each document
    draws u = md5('ir:'doc_id) and survives iff u < w(lang)/w_max with
    w = p_target/p_natural — the standard rebalancing step between
    `corpus_temperature_mixture` (which only PLANS shares) and the
    sampled corpus itself, keeping the majority language's acceptance at
    w/w_max < 1 while the rarest language passes whole.  Row per
    language: natural/target shares, acceptance rate, and the realized
    accepted count the plan's consumer audits against expectation.

    Determinism: per-document md5 fractions (offset half an ulp, never
    0), weights are ratios of exact counts; every document's accept
    decision replays bit-for-bit in both engines.  Scale posture: one
    count aggregate, a |langs|-row broadcast weight table joined back on
    the language key, one accept-count reduce — token-free and
    join-light at any corpus size."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    base = docs.selectExpr(
        "doc_id",
        "lang",
        "(CAST(conv(substr(md5(concat('ir:', CAST(doc_id AS STRING))), 1, 8),"
        " 16, 10) AS DOUBLE) + 0.5) / 4294967296.0 AS u",
    )
    tot = base.agg(
        F.count("*").alias("n_tot"), F.countDistinct("lang").alias("n_langs")
    )
    nat = (
        base.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "lang",
            "n",
            "CAST(n AS DOUBLE) / n_tot AS p_nat",
            # CAST: Spark types a bare 1.0 literal as DECIMAL(2,1), which
            # would carry decimal typing through every downstream ratio
            "CAST(1.0 AS DOUBLE) / n_langs AS p_tgt",
        )
    )
    from pyspark.sql import Window

    wts = nat.select(
        "lang",
        "n",
        "p_nat",
        "p_tgt",
        (F.col("p_tgt") / F.col("p_nat")).alias("w"),
    ).withColumn("wmax", F.max("w").over(Window.partitionBy()))
    return (
        base.join(F.broadcast(wts), "lang")
        .groupBy("lang", "n", "p_nat", "p_tgt", "w", "wmax")
        .agg(
            F.sum(
                F.expr("CASE WHEN u < w / wmax THEN 1 ELSE 0 END")
            ).cast("bigint").alias("n_accepted")
        )
        .select(
            "lang",
            F.col("n").cast("bigint").alias("n_docs"),
            F.round("p_nat", 6).alias("p_nat"),
            F.round("p_tgt", 6).alias("p_tgt"),
            F.round(F.col("w") / F.col("wmax"), 6).alias("accept_rate"),
            "n_accepted",
        )
    )


# ---------------------------------------------------------------------------
# Iterated BPE training to k merge rounds (r8, VERDICT r7 "missing" #2 /
# next-round #5).  bpe_merge_pairs proved round 1 and bpe_second_merge_round
# proved the apply-winner-then-recount step; this runs the full k-round
# training loop that makes it a real tokenizer-training kernel.
#
# Representation: after round i the corpus vocabulary lives in COMPRESSED
# space — every earlier winner j < i is one sentinel char chr(j), so
# "adjacent symbol pair" stays a 2-char substring and the merge stays a
# plain replace(word, pair, chr(i)).  Winners are chosen by
# (count DESC, compressed-pair ASC): the tiebreak is over compressed bytes,
# identical in both engines because sentinels chr(1..k) sort below every
# corpus character.  The reported merge table expands each winner back to
# base characters by unwinding sentinels j = i-1 .. 1.
# ---------------------------------------------------------------------------

_BPE_K = 8


def _bpe_vocab(spark: SparkSession, sf_dir: str):
    """Session-shared (word, count) vocabulary frame — feeds round-1 pair
    counting, the k-round trainer, and corpus encoding."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import shared_df

    docs = load_table(spark, sf_dir, "documents")
    return shared_df(
        spark,
        ("bpe_vocab", sf_dir),
        lambda: docs.select(F.explode(tokenize_column("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c")),
    )


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, int]]:
    """The k collected BPE winners [(round, compressed pair, count)] —
    memoized per session so fit (bpe_train_k_merges) and encode
    (bpe_encode_corpus) share ONE training run.  Each round: pair count over
    the compressed vocabulary (partial-agg), one single-row bounded collect
    of the winner, one codegen replace."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import shared

    vocab = _bpe_vocab(spark, sf_dir)

    def train() -> list[tuple[int, str, int]]:
        merges: list[tuple[int, str, int]] = []
        state = vocab.select(F.col("word").alias("s"), "c")
        for i in range(1, _BPE_K + 1):
            pairs = state.filter(F.length("s") >= 2).select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.length("s") - 1),
                        lambda ix: F.col("s").substr(ix, F.lit(2)),
                    )
                ).alias("pair"),
                "c",
            )
            top = (
                pairs.groupBy("pair")
                .agg(F.sum("c").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("pair"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            merges.append((i, top[0]["pair"], int(top[0]["cnt"])))
            state = state.select(
                F.replace("s", F.lit(top[0]["pair"]), F.lit(chr(i))).alias("s"), "c"
            )
        return merges

    return shared(spark, ("bpe_k_merges", sf_dir, _BPE_K), train)



def _bpe_k_oracle(k: int = _BPE_K) -> str:
    """Chained-CTE DuckDB replay of k BPE merge rounds: w0 = the tokenized
    vocabulary; round i picks top-1 adjacent pair of w{i-1} (count DESC,
    pair ASC) and rewrites w{i} = replace(word, winner, chr(i))."""
    parts = [
        """
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents
    ),
    w0 AS (SELECT word AS s, COUNT(*) AS c FROM toks GROUP BY word)"""
    ]
    for i in range(1, k + 1):
        prev = f"w{i - 1}"
        parts.append(
            f""",
    p{i} AS (
        SELECT substr(s, i, 2) AS pair, SUM(c) AS cnt
        FROM (SELECT s, c, unnest(generate_series(1, length(s) - 1)) AS i
              FROM {prev} WHERE length(s) >= 2)
        GROUP BY pair
    ),
    t{i} AS (SELECT pair, cnt FROM p{i} ORDER BY cnt DESC, pair ASC LIMIT 1),
    w{i} AS (
        SELECT replace(s, (SELECT pair FROM t{i}), chr({i})) AS s, c
        FROM {prev}
    )"""
        )
    rows = []
    for i in range(1, k + 1):
        expand = f"(SELECT pair FROM t{i})"
        for j in range(i - 1, 0, -1):
            expand = f"replace({expand}, chr({j}), (SELECT pair FROM t{j}))"
        rows.append(
            f"SELECT {i} AS round, {expand} AS merged_pair, "
            f"(SELECT CAST(cnt AS BIGINT) FROM t{i}) AS cnt"
        )
    parts.append("\n" + "\nUNION ALL\n".join(rows) + "\nORDER BY round")
    return "".join(parts)


@register("bpe_train_k_merges", oracle=_bpe_k_oracle())
def bpe_train_k_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, k = 8 merge rounds (Sennrich et al. 2016):
    the corpus collapses once to its vocabulary (hash-agg on word —
    Heaps-law sublinear), then each round counts adjacent symbol pairs over
    the compressed vocabulary, picks the winner (count DESC, pair ASC) with
    ONE bounded single-row collect, and rewrites the vocabulary by a per-row
    replace.  Output = the merge table (round, winner expanded to base
    characters, count) — the artifact a tokenizer trainer persists.

    Memoized like the PQ training run (emb_pq_codebook): repeated calls in
    one session replay the collected winners without re-running the k jobs.
    Scale: k jobs over one persisted vocabulary frame — no per-round corpus
    rescan; each round is a partial-agg pair count (map-side combine) plus
    codegen string replace.  The k single-row collects are training state,
    identical in kind to Lloyd-round centroid collects."""
    merges = _bpe_merges(spark, sf_dir)
    if not merges:
        return spark.createDataFrame([], "round int, merged_pair string, cnt bigint")
    # expand compressed winners to base characters (unwind sentinels j<i)
    compressed = {i: p for i, p, _ in merges}
    out = []
    for i, pair, cnt in merges:
        for j in range(i - 1, 0, -1):
            pair = pair.replace(chr(j), compressed[j])
        out.append((i, pair, cnt))
    return spark.createDataFrame(out, "round int, merged_pair string, cnt bigint")


# ---------------------------------------------------------------------------
# End-to-end corpus filter funnel (r8): the composed training-data pipeline —
# each stage applies a real filter from this repo's quality family
# CUMULATIVELY and reports survivors, so one query answers "where does my
# corpus go when I run the standard cleaning stack?".  Stage predicates are
# shared SQL strings (both engines verbatim); the dedup stage is keep-first
# by md5(text) — the exact_dedup contract.
# ---------------------------------------------------------------------------

_FUNNEL_NONEMPTY = "(text IS NOT NULL AND length(trim(text)) > 0)"
_FUNNEL_LANG = "(lang = 'en')"
_FUNNEL_WORDS = "(n_words BETWEEN 10 AND 5000)"
_FUNNEL_SYMBOL = (
    "((CAST(n_hash + n_ellipsis AS DOUBLE) / greatest(n_words, 1)) <= 0.1)"
)


@register(
    "corpus_filter_funnel",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text, lang,
               len(regexp_extract_all(lower(COALESCE(text, '')), '[a-z'']+'))
                   AS n_words,
               length(COALESCE(text, ''))
                 - length(replace(COALESCE(text, ''), '#', '')) AS n_hash,
               (length(COALESCE(text, ''))
                 - length(replace(COALESCE(text, ''), '...', ''))) / 3
                   AS n_ellipsis
        FROM documents
    ),
    flags AS (
        SELECT doc_id, text,
               CASE WHEN {_FUNNEL_NONEMPTY} THEN 1 ELSE 0 END AS f1,
               CASE WHEN {_FUNNEL_LANG} THEN 1 ELSE 0 END AS f2,
               CASE WHEN {_FUNNEL_WORDS} THEN 1 ELSE 0 END AS f3,
               CASE WHEN {_FUNNEL_SYMBOL} THEN 1 ELSE 0 END AS f4
        FROM base
    ),
    surv AS (
        SELECT doc_id, text,
               f1, f1 * f2 AS s2, f1 * f2 * f3 AS s3,
               f1 * f2 * f3 * f4 AS s4
        FROM flags
    ),
    dedup AS (
        SELECT s4,
               CASE WHEN s4 = 1 AND ROW_NUMBER() OVER (
                        PARTITION BY s4, md5(COALESCE(text, chr(1)))
                        ORDER BY doc_id ASC) = 1
                    THEN 1 ELSE 0 END AS s5,
               f1, s2, s3
        FROM surv
    )
    SELECT stage, stage_name, n_surviving FROM (
        SELECT 0 AS stage, 'all' AS stage_name, COUNT(*) AS n_surviving FROM dedup
        UNION ALL
        SELECT 1, 'nonempty_text', CAST(SUM(f1) AS BIGINT) FROM dedup
        UNION ALL
        SELECT 2, 'lang_en', CAST(SUM(s2) AS BIGINT) FROM dedup
        UNION ALL
        SELECT 3, 'word_count_10_5000', CAST(SUM(s3) AS BIGINT) FROM dedup
        UNION ALL
        SELECT 4, 'symbol_ratio', CAST(SUM(s4) AS BIGINT) FROM dedup
        UNION ALL
        SELECT 5, 'exact_dedup_keep_first', CAST(SUM(s5) AS BIGINT) FROM dedup
    )
    """,
)
def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed cleaning stack as ONE query — survivors after each
    cumulative stage of the standard training-data pipeline: non-empty text
    → language gate → Gopher word-count window → C4 symbol-ratio rule →
    exact dedup (keep-first by md5 of the body).  This is the report a
    pipeline owner reads before touching any knob: which stage eats the
    corpus.

    Scale posture: every stage predicate is a per-row codegen expression
    over ONE scan; the only shuffle is the dedup stage's hash partition on
    md5(text) (uniform key), and the output is 6 rows.  Composing the
    stages as flag products (not chained DataFrames) keeps it a single
    aggregation pass."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.selectExpr(
        "doc_id",
        "text",
        "lang",
        "size(regexp_extract_all(lower(COALESCE(text, '')), \"[a-z']+\", 0))"
        " AS n_words",
        "length(COALESCE(text, ''))"
        " - length(replace(COALESCE(text, ''), '#', '')) AS n_hash",
        "CAST((length(COALESCE(text, ''))"
        " - length(replace(COALESCE(text, ''), '...', ''))) / 3 AS BIGINT)"
        " AS n_ellipsis",
    )
    flags = base.selectExpr(
        "doc_id",
        "text",
        f"CASE WHEN {_FUNNEL_NONEMPTY} THEN 1 ELSE 0 END AS f1",
        f"CASE WHEN {_FUNNEL_LANG} THEN 1 ELSE 0 END AS f2",
        f"CASE WHEN {_FUNNEL_WORDS} THEN 1 ELSE 0 END AS f3",
        f"CASE WHEN {_FUNNEL_SYMBOL} THEN 1 ELSE 0 END AS f4",
    ).selectExpr(
        "doc_id",
        "text",
        "f1",
        "f1 * f2 AS s2",
        "f1 * f2 * f3 AS s3",
        "f1 * f2 * f3 * f4 AS s4",
    )
    w = Window.partitionBy(
        "s4", F.expr("md5(COALESCE(text, '\x01'))")
    ).orderBy(F.asc("doc_id"))
    dedup = flags.select(
        "f1",
        "s2",
        "s3",
        "s4",
        F.when(
            (F.col("s4") == 1) & (F.row_number().over(w) == 1), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("s5"),
    )
    totals = dedup.agg(
        F.count("*").alias("n0"),
        F.sum("f1").cast("bigint").alias("n1"),
        F.sum("s2").cast("bigint").alias("n2"),
        F.sum("s3").cast("bigint").alias("n3"),
        F.sum("s4").cast("bigint").alias("n4"),
        F.sum("s5").cast("bigint").alias("n5"),
    )
    stages = [
        (0, "all", "n0"),
        (1, "nonempty_text", "n1"),
        (2, "lang_en", "n2"),
        (3, "word_count_10_5000", "n3"),
        (4, "symbol_ratio", "n4"),
        (5, "exact_dedup_keep_first", "n5"),
    ]
    rows = [
        totals.selectExpr(
            f"{i} AS stage", f"'{name}' AS stage_name", f"{col} AS n_surviving"
        )
        for i, name, col in stages
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def _bpe_encode_oracle(k: int = _BPE_K) -> str:
    """DuckDB replay of k BPE merges CARRYING the original word, then
    per-source corpus encoding stats from the word → symbol-count map."""
    parts = [
        """
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents
    ),
    w0 AS (SELECT word, word AS s, COUNT(*) AS c FROM toks GROUP BY word)"""
    ]
    for i in range(1, k + 1):
        prev = f"w{i - 1}"
        parts.append(
            f""",
    p{i} AS (
        SELECT substr(s, i, 2) AS pair, SUM(c) AS cnt
        FROM (SELECT s, c, unnest(generate_series(1, length(s) - 1)) AS i
              FROM {prev} WHERE length(s) >= 2)
        GROUP BY pair
    ),
    t{i} AS (SELECT pair, cnt FROM p{i} ORDER BY cnt DESC, pair ASC LIMIT 1),
    w{i} AS (
        SELECT word, replace(s, (SELECT pair FROM t{i}), chr({i})) AS s, c
        FROM {prev}
    )"""
        )
    parts.append(
        f""",
    wmap AS (SELECT word, length(s) AS ntok FROM w{k}),
    doc_toks AS (
        SELECT source,
               unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
        FROM documents WHERE text IS NOT NULL
    )
    SELECT d.source AS source,
           COUNT(*) AS n_words,
           CAST(SUM(length(d.word)) AS BIGINT) AS n_chars,
           CAST(SUM(m.ntok) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(length(d.word)) AS DOUBLE)
                 / greatest(SUM(m.ntok), 1), 6) AS chars_per_token
    FROM doc_toks d JOIN wmap m ON m.word = d.word
    GROUP BY d.source"""
    )
    return "".join(parts)


@register("bpe_encode_corpus", oracle=_bpe_encode_oracle())
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained 8-merge BPE model to the whole corpus — the encode
    half of tokenizer training (``bpe_train_k_merges`` is the fit half):
    per source, word/char/token totals and the chars-per-token compression
    the merge table achieves.  This is the number a tokenizer owner tracks
    per corpus slice (a slice whose compression drops is out-of-domain for
    the vocabulary).

    Engine shape: the k collected winners replay onto the DISTINCT-word
    frame (chained codegen replaces — vocabulary-sized, Heaps-law
    sublinear), producing a word → symbol-count map that broadcast-joins
    back to the token stream; stats are one map-side-combinable aggregate
    per source.  Reuses the memoized training run (same session memo key as
    bpe_train_k_merges), so fit+encode in one session trains once."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = _bpe_vocab(spark, sf_dir)
    merges = _bpe_merges(spark, sf_dir)
    s = F.col("word")
    for i, pair, _ in merges:
        s = F.replace(s, F.lit(pair), F.lit(chr(i)))
    wmap = vocab.select("word", F.length(s).alias("ntok"))
    doc_toks = docs.filter(F.col("text").isNotNull()).select(
        "source", F.explode(tokenize_column("text")).alias("word")
    )
    return (
        doc_toks.join(wmap, "word")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum("ntok").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(F.length("word")).cast("double")
                / F.greatest(F.sum("ntok"), F.lit(1)),
                6,
            ).alias("chars_per_token"),
        )
    )


@register(
    "corpus_curriculum_plan",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '[a-z'']+')) AS n_words,
               list_sum(list_transform(regexp_extract_all(lower(text), '[a-z'']+'),
                                       x -> length(x))) AS word_chars
        FROM documents WHERE text IS NOT NULL
    ),
    scored AS (
        SELECT doc_id, n_words,
               CAST(word_chars AS DOUBLE) / n_words AS difficulty
        FROM base WHERE n_words >= 1
    ),
    phased AS (
        SELECT doc_id, n_words, difficulty,
               CASE WHEN difficulty < 4.0 THEN 1
                    WHEN difficulty < 5.0 THEN 2
                    WHEN difficulty < 6.0 THEN 3
                    ELSE 4 END AS phase
        FROM scored
    )
    SELECT phase,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           ROUND(MIN(difficulty), 6) AS min_difficulty,
           ROUND(MAX(difficulty), 6) AS max_difficulty
    FROM phased GROUP BY phase
    """,
)
def corpus_curriculum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning phase plan: order training data easy→hard by a
    mean-word-length difficulty proxy and report the four phase buckets a
    trainer would schedule (Bengio et al. 2009's curriculum shape, with
    the fixed-threshold banding a 100 TB pipeline actually uses — per-row
    band assignment, NO global sort or ntile; the thresholds are the
    knob, the plan is one scan + a 4-group aggregate).

    The difficulty double divides two exact integers (correctly-rounded
    IEEE division, bit-identical cross-engine), so band edges classify
    identically in both engines."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = tokenize_column("text")
    base = docs.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.aggregate(
            F.transform(toks, lambda x: F.length(x)),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("word_chars"),
    ).filter(F.col("n_words") >= 1)
    scored = base.select(
        "doc_id",
        "n_words",
        (F.col("word_chars").cast("double") / F.col("n_words")).alias("difficulty"),
    )
    phased = scored.withColumn(
        "phase",
        F.when(F.col("difficulty") < 4.0, 1)
        .when(F.col("difficulty") < 5.0, 2)
        .when(F.col("difficulty") < 6.0, 3)
        .otherwise(4),
    )
    return phased.groupBy("phase").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.round(F.min("difficulty"), 6).alias("min_difficulty"),
        F.round(F.max("difficulty"), 6).alias("max_difficulty"),
    )


# --- Sequence packing plan (r9) ----------------------------------------------
#
# The last mile of a pretraining data pipeline: documents are concatenated
# in a deterministic order and chunked into fixed-length context windows
# ("concat-and-chunk" packing).  The plan is fully determined by each
# document's token count and its EXCLUSIVE running total in corpus order —
# a cumulative sum, which at scale must NOT be a global single-partition
# window: the Spark side rides the banded two-level cumulative
# (_banded_cum, the r8 rank-machinery rewrite), bit-identical to the
# oracle's plain window because token counts are integers under one total
# order.  (At extreme scales the band-offset frame recurses with the same
# trick; one level is a 4096x reduction.)
_PACK_CTX = 2048


@register(
    "pack_sequences_plan",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               COALESCE(len(regexp_extract_all(lower(text), '[a-z'']+')), 0) AS nt
        FROM documents
    ),
    c AS (
        SELECT doc_id, nt,
               COALESCE(SUM(nt) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM d
    )
    SELECT COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE nt = 0) AS n_empty_docs,
           CAST(COALESCE(SUM(nt), 0) AS BIGINT) AS total_tokens,
           CAST((COALESCE(SUM(nt), 0) + {_PACK_CTX - 1}) // {_PACK_CTX}
                AS BIGINT) AS n_sequences,
           COUNT(*) FILTER (WHERE nt > 0
               AND cb // {_PACK_CTX} != (cb + nt - 1) // {_PACK_CTX})
               AS n_split_docs,
           ROUND(CAST(COALESCE(SUM(nt), 0) AS DOUBLE) / NULLIF(
               CAST((COALESCE(SUM(nt), 0) + {_PACK_CTX - 1}) // {_PACK_CTX}
                    AS BIGINT) * CAST({_PACK_CTX} AS DOUBLE), 0), 6)
               AS fill_ratio
    FROM c
    """,
)
def pack_sequences_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing accounting (r9): documents in
    ``doc_id`` order are concatenated and cut into 2048-token context
    windows — the report a pretraining dataloader needs before an epoch:
    how many sequences the corpus packs into, the fill ratio of the last
    partial window amortized over all of them, and how many documents
    straddle a window boundary (the rows a boundary-aware loss mask has to
    handle).  A document's window span is a pure function of its token
    count and its EXCLUSIVE prefix total, so the whole plan is one
    tokenize scan + one cumulative sum + one aggregate.

    Scale posture: the cumulative rides ``_banded_cum`` (doc_id bands of
    4096, within-band distributed windows + a band-offset frame 4096x
    smaller) — no global single-partition window; everything else is a
    map-side-combinable aggregate.  The oracle uses the plain SQL window,
    bit-identical on integer counts under the same total order.

    Reference provenance: none — the reference tokenizes for counting only
    (``worker/worker.py:7-37``); packing is extended-brief scope."""
    from .queries_features import _banded_cum

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.coalesce(F.size(tokenize_column("text")), F.lit(0))
        .cast("long")
        .alias("nt"),
    )
    c = _banded_cum(d, "doc_id", ("nt",), 4096.0).select(
        "doc_id", "nt", (F.col("cum_nt") - F.col("nt")).alias("cb")
    )
    ctx = _PACK_CTX
    return c.agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("nt") == 0, 1)).alias("n_empty_docs"),
        F.coalesce(F.sum("nt"), F.lit(0)).cast("bigint").alias("total_tokens"),
        F.expr(f"CAST((COALESCE(SUM(nt), 0) + {ctx - 1}) div {ctx} AS BIGINT)").alias(
            "n_sequences"
        ),
        F.count(
            F.when(
                (F.col("nt") > 0)
                & (F.expr(f"cb div {ctx}") != F.expr(f"(cb + nt - 1) div {ctx}")),
                1,
            )
        ).alias("n_split_docs"),
        F.expr(
            f"ROUND(CAST(COALESCE(SUM(nt), 0) AS DOUBLE) / NULLIF("
            f"CAST((COALESCE(SUM(nt), 0) + {ctx - 1}) div {ctx} AS BIGINT)"
            f" * CAST({ctx} AS DOUBLE), 0), 6)"
        ).alias("fill_ratio"),
    )


@register(
    "dataloader_shard_plan",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               COALESCE(len(regexp_extract_all(lower(text), '[a-z'']+')), 0)
                   AS nt,
               CAST(('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)),
                     1, 8)) AS BIGINT) % 16 AS shard
        FROM documents
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS shard_tokens,
           ROUND(CAST(SUM(nt) AS DOUBLE) * 16.0 / NULLIF(
               (SELECT CAST(SUM(nt) AS DOUBLE) FROM d), 0), 6) AS load_factor
    FROM d GROUP BY shard
    """,
)
def dataloader_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-shard assignment balance (r9): every document is
    hashed to one of 16 dataloader shards by an epoch-salted md5 (so each
    epoch reshuffles deterministically and resumably — the same
    md5-threshold idiom as the masking/sampling plans), and the report
    gives per-shard document counts, token totals, and the load factor
    (shard tokens x n_shards / corpus tokens — 1.0 = perfectly balanced).
    This is the check a distributed training job runs before an epoch: a
    hot shard (load factor >> 1) stalls every sync step at the slowest
    loader, the dataloader equivalent of shuffle skew.

    Scale posture: one tokenize scan + one 16-group aggregate on a uniform
    md5 key; the corpus-total divisor rides a scalar subquery (Spark: a
    broadcast 1-row frame), no collect."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.coalesce(F.size(tokenize_column("text")), F.lit(0))
        .cast("long")
        .alias("nt"),
        (
            F.expr(
                "CAST(conv(substr(md5('epoch0:' || CAST(doc_id AS STRING)),"
                " 1, 8), 16, 10) AS BIGINT)"
            )
            % 16
        ).alias("shard"),
    )
    per = d.groupBy("shard").agg(
        F.count("*").alias("n_docs"), F.sum("nt").alias("shard_tokens")
    )
    total = d.agg(F.sum("nt").cast("double").alias("_tot"))
    return per.crossJoin(F.broadcast(total)).select(
        F.col("shard").cast("bigint").alias("shard"),
        "n_docs",
        F.col("shard_tokens").cast("bigint").alias("shard_tokens"),
        F.round(
            F.col("shard_tokens").cast("double")
            * 16.0
            / F.nullif(F.col("_tot"), F.lit(0.0)),
            6,
        ).alias("load_factor"),
    )


# The manifest's oracle, also the oracle of the streaming packing job
# (queries_streaming.stream_pack_sequences): stream ≡ batch.
PACK_SEQUENCES_MANIFEST_ORACLE = f"""
    WITH d AS (
        SELECT doc_id,
               COALESCE(len(regexp_extract_all(lower(text), '[a-z'']+')), 0)
                   AS nt
        FROM documents
    ),
    c AS (
        SELECT doc_id, nt,
               COALESCE(SUM(nt) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM d WHERE nt > 0
    ),
    expanded AS (
        SELECT c.doc_id, c.nt, c.cb, s.seq_id
        FROM c, unnest(generate_series(
                    CAST(c.cb // {_PACK_CTX} AS BIGINT),
                    CAST((c.cb + c.nt - 1) // {_PACK_CTX} AS BIGINT)))
                 AS s(seq_id)
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE cb >= seq_id * {_PACK_CTX}
               AND cb + nt <= (seq_id + 1) * {_PACK_CTX}) AS n_whole_docs,
           CAST(SUM(LEAST((seq_id + 1) * {_PACK_CTX}, cb + nt)
                    - GREATEST(seq_id * {_PACK_CTX}, cb)) AS BIGINT)
               AS n_tokens
    FROM expanded GROUP BY seq_id
    """


@register("pack_sequences_manifest", oracle=PACK_SEQUENCES_MANIFEST_ORACLE)
def pack_sequences_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-per-sequence packing manifest (r9): the companion to
    ``pack_sequences_plan`` that materializes WHICH context window gets
    what — per 2048-token sequence, how many documents contribute, how
    many sit wholly inside it, and its filled token count (= 2048
    everywhere except the final partial window).  This is the actual
    work order a dataloader executes, and as a driver query it
    hash-checks the ENTIRE doc→window mapping, not just the plan's
    corpus-level arithmetic.

    Shape: tokenize scan → banded cumulative (no global single-partition
    window) → each document explodes into its covered window range (size
    1 + ⌊nt/CTX⌋ — almost always 1-2 rows) → one aggregate shuffled on
    the uniform dense seq_id.  At 100 TB the manifest is
    total_tokens/2048 rows — 6 orders smaller than the corpus —
    partitioned and written alongside the packed dataset."""
    from .queries_features import _banded_cum

    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.coalesce(F.size(tokenize_column("text")), F.lit(0))
        .cast("long")
        .alias("nt"),
    )
    c = (
        _banded_cum(d, "doc_id", ("nt",), 4096.0)
        .select("doc_id", "nt", (F.col("cum_nt") - F.col("nt")).alias("cb"))
        .filter(F.col("nt") > 0)
    )
    ctx = _PACK_CTX
    expanded = c.select(
        "nt",
        "cb",
        F.explode(
            F.sequence(
                F.expr(f"cb div {ctx}"), F.expr(f"(cb + nt - 1) div {ctx}")
            )
        ).alias("seq_id"),
    )
    return expanded.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"),
        F.count(
            F.when(
                (F.col("cb") >= F.col("seq_id") * ctx)
                & (F.col("cb") + F.col("nt") <= (F.col("seq_id") + 1) * ctx),
                1,
            )
        ).alias("n_whole_docs"),
        F.sum(
            F.least((F.col("seq_id") + 1) * ctx, F.col("cb") + F.col("nt"))
            - F.greatest(F.col("seq_id") * ctx, F.col("cb"))
        )
        .cast("bigint")
        .alias("n_tokens"),
    ).select(F.col("seq_id").cast("bigint").alias("seq_id"), "n_docs", "n_whole_docs", "n_tokens")


_PACK_SHARDS = 16
_PACK_MAX_RECORDS_PER_FILE = 4096


def _packed_windows(docs: DataFrame) -> DataFrame:
    """The packed dataset itself (r10): one row per 2048-token context
    window — ``(seq_id, shard_id, segments, n_tokens)`` where ``segments``
    is the window-offset-ordered list of document slices
    ``(win_off, doc_id, tok_start, tok_len)`` that fill it.  This is the
    executable form of ``pack_sequences_manifest``: the manifest counts
    what lands in each window, this frame says exactly WHICH tokens of
    WHICH document land WHERE, which is all a dataloader needs to emit
    the window without re-deriving the global concatenation.

    Same scale posture as the manifest: banded cumulative (no global
    single-partition window), explode into the per-doc window range
    (1 + ⌊nt/CTX⌋ rows), one aggregate shuffled on the dense seq_id.
    ``sort_array`` makes the collect_list order deterministic (win_off is
    unique within a window)."""
    from .queries_features import _banded_cum

    ctx = _PACK_CTX
    d = docs.select(
        "doc_id",
        F.coalesce(F.size(tokenize_column("text")), F.lit(0))
        .cast("long")
        .alias("nt"),
    )
    c = (
        _banded_cum(d, "doc_id", ("nt",), 4096.0)
        .select("doc_id", "nt", (F.col("cum_nt") - F.col("nt")).alias("cb"))
        .filter(F.col("nt") > 0)
    )
    seg = c.select(
        "doc_id",
        "nt",
        "cb",
        F.explode(
            F.sequence(
                F.expr(f"cb div {ctx}"), F.expr(f"(cb + nt - 1) div {ctx}")
            )
        ).alias("seq_id"),
    ).select(
        "doc_id",
        "seq_id",
        F.greatest(F.col("seq_id") * ctx - F.col("cb"), F.lit(0).cast("long")).alias(
            "tok_start"
        ),
        (
            F.least((F.col("seq_id") + 1) * ctx, F.col("cb") + F.col("nt"))
            - F.greatest(F.col("seq_id") * ctx, F.col("cb"))
        ).alias("tok_len"),
        F.greatest(F.col("cb") - F.col("seq_id") * ctx, F.lit(0).cast("long")).alias(
            "win_off"
        ),
    )
    return (
        seg.groupBy("seq_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("win_off").cast("long").alias("win_off"),
                        F.col("doc_id").cast("long").alias("doc_id"),
                        F.col("tok_start").cast("long").alias("tok_start"),
                        F.col("tok_len").cast("long").alias("tok_len"),
                    )
                )
            ).alias("segments"),
            F.sum("tok_len").cast("long").alias("n_tokens"),
        )
        .select(
            F.col("seq_id").cast("long").alias("seq_id"),
            (F.col("seq_id") % _PACK_SHARDS).cast("int").alias("shard_id"),
            "segments",
            "n_tokens",
        )
    )


def write_packed_windows(
    win: DataFrame,
    path: str,
    max_records_per_file: int = _PACK_MAX_RECORDS_PER_FILE,
) -> None:
    """Shard-balanced parquet sink for the packed-window dataset:
    hive-partitioned by ``shard_id`` (the dataloader's unit of work — each
    loader rank opens exactly its own directory), range-repartitioned on
    (shard_id, seq_id) so every task writes contiguous window runs into
    few files, and ``maxRecordsPerFile`` bounding individual file size so
    a 100 TB epoch's windows land in uniformly-sized, seekable parquet
    files instead of one file per shard.  Asserted on the actual emitted
    layout in tests/test_llm_ops.py, the way partitioned_write_pruning
    asserts PartitionFilters."""
    (
        win.repartitionByRange(_PACK_SHARDS, "shard_id", "seq_id")
        .write.option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("shard_id")
        .parquet(path)
    )


@register(
    "pack_sequences_write",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               COALESCE(len(regexp_extract_all(lower(text), '[a-z'']+')), 0)
                   AS nt
        FROM documents
    ),
    c AS (
        SELECT doc_id, nt,
               COALESCE(SUM(nt) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM d WHERE nt > 0
    ),
    seg AS (
        SELECT c.doc_id, s.seq_id,
               GREATEST(s.seq_id * {_PACK_CTX} - c.cb, 0) AS tok_start,
               LEAST((s.seq_id + 1) * {_PACK_CTX}, c.cb + c.nt)
                   - GREATEST(s.seq_id * {_PACK_CTX}, c.cb) AS tok_len,
               GREATEST(c.cb - s.seq_id * {_PACK_CTX}, 0) AS win_off
        FROM c, unnest(generate_series(
                    CAST(c.cb // {_PACK_CTX} AS BIGINT),
                    CAST((c.cb + c.nt - 1) // {_PACK_CTX} AS BIGINT)))
                 AS s(seq_id)
    )
    SELECT CAST(seq_id % {_PACK_SHARDS} AS BIGINT) AS shard_id,
           COUNT(DISTINCT seq_id) AS n_windows,
           COUNT(*) AS n_segments,
           CAST(SUM(tok_len) AS BIGINT) AS n_tokens,
           CAST(SUM(doc_id * 1000003 + win_off * 4099 + tok_start * 31
                    + tok_len) AS BIGINT) AS content_checksum
    FROM seg GROUP BY 1
    """,
)
def pack_sequences_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized packed dataset round-trip (r10, VERDICT r9 next-round
    #3 — the last dataloader-prep step): build the window frame
    (``_packed_windows``), WRITE it as the shard-balanced parquet layout a
    training job consumes (``write_packed_windows``: hive dirs per shard +
    range-partitioned files capped by maxRecordsPerFile), read the emitted
    files back, and report per shard — window/segment counts, token
    totals, and a checksum over EVERY segment field (doc_id, window
    offset, slice start, slice length).  The oracle recomputes the
    identical numbers from ``documents`` directly, so a green row proves
    the full doc→window→file→readback pipeline preserves the packing
    bit-for-bit; the file LAYOUT contract (dirs, file record caps) is
    asserted separately in tests/test_llm_ops.py on a corpus big enough
    to populate every shard.

    Result is eagerly materialized (bounded: ≤ {_PACK_SHARDS} rows) with
    the scratch dir deleted — the r6 hermetic round-trip contract
    (``compaction_roundtrip``)."""
    import shutil

    from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import (
        materialized,
        work_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    win = _packed_windows(docs)
    root = work_dir("packwrite")
    path = f"{root}/packed_windows"
    write_packed_windows(win, path)
    # explicit schema: an all-empty corpus writes no part files, and the
    # sink contract should still round-trip to an empty report
    back = spark.read.schema(win.schema).parquet(path)
    seg = back.select(
        "seq_id", "shard_id", F.explode("segments").alias("s")
    )
    res = materialized(
        seg.groupBy("shard_id")
        .agg(
            F.countDistinct("seq_id").alias("n_windows"),
            F.count("*").alias("n_segments"),
            F.sum("s.tok_len").cast("bigint").alias("n_tokens"),
            F.sum(
                F.col("s.doc_id") * 1000003
                + F.col("s.win_off") * 4099
                + F.col("s.tok_start") * 31
                + F.col("s.tok_len")
            )
            .cast("bigint")
            .alias("content_checksum"),
        )
        .select(
            F.col("shard_id").cast("bigint").alias("shard_id"),
            "n_windows",
            "n_segments",
            "n_tokens",
            "content_checksum",
        )
    )
    shutil.rmtree(root, ignore_errors=True)
    return res


@register(
    "pack_windows_content_readback",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z'']+') AS toks,
               COALESCE(len(regexp_extract_all(lower(text), '[a-z'']+')), 0)
                   AS nt
        FROM documents
    ),
    c AS (
        SELECT doc_id, toks, nt,
               COALESCE(SUM(nt) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM d WHERE nt > 0
    ),
    seg AS (
        SELECT c.doc_id, s.seq_id,
               GREATEST(s.seq_id * {_PACK_CTX} - c.cb, 0) AS tok_start,
               LEAST((s.seq_id + 1) * {_PACK_CTX}, c.cb + c.nt)
                   - GREATEST(s.seq_id * {_PACK_CTX}, c.cb) AS tok_len,
               GREATEST(c.cb - s.seq_id * {_PACK_CTX}, 0) AS win_off,
               c.toks
        FROM c, unnest(generate_series(
                    CAST(c.cb // {_PACK_CTX} AS BIGINT),
                    CAST((c.cb + c.nt - 1) // {_PACK_CTX} AS BIGINT)))
                 AS s(seq_id)
    ),
    pieces AS (
        SELECT seq_id, win_off, tok_len,
               array_to_string(
                   list_slice(toks, tok_start + 1, tok_start + tok_len),
                   ' ') AS piece
        FROM seg
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id,
           CAST(seq_id % {_PACK_SHARDS} AS BIGINT) AS shard_id,
           CAST(SUM(tok_len) AS BIGINT) AS n_tokens,
           md5(string_agg(piece, ' ' ORDER BY win_off)) AS window_md5
    FROM pieces GROUP BY seq_id
    """,
)
def pack_windows_content_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window CONTENT round-trip (r10): write the packed dataset
    (``write_packed_windows``), read the emitted files back, resolve each
    window's segment list against the documents' token streams, and emit
    per window the md5 of its ACTUAL token content (tokens of every slice,
    window order) — the strongest possible proof that the packing is
    executable: the oracle rebuilds every window's token string straight
    from ``documents`` with the same slice arithmetic, so a green row
    means a dataloader consuming the written files emits byte-identical
    2048-token windows to the specification.  Complements
    ``pack_sequences_write`` (layout + segment-metadata checksum) with the
    content axis.

    Shape: the segment resolve is an equi-join on doc_id (windows side
    carries only slice coordinates, so the big token arrays move ONCE),
    ``slice()`` is per-row codegen, and the window assembly re-aggregates
    on the dense seq_id — at 100 TB this is exactly the dataloader's own
    read pattern (shard dir → doc gather → slice → concat), run as one
    verification query.  Output is manifest-sized (one row per window)."""
    import shutil

    from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import (
        materialized,
        work_dir,
    )

    docs = load_table(spark, sf_dir, "documents")
    win = _packed_windows(docs)
    root = work_dir("packread")
    path = f"{root}/packed_windows"
    write_packed_windows(win, path)
    back = spark.read.schema(win.schema).parquet(path)
    seg = back.select(
        "seq_id", "shard_id", F.explode("segments").alias("s")
    ).select(
        "seq_id",
        "shard_id",
        F.col("s.doc_id").alias("doc_id"),
        F.col("s.win_off").alias("win_off"),
        F.col("s.tok_start").alias("tok_start"),
        F.col("s.tok_len").alias("tok_len"),
    )
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", tokenize_column("text").alias("toks")
    )
    pieces = seg.join(toks, "doc_id").select(
        "seq_id",
        "shard_id",
        "win_off",
        "tok_len",
        F.array_join(
            F.slice(
                F.col("toks"),
                (F.col("tok_start") + 1).cast("int"),
                F.col("tok_len").cast("int"),
            ),
            " ",
        ).alias("piece"),
    )
    res = materialized(
        pieces.groupBy("seq_id", "shard_id")
        .agg(
            F.sum("tok_len").cast("bigint").alias("n_tokens"),
            F.md5(
                F.encode(
                    F.array_join(
                        F.transform(
                            F.sort_array(
                                F.collect_list(F.struct("win_off", "piece"))
                            ),
                            lambda x: x["piece"],
                        ),
                        " ",
                    ),
                    "UTF-8",
                )
            ).alias("window_md5"),
        )
        .select(
            F.col("seq_id").cast("bigint").alias("seq_id"),
            F.col("shard_id").cast("bigint").alias("shard_id"),
            "n_tokens",
            "window_md5",
        )
    )
    shutil.rmtree(root, ignore_errors=True)
    return res


@register(
    "batch_padding_plan",
    oracle="""
    WITH d AS (
        SELECT COALESCE(len(regexp_extract_all(lower(text), '[a-z'']+')), 0)
                   AS nt
        FROM documents
    ),
    b AS (
        SELECT nt,
               (CAST(1 AS BIGINT) << length(bin(GREATEST(nt, 16) - 1)))
                   AS bucket_len
        FROM d WHERE nt > 0
    )
    SELECT bucket_len,
           COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS real_tokens,
           CAST(COUNT(*) * bucket_len AS BIGINT) AS padded_tokens,
           ROUND(CAST(SUM(nt) AS DOUBLE)
                 / (COUNT(*) * CAST(bucket_len AS DOUBLE)), 6) AS fill_ratio,
           CAST((COUNT(*) + 31) // 32 AS BIGINT) AS n_batches
    FROM b GROUP BY bucket_len
    """,
)
def batch_padding_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching accounting (r9) — the padding-based
    counterpart to ``pack_sequences_plan`` for workloads that cannot
    concatenate documents (SFT / reward-model training, where examples
    must stay intact): each non-empty document goes to the power-of-two
    length bucket covering its token count (floor 16), and per bucket the
    report gives real vs padded token volume, the fill ratio (padding
    efficiency — the reason dataloaders length-bucket at all), and the
    batch count at batch size 32.  Comparing Σ padded_tokens here against
    ``pack_sequences_plan``'s n_sequences × 2048 is exactly the
    pack-vs-pad compute tradeoff a training team evaluates.

    The bucket rule is PURE INTEGER arithmetic on both sides — bucket_len
    = 1 << bit_length(max(nt,16) - 1), expressed as a shift by the binary
    string length of GREATEST(nt,16)-1 (ADVICE r9: the previous
    CEIL(LOG2(...)) form was NOT engine-portable at exact powers of two ≥
    2^29, because Spark's LOG2 is ln(x)/ln(2) and CEIL(LOG2(2^29)) lands
    30 there while DuckDB's correctly-rounded log2 lands 29).  Both
    engines' ``bin()`` renders integers without leading zeros, so the
    shift amount is bit_length exactly; no float boundary exists at ANY
    nt.  One tokenize scan + one ≤~12-group aggregate; token-linear,
    map-side combinable."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        F.coalesce(F.size(tokenize_column("text")), F.lit(0))
        .cast("long")
        .alias("nt")
    ).filter(F.col("nt") > 0)
    b = d.select(
        "nt",
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), length(bin(GREATEST(nt, 16) - 1)))"
        ).alias("bucket_len"),
    )
    return b.groupBy("bucket_len").agg(
        F.count("*").alias("n_docs"),
        F.sum("nt").cast("bigint").alias("real_tokens"),
        (F.count("*") * F.col("bucket_len")).cast("bigint").alias("padded_tokens"),
        F.round(
            F.sum("nt").cast("double")
            / (F.count("*") * F.col("bucket_len").cast("double")),
            6,
        ).alias("fill_ratio"),
        F.expr("CAST((COUNT(*) + 31) div 32 AS BIGINT)").alias("n_batches"),
    )


@register(
    "pack_attention_mask_plan",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               COALESCE(len(regexp_extract_all(lower(text), '[a-z'']+')), 0)
                   AS nt
        FROM documents
    ),
    c AS (
        SELECT doc_id, nt,
               COALESCE(SUM(nt) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        FROM d WHERE nt > 0
    ),
    seg AS (
        SELECT c.doc_id, s.seq_id, c.cb,
               LEAST((s.seq_id + 1) * {_PACK_CTX}, c.cb + c.nt)
                   - GREATEST(s.seq_id * {_PACK_CTX}, c.cb) AS tok_len
        FROM c, unnest(generate_series(
                    CAST(c.cb // {_PACK_CTX} AS BIGINT),
                    CAST((c.cb + c.nt - 1) // {_PACK_CTX} AS BIGINT)))
                 AS s(seq_id)
    ),
    perwin AS (
        SELECT seq_id,
               COUNT(*) AS m,
               SUM(tok_len) AS wn,
               SUM(tok_len * (tok_len + 1) / 2) AS block_pairs,
               SUM(CASE WHEN cb < seq_id * {_PACK_CTX}
                        THEN tok_len ELSE 0 END) AS cont_toks
        FROM seg GROUP BY seq_id
    )
    SELECT COUNT(*) AS n_windows,
           COUNT(*) FILTER (WHERE m > 1) AS n_multi_doc_windows,
           CAST(SUM(m) - COUNT(*) AS BIGINT) AS n_boundaries,
           CAST(SUM(wn * (wn + 1) / 2) AS BIGINT) AS causal_pairs,
           CAST(SUM(block_pairs) AS BIGINT) AS block_diag_pairs,
           ROUND(1.0 - SUM(block_pairs)
                 / CAST(NULLIF(SUM(wn * (wn + 1) / 2), 0) AS DOUBLE), 6)
               AS cross_doc_attn_frac,
           CAST(SUM(cont_toks) AS BIGINT) AS continuation_tokens
    FROM perwin
    """,
)
def pack_attention_mask_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-boundary attention accounting for the packed dataset (r10):
    with concat-and-chunk packing, a causal-attention window mixes
    documents, and the trainer must choose between full-window attention
    (cheap, leaks cross-document context) and block-diagonal
    document-masked attention (Llama-3-style).  This report prices that
    choice from the manifest alone: per corpus, the window count, windows
    holding >1 document, document boundaries inside windows, the causal
    attention-pair count with and without the document mask (n·(n+1)/2
    per window vs Σ len·(len+1)/2 per segment — both pure integer sums),
    the fraction of attention pairs the mask removes, and the tokens
    belonging to CONTINUATION segments (documents cut by an earlier
    window boundary — the tokens whose context the pack truncated, the
    usual loss-mask candidates).

    Same scan shape as ``pack_sequences_manifest``: one tokenize scan →
    banded cumulative (no global single-partition window) → per-document
    window-range explode (~1 extra row per split doc) → one seq_id
    aggregate → one 1-row corpus aggregate.  Integer arithmetic end to
    end except the final fraction, so the oracle is bit-identical.

    Reference provenance: none — the reference tokenizes for counting
    only (``worker/worker.py:7-37``); extended-brief scope."""
    from .queries_features import _banded_cum

    docs = load_table(spark, sf_dir, "documents")
    ctx = _PACK_CTX
    d = docs.select(
        "doc_id",
        F.coalesce(F.size(tokenize_column("text")), F.lit(0))
        .cast("long")
        .alias("nt"),
    )
    c = (
        _banded_cum(d, "doc_id", ("nt",), 4096.0)
        .select("doc_id", "nt", (F.col("cum_nt") - F.col("nt")).alias("cb"))
        .filter(F.col("nt") > 0)
    )
    seg = c.select(
        "cb",
        "nt",
        F.explode(
            F.sequence(
                F.expr(f"cb div {ctx}"), F.expr(f"(cb + nt - 1) div {ctx}")
            )
        ).alias("seq_id"),
    ).select(
        "cb",
        "seq_id",
        (
            F.least((F.col("seq_id") + 1) * ctx, F.col("cb") + F.col("nt"))
            - F.greatest(F.col("seq_id") * ctx, F.col("cb"))
        ).alias("tok_len"),
    )
    perwin = seg.groupBy("seq_id").agg(
        F.count("*").alias("m"),
        F.sum("tok_len").alias("wn"),
        F.sum(F.expr("tok_len * (tok_len + 1) div 2")).alias("block_pairs"),
        F.sum(
            F.when(F.col("cb") < F.col("seq_id") * ctx, F.col("tok_len")).otherwise(
                F.lit(0)
            )
        ).alias("cont_toks"),
    )
    return perwin.agg(
        F.count("*").alias("n_windows"),
        F.count(F.when(F.col("m") > 1, 1)).alias("n_multi_doc_windows"),
        (F.sum("m") - F.count("*")).cast("bigint").alias("n_boundaries"),
        F.sum(F.expr("wn * (wn + 1) div 2")).cast("bigint").alias("causal_pairs"),
        F.sum("block_pairs").cast("bigint").alias("block_diag_pairs"),
        F.round(
            F.lit(1.0)
            - F.sum("block_pairs")
            / F.nullif(
                F.sum(F.expr("wn * (wn + 1) div 2")).cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("cross_doc_attn_frac"),
        F.sum("cont_toks").cast("bigint").alias("continuation_tokens"),
    )
