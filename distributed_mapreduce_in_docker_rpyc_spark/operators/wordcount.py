"""Flagship pipeline: the reference's one query, Spark-first.

Reference semantics (SURVEY.md §3.1): UTF-8 text → tokenize ``[A-Za-z']+``
(worker/worker.py:7) → lowercase (worker/worker.py:18) → count per word with
map-side pre-aggregation (worker/worker.py:15-18) → hash shuffle
(worker/worker.py:19-22) → per-key sum (worker/worker.py:29-32) → Top-20 by
(count desc, word-length desc) (coordinator/coordinator.py:250-251) → stdout
report + per-partition JSON sink (worker/worker.py:34-36).

Engine contract deltas from the reference (deliberate, SURVEY.md §5):
  - Top-K ordering gains ``word ASC`` as a third key — the reference's
    tie-break is nondeterministic (Python sort stability over dict order).
  - Hash partitioning is Murmur3 (Spark), not MD5 — placement-only difference.

Two implementations with identical results (asserted in tests):
  - DataFrame path (default): whole-stage codegen, partial HashAggregate
    before the exchange, TakeOrderedAndProject for top-k. The 100 TB path.
  - RDD path: the paradigm-faithful map/reduce core on
    ``core.run_mapreduce`` — the reference's architecture in Spark-native form.
    The text column reaches Python as UTF-8 strings (``text_rdd``), and each
    partition is counted into one ``Counter`` before the shuffle, as the
    reference's map task counts its chunk (``count_partition_words``).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable
from operator import add

from pyspark.rdd import RDD
from pyspark.serializers import UTF8Deserializer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_in_docker_rpyc_spark.core.mapreduce import run_mapreduce
from distributed_mapreduce_in_docker_rpyc_spark.functions.text import tokenize_column, tokenize_line
from distributed_mapreduce_in_docker_rpyc_spark.schemas import WORD_COUNT


def tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """OP-5/OP-6: explode text into one lowercase word per row."""
    return df.select(F.explode(tokenize_column(text_col)).alias("word"))


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """OP-7/9/10: global per-word counts.

    ``groupBy.count`` compiles to partial HashAggregate → Exchange → final
    HashAggregate — exactly the reference's combiner/shuffle/reduce trio, but
    vectorized and spill-safe.
    """
    return tokens(df, text_col).groupBy("word").agg(F.count("*").alias("cnt"))


def top_k_words(df: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """OP-13 with the deterministic 3-key contract.

    Compiles to TakeOrderedAndProject: per-partition top-k then driver merge —
    never a global sort, so k=20 costs the same at 100 TB as at 1 GB.
    """
    return word_counts(df, text_col).orderBy(
        F.desc("cnt"), F.desc(F.length("word")), F.asc("word")
    ).limit(k)


def text_rdd(df: DataFrame, text_col: str = "text") -> RDD:
    """The text column as an RDD of ``str`` (``None`` for a null row).

    The column reaches Python as UTF-8 strings, the way
    ``SparkContext.textFile`` builds its RDD, instead of as pickled ``Row``s.
    """
    spark = df.sparkSession
    jdf = df.select(F.col(text_col).cast("string"))._jdf
    jrdd = getattr(jdf, "as")(spark._jvm.org.apache.spark.sql.Encoders.STRING()).javaRDD()
    return RDD(jrdd, spark.sparkContext, UTF8Deserializer())


def count_partition_words(lines: Iterable[str | None]):
    """Map function: one partition of lines → its (word, count) pairs, counted
    into one ``Counter`` (reference worker/worker.py:15-18)."""
    counts = Counter()
    for line in lines:
        counts.update(tokenize_line(line or ""))
    return counts.items()


def _rdd_counts(df: DataFrame, text_col: str, num_partitions: int | None = None) -> RDD:
    return run_mapreduce(text_rdd(df, text_col), count_partition_words, add, num_partitions)


def word_counts_rdd(df: DataFrame, text_col: str = "text", num_partitions: int | None = None) -> DataFrame:
    """The same counts via the generic RDD map/reduce core (reference paradigm)."""
    return df.sparkSession.createDataFrame(_rdd_counts(df, text_col, num_partitions), WORD_COUNT)


def top_k_words_rdd(df: DataFrame, k: int = 20, text_col: str = "text") -> list[tuple[str, int]]:
    """OP-13 on the RDD path: ``takeOrdered`` = per-partition heap + driver
    merge (strictly better than the reference's full driver-side sort,
    coordinator/coordinator.py:251)."""
    return _rdd_counts(df, text_col).takeOrdered(k, key=lambda kv: (-kv[1], -len(kv[0]), kv[0]))


def write_json_sink(df: DataFrame, path: str, num_partitions: int | None = None) -> None:
    """OP-11: per-partition JSON output (reference worker/worker.py:34-36 wrote
    one ``reduce-<part>.json`` per reducer; Spark writes one file per
    partition)."""
    out = df.repartition(num_partitions) if num_partitions else df
    out.write.mode("overwrite").json(path)


def report(df: DataFrame, k: int = 20) -> str:
    """OP-14: rank-numbered report, reference format
    ``"{i:>2}. {word} -> {count}"`` (coordinator/coordinator.py:252-254)."""
    rows = top_k_words_result_rows(df, k)
    return "\n".join(f"{i:>2}. {w} -> {c}" for i, (w, c) in enumerate(rows, 1))


def top_k_words_result_rows(df: DataFrame, k: int = 20) -> list[tuple[str, int]]:
    return [(r["word"], r["cnt"]) for r in top_k_words(df, k).collect()]


def run_flagship(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """documents.text → top-k word counts (the driver's smoke entry)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return top_k_words(docs, k)
