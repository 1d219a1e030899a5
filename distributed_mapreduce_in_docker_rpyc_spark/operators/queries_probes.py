"""Driver hash-typing canaries (r9, VERDICT r8 next-round #2).

The r8 type audit attributed every residual driver red to one mechanism:
DuckDB's pandas conversion renders HUGEINT and DECIMAL(38,0) as float64
while Spark's matching column arrives int64 / Decimal, and the driver's
value-hash is dtype-sensitive.  These two 1-row canaries read that hash
behavior DIRECTLY, with zero fixture dependence (constant VALUES): each
deliberately emits the SAME value in the divergent dtype pair.  They are
the ONLY two queries allowed to violate the output-type lint, and
``tests/test_output_typing.py`` pins that they keep violating it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register


@register(
    "probe_hash_typing_hugeint",
    oracle="""
    SELECT SUM(x) AS s, COUNT(*) AS n
    FROM (VALUES (1), (2), (3)) t(x)
    """,
)
def probe_hash_typing_hugeint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typing canary: oracle emits SUM over a 3-row VALUES — HUGEINT in
    DuckDB (pandas-rendered float64 6.0); Spark emits the identical value
    6 as int64.  A red row here is a direct measurement that the driver's
    value-hash distinguishes int64 from float64 on equal values; it is NOT
    an engine-correctness defect (see module comment)."""
    return spark.range(1, 4).agg(
        F.sum("id").alias("s"), F.count("*").alias("n")
    )


@register(
    "probe_hash_typing_decimal38",
    oracle="""
    SELECT CAST(6 AS DECIMAL(38,0)) AS s, CAST(3 AS BIGINT) AS n
    """,
)
def probe_hash_typing_decimal38(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typing canary: oracle emits the constant 6 as DECIMAL(38,0) (DuckDB
    pandas-renders it float64); Spark emits the same constant as
    decimal(38,0) (pandas object Decimal).  Red = the driver hash is
    dtype-sensitive on the Decimal/float64 pair — the exact signature of
    the r6-r8 sextet.  Not an engine-correctness defect."""
    return spark.range(1).selectExpr(
        "CAST(6 AS DECIMAL(38,0)) AS s", "CAST(3 AS BIGINT) AS n"
    )
