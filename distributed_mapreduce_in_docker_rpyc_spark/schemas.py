"""The engine's table names and its word-count result schema.

The reference's schema system is fixed-and-implicit — ``str`` keys and ``int``
counts hardcoded in the map/reduce bodies (reference worker/worker.py:21,31).
Here the word-count result carries an explicit schema.  The fixture tables
(FIXTURES.md) are read with Parquet's embedded schema: ``load_table`` passes
none, so Spark infers it from the file footers.
"""

from __future__ import annotations

from pyspark.sql import types as T

# D9 in SURVEY.md §1.1 — the engine-core working schema (word count result).
WORD_COUNT = T.StructType(
    [
        T.StructField("word", T.StringType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)

# The ten fixture tables ``sources.tables.load_table`` knows.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
