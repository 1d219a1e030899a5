"""Local mirror of the driver's DuckDB differential check (SURVEY.md §5).

Compares a Spark DataFrame against DuckDB running the registered oracle SQL on
the same parquet: row count, column names, and order-insensitive value
comparison (sorted rows, floats rounded).
"""

from __future__ import annotations

import math
import os

import duckdb

TABLE_NAMES = [
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
]


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm_cell(v, float_places: int = 6):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, float_places)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x, float_places) for x in v)
    return v


def _norm_rows(rows, colnames, float_places):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = [tuple(_norm_cell(row[i], float_places) for i in order) for row in rows]
    return sorted(out, key=repr)


def compare(spark_df, sql: str, sf_dir: str, float_places: int = 6) -> None:
    """Raise AssertionError on any mismatch between Spark result and oracle."""
    con = duckdb_conn(sf_dir)
    oracle = con.execute(sql)
    o_cols = [d[0] for d in oracle.description]
    o_rows = oracle.fetchall()

    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]

    assert sorted(s_cols) == sorted(o_cols), f"columns differ: spark={s_cols} oracle={o_cols}"
    assert len(s_rows) == len(o_rows), f"row counts differ: spark={len(s_rows)} oracle={len(o_rows)}"
    sn = _norm_rows(s_rows, s_cols, float_places)
    on = _norm_rows(o_rows, o_cols, float_places)
    for i, (a, b) in enumerate(zip(sn, on)):
        assert a == b, f"row {i} differs:\n  spark : {a}\n  oracle: {b}"


def write_events(sf_dir: str, rows) -> None:
    """Write ``rows`` of ``(event_id, ts, user_id, event_type)`` as a
    one-file ``events.parquet`` under ``sf_dir``, with the fixture's schema
    (microsecond naive ``ts``), for oracle differentials on hand-built data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    event_id, ts, user_id, event_type = (list(c) for c in zip(*rows))
    n = len(rows)
    table = pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user_id, pa.int64()),
            "event_type": pa.array(event_type, pa.string()),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(['{"k": 0}'] * n, pa.string()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "events.parquet"))
