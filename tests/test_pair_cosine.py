"""The pair kernel (``similarity.arrow_cosine`` / ``pair_cosine``) must be
BIT-identical to plain sequential float math and to DuckDB's ``cosine_sql``
before its ROUND: every hash-checked similarity/ANN oracle rests on that, so
a single ULP of drift is a driver red.  All but the last case run without
Spark."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pyarrow as pa
import pytest

from distributed_mapreduce_in_docker_rpyc_spark.operators import similarity as sim


def seq_cosine_py(a, b):
    """Plain Python floats, each sum added left to right from its first
    product, 0.0 unless both norms are > 0 (NaN is not)."""

    def dot(x, y):
        acc = x[0] * y[0]
        for i in range(1, len(x)):
            acc = acc + x[i] * y[i]
        return acc

    na, nb = math.sqrt(dot(a, a)), math.sqrt(dot(b, b))
    return dot(a, b) / (na * nb) if na > 0 and nb > 0 else 0.0


def vectors(dtype, width, n=40, seed=14):
    """``n`` seeded vectors as Python floats holding exact ``dtype`` values."""
    rng = np.random.default_rng(seed)
    return rng.uniform(-1, 1, (n, width)).astype(dtype).astype(np.float64).tolist()


def arrow_list(rows, dtype):
    return pa.array(rows, pa.list_(pa.float32() if dtype == np.float32 else pa.float64()))


CASES = [(dtype, width) for dtype in (np.float32, np.float64) for width in (64, 16)]
IDS = [f"{np.dtype(dtype).name}-{width}" for dtype, width in CASES]


@pytest.mark.parametrize("dtype,width", CASES, ids=IDS)
def test_kernel_equals_sequential_python_float_math(dtype, width):
    a, b = vectors(dtype, width, seed=1), vectors(dtype, width, seed=2)
    got = sim.arrow_cosine(arrow_list(a, dtype), arrow_list(b, dtype))
    assert got.tolist() == [seq_cosine_py(x, y) for x, y in zip(a, b)]


@pytest.mark.parametrize("dtype,width", CASES, ids=IDS)
def test_kernel_equals_duckdb_cosine_sql_unrounded(dtype, width):
    """The oracles' own fragment: ``COSINE_CTES``'s norm and ``cosine_sql``
    with its ROUND peeled off, at the width in play."""
    rows = vectors(dtype, width, n=30)
    emb = pa.table({"vec_id": pa.array(range(len(rows)), pa.int64()),
                    "embedding": arrow_list(rows, dtype)})
    rounded = sim.cosine_sql(dim=width)
    assert rounded.startswith("ROUND(") and rounded.endswith(", 6)")
    con = duckdb.connect()
    con.register("embeddings", emb)
    got_sql = con.execute(
        sim.COSINE_CTES.replace("generate_series(1, 64)", f"generate_series(1, {width})")
        + f"""SELECT q.vec_id, n.vec_id, {rounded[len("ROUND("):-len(", 6)")]}
              FROM norms q JOIN norms n ON q.vec_id < n.vec_id
              ORDER BY q.vec_id, n.vec_id"""
    ).fetchall()
    qi = [r[0] for r in got_sql]
    ni = [r[1] for r in got_sql]
    got = sim.arrow_cosine(
        arrow_list([rows[i] for i in qi], dtype), arrow_list([rows[i] for i in ni], dtype)
    )
    assert got.tolist() == [r[2] for r in got_sql]


def test_zero_null_and_nan_vectors_score_zero():
    a = vectors(np.float64, 16, n=5)
    b = vectors(np.float64, 16, n=5, seed=3)
    a[0] = [0.0] * 16  # zero norm
    a[1][4] = None  # NULL element: the 64-term sum is NULL, so 0.0
    b[2][7] = float("nan")
    a[3] = None  # NULL vector
    got = sim.arrow_cosine(arrow_list(a, np.float64), arrow_list(b, np.float64)).tolist()
    assert got[:4] == [0.0, 0.0, 0.0, 0.0]
    assert got[4] == seq_cosine_py(a[4], b[4]) != 0.0


def test_ragged_widths_raise():
    with pytest.raises(ValueError, match="unequal width"):
        sim.arrow_cosine(
            pa.array([[1.0, 2.0], [1.0, 2.0]]), pa.array([[1.0, 2.0], [1.0, 2.0, 3.0]])
        )
    with pytest.raises(ValueError, match="unequal width"):
        sim.seq_cosine(np.ones((2, 3)), np.ones((2, 4)))


def test_pair_cosine_through_spark_batches_and_partitions(spark):
    """``pair_cosine`` over 3 partitions in 7-row Arrow batches: every raw
    sim equals the sequential math, the vector columns are dropped and the
    passthrough columns keep their values."""
    a, b = vectors(np.float32, 64, n=50, seed=5), vectors(np.float32, 64, n=50, seed=6)
    rows = [(i, 1000 + i, a[i], b[i], f"l{i % 4}") for i in range(50)]
    df = spark.createDataFrame(
        rows, "query_id long, neighbor_id long, _qv array<float>, _nv array<float>, label string"
    ).repartition(3)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        scored = sim.pair_cosine(df)
        assert scored.columns == ["query_id", "neighbor_id", "label", "sim"]
        got = {r["query_id"]: r for r in scored.collect()}
    finally:
        spark.conf.set(key, old)
    assert sorted(got) == list(range(50))
    for i in range(50):
        assert got[i]["neighbor_id"] == 1000 + i and got[i]["label"] == f"l{i % 4}"
        assert got[i]["sim"] == seq_cosine_py(a[i], b[i])
