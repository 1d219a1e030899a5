"""Similarity search over embedding columns (SURVEY.md §7 M4).

Every ANN query is filter-and-refine: a strategy makes candidate pairs,
and one shared refine step scores, ranks and grades them.  Strategies over
``array<float>``:

  1. **Brute-force path** (`topk_bruteforce`): broadcast the query set;
     every pair is a candidate, scored by the pair kernel.  Exact;
     O(Q × N).  The default when Q is small (the common "probe set vs
     corpus" shape).
  2. **LSH-bucketed path** (`lsh_bucket_tables_np`, `lsh_candidates`,
     `topk_lsh`): random-hyperplane signs → bucket key; candidates are the
     vectors sharing a bucket with the query.  The 100 TB path: bucketing is
     one scan of per-batch BLAS, the join is an equi-join on the bucket key
     (shuffle both sides by bucket, no cross product).  Hyperplanes are
     md5-derived (deterministic, engine-portable, seed-free).
  3. **Broadcast-matrix path** (`topk_numpy`): mapInPandas against a
     broadcast query matrix, scoring each Arrow batch of corpus vectors
     against every query at once (a batch × Q block) and reducing to
     per-batch top-k before the shuffle.
  4. **IVF path** (`ivf_index`, `ivf_pairs`, `topk_ivf`): md5-seeded Lloyd
     coarse cells; each query probes its ``n_probe`` nearest cells, so the
     probed fraction of the corpus is ``n_probe / n_centroids`` at any scale.
  5. **Record-linkage joins** (`nn_join_lsh`, `nn_join_ivf`): the LSH and IVF
     candidates between two disjoint slices — an incoming batch against an
     index corpus — top-k per left row.

The refine step is shared: `vector_side` gives each side of a pair its
vector, `top_k` scores every pair with the pair kernel `pair_cosine`,
rounds the cosine to 6 places in the JVM and keeps rank ≤ k under the one
tie rule (sim desc, neighbor_id asc), and `rerank` first joins a candidate
frame to both sides.  Recall is graded by `recall_at_k` / `recall_report`
(recall@10) and `recall_at_1` (k=1 joins).

Every pairwise cosine in the package is `seq_cosine`: float64 products
added left to right over the dimensions, vectorized over rows — the IEEE
operations, in the order, of the DuckDB oracles' SUM over
generate_series — so no result rests on a BLAS or pairwise summation order.
`pair_cosine` applies it per Arrow batch (mapInArrow) and `topk_numpy` to
its batch × Q block.

The DuckDB oracles replay the same steps from SQL fragments kept here:
`COSINE_CTES` (per-vector norms), `cosine_sql` (the pairwise cosine),
`top_k_sql` (the ranking), `sign_lsh_bucket_ctes` and `lsh_cand_cte` (the
sign-LSH filter), and `recall_at_k_sql` / `recall_report_sql` /
`recall_at_1_sql` (the grades).

Strategies 1 and 3 return the same neighbors with the same similarities
(``test_numpy_path_equals_expression_path``); the recall of 2 and 4 against
1 is asserted (``test_lsh_topk_recall_vs_bruteforce``,
``test_ivf_topk_recall_vs_bruteforce``); the kernel itself is checked bit
for bit against sequential Python float math and DuckDB's ``cosine_sql``
(``tests/test_pair_cosine.py``).  Every strategy backs registered queries
that are oracle-checked end-to-end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

DIM = 64
# Multi-table LSH defaults: L tables × k planes. One table of k bits has
# per-neighbor hit probability (1 - θ/π)^k — too lossy alone; L independent
# tables lift recall to 1 - (1 - p^k)^L while each table's bucket join still
# prunes the pair space. 6×3 gives ~0.8 recall at cos≈0.4.
N_TABLES = 6
PLANES_PER_TABLE = 3

# Target bucket occupancy for the auto-sized LSH join (r9): the docstring
# rule "grow k with log₂(|R|/B)" encoded as code.
BUCKET_TARGET = 16


def auto_planes_per_table(n_index: int, target_bucket: int = BUCKET_TARGET) -> int:
    """Auto-size the planes-per-table knob from index cardinality (VERDICT
    r8 next-round #8): the smallest k with 2^k ≥ ⌈n/B⌉, clamped to ≥ 1 —
    expected bucket occupancy then stays ≈ B regardless of corpus size, so
    per-query candidate volume is flat across decades (measured in
    SCALING.md).  Pure INTEGER arithmetic (ceil-div + bit_length) rather
    than float log2, so the DuckDB oracle can replay the identical k with
    no correctly-rounded-log boundary risk."""
    if n_index <= 0:
        return 1
    target = -(-n_index // target_bucket)
    return max(1, (target - 1).bit_length())


def non_null_vectors(emb, vec_col: str):
    """SQL-aggregate semantics for the vector domain: a row whose vector
    cell is NULL has no direction and is outside every similarity /
    quantization operator — exactly as SUM ignores NULL cells.  On clean
    data the filter is a pushed scan predicate (no-op); on NULL-bearing
    data it keeps NULLs from poisoning JVM array expressions (NPE-shaped
    Py4J errors) and NumPy batch matrices (inhomogeneous-shape ValueError)
    — both observed in the r4 fleet NULL-injection sweep."""
    return emb.filter(F.col(vec_col).isNotNull())


def hyperplane(j: int, dim: int = DIM) -> list[float]:
    """Deterministic ±1 hyperplane j: sign d = parity of the first hex digit
    of md5(f"p{j}:{d}") — reproducible in any engine with md5 (no RNG/seed
    state; identical construction in the SQL oracle)."""
    return [
        1.0 if int(hashlib.md5(f"p{j}:{d}".encode()).hexdigest()[0], 16) % 2 == 0 else -1.0
        for d in range(dim)
    ]


def sign_bits(dots):
    """'1'/'0' sign-LSH bits of an array of plane dots, ``round(dot, 6) >= 0``.

    The dot is quantized before its sign (the same 6 places as the probe
    margins), so a bit never rests on the summation order: a true zero
    computes as -4.4e-16 or 0.0 depending on how many rows share the BLAS
    call.
    Every |dot| < 5e-7, an exact tie included, is bit 1; the SQL oracles
    apply the same rule through ``sign_lsh_bucket_ctes``."""
    import numpy as np

    return np.where(np.round(dots, 6) >= 0, "1", "0")


# DuckDB ``WITH norms(vec_id, embedding, nrm)``: the head of every embedding
# oracle, with the same explicit double arithmetic as the Spark cosine.
COSINE_CTES = """
    WITH norms AS (
        SELECT vec_id, embedding,
               sqrt((SELECT SUM(CAST(embedding[g.i] AS DOUBLE) * CAST(embedding[g.i] AS DOUBLE))
                     FROM generate_series(1, 64) g(i))) AS nrm
        FROM embeddings
    )
"""


def sign_lsh_bucket_ctes(n_planes: int | str, planes_per_table: int | str) -> str:
    """DuckDB ``planes``, ``dots`` and ``buckets`` CTEs that replay the home
    buckets of ``lsh_bucket_tables_np`` bit-for-bit over a
    ``norms(vec_id, embedding)`` CTE — the SQL side of ``hyperplane`` and
    ``sign_bits``, shared by every sign-LSH oracle.

    Returned as a ``,``-led fragment to append after the caller's ``WITH``;
    the caller adds its own candidate/probe CTEs on ``buckets`` (and on
    ``dots`` for margin-directed probes).  Both arguments are SQL
    expressions: an int, or a scalar subquery such as
    ``(SELECT k FROM params)`` for the auto-sized width.  DuckDB's
    generate_series takes only constant bounds, so the plane family is a
    fixed superset (j < 240: 6 tables of up to 40 planes) filtered to
    the ``n_planes`` in play.  No SQL comments: registration collapses
    whitespace, so ``--`` would comment out the rest."""
    return f""",
    planes AS (
        SELECT j.j AS j, d.d AS d,
               CASE WHEN (strpos('0123456789abcdef',
                                 substr(md5('p' || j.j || ':' || d.d), 1, 1)) - 1) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS s
        FROM generate_series(0, 239) j(j), generate_series(0, {DIM - 1}) d(d)
        WHERE j.j < {n_planes}
    ),
    dots AS (
        SELECT n.vec_id, p.j,
               SUM(CAST(n.embedding[p.d + 1] AS DOUBLE) * p.s) AS dot
        FROM norms n, planes p
        GROUP BY n.vec_id, p.j
    ),
    buckets AS (
        SELECT vec_id, j // {planes_per_table} AS tbl,
               string_agg(CASE WHEN ROUND(dot, 6) >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS bucket
        FROM dots GROUP BY vec_id, j // {planes_per_table}
    )"""


# The 6×3 sign-LSH buckets (18 md5 planes in 6 tables of 3) of the top-k and
# ANN-join oracles.
LSH_BUCKET_CTES = sign_lsh_bucket_ctes(N_TABLES * PLANES_PER_TABLE, PLANES_PER_TABLE)


def lsh_cand_cte(where: str, probes: str = "buckets") -> str:
    """DuckDB ``cand(query_id, neighbor_id)`` CTE, the SQL side of
    ``lsh_candidates``: distinct pairs whose query-side row ``qb`` (from
    ``probes``: the home buckets or a probe family) shares a (tbl, bucket)
    cell with an index-side row ``nb`` of ``buckets``, filtered by the
    slice predicate ``where``.  A ``,``-led fragment, like
    ``sign_lsh_bucket_ctes``."""
    return f""",
    cand AS (
        SELECT DISTINCT qb.vec_id AS query_id, nb.vec_id AS neighbor_id
        FROM {probes} qb
        JOIN buckets nb ON nb.tbl = qb.tbl AND nb.bucket = qb.bucket
        WHERE {where}
    )
"""


def cosine_sql(
    q: str = "q", n: str = "n", vec: str = "embedding", nrm: str = "nrm", dim: int = DIM
) -> str:
    """The pairwise cosine of rows ``q`` and ``n`` of a norms-shaped relation,
    rounded to 6 places: the SQL side of ``top_k``'s score, with the same
    double products and left-to-right sums as ``seq_cosine``."""
    return (
        f"ROUND((SELECT SUM(CAST({q}.{vec}[g.i] AS DOUBLE) * CAST({n}.{vec}[g.i] AS DOUBLE))"
        f" FROM generate_series(1, {dim}) g(i)) / ({q}.{nrm} * {n}.{nrm}), 6)"
    )


# Candidate pairs joined to both sides' norms, for ``top_k_sql``.
CAND_PAIRS = "cand c JOIN norms q ON q.vec_id = c.query_id JOIN norms n ON n.vec_id = c.neighbor_id"


def top_k_sql(
    pairs: str,
    k: int,
    cols: str = "query_id, neighbor_id, sim, rank",
    cos: str = cosine_sql(),
) -> str:
    """The SQL side of ``top_k``: a bare SELECT of ``cols`` ranking the
    ``q``/``n`` row pairs of the FROM body ``pairs`` by the cosine ``cos``,
    ROW_NUMBER() OVER (PARTITION BY query ORDER BY sim DESC, neighbor ASC)
    ≤ ``k``."""
    return f"""
    SELECT {cols} FROM (
        SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id, {cos} AS sim,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY {cos} DESC, n.vec_id ASC) AS rank
        FROM {pairs}
    ) WHERE rank <= {k}
"""


# Top-1 over the candidate pairs: the two-table ANN joins' SELECT.
ANN_JOIN_SELECT = top_k_sql(CAND_PAIRS, 1, "query_id, neighbor_id, sim")


def recall_at_k_sql(approx: str, k: int) -> str:
    """FROM item ``(recall)``, the SQL side of ``recall_at_k``: per-query
    recall@k of CTE ``approx`` against the exact top-k in CTE ``brute``
    over every brute query, a zero-hit query kept as 0."""
    return f"""(
        SELECT COALESCE(h, 0) / {k}.0 AS recall
        FROM (SELECT DISTINCT query_id FROM brute) qs
        LEFT JOIN (
            SELECT b.query_id, COUNT(*) AS h
            FROM brute b
            JOIN {approx} a ON a.query_id = b.query_id
                           AND a.neighbor_id = b.neighbor_id
            GROUP BY b.query_id
        ) hits USING (query_id)
    ) r"""


def recall_report_sql(method: str, approx: str, k: int) -> str:
    """The SQL side of ``recall_report``: one (method, mean_recall_at_10,
    n_queries) row."""
    return f"""
        SELECT '{method}' AS method,
               ROUND(AVG(recall), 4) AS mean_recall_at_10,
               CAST(COUNT(*) AS BIGINT) AS n_queries
        FROM {recall_at_k_sql(approx, k)}
    """


def recall_at_1_sql(*lead: str) -> str:
    """The SQL side of ``recall_at_1``: a SELECT of (``*lead`` column
    expressions, n_queries, n_linked, n_correct, recall_at_1) of CTE ``lsh``
    against the exact nearest neighbors in CTE ``brute``."""
    correct = """(SELECT COUNT(*) FROM brute b
             JOIN lsh l ON l.query_id = b.query_id
                       AND l.neighbor_id = b.neighbor_id)"""
    return f"""
    SELECT {"".join(f"{c}, " for c in lead)}(SELECT COUNT(*) FROM brute) AS n_queries,
           (SELECT COUNT(*) FROM lsh) AS n_linked,
           {correct} AS n_correct,
           ROUND({correct}
                 / CAST(NULLIF((SELECT COUNT(*) FROM brute), 0) AS DOUBLE), 6)
               AS recall_at_1
    """


def _seq_sum(xs, ys):
    """Σ xs[i] · ys[i] over the leading (dimension) axis, broadcast over the
    rest and added strictly left to right from the first product: the
    order of the oracles' ``SUM`` over ``generate_series``, which neither
    BLAS nor NumPy's pairwise ``sum`` keeps."""
    import numpy as np

    acc = xs[0] * ys[0]
    term = np.empty_like(acc)
    for i in range(1, len(xs)):
        np.multiply(xs[i], ys[i], out=term)
        acc += term
    return acc


def seq_cosine(x, y):
    """Cosine over the last axis of ``x`` and ``y`` (broadcast over the
    leading ones) in float64: ``dot / (‖x‖·‖y‖)``, every sum sequential
    (``_seq_sum``) and each norm the square root of its self-dot, and 0.0
    where either norm is not > 0 (a zero vector, or a NaN from a NULL
    element).  Raises on unequal widths."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if x.shape[-1] != y.shape[-1]:
        raise ValueError(f"vectors of unequal width: {x.shape[-1]} and {y.shape[-1]}")
    # dimension-major copies, so each step reads two contiguous rows
    xs = np.ascontiguousarray(np.moveaxis(x, -1, 0))
    ys = np.ascontiguousarray(np.moveaxis(y, -1, 0))
    dot = _seq_sum(xs, ys)
    nx, ny = np.sqrt(_seq_sum(xs, xs)), np.sqrt(_seq_sum(ys, ys))
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where((nx > 0) & (ny > 0), dot / (nx * ny), 0.0)


def arrow_cosine(u, v):
    """``seq_cosine`` per row of two Arrow list columns; 0.0 where either
    vector is NULL.  Rows are scored in groups of one width, so a batch may
    mix widths, but a row's two vectors must agree."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def widths(col):
        return pc.list_value_length(col).fill_null(0).to_numpy(zero_copy_only=False)

    def matrix(col, d):  # a NULL element reads as NaN
        flat = col.flatten().to_numpy(zero_copy_only=False)
        return flat.astype(np.float64).reshape(-1, d)

    ok = pc.and_(u.is_valid(), v.is_valid()).to_numpy(zero_copy_only=False)
    du, dv = widths(u), widths(v)
    if (du[ok] != dv[ok]).any():
        raise ValueError("cosine of vectors of unequal width")
    sim = np.zeros(len(u))
    for d in np.unique(du[ok & (du > 0)]):
        rows = ok & (du == d)
        if rows.all():
            sim = seq_cosine(matrix(u, d), matrix(v, d))
        else:
            keep = pa.array(rows)
            sim[rows] = seq_cosine(matrix(u.filter(keep), d), matrix(v.filter(keep), d))
    return sim


def pair_cosine(pairs: DataFrame, u: str = "_qv", v: str = "_nv", out: str = "sim") -> DataFrame:
    """The pair kernel: ``pairs`` with its vector columns ``u`` and ``v``
    replaced by their raw ``seq_cosine`` in column ``out``; every other
    column passes through.  One mapInArrow pass, no codegen: the cosine is
    the same IEEE value the oracles' ``cosine_sql`` computes, and rounding
    stays with the caller, in the JVM (SQL ROUND is half-up, NumPy's is
    half-even)."""
    keep = [f for f in pairs.schema.fields if f.name not in (u, v)]
    names = [f.name for f in keep]

    def per_batch(it):
        import pyarrow as pa

        for batch in it:
            sim = arrow_cosine(batch.column(u), batch.column(v))
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in names] + [pa.array(sim, pa.float64())],
                names=[*names, out],
            )

    return pairs.mapInArrow(per_batch, StructType([*keep, StructField(out, DoubleType())]))


def cosine_pairs(emb: DataFrame, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """All pairs with cosine ≥ threshold (brute force, id_a < id_b).

    TEST-ONLY ground truth: the non-equi join plans a
    BroadcastNestedLoopJoin — O(N²) pairs, the textbook scale-killer — so no
    registered query may use it (enforced by the fleet plan guard in
    tests/test_scale_posture.py). Registered semantic-pair queries go through
    ``semantic_pairs_lsh``; tests assert its recall against this."""
    emb = non_null_vectors(emb, vec_col)
    a = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("_va"))
    b = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("_vb"))
    return (
        pair_cosine(a.join(b, F.col("vec_a") < F.col("vec_b")), "_va", "_vb")
        .withColumn("sim", F.round("sim", 6))
        .filter(F.col("sim") >= threshold)
    )


# Semantic-dedup LSH defaults. At the fixture's deliberately loose
# threshold (0.4 — so the small test corpus yields pairs at all) sign-LSH
# can't prune much: p(plane agrees) = 1 - θ/π is only 0.63 at cos 0.4 vs
# 0.5 for random pairs, so ANY parameterization that recalls the 0.4-pairs
# also admits most random pairs.  16×3 is chosen for recall=1.0 on the
# sf0.001/sf0.01 fixtures (measured, deterministic — md5 planes; 0.99 at
# sf0.1).  At production near-dup
# thresholds (cos ≥ 0.85, p ≥ 0.86) the same machinery prunes hard:
# per-table hit p³ ≈ 0.63, random-pair admission 0.5³ = 0.125/table, and
# the candidate set collapses to the true near-dup clusters.
DEDUP_N_TABLES = 16
DEDUP_PLANES_PER_TABLE = 3


def semantic_pairs_lsh(
    emb: DataFrame,
    threshold: float,
    n_tables: int = DEDUP_N_TABLES,
    planes_per_table: int = DEDUP_PLANES_PER_TABLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-dup pairs (cosine ≥ threshold, id_a < id_b) via multi-table
    sign-LSH candidates + exact-cosine rerank — the scale-safe formulation
    of ``cosine_pairs``.

    Shape at 100 TB: bucketing is one scan of per-batch BLAS; the
    candidate self-join is an EQUI-join on (table, bucket) — shuffle both
    sides by bucket key, AQE-splittable, never a nested-loop broadcast; the
    rerank cost is ∝ |candidates|, which at real near-dup thresholds is the
    size of the duplicate clusters, not N².  Approximate with measured
    recall (tests assert 1.0 on the fixture; see parameter note above).

    Bucketing is ``lsh_bucket_tables_np`` and the rerank is ``pair_cosine``;
    the ``sim_cosine_pairs`` / ``dedup_embedding_cosine`` oracles replay
    both in SQL, the cosine with the same left-to-right sums.

    The bucket frame is not persisted: the caller memoizes the pair frame
    (``queries_similarity.semantic_pairs``), so a persisted bucket frame
    under it would stay pinned for the session, unused once the pair frame
    is cached.  When the self-join shuffles, both sides plan the same
    exchange and Spark reuses it, so the bucketing runs once; when it
    broadcasts (the fixtures, sf0.1 included) each side buckets the
    vectors, once per session."""
    bucketed = lsh_bucket_tables_np(
        emb, n_tables, planes_per_table, id_col=id_col, vec_col=vec_col
    )
    a = bucketed.select(
        F.col(id_col).alias("vec_a"), F.col("tbl").alias("_ta"), F.col("bucket").alias("_ba")
    )
    b = bucketed.select(
        F.col(id_col).alias("vec_b"), F.col("tbl").alias("_tb"), F.col("bucket").alias("_bb")
    )
    cand = (
        a.join(
            b,
            (F.col("_ta") == F.col("_tb"))
            & (F.col("_ba") == F.col("_bb"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .select("vec_a", "vec_b")
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("_va"))
    vb = emb.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("_vb"))
    with_vecs = cand.join(va, "vec_a").join(vb, "vec_b")
    return (
        pair_cosine(with_vecs, "_va", "_vb")
        .withColumn("sim", F.round("sim", 6))
        .filter(F.col("sim") >= threshold)
    )


def vector_side(
    df: DataFrame, side: str, *keep: Column | str, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """One side of the pairs the refine step scores: ``side`` "q" gives
    (query_id, _qv, *keep) and "n" gives (neighbor_id, _nv, *keep)."""
    return df.select(
        F.col(id_col).alias("query_id" if side == "q" else "neighbor_id"),
        F.col(vec_col).alias(f"_{side}v"),
        *keep,
    )


def top_k(pairs: DataFrame, k: int, scored: bool = False) -> DataFrame:
    """The refine step's ranking, shared by every ANN path: score each
    (query_id, neighbor_id) pair of ``vector_side`` columns with
    ``pair_cosine`` (or take the raw ``sim`` of a ``scored`` frame), round
    it to 6 places so the order is engine-stable, and keep rank ≤ ``k`` per
    query under the one tie rule (sim desc, neighbor_id asc).  Returns
    (query_id, neighbor_id, sim, rank); ``top_k_sql`` is the oracle side."""
    if not scored:
        pairs = pair_cosine(pairs.select("query_id", "neighbor_id", "_qv", "_nv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("sim", F.round("sim", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def rerank(
    cand: DataFrame,
    queries: DataFrame,
    neighbors: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine top-k of the candidate pairs ``cand`` (query_id,
    neighbor_id): join the query vectors (broadcast) and the neighbor
    vectors onto the pairs, then ``top_k``."""
    return top_k(
        cand.join(F.broadcast(vector_side(queries, "q", id_col=id_col, vec_col=vec_col)), "query_id")
        .join(vector_side(neighbors, "n", id_col=id_col, vec_col=vec_col), "neighbor_id"),
        k,
    )


def recall_at_k(truth: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of ``approx`` against ``truth`` (both top-k
    frames with query_id, neighbor_id), as one ``recall`` column over every
    truth query.  Hits are counted per query and LEFT-joined onto the full
    query set with a coalesce-to-0: a query with ZERO recovered neighbors
    drags the mean down instead of vanishing from it."""
    t = truth.select("query_id", F.col("neighbor_id").alias("true_neighbor"))
    a = approx.select("query_id", "neighbor_id")
    hits = (
        t.join(a, (t.query_id == a.query_id) & (t.true_neighbor == a.neighbor_id), "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        t.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .select((F.coalesce("n_hits", F.lit(0)) / k).alias("recall"))
    )


def recall_report(truth: DataFrame, approx: DataFrame, k: int, method: str) -> DataFrame:
    """One (method, mean_recall_at_10, n_queries) row of ``recall_at_k``."""
    return recall_at_k(truth, approx, k).agg(
        F.lit(method).alias("method"),
        F.round(F.avg("recall"), 4).alias("mean_recall_at_10"),
        F.count("*").alias("n_queries"),
    )


def recall_at_1(exact: DataFrame, linked: DataFrame, *lead: Column) -> DataFrame:
    """One (*lead, n_queries, n_linked, n_correct, recall_at_1) row for a
    k=1 ANN join ``linked`` (query_id, neighbor_id) against the exact
    nearest neighbors ``exact`` (query_id, exact_id).  Every exact query
    counts, linked or not; an empty query slice gives a NULL recall, not an
    ANSI-mode divide-by-zero (caught by the fleet empty-input sweep)."""
    joined = exact.join(
        linked.select("query_id", F.col("neighbor_id").alias("lsh_id")), "query_id", "left"
    )
    correct = F.count(F.when(F.col("lsh_id") == F.col("exact_id"), 1))
    return joined.agg(
        *lead,
        F.count("*").alias("n_queries"),
        F.count("lsh_id").alias("n_linked"),
        correct.alias("n_correct"),
        F.round(correct / F.nullif(F.count("*").cast("double"), F.lit(0.0)), 6).alias(
            "recall_at_1"
        ),
    )


def topk_bruteforce(
    emb: DataFrame,
    query_ids_below: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (vec_id below the
    given bound), excluding self: every pair with the broadcast query side
    is a candidate for ``top_k``.  The vectors may be of any one width."""
    emb = non_null_vectors(emb, vec_col)
    queries = emb.filter(F.col(id_col) < query_ids_below)
    pairs = vector_side(emb, "n", id_col=id_col, vec_col=vec_col).join(
        F.broadcast(vector_side(queries, "q", id_col=id_col, vec_col=vec_col)),
        F.col("query_id") != F.col("neighbor_id"),
    )
    return top_k(pairs, k)


def lsh_bucket_tables_np(
    emb: DataFrame,
    n_tables: int = N_TABLES,
    planes_per_table: int = PLANES_PER_TABLE,
    n_probes: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table, bucket) rows for multi-table sign-LSH via mapInPandas +
    one NumPy matmul per Arrow batch — the package's one bucketing kernel.

    Table t uses planes t·k … t·k+k-1 from the md5 family of ``hyperplane``.
    A (batch × dim) @ (dim × P) BLAS matmul is one Arrow round-trip of
    (id, vec) and no codegen at all, so there is no janino 64 KB method
    limit to hit at 48 planes, and the shape stays viable at real embedding
    widths (768-4096 dims).  Per-batch memory is O(batch × P) — constant in
    corpus size, so the 100 TB posture is one scan, no shuffle, L·(1+T)
    small rows out per vector.

    ``n_probes=T > 0`` adds QUERY-DIRECTED multiprobe (Lv et al., VLDB 2007,
    §4): per (vector, table), besides the home bucket, the ``T`` single-bit
    flips (clamped to k) whose plane margin |dot| is SMALLEST — the planes
    the vector sits closest to, i.e. the flips a true neighbor is most
    likely to land behind.  Against blind Hamming-1 (all k flips) this fixes
    the probe budget at T per table regardless of k, so the candidate bound
    is Θ(L·T·B) per query — CONSTANT in corpus size under auto-k's
    occupancy-B rule.  ``n_probes=0`` emits the home buckets only and skips
    the margin sort.

    Determinism contract: each bit is ``sign_bits``, ``round(dot, 6) >= 0``,
    so a vector's buckets do not depend on which rows share its Arrow batch
    (the matmul's summation order does), and an exact tie is bit 1.  Probe
    margins take the same 6-place quantization before a stable argsort, so
    ties break on plane index and ``sign_lsh_bucket_ctes`` plus ROW_NUMBER()
    OVER (ORDER BY ROUND(ABS(dot), 6), j) replays the probe CHOICE in SQL."""
    import numpy as np

    emb = non_null_vectors(emb, vec_col)
    k = planes_per_table
    t_probes = min(n_probes, k)
    signs = np.array([hyperplane(p) for p in range(n_tables * k)], dtype=np.float64)  # (P, dim)
    tbl_idx = np.repeat(np.arange(n_tables, dtype=np.int32), 1 + t_probes)

    def joined(bits):  # (B, L, k) of '1'/'0' -> (B, L) bucket strings
        out = bits[..., 0]
        for j in range(1, k):
            out = np.char.add(out, bits[..., j])
        return out

    def per_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            dots = (np.array(list(pdf[vec_col]), dtype=np.float64) @ signs.T).reshape(
                len(ids), n_tables, k
            )
            bits = sign_bits(dots)
            variants = [joined(bits)]
            if t_probes:
                flipped = np.where(bits == "1", "0", "1")
                # stable argsort on the quantized margins == (round6, j)
                order = np.argsort(np.round(np.abs(dots), 6), axis=2, kind="stable")
                for r in range(t_probes):
                    flip = np.arange(k) == order[..., r : r + 1]
                    variants.append(joined(np.where(flip, flipped, bits)))
            yield pd.DataFrame(
                {
                    id_col: np.repeat(ids, len(tbl_idx)),
                    "tbl": np.tile(tbl_idx, len(ids)),
                    "bucket": np.stack(variants, axis=2).ravel(),
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        per_batch, schema=f"{id_col} long, tbl int, bucket string"
    )


def lsh_candidates(
    qside: DataFrame,
    nside: DataFrame,
    pair_pred: Column | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """The sign-LSH filter step: distinct (query_id, neighbor_id) pairs whose
    query-side row (``qside``: home buckets or a probe family, broadcast)
    shares a (tbl, bucket) cell with an index-side row of ``nside``, with
    ``pair_pred`` an optional extra join term on the two ids.  An equi-join
    on (tbl, bucket) — never a cross product — and distinct, so each pair's
    cosine is computed once.  ``lsh_cand_cte`` is the oracle side."""
    q = qside.select(
        F.col(id_col).alias("query_id"), F.col("tbl").alias("_qt"), F.col("bucket").alias("_qb")
    )
    n = nside.select(
        F.col(id_col).alias("neighbor_id"), F.col("tbl").alias("_nt"), F.col("bucket").alias("_nb")
    )
    on = (F.col("_qt") == F.col("_nt")) & (F.col("_qb") == F.col("_nb"))
    if pair_pred is not None:
        on = on & pair_pred
    return n.join(F.broadcast(q), on).select("query_id", "neighbor_id").distinct()


def topk_lsh(
    emb: DataFrame,
    query_ids_below: int,
    k: int,
    n_tables: int = N_TABLES,
    planes_per_table: int = PLANES_PER_TABLE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing a bucket with the query
    in ANY of the L hash tables, exact-cosine reranked.

    The equi-join on (table, bucket) replaces the cross product; distinct
    candidate pairs before rerank so each pair's cosine is computed once.
    Recall vs brute force is asserted in tests.

    ``buckets``: a prebuilt (persisted) ``lsh_bucket_tables_np`` frame —
    the bucketing is query-set independent, so consumers probing the same
    corpus with different query sets (the registered top-k query, the
    recall report) should build it once and pass it in.  Without it the
    bucket frame is built here and evaluated once per join side: its rows
    are a pure function of each vector (``sign_bits``), so both evaluations
    agree, and nothing is left persisted."""
    bucketed = (
        buckets
        if buckets is not None
        else lsh_bucket_tables_np(emb, n_tables, planes_per_table, id_col=id_col, vec_col=vec_col)
    )
    cand = lsh_candidates(
        bucketed.filter(F.col(id_col) < query_ids_below),
        bucketed,
        F.col("query_id") != F.col("neighbor_id"),
        id_col=id_col,
    )
    return rerank(cand, emb, emb, k, id_col, vec_col)


def topk_numpy(
    emb: DataFrame,
    query_ids_below: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Vectorized brute-force top-k via mapInPandas against a broadcast
    query matrix.

    The query matrix is collected once and shipped as a Spark BROADCAST
    VARIABLE — torrent-distributed once per executor, not serialized into
    every task closure, so a large query set costs O(executors), not
    O(tasks); each Arrow batch of corpus vectors scores a (batch × Q) block
    with ``seq_cosine`` (the brute-force oracle's left-to-right sums, so the
    similarities equal ``topk_bruteforce``'s), emits per-batch top-k, and a
    final per-query window reduces partial top-ks to global ones — the same
    partial/final split the reference used for counting (SURVEY.md
    OP-7/OP-10)."""
    import numpy as np

    emb = non_null_vectors(emb, vec_col)
    qrows = emb.filter(F.col(id_col) < query_ids_below).select(id_col, vec_col).collect()
    q_broadcast = emb.sparkSession.sparkContext.broadcast(
        (
            np.array([r[0] for r in qrows], dtype=np.int64),
            np.array([r[1] for r in qrows], dtype=np.float64),
        )
    )

    def per_batch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, q_mat = q_broadcast.value
        if q_mat.size == 0:  # empty query set -> empty result, not AxisError
            return
        for pdf in it:
            if pdf.empty:
                continue
            n_ids = pdf[id_col].to_numpy()
            n_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            sims = seq_cosine(n_mat[:, None, :], q_mat[None, :, :])
            out = []
            for qi, qid in enumerate(q_ids):
                col = sims[:, qi]
                mask = n_ids != qid
                ids, vals = n_ids[mask], col[mask]
                if len(ids) > k:
                    part = np.argpartition(-vals, k)[:k]
                    ids, vals = ids[part], vals[part]
                out.append(
                    pd.DataFrame({"query_id": qid, "neighbor_id": ids, "sim": vals})
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    partial = emb.select(id_col, vec_col).mapInPandas(
        per_batch, schema="query_id long, neighbor_id long, sim double"
    )
    # Raw sims cross the Arrow boundary; rounding happens JVM-side so the
    # half-up semantics match SQL ROUND (numpy rounds half-even — the exact
    # divergence the udf_scalar_pandas_net_price docstring warns about).
    return top_k(partial, k, scored=True)


def ivf_index(
    emb: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iters: int = 2,
):
    """Deterministic IVF coarse quantizer: md5-seeded picks + a FIXED number
    of Lloyd rounds, every intermediate rounded to 6 places.

    Returns ``(assigned, centroids)`` where ``assigned`` is the inverted
    index (each vector tagged with its nearest final centroid's cluster id)
    and ``centroids`` is a tiny ``(cluster, centroid)`` table.

    Replaces the earlier Spark-ML KMeans trainer so the whole index is
    SQL-replayable (VERDICT r3 #7): seeds are the ``n_centroids`` vectors
    with the smallest ``md5(vec_id)`` (a deterministic pseudo-random pick any
    engine reproduces), each Lloyd round assigns by squared-L2 ROUNDED to 6
    places (ties broken by cluster id) and re-averages per dimension ROUNDED
    to 6 places, and empty clusters keep their previous centroid.  With every
    comparison made on 6-place-rounded values, DuckDB replays the identical
    index — ``sim_topk_ivf`` / ``sim_ann_recall_report`` are hash-checked.

    Per round the centroid table (n_centroids × dim doubles — the same
    driver-bounded footprint KMeans' ``clusterCenters()`` had) is collected
    and re-broadcast so the lineage stays flat; assignment passes are
    distributed full scans.  Scale posture: centroids are always
    broadcastable; the inverted index is the corpus tagged by cluster, so a
    probe touches only ``n_probe / n_centroids`` of the data.  At 100 TB run
    the Lloyd rounds on a sample — only the final assignment needs the full
    corpus; the md5-seed trick still pins determinism per sample.
    """
    spark = emb.sparkSession
    v = non_null_vectors(emb, vec_col).select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))

    def assign(cent: DataFrame) -> DataFrame:
        # 16-row broadcast cross join; d2 rounded to 6 so the argmin decision
        # is identical in any engine regardless of float-summation order.
        w = Window.partitionBy(id_col).orderBy(F.asc("_d2"), F.asc("cluster"))
        return (
            v.join(F.broadcast(cent))
            .withColumn(
                "_d2",
                F.round(
                    F.aggregate(
                        F.zip_with("_v", "centroid", lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                    6,
                ),
            )
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") == 1)
            .select(id_col, "_v", "cluster")
        )

    def materialized(cent: DataFrame) -> DataFrame:
        # n_centroids × dim doubles through the driver — bounded, constant in
        # corpus size (the exact footprint KMeans clusterCenters() had).
        rows = [(r["cluster"], r["centroid"]) for r in cent.collect()]
        return spark.createDataFrame(rows, "cluster int, centroid array<double>")

    seeds = (
        v.withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(n_centroids)
    )
    w16 = Window.orderBy("_h", id_col)
    cent = materialized(
        seeds.withColumn("cluster", F.row_number().over(w16) - 1).select(
            "cluster", F.transform("_v", lambda x: F.round(x, 6)).alias("centroid")
        )
    )
    for _ in range(n_iters):
        a = assign(cent)
        per_dim = (
            a.select("cluster", F.posexplode("_v").alias("d0", "x"))
            .groupBy("cluster", "d0")
            .agg(F.round(F.avg("x"), 6).alias("c"))
        )
        updated = per_dim.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d0", "c"))), lambda s: s["c"]
            ).alias("newc")
        )
        cent = materialized(
            cent.join(updated, "cluster", "left").select(
                "cluster", F.coalesce("newc", "centroid").alias("centroid")
            )
        )
    assigned = assign(cent).select(id_col, F.col("_v").alias(vec_col), "cluster")
    return assigned, cent


def ivf_pairs(
    queries: DataFrame,
    neighbors: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF filter step: each query (``queries``, broadcast) ranks its
    squared-L2 distance to every centroid, rounded to 6 places so the probe
    choice is engine-portable (the oracle replays it; float summation order
    must not flip the ranking), keeps its ``n_probe`` nearest cells (ties on
    cluster id), and meets the ``neighbors`` (an ``ivf_index`` assignment)
    assigned there.  Returns both ``vector_side`` frames joined, for
    ``top_k``."""
    wq = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("cluster"))
    probes = (
        vector_side(queries, "q", id_col=id_col, vec_col=vec_col)
        .join(F.broadcast(centroids))
        .withColumn(
            "d2",
            F.round(
                F.aggregate(
                    F.zip_with(F.col("_qv").cast("array<double>"), "centroid", lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ),
        )
        .withColumn("prank", F.row_number().over(wq))
        .filter(F.col("prank") <= n_probe)
        .select("query_id", "_qv", "cluster")
    )
    return vector_side(neighbors, "n", "cluster", id_col=id_col, vec_col=vec_col).join(
        F.broadcast(probes), "cluster"
    )


def topk_ivf(
    emb: DataFrame,
    query_ids_below: int,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: assign corpus to the deterministic coarse
    cells of :func:`ivf_index`, probe each query's ``n_probe`` nearest cells,
    exact-cosine rerank inside them.

    The candidate join is an equi-join on ``cluster`` (query-probes ×
    inverted lists) — no cross product, and the probed fraction of the corpus
    is ``n_probe / n_centroids`` regardless of scale.  Every ranking input
    (probe d2, rerank cosine) is rounded to 6 places, so a SQL oracle replays
    the identical result; recall vs brute force is additionally asserted in
    tests.

    ``index``: a prebuilt ``ivf_index`` (assigned, centroids) pair — index
    construction is query-set independent; probe-time consumers share one."""
    assigned, centroids = index if index is not None else ivf_index(emb, n_centroids, id_col, vec_col)
    pairs = ivf_pairs(
        assigned.filter(F.col(id_col) < query_ids_below), assigned, centroids, n_probe, id_col, vec_col
    )
    return top_k(pairs.filter(F.col("query_id") != F.col("neighbor_id")), k)


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: ``scale = max|x| / 127``,
    ``q_i = floor(x_i/scale + 0.5)`` — 4× smaller than float32 at rest,
    which at 100 TB of embeddings is the difference between one scan fitting
    in page cache or not.  ``floor(x + 0.5)`` (not ``round``) is the rounding
    contract: it is identical across Spark, DuckDB, and NumPy, so the oracle
    can replicate the quantizer bit-for-bit (banker's-vs-half-up rounding
    would diverge on exact .5 ties).

    Per-row expression math — no shuffle, no UDF; dequantization is
    ``q_i * scale`` (see ``sim_quantized_recall`` for the measured recall
    cost of the lost precision)."""
    emb = non_null_vectors(emb, vec_col)
    vec = F.col(vec_col)
    absmax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = F.greatest(absmax, F.lit(1e-30)) / F.lit(127.0)
    return emb.select(
        F.col(id_col),
        F.round(scale, 9).alias("scale"),
        F.transform(vec, lambda x: F.floor(x.cast("double") / scale + F.lit(0.5)).cast("int")).alias("qvec"),
    )


def dequantized(
    quant: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """(id, embedding: array<double>) reconstructed from an int8 frame —
    the read path of a quantized vector store."""
    return quant.select(
        F.col(id_col),
        F.transform("qvec", lambda q: q.cast("double") * F.col("scale")).alias("embedding"),
    )


def hamming1_probes(
    buckets: DataFrame, planes_per_table: int, id_col: str = "vec_id"
) -> DataFrame:
    """Expand each (id, tbl, bucket) row into ``1 + planes_per_table`` probe
    rows: the bucket itself plus every single-bit flip of its k-bit sign
    string — Hamming-1 multiprobe (Lv et al., VLDB 2007: the neighbors an
    LSH bucket misses land overwhelmingly in buckets differing by ONE
    plane's sign, because a near-duplicate pair flips each plane
    independently with small probability 1-θ/π).

    Probing the flip family recovers most of the recall a larger k costs
    WITHOUT lowering k (bigger k = smaller buckets = fewer candidates);
    the candidate bound grows only by the factor (1+k) — still
    Θ(L·k·B) per query under auto-k's occupancy-B sizing, i.e.
    O(log(corpus)) instead of the linear growth a recall-equivalent
    fixed-k join admits.  Pure per-row string expressions (codegen, no
    shuffle, no UDF); the downstream (tbl, bucket) equi-join is unchanged."""
    flips = [F.col("bucket")]
    for i in range(planes_per_table):
        flips.append(
            F.concat(
                F.substring("bucket", 1, i),
                F.when(F.substring("bucket", i + 1, 1) == "1", F.lit("0")).otherwise(
                    F.lit("1")
                ),
                F.substring("bucket", i + 2, planes_per_table),
            )
        )
    return buckets.select(
        id_col, "tbl", F.explode(F.array(*flips)).alias("bucket")
    )


def nn_join_lsh(
    emb: DataFrame,
    left_pred,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    buckets: DataFrame | None = None,
    probe_hamming1: int | None = None,
    query_probes: DataFrame | None = None,
) -> DataFrame:
    """Two-table ANN join (embedding record linkage, VERDICT r7 "missing"
    #1): for every row of the LEFT slice (``left_pred`` true), its top-k
    cosine neighbors in the RIGHT slice (``left_pred`` false) — "join the
    incoming batch to its nearest neighbor in the index corpus".  Unlike
    ``topk_lsh`` this is a genuine A↔B join: the two sides are disjoint
    tables and a left row never matches another left row.

    Candidates = (tbl, bucket) sign-LSH equi-join between the two slices,
    exact-cosine rerank, ROW_NUMBER ≤ k per left row.  Left rows whose
    buckets contain no right row drop out (inner-join linkage semantics —
    the oracle replays the identical candidate set, so approximation never
    shows as a mismatch).

    100 TB posture: the bucket frame is one scan + per-batch BLAS (see
    ``lsh_bucket_tables_np``); the candidate join is an equi-join on
    (tbl, bucket); the incoming batch is broadcast (record linkage joins a
    small-to-moderate delta against a huge index — when the left side is
    also huge, drop the broadcast hint and let AQE pick the shuffle join;
    semantics are unchanged).  No cross product anywhere — but candidate
    volume is Θ(|L|·|R|·T/2^k) for T tables of k planes, so **k is the
    scale knob and must grow ~log₂(|R|/B)** to hold per-query candidates
    at a target bucket size B.  Measured frontier on the near-uniform
    fixture embeddings (the adversarial case for any ANN — no cluster
    structure to exploit): 6×3 → recall@1 0.80/0.87 (sf0.01/sf1) at
    10.5k candidates/query (sf1); 6×8 → 520 cands/query but recall 0.23
    at sf0.01; 6×8 + Hamming-1 multiprobe → 0.63/0.72 at ~4k/query.
    The registered fixture parameterization keeps the default 6×3 for
    recall; clustered production embeddings tolerate far higher k.

    ``probe_hamming1``: when set (to the bucket bit-width), the QUERY side
    probes its own bucket plus each Hamming-1 flip per table (see
    :func:`hamming1_probes`) — the multiprobe companion to auto-k sizing
    that holds recall AND candidate volume across decades instead of
    trading one for the other (SCALING.md round 10).

    ``query_probes``: a prebuilt (id, tbl, bucket) PROBE frame for the
    query side (e.g. :func:`lsh_bucket_tables_np`'s margin-directed
    ``n_probes`` family) — replaces the query slice of ``buckets`` entirely; the index
    side still joins from the unexpanded bucket frame."""
    in_left = left_pred(F.col(id_col))
    bucketed = buckets if buckets is not None else lsh_bucket_tables_np(emb, id_col=id_col, vec_col=vec_col)
    if query_probes is not None:
        qside = query_probes
    else:
        qside = bucketed.filter(in_left)
        if probe_hamming1 is not None:
            qside = hamming1_probes(qside, probe_hamming1, id_col=id_col)
    cand = lsh_candidates(qside, bucketed.filter(~in_left), id_col=id_col)
    emb = non_null_vectors(emb, vec_col)
    return rerank(cand, emb.filter(in_left), emb.filter(~in_left), k, id_col, vec_col).select(
        "query_id", "neighbor_id", "sim"
    )


def nn_join_ivf(
    emb: DataFrame,
    left_pred,
    k: int = 1,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF variant of :func:`nn_join_lsh` — the LINEAR-candidates scale path
    for embedding record linkage: every incoming-batch vector probes its
    ``n_probe`` nearest coarse cells and reranks only the index vectors
    assigned there, so the probed fraction is ``n_probe / n_centroids`` of
    the corpus REGARDLESS of scale, and the scale knob (centroid count,
    sized ~√N like every production IVF codebook) lives in the INDEX, not
    the query.  Complements the sign-LSH join, whose candidate volume at a
    fixed plane count is Θ(N²/2^k) (see the measured frontier in
    ``nn_join_lsh``'s docstring / SCALING.md round 8).

    Same determinism contract as ``topk_ivf``: md5-seeded Lloyd index, every
    ranking input rounded to 6 places, so the SQL oracle replays index
    build, probe choice, and rerank bit-for-bit."""
    assigned, centroids = index if index is not None else ivf_index(emb, n_centroids, id_col, vec_col)
    in_left = left_pred(F.col(id_col))
    pairs = ivf_pairs(
        assigned.filter(in_left), assigned.filter(~in_left), centroids, n_probe, id_col, vec_col
    )
    return top_k(pairs, k).select("query_id", "neighbor_id", "sim")
