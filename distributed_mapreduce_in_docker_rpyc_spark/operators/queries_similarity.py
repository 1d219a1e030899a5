"""Registered similarity-search queries with DuckDB oracles.

Extended scope: the reference has no vector/similarity operators
(SURVEY.md §2.2); this family is the SURVEY.md §7 M4 extension.

The oracle computes cosine with explicit double arithmetic
(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), summed left to right) so it performs
the same IEEE ops as the Spark pair kernel (``similarity.seq_cosine``);
results are rounded to 6 places on both sides before compare/order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_in_docker_rpyc_spark.operators import similarity as sim
from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import shared, shared_df
from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_dedup import _DEDUP_BUCKET_CTES
from distributed_mapreduce_in_docker_rpyc_spark.registry import register
from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table


def semantic_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.4) -> DataFrame:
    """Session-shared sign-LSH near-dup pair set over the embeddings table —
    `sim_cosine_pairs` IS this frame and `dedup_embedding_cosine` is this
    frame joined to documents, so the 48-plane bucketing + rerank runs once
    per session, not once per consumer."""
    return shared_df(
        spark,
        ("semantic_pairs", sf_dir, threshold),
        lambda: sim.semantic_pairs_lsh(load_table(spark, sf_dir, "embeddings"), threshold),
    )


def _topk_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared 6×3 sign-LSH bucket frame (query-set independent)."""
    return shared_df(
        spark,
        ("topk_buckets", sf_dir, sim.N_TABLES, sim.PLANES_PER_TABLE),
        lambda: sim.lsh_bucket_tables_np(load_table(spark, sf_dir, "embeddings")),
    )


def _auto_k(spark: SparkSession, sf_dir: str) -> int:
    """Session-shared auto-sized planes-per-table for the %17 ANN-join
    fixture split (r10, guide §1/§2: the six auto-k family queries each
    re-counted the index slice at plan-build time — one bounded count per
    session is enough; the value is a pure function of the corpus)."""

    def build() -> int:
        emb = sim.non_null_vectors(load_table(spark, sf_dir, "embeddings"), "embedding")
        return sim.auto_planes_per_table(emb.filter(F.col("vec_id") % 17 != 3).count())

    return shared(spark, ("ann_auto_k", sf_dir), build)


def _auto_k_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared PERSISTED auto-k bucket frame (r10).  Before this,
    every auto-k family query rebuilt the frame, and an unpersisted frame
    passed into ``nn_join_lsh`` is scanned once per join side — 2 Arrow
    matmul passes per query × 6 queries for identical buckets."""
    k = _auto_k(spark, sf_dir)
    return shared_df(
        spark,
        ("auto_k_buckets", sf_dir, sim.N_TABLES, k),
        lambda: sim.lsh_bucket_tables_np(
            load_table(spark, sf_dir, "embeddings"),
            n_tables=sim.N_TABLES,
            planes_per_table=k,
        ),
    )


def _directed_probes(spark: SparkSession, sf_dir: str, n_probes: int = 2) -> DataFrame:
    """Session-shared persisted query-directed probe frame (r10): identical
    input to both the directed-probe join and its recall report."""
    k = _auto_k(spark, sf_dir)
    return shared_df(
        spark,
        ("directed_probes", sf_dir, sim.N_TABLES, k, n_probes),
        lambda: sim.lsh_bucket_tables_np(
            sim.non_null_vectors(
                load_table(spark, sf_dir, "embeddings"), "embedding"
            ).filter(F.col("vec_id") % 17 == 3),
            n_tables=sim.N_TABLES,
            planes_per_table=k,
            n_probes=n_probes,
        ),
    )


def _ann_exact_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared persisted exact cross-slice nearest neighbor
    ``(query_id, exact_id)`` — the brute side all four ANN-join recall
    reports compare against (identical construction in each; r10 computes
    it once per session).  The allowlisted tiny-broadcast BNLJ pattern."""

    def build() -> DataFrame:
        emb = sim.non_null_vectors(load_table(spark, sf_dir, "embeddings"), "embedding")
        pairs = F.broadcast(sim.vector_side(emb.filter(F.col("vec_id") % 17 == 3), "q")).crossJoin(
            sim.vector_side(emb.filter(F.col("vec_id") % 17 != 3), "n")
        )
        return sim.top_k(pairs, 1).select("query_id", F.col("neighbor_id").alias("exact_id"))

    return shared_df(spark, ("ann_exact_nn", sf_dir), build)


def _ivf(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Session-shared deterministic IVF index (md5-seeded Lloyd assignment +
    centroids — SQL-replayable, see ``similarity.ivf_index``)."""

    def build() -> tuple[DataFrame, DataFrame]:
        from pyspark.storagelevel import StorageLevel

        assigned, centroids = sim.ivf_index(load_table(spark, sf_dir, "embeddings"))
        # MEMORY_AND_DISK (r11, ADVICE r10): session-lived memoized frame.
        return assigned.persist(StorageLevel.MEMORY_AND_DISK), centroids

    return shared(spark, ("ivf_index", sf_dir), build)

@register(
    "sim_cosine_pairs",
    oracle=sim.COSINE_CTES
    + _DEDUP_BUCKET_CTES
    + f"""
    SELECT c.vec_a, c.vec_b, {sim.cosine_sql("a", "b")} AS sim
    FROM cand c
    JOIN norms a ON a.vec_id = c.vec_a
    JOIN norms b ON b.vec_id = c.vec_b
    WHERE {sim.cosine_sql("a", "b")} >= 0.4
    """,
)
def sim_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.4) via sign-LSH bucketed
    candidates + exact rerank — the scale-safe pair query.  The brute-force
    all-pairs formulation is test-only ground truth (similarity.cosine_pairs);
    tests assert this query's recall against it is 1.0 on the fixture."""
    return semantic_pairs(spark, sf_dir, 0.4)


# Exact top-10 cosine neighbors for queries vec_id < nq, as a bare SELECT so
# it can serve standalone (sim_topk_bruteforce / sim_topk_vectorized) or as a
# CTE body (the recall oracles).
def _brute_topk_select(nq: int, k: int = 10) -> str:
    return sim.top_k_sql(f"norms q JOIN norms n ON q.vec_id < {nq} AND n.vec_id != q.vec_id", k)


_BRUTE_TOPK_SELECT = _brute_topk_select(5)

_TOPK_BRUTE_ORACLE = sim.COSINE_CTES + _BRUTE_TOPK_SELECT


@register("sim_topk_bruteforce", oracle=_TOPK_BRUTE_ORACLE)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: top-10 cosine neighbors for query vectors
    vec_id < 5 (broadcast queries + ranking window)."""
    return sim.topk_bruteforce(load_table(spark, sf_dir, "embeddings"), query_ids_below=5, k=10)


# Sign-LSH candidate CTEs and the candidate-reranking top-10 SELECT —
# shared by sim_topk_lsh, sim_lsh_recall, and sim_ann_recall_report (nq=50).
def _lsh_cand_ctes(nq: int) -> str:
    return sim.LSH_BUCKET_CTES + sim.lsh_cand_cte(f"qb.vec_id < {nq} AND nb.vec_id != qb.vec_id")


_LSH_CAND_CTES = _lsh_cand_ctes(5)

_LSH_TOPK_SELECT = sim.top_k_sql(sim.CAND_PAIRS, 10)


@register("sim_topk_lsh", oracle=sim.COSINE_CTES + _LSH_CAND_CTES + _LSH_TOPK_SELECT)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: multi-table sign-LSH (6 tables × 3 md5-derived
    hyperplanes) pruning candidates, exact-cosine rerank — the 100 TB path."""
    return sim.topk_lsh(
        load_table(spark, sf_dir, "embeddings"),
        query_ids_below=5,
        k=10,
        buckets=_topk_buckets(spark, sf_dir),
    )


@register(
    "sim_lsh_recall",
    oracle=sim.COSINE_CTES
    + _LSH_CAND_CTES
    + f""",
    lsh AS ({_LSH_TOPK_SELECT}),
    brute AS ({_BRUTE_TOPK_SELECT})
    SELECT ROUND(AVG(recall), 6) AS recall_at_10 FROM {sim.recall_at_k_sql("lsh", 10)}
    """,
)
def sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the sign-LSH ANN path against the exact brute-force
    baseline, HASH-CHECKED end-to-end: both neighbor sets are deterministic
    and SQL-expressible, so their intersection is too — the oracle recomputes
    LSH buckets, both top-10 sets, and the averaged overlap from scratch.
    Zero-hit queries count as recall 0, not dropped (ADVICE r2)."""
    emb = load_table(spark, sf_dir, "embeddings")
    brute = sim.topk_bruteforce(emb, query_ids_below=5, k=10)
    lsh = sim.topk_lsh(emb, query_ids_below=5, k=10, buckets=_topk_buckets(spark, sf_dir))
    return sim.recall_at_k(brute, lsh, 10).agg(F.round(F.avg("recall"), 6).alias("recall_at_10"))


# Deterministic-IVF replay CTEs: md5-seeded picks, two unrolled Lloyd rounds
# (assignment by 6-place-rounded squared-L2, per-dim averages rounded to 6,
# empty cells keep their previous centroid), probe the n_probe nearest cells
# per query, exact-cosine rerank.  Mirrors ``similarity.ivf_index`` +
# ``similarity.topk_ivf`` step for step; every ranking input is rounded, so
# the SQL engine reproduces the identical index and neighbor sets.
def _ivf_assign_subquery(cent: str, where: str = "", n: int = 1) -> str:
    """Each embedding's ``n`` nearest cells of centroid table ``cent``."""
    return f"""
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cluster ASC) AS rnk
            FROM (
                SELECT e.vec_id, c.cluster,
                       ROUND(SUM((CAST(e.embedding[c.d] AS DOUBLE) - c.c)
                               * (CAST(e.embedding[c.d] AS DOUBLE) - c.c)), 6) AS d2
                FROM embeddings e CROSS JOIN {cent} c
                {where}
                GROUP BY e.vec_id, c.cluster
            )
        ) WHERE rnk <= {n}
    """


def _ivf_update_cte(name: str, prev: str, assign: str) -> str:
    return f"""
    {name} AS (
        SELECT p.cluster, p.d, COALESCE(u.c, p.c) AS c
        FROM {prev} p LEFT JOIN (
            SELECT a.cluster, g.i AS d,
                   ROUND(AVG(CAST(e.embedding[g.i] AS DOUBLE)), 6) AS c
            FROM {assign} a JOIN embeddings e USING (vec_id),
                 generate_series(1, 64) g(i)
            GROUP BY a.cluster, g.i
        ) u ON u.cluster = p.cluster AND u.d = p.d
    )"""


def _ivf_ctes(
    queries: str, pairs: str = "a.vec_id != p.query_id", k: int = 10, n_probe: int = 4, n_centroids: int = 16
) -> str:
    """IVF index, probe and ``ivf`` top-k CTEs: embeddings ``e`` matching
    ``queries`` probe their ``n_probe`` nearest cells and rank the index
    vectors ``a`` there that match ``pairs`` (the slice predicate against
    the probing query ``p``)."""
    probed = (
        f"ivfprobes p JOIN ivfafin a ON a.cluster = p.cluster AND {pairs}"
        " JOIN norms q ON q.vec_id = p.query_id JOIN norms n ON n.vec_id = a.vec_id"
    )
    return f""",
    ivfseeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cluster, embedding
        FROM (
            SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, embedding
            FROM embeddings
            ORDER BY h, vec_id
            LIMIT {n_centroids}
        )
    ),
    ivfc0 AS (
        SELECT cluster, g.i AS d, ROUND(CAST(embedding[g.i] AS DOUBLE), 6) AS c
        FROM ivfseeds, generate_series(1, 64) g(i)
    ),
    ivfa1 AS ({_ivf_assign_subquery("ivfc0")}),
    {_ivf_update_cte("ivfc1", "ivfc0", "ivfa1")},
    ivfa2 AS ({_ivf_assign_subquery("ivfc1")}),
    {_ivf_update_cte("ivfc2", "ivfc1", "ivfa2")},
    ivfafin AS ({_ivf_assign_subquery("ivfc2")}),
    ivfprobes AS (
        SELECT vec_id AS query_id, cluster
        FROM ({_ivf_assign_subquery("ivfc2", f"WHERE {queries}", n_probe)})
    ),
    ivf AS ({sim.top_k_sql(probed, k)})
"""


@register(
    "sim_topk_ivf",
    oracle=sim.COSINE_CTES
    + _ivf_ctes("e.vec_id < 5")
    + "SELECT query_id, neighbor_id, sim, rank FROM ivf",
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: 16 deterministic coarse cells (md5-seeded Lloyd), probe the
    4 nearest per query, exact-cosine rerank.

    HASH-CHECKED end-to-end (upgraded from rows-only, VERDICT r3 #7): the
    index is no longer Spark-ML KMeans state — ``similarity.ivf_index``'s
    md5-seeded picks and fixed 6-place-rounded Lloyd rounds are replayed by
    the oracle from scratch, so the driver verifies the whole index build,
    probe selection, and rerank.  Recall vs brute force additionally
    asserted in tests."""
    return sim.topk_ivf(
        load_table(spark, sf_dir, "embeddings"),
        query_ids_below=5,
        k=10,
        index=_ivf(spark, sf_dir),
    )


@register("sim_topk_vectorized", oracle=_TOPK_BRUTE_ORACLE)
def sim_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NumPy/Arrow mapInPandas brute-force top-k (throughput path).

    Hash-checked against the SAME oracle as ``sim_topk_bruteforce`` (VERDICT
    r2 #8): the BLAS path emits raw similarities and the final rounding is
    JVM-side ``F.round`` (half-up, matching SQL ROUND — not numpy's
    half-even), so both paths produce the identical relation."""
    return sim.topk_numpy(load_table(spark, sf_dir, "embeddings"), query_ids_below=5, k=10)


def _label_centroids_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding (centroid) per class label, as an array<double> column.

    Relational shape (explode dims → avg per (label, dim) → reassemble ordered
    array): two shuffles on uniform keys, array order pinned by the dim index,
    values rounded to 6 on both engines so the float sum order is immaterial.
    Internal array form — consumed by ``emb_outliers_by_label``; the registered
    ``label_centroids`` query emits a driver-sortable scalar encoding."""
    emb = load_table(spark, sf_dir, "embeddings")
    per_dim = (
        emb.select("label", F.posexplode("embedding").alias("d0", "x"))
        .groupBy("label", (F.col("d0") + 1).alias("d"))
        .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c"))
    )
    counts = emb.groupBy("label").agg(F.count("*").alias("n_vectors"))
    return (
        per_dim.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("d", "c"))), lambda s: s["c"]
            ).alias("centroid")
        )
        .join(F.broadcast(counts), "label")
        .select("label", "centroid", "n_vectors")
    )


def _q6(col):  # noqa: ANN001, ANN202 - Column in, Column out
    """Engine-portable scalar encoding of a double array: each element scaled
    to integer micro-units (round(x*1e6) — x is already rounded to 6 places,
    so the value is integer±1e-9 and the engines' round-half conventions can
    never disagree) and comma-joined.  Raw array cells crash the round
    driver's pandas canonicalizer (r2: ``unhashable type: 'list'``) and
    float-to-string formats differ between JVM and DuckDB (``1.0E-4`` vs
    ``0.0001``), so an integer string is the only driver-safe vector shape."""
    return F.array_join(
        F.transform(col, lambda x: F.round(x * 1000000).cast("long").cast("string")), ","
    )


@register(
    "label_centroids",
    oracle="""
    WITH per_dim AS (
        SELECT label, g.i AS d,
               ROUND(AVG(CAST(embedding[g.i] AS DOUBLE)), 6) AS c
        FROM embeddings, generate_series(1, 64) g(i)
    GROUP BY label, g.i
    )
    SELECT label,
           array_to_string(
               list_transform(array_agg(c ORDER BY d),
                              x -> CAST(CAST(round(x * 1000000) AS BIGINT) AS VARCHAR)),
               ',') AS centroid_q6,
           (SELECT COUNT(*) FROM embeddings e WHERE e.label = per_dim.label) AS n_vectors
    FROM per_dim
    GROUP BY label
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector aggregation: the mean embedding (centroid) per class label —
    the class-profile step of embedding-space analysis.  The centroid is
    emitted as integer micro-units (``_q6``) so the round driver's pandas
    canonicalizer can sort and hash it (r2 driver FAIL on the raw array)."""
    return _label_centroids_array(spark, sf_dir).select(
        "label", _q6(F.col("centroid")).alias("centroid_q6"), "n_vectors"
    )


@register(
    "sim_ann_recall_report",
    oracle=sim.COSINE_CTES
    + _lsh_cand_ctes(50)
    + _ivf_ctes("e.vec_id < 50")
    + f""",
    lsh AS ({_LSH_TOPK_SELECT}),
    brute AS ({_brute_topk_select(50)})
    {sim.recall_report_sql("sign_lsh", "lsh", 10)}
    UNION ALL
    {sim.recall_report_sql("ivf_det_lloyd", "ivf", 10)}
    """,
)
def sim_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality report: recall@10 of the sign-LSH and IVF indexes against
    the exact brute-force ranking, as ONE driver-visible row per method.

    The evaluation join is per-query set-intersection of neighbor ids —
    distributed, no collect; this is the query a pipeline schedules after
    (re)building an index to decide whether its bucket/probe parameters
    still hold on drifted data.  HASH-CHECKED end-to-end (upgraded from
    rows-only, VERDICT r3 #2/#7): with the IVF index now deterministic and
    SQL-replayable, BOTH methods' neighbor sets — and therefore both
    recall rows — are recomputed from scratch by the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    k, n_queries = 10, 50
    truth = sim.topk_bruteforce(emb, n_queries, k)
    lsh = sim.topk_lsh(emb, n_queries, k, buckets=_topk_buckets(spark, sf_dir))
    ivf = sim.topk_ivf(emb, n_queries, k, index=_ivf(spark, sf_dir))
    return sim.recall_report(truth, lsh, k, "sign_lsh").unionAll(
        sim.recall_report(truth, ivf, k, "ivf_det_lloyd")
    )


@register(
    "emb_quantize_int8",
    oracle="""
    SELECT vec_id,
           ROUND(GREATEST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0, 9) AS scale,
           array_to_string(
               list_transform(
                   embedding,
                   x -> CAST(CAST(floor(
                            CAST(x AS DOUBLE)
                            / (GREATEST(list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))), 1e-30) / 127.0)
                            + 0.5) AS INTEGER) AS VARCHAR)
               ), ',') AS qvec_csv
    FROM embeddings
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embeddings table — the
    4×-compression rewrite an embedding store applies before serving at
    scale.  The ``floor(x/scale + 0.5)`` rounding contract is engine-portable
    (Spark/DuckDB/NumPy identical), so the oracle replicates the quantizer
    bit-for-bit; recall cost of the lost precision is measured by
    ``sim_quantized_recall``.  The quantized vector is emitted comma-joined
    (``qvec_csv``) because raw array cells crash the round driver's pandas
    canonicalizer (r2 driver FAIL: ``unhashable type: 'list'``); the array
    form stays available via ``similarity.quantize_int8``."""
    q = sim.quantize_int8(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale",
        F.array_join(F.transform("qvec", lambda x: x.cast("string")), ",").alias("qvec_csv"),
    )


@register(
    "sim_quantized_recall",
    oracle=sim.COSINE_CTES
    + f""",
    sc AS (
        SELECT vec_id, embedding,
               GREATEST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-30) / 127.0 AS s
        FROM embeddings
    ),
    deq AS (
        SELECT vec_id,
               list_transform(embedding, x -> floor(CAST(x AS DOUBLE) / s + 0.5) * ROUND(s, 9)) AS d
        FROM sc
    ),
    deqn AS (
        SELECT vec_id, d,
               sqrt((SELECT SUM(d[g.i] * d[g.i]) FROM generate_series(1, 64) g(i))) AS nrm
        FROM deq
    ),
    approx AS ({sim.top_k_sql(
        "deqn q JOIN deqn n ON q.vec_id < 50 AND n.vec_id != q.vec_id",
        10, "query_id, neighbor_id", sim.cosine_sql(vec="d"),
    )}),
    brute AS ({_brute_topk_select(50)})
    SELECT *, CAST(4.0 AS DOUBLE) AS compression_vs_float32
    FROM ({sim.recall_report_sql("int8_dequant", "approx", 10)})
    """,
)
def sim_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of exact top-k over DEQUANTIZED int8 vectors vs the float
    ground truth — the quality gate a pipeline runs before switching its
    vector store to the 4×-smaller representation.  One driver-visible row.

    HASH-CHECKED end-to-end (upgraded from rows-only): the quantizer's
    ``floor(x/scale + 0.5)`` contract and the dequantized ranking are both
    engine-portable, so the oracle replays quantize → dequantize → top-10 →
    overlap-with-truth from scratch.  Replicates the Spark path's exact
    arithmetic: q divides by the RAW scale, dequantize multiplies by the
    ROUND(scale, 9) the store persists."""
    emb = load_table(spark, sf_dir, "embeddings")
    k, n_queries = 10, 50
    truth = sim.topk_bruteforce(emb, n_queries, k)
    approx = sim.topk_numpy(sim.dequantized(sim.quantize_int8(emb)), n_queries, k)
    return sim.recall_report(truth, approx, k, "int8_dequant").withColumn(
        "compression_vs_float32", F.lit(4.0)
    )


@register(
    "emb_outliers_by_label",
    oracle="""
    WITH per_dim AS (
        SELECT label, g.i AS d,
               ROUND(AVG(CAST(embedding[g.i] AS DOUBLE)), 6) AS c
        FROM embeddings, generate_series(1, 64) g(i)
        GROUP BY label, g.i
    ),
    dists AS (
        SELECT e.vec_id, e.label,
               ROUND(sqrt(SUM((CAST(e.embedding[p.d] AS DOUBLE) - p.c) * (CAST(e.embedding[p.d] AS DOUBLE) - p.c))), 6) AS dist
        FROM embeddings e JOIN per_dim p ON p.label = e.label
        GROUP BY e.vec_id, e.label
    )
    SELECT vec_id, label, dist,
           ROUND((dist - AVG(dist) OVER (PARTITION BY label))
                 / STDDEV(dist) OVER (PARTITION BY label), 6) AS z,
           ROUND((dist - AVG(dist) OVER (PARTITION BY label))
                 / STDDEV(dist) OVER (PARTITION BY label), 6) > 2.0 AS is_outlier
    FROM dists
    """,
)
def emb_outliers_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality screen: distance of each vector from its class
    centroid, z-scored within the label; vectors beyond 2σ are flagged —
    the mislabeled/corrupt-vector sweep an embedding pipeline runs before
    training on a labeled corpus.

    Scale shape: centroids are label-count × dim (broadcast); the distance
    is one zip_with/aggregate pass per row (no row blowup, no shuffle
    beyond the tiny centroid agg); the z-score is a per-label window over
    scalar distances.  Centroids are rounded to 6 places on BOTH engines so
    the float summation order is immaterial."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    cent = _label_centroids_array(spark, sf_dir).select("label", "centroid")
    dist = (
        emb.join(F.broadcast(cent), "label")
        .withColumn(
            "dist",
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            F.col("embedding").cast("array<double>"),
                            "centroid",
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ),
                6,
            ),
        )
        .select("vec_id", "label", "dist")
    )
    w = Window.partitionBy("label")
    z = F.round((F.col("dist") - F.avg("dist").over(w)) / F.stddev("dist").over(w), 6)
    return dist.withColumn("z", z).withColumn("is_outlier", F.col("z") > 2.0)


# ---- hybrid retrieval: BM25 + dense cosine fused by RRF --------------------
def _hybrid_oracle() -> str:
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_text import (
        BM25_ORACLE_CTES,
        BM25_TOPK_SELECT,
    )

    return (
        sim.COSINE_CTES
        + ","
        + BM25_ORACLE_CTES
        + f""",
    bmr AS ({BM25_TOPK_SELECT}),
    cosr AS ({_brute_topk_select(1, 20)}),
    fused AS (
        SELECT COALESCE(b.doc_id, c.neighbor_id) AS doc_id,
               b.rank AS bm25_rank, c.rank AS cos_rank,
               COALESCE(CAST(1 AS DOUBLE) / (60 + b.rank), CAST(0 AS DOUBLE))
               + COALESCE(CAST(1 AS DOUBLE) / (60 + c.rank), CAST(0 AS DOUBLE)) AS rrf_score
        FROM bmr b FULL OUTER JOIN cosr c ON c.neighbor_id = b.doc_id
    )
    SELECT doc_id, bm25_rank, cos_rank,
           CAST(rrf_score AS DOUBLE) AS rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS hybrid_rank
    FROM fused QUALIFY hybrid_rank <= 10
    """
    )


@register("hybrid_search_rrf", oracle=_hybrid_oracle())
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the lexical BM25 top-20 (``text_bm25_search``) and
    the dense cosine top-20 for query vector 0 fused by Reciprocal Rank
    Fusion (Cormack et al. 2009: score = sum over runs of 1/(60 + rank)),
    full-outer-joined on document id so single-run hits still score — the
    standard first-stage ranker of a RAG / retrieval stack.

    Scale posture: both input rankings are top-k frames (constant size in
    corpus), so the fusion join, RRF arithmetic, and final top-10 window run
    on parameter-sized data; the heavy lifting stays inside the two already
    scale-vetted retrieval queries.  RRF scores are emitted as raw IEEE
    doubles — both engines evaluate the identical expression tree, and
    symmetric-rank ties break on doc_id."""
    from pyspark.sql import Window

    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_text import (
        text_bm25_search,
    )

    bm = text_bm25_search(spark, sf_dir).select(
        "doc_id", F.col("rank").cast("bigint").alias("bm25_rank")
    )
    cos = sim.topk_bruteforce(
        load_table(spark, sf_dir, "embeddings"), query_ids_below=1, k=20
    ).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").cast("bigint").alias("cos_rank")
    )
    one = F.lit(1).cast("double")
    zero = F.lit(0).cast("double")
    fused = bm.join(cos, "doc_id", "full_outer").withColumn(
        "rrf_score",
        F.coalesce(one / (F.lit(60) + F.col("bm25_rank")), zero)
        + F.coalesce(one / (F.lit(60) + F.col("cos_rank")), zero),
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("hybrid_rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("hybrid_rank") <= 10)
        .select(
            "doc_id",
            "bm25_rank",
            "cos_rank",
            F.col("rrf_score").cast("double").alias("rrf_score"),
            "hybrid_rank",
        )
    )


def _gram_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram of the 64-dim embedding corpus, per-batch BLAS
    partials merged by one 2080-row aggregate, entries rounded to 4 dp (see
    emb_gram_matrix for the measured 10x win over the explode form).  The
    4-dp round makes every entry an EXACT decimal both engines agree on,
    which is what lets downstream iterative consumers (power iteration)
    stay hash-checkable."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )

    def partial_gram(batches):
        acc = np.zeros((64, 64), dtype=np.float64)
        seen = False
        for pdf in batches:
            if len(pdf):
                m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
                acc += m.T @ m
                seen = True
        iu = np.triu_indices(64)
        if seen:
            yield pd.DataFrame(
                {"i": iu[0].astype("int64"), "j": iu[1].astype("int64"), "g": acc[iu]}
            )

    part = emb.select("embedding").mapInPandas(partial_gram, "i long, j long, g double")
    return part.groupBy("i", "j").agg(F.round(F.sum("g"), 4).alias("gram"))


@register(
    "emb_gram_matrix",
    oracle="""
    WITH vecs AS (
        SELECT embedding FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    cells AS (
        SELECT i, CAST(embedding[i + 1] AS DOUBLE) AS x, embedding
        FROM vecs, unnest(generate_series(0, 63)) AS g(i)
    )
    SELECT CAST(c.i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
           round(sum(c.x * CAST(c.embedding[j + 1] AS DOUBLE)), 4) AS gram
    FROM cells c, unnest(generate_series(0, 63)) AS h(j)
    WHERE j >= c.i
    GROUP BY c.i, j
    """,
)
def emb_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix of the embedding corpus — the building block
    of PCA / ZCA whitening / covariance estimation over 100 TB of vectors:
    G[i][j] = sum over rows of e_i * e_j, upper triangle (2080 cells at
    d=64).

    Scale posture: each Arrow batch is reduced to ONE d x d NumPy
    accumulator (``M.T @ M`` — BLAS, no per-pair rows), so the single
    shuffle carries d*(d+1)/2 rows per PARTITION, independent of row
    count; the final aggregate merges the partials.  The pure-codegen
    explode alternative (d^2/2 structs per input row) measured 10x slower
    at sf1 even at d=64 — per-row fan-out loses to per-batch BLAS.
    Products are accumulated in float64 (float32 -> float64 is exact) and
    the sums rounded to 4 decimals, far above the ~1e-9 merge-order
    noise."""
    return _gram_frame(spark, sf_dir)


@register(
    "emb_whiten_diag",
    oracle="""
    WITH cells AS (
        SELECT vec_id, i, CAST(embedding[i + 1] AS DOUBLE) AS x
        FROM embeddings, unnest(generate_series(0, 63)) AS g(i)
        WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    stats AS (
        SELECT i, avg(x) AS mu, stddev_samp(x) AS sd
        FROM cells GROUP BY i
    )
    SELECT c.vec_id, CAST(c.i AS BIGINT) AS i,
           round((c.x - s.mu) / greatest(s.sd, 1e-12), 5) AS z
    FROM cells c JOIN stats s USING (i)
    """,
)
def emb_whiten_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal whitening of the embedding corpus: per-dimension z-scores
    ((x - mean_i) / std_i) — the normalization step between the covariance
    estimate (``emb_gram_matrix``) and any cosine/L2 retrieval that should
    not be dominated by high-variance dimensions.  Full ZCA needs the
    off-diagonal Gram factors; the diagonal form is the per-column scaling
    every feature pipeline applies first.

    Scale posture: one posexplode feeds a 64-group aggregate (partial
    map-side, constant-size shuffle); the per-cell z is a broadcast join of
    64 stat rows back onto the cells — no second scan of the vectors.
    Both engines compute mean/stddev in double; rounding to 5 decimals
    sits far above the ~1e-12 merge-order noise (the stat_corr_matrix
    pattern)."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & (F.size("embedding") == 64)
    )
    cells = emb.select(
        "vec_id", F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias("i", "x")
    )
    stats = cells.groupBy("i").agg(
        F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd")
    )
    return cells.join(F.broadcast(stats), "i").select(
        "vec_id",
        F.col("i").cast("long").alias("i"),
        F.round((F.col("x") - F.col("mu")) / F.greatest(F.col("sd"), F.lit(1e-12)), 5).alias("z"),
    )


@register(
    "emb_quantile_normalize",
    oracle="""
    WITH idx AS (
        SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS dim
        FROM embeddings
    ),
    long AS (
        SELECT vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS x FROM idx
    ),
    ranked AS (
        SELECT vec_id, dim, x,
               ROW_NUMBER() OVER (PARTITION BY dim ORDER BY x, vec_id) AS rn,
               COUNT(*) OVER (PARTITION BY dim) AS n
        FROM long
    )
    SELECT vec_id, dim,
           ROUND((CAST(rn - 1 AS DOUBLE) / (n - 1)), 6) AS q
    FROM ranked
    """,
)
def emb_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quantile (rank) normalization of the embedding corpus:
    every dimension's values are replaced by their empirical quantile
    position (rank−1)/(n−1) — the distribution-free rescaling that makes
    heterogeneous feature dimensions comparable (and the first step of a
    rank-based whitening; contrast emb_whiten_diag's parametric z-scores).
    Ties break on vec_id so the map is a deterministic bijection per dim.

    Shape at 100 TB: posexplode → one window per dimension index — ~64
    uniform partitions each sorting its own dimension's values, the exact
    shape of a column-wise distributed sort; no all-pairs anything.  At
    real scale the rank would come from a quantile-sketch join (t-digest
    per dim) instead of a full sort; the window form keeps the semantics
    exact and hash-checkable."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    long = emb.select(
        "vec_id", F.posexplode("embedding").alias("d0", "xf")
    ).select("vec_id", (F.col("d0") + 1).alias("dim"), F.col("xf").cast("double").alias("x"))
    w_rank = Window.partitionBy("dim").orderBy("x", "vec_id")
    w_all = Window.partitionBy("dim")
    return long.select(
        "vec_id",
        "dim",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_all).alias("n"),
    ).select(
        "vec_id",
        "dim",
        F.round((F.col("rn") - 1).cast("double") / (F.col("n") - 1), 6).alias("q"),
    )


@register(
    "knn_label_vote",
    oracle=f"""
    WITH norms AS (
        SELECT vec_id, embedding, label,
               sqrt((SELECT SUM(CAST(embedding[g.i] AS DOUBLE) * CAST(embedding[g.i] AS DOUBLE))
                     FROM generate_series(1, 64) g(i))) AS nrm
        FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL
    ),
    sims AS (
        SELECT q.vec_id AS query_id, q.label AS true_label,
               n.vec_id AS neighbor_id, n.label AS n_label,
               {sim.cosine_sql()} AS sim
        FROM norms q JOIN norms n ON n.vec_id >= 50
        WHERE q.vec_id < 50
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM sims
    ),
    votes AS (
        SELECT query_id, true_label, n_label, COUNT(*) AS cnt
        FROM ranked WHERE rnk <= 10
        GROUP BY query_id, true_label, n_label
    ),
    winner AS (
        SELECT query_id, true_label, n_label AS pred_label, cnt,
               ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cnt DESC, n_label ASC) AS vr
        FROM votes
    )
    SELECT query_id, true_label, pred_label, cnt AS n_votes,
           CAST(CASE WHEN true_label = pred_label THEN 1 ELSE 0 END AS INT) AS correct
    FROM winner WHERE vr = 1
    """,
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classifier over the embedding corpus: the 50 held-out vectors
    (vec_id < 50) are each labeled by majority vote of their 10 nearest
    training neighbors by cosine (sim rounded to 6 BEFORE ranking so libm
    ulp differences can't flip a rank boundary; vote ties break on the
    smaller label) — the classic embedding-space classifier an LLM data
    pipeline uses for cheap domain/quality tagging of new documents.

    Shape at 100 TB: the probe set is a CONSTANT 50-vector broadcast (the
    same vetted tiny-broadcast BNLJ pattern as sim_topk_bruteforce); the
    corpus side streams linearly with no shuffle until the per-query
    top-10 window, whose input is 50 × |corpus| similarities reduced by
    the ranking window's partial top-k (TakeOrdered per query key).  The
    vote itself is a 500-row aggregate.  Each pair is scored by the pair
    kernel (``similarity.pair_cosine``), the labels riding along as
    passthrough columns.  The reference has no vector operators at all
    (SURVEY.md §2.2)."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    q = sim.vector_side(
        emb.filter(F.col("vec_id") < 50), "q", F.col("label").alias("true_label")
    )
    train = sim.vector_side(
        emb.filter(F.col("vec_id") >= 50), "n", F.col("label").alias("n_label")
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    neigh = (
        sim.pair_cosine(train.join(F.broadcast(q), F.lit(True)))
        .withColumn("sim", F.round("sim", 6))
        .withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 10)
    )
    votes = neigh.groupBy("query_id", "true_label", "n_label").agg(F.count("*").alias("cnt"))
    w_vote = Window.partitionBy("query_id").orderBy(F.desc("cnt"), F.asc("n_label"))
    return (
        votes.withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("n_label").alias("pred_label"),
            F.col("cnt").alias("n_votes"),
            (F.col("true_label") == F.col("pred_label")).cast("int").alias("correct"),
        )
    )


@register(
    "sim_kmeans_report",
    oracle=sim.COSINE_CTES
    + _ivf_ctes("e.vec_id < 5")
    + """,
    final_d2 AS (
        SELECT e.vec_id, c.cluster,
               ROUND(SUM((CAST(e.embedding[c.d] AS DOUBLE) - c.c)
                       * (CAST(e.embedding[c.d] AS DOUBLE) - c.c)), 6) AS d2
        FROM embeddings e CROSS JOIN ivfc2 c
        WHERE e.embedding IS NOT NULL
        GROUP BY e.vec_id, c.cluster
    ),
    final_assign AS (
        SELECT vec_id, cluster, d2 FROM (
            SELECT vec_id, cluster, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cluster ASC) AS rnk
            FROM final_d2
        ) WHERE rnk = 1
    )
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) AS inertia
    FROM final_assign GROUP BY cluster
    """,
)
def sim_kmeans_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means CLUSTERING REPORT over the deterministic Lloyd-trained index
    (md5-seeded picks, 2 rounds — ``similarity.ivf_index``): per-cluster
    membership count and inertia (sum of squared distance to the owned
    centroid).  Where ``sim_topk_ivf`` uses the index for ANN retrieval,
    this is the index AS ANALYSIS — the elbow-curve / cluster-balance
    surface an embedding-corpus triage step reads, and a full iterative
    k-means TRAINING loop hash-checked cross-engine (the oracle replays
    both Lloyd rounds in unrolled SQL).

    Exactness: every d2 is rounded to 6 before the argmin (engine-stable
    assignment, as sim_topk_ivf), and inertia sums ride DECIMAL(18,6) so
    the per-cluster totals are order-independent.  Scale posture: the
    centroid table is broadcast-sized forever; assignment is one linear
    scan; the report is 16 rows."""
    assigned, cent = _ivf(spark, sf_dir)
    d2 = (
        assigned.join(F.broadcast(cent), "cluster")
        .withColumn(
            "_d2",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("embedding"),
                        F.col("centroid"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ),
        )
        .select("cluster", "_d2")
    )
    return d2.groupBy("cluster").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.sum(F.col("_d2").cast("decimal(18,6)")).cast("double").alias("inertia"),
    )


@register(
    "emb_matryoshka_recall",
    oracle=f"""
    WITH norms AS (
        SELECT vec_id, embedding,
               sqrt((SELECT SUM(CAST(embedding[g.i] AS DOUBLE) * CAST(embedding[g.i] AS DOUBLE))
                     FROM generate_series(1, 64) g(i))) AS nrm,
               sqrt((SELECT SUM(CAST(embedding[g.i] AS DOUBLE) * CAST(embedding[g.i] AS DOUBLE))
                     FROM generate_series(1, 16) g(i))) AS tnrm
        FROM embeddings
    ),
    approx AS ({sim.top_k_sql(
        "norms q JOIN norms n ON q.vec_id < 50 AND n.vec_id != q.vec_id",
        10, "query_id, neighbor_id", sim.cosine_sql(nrm="tnrm", dim=16),
    )}),
    brute AS ({_brute_topk_select(50)})
    SELECT *, CAST(4.0 AS DOUBLE) AS compression_vs_full
    FROM ({sim.recall_report_sql("matryoshka_16_of_64", "approx", 10)})
    """,
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation recall: exact top-10 cosine over only the FIRST
    16 of 64 embedding dimensions vs the full-dimension ground truth — the
    evaluation a pipeline runs before adopting MRL-style truncated vectors
    (Kusupati et al. 2022) for its coarse retrieval tier (prefix dims carry
    most of the signal; 4× less vector IO and memory).  Same recall
    machinery as ``sim_quantized_recall``: per-query hit counts LEFT-joined
    onto the query set so a zero-hit query counts as recall 0.

    Scale shape: both arms are the broadcast-query exact scan (linear in
    corpus); at 100 TB the truncated arm IS the production candidate tier
    and only the reranker touches full vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    k, n_queries = 10, 50
    truth = sim.topk_bruteforce(emb, n_queries, k)
    trunc = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    approx = sim.topk_bruteforce(trunc, n_queries, k)
    return sim.recall_report(truth, approx, k, "matryoshka_16_of_64").withColumn(
        "compression_vs_full", F.lit(4.0)
    )


# --- Distributed PCA: top principal direction by power iteration --------------
_PCA_ROUNDS = 8
# One multiply-accumulate round and the normalization, as shared SQL text:
# every product is quantized (ROUND 9 -> DECIMAL(38,9)) before summation so
# the 64-term sums are exact and order-independent in both engines; the
# division and sqrt are then single IEEE ops over identical operands.
_PCA_TERM = "CAST(ROUND(g * val, 9) AS DECIMAL(38,9))"
_PCA_NORM = (
    "sqrt(CAST(SUM(CAST(ROUND(CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 9)"
    " AS DECIMAL(38,9))) OVER () AS DOUBLE))"
)


def _pca_oracle() -> str:
    rounds = []
    for r in range(1, _PCA_ROUNDS + 1):
        rounds.append(
            f""",
    y{r} AS MATERIALIZED (
        SELECT s.i AS dim, SUM({_PCA_TERM}) AS y
        FROM sym s JOIN it{r - 1} x ON x.dim = s.j
        GROUP BY s.i
    ),
    it{r} AS MATERIALIZED (
        SELECT dim,
               CAST(y AS DOUBLE) / {_PCA_NORM} AS val,
               {_PCA_NORM} AS lam
        FROM y{r}
    )"""
        )
    return f"""
    WITH vecs AS (
        SELECT embedding FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    cells AS (
        SELECT i, CAST(embedding[i + 1] AS DOUBLE) AS x, embedding
        FROM vecs, unnest(generate_series(0, 63)) AS g(i)
    ),
    gram AS MATERIALIZED (
        SELECT c.i AS i, j,
               round(sum(c.x * CAST(c.embedding[j + 1] AS DOUBLE)), 4) AS g
        FROM cells c, unnest(generate_series(0, 63)) AS h(j)
        WHERE j >= c.i
        GROUP BY c.i, j
    ),
    sym AS MATERIALIZED (
        SELECT i, j, g FROM gram
        UNION ALL
        SELECT j AS i, i AS j, g FROM gram WHERE j > i
    ),
    it0 AS (SELECT DISTINCT i AS dim, 0.125 AS val FROM sym)
    {"".join(rounds)}
    SELECT CAST(dim AS BIGINT) AS dim,
           ROUND(val, 6) AS loading,
           ROUND(lam, 4) AS eigenvalue
    FROM it{_PCA_ROUNDS}
    """


@register("emb_pca_power_iteration", oracle=_pca_oracle())
def emb_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by 8 rounds of power
    iteration over the distributed Gram matrix — distributed PCA the way a
    100 TB vector pipeline actually runs it: the data-sized work is ONE
    pass (per-batch BLAS partial Gram, d x d accumulator per partition,
    see emb_gram_matrix); the iteration then runs entirely on the 64x64
    Gram frame, never touching the vectors again.  Output: the 64 loadings
    plus the Rayleigh eigenvalue estimate (the final iterate's norm).

    Cross-engine exactness: the 4-dp-rounded Gram entries are exact
    decimals both engines agree on (emb_gram_matrix is hash-checked);
    every multiply-accumulate product is quantized (ROUND 9 →
    DECIMAL(38,9)) before summation so the 64-term sums are exact and
    order-free; normalization is one division + one IEEE sqrt per round.
    Fixed 8 rounds keeps the loop SQL-expressible (the k-core / GD / CC
    recipe); the pinned property test asserts the Rayleigh quotient is
    non-decreasing across rounds, the power-iteration convergence
    certificate."""
    gram = _gram_frame(spark, sf_dir).withColumnRenamed("gram", "g")
    sym = gram.unionByName(
        gram.filter(F.col("j") > F.col("i")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    ).persist()
    x = sym.select(F.col("i").alias("dim")).distinct().select(
        "dim", F.lit(0.125).alias("val")
    )
    for r in range(_PCA_ROUNDS):
        y = (
            sym.join(x.selectExpr("dim AS j", "val"), "j")
            .groupBy(F.col("i").alias("dim"))
            .agg(F.expr(f"SUM({_PCA_TERM})").alias("y"))
        )
        x = y.selectExpr(
            "dim",
            f"CAST(y AS DOUBLE) / {_PCA_NORM} AS val",
            f"{_PCA_NORM} AS lam",
        )
        if r % 3 == 2:
            x = x.localCheckpoint(eager=True)
    return x.selectExpr(
        "CAST(dim AS BIGINT) AS dim",
        "ROUND(val, 6) AS loading",
        "ROUND(lam, 4) AS eigenvalue",
    )


# Simplified-silhouette score over (own, next-best) centroid distances,
# shared by both engines.
_SIL_EXPR = (
    "((sqrt(d2n) - sqrt(d2o))"
    " / NULLIF(GREATEST(sqrt(d2o), sqrt(d2n)), 0.0))"
)


@register(
    "emb_silhouette",
    oracle=sim.COSINE_CTES
    + _ivf_ctes("e.vec_id < 5")
    + f""",
    sil_d2 AS (
        SELECT e.vec_id, c.cluster,
               ROUND(SUM((CAST(e.embedding[c.d] AS DOUBLE) - c.c)
                       * (CAST(e.embedding[c.d] AS DOUBLE) - c.c)), 6) AS d2
        FROM embeddings e CROSS JOIN ivfc2 c
        WHERE e.embedding IS NOT NULL
        GROUP BY e.vec_id, c.cluster
    ),
    sil_ranked AS (
        SELECT vec_id, cluster, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, cluster ASC) AS rnk
        FROM sil_d2
    ),
    sil_pairs AS (
        SELECT o.vec_id, o.cluster, o.d2 AS d2o, n.d2 AS d2n
        FROM sil_ranked o
        JOIN sil_ranked n ON n.vec_id = o.vec_id AND n.rnk = 2
        WHERE o.rnk = 1
    ),
    sil_terms AS (
        SELECT cluster,
               CAST(ROUND({_SIL_EXPR}, 6) AS DECIMAL(18,6)) AS sil
        FROM sil_pairs
    )
    SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(CAST(SUM(sil) AS DOUBLE) / COUNT(*), 6) AS avg_silhouette
    FROM sil_terms GROUP BY cluster
    """,
)
def emb_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based, Hamerly & Elkan style) SILHOUETTE score
    per k-means cluster over the deterministic Lloyd index: for each
    vector, s = (d_next − d_own) / max(d_own, d_next) using euclidean
    distance to its own vs next-closest centroid — the cluster-quality
    report read next to `sim_kmeans_report`'s inertia when choosing k.
    Unlike the classical all-pairs silhouette (quadratic per cluster),
    the centroid form is one linear scan and is the standard scale
    substitute.

    Exactness: d² values are rounded to 6 before ranking (engine-stable
    own/next choice, identical to `sim_topk_ivf`), each s is quantized
    (ROUND 6 → DECIMAL(18,6)) so per-cluster sums are order-independent.
    Scale posture: a 16-row broadcast cross join + one window per vector,
    then a 16-row report — the centroid table never grows with the
    corpus."""
    from pyspark.sql import Window

    _, cent = _ivf(spark, sf_dir)
    emb = sim.non_null_vectors(load_table(spark, sf_dir, "embeddings"), "embedding")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("_v"))
    d2 = v.join(F.broadcast(cent)).withColumn(
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
    w_rank = Window.partitionBy("vec_id").orderBy(F.asc("_d2"), F.asc("cluster"))
    ranked = d2.select(
        "vec_id", "cluster", "_d2", F.row_number().over(w_rank).alias("rnk")
    )
    own = ranked.filter(F.col("rnk") == 1).selectExpr(
        "vec_id", "cluster", "_d2 AS d2o"
    )
    nxt = ranked.filter(F.col("rnk") == 2).selectExpr("vec_id", "_d2 AS d2n")
    terms = own.join(nxt, "vec_id").selectExpr(
        "cluster", f"CAST(ROUND({_SIL_EXPR}, 6) AS DECIMAL(18,6)) AS sil"
    )
    return terms.groupBy("cluster").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.round(F.sum("sil").cast("double") / F.count("*"), 6).alias("avg_silhouette"),
    )


# --- MMR diversification (retrieval re-ranking) -------------------------------
#
# Greedy Maximal Marginal Relevance over the exact top-10 candidates, k=3
# selections, lambda=0.7.  The greedy recursion is UNROLLED into three
# relational steps (the same discipline as the Lloyd rounds in sim_kmeans:
# a bounded-depth iterative algorithm becomes bounded CTE layers), with
# every similarity quantized to 6 places BEFORE an argmax so the selection
# order is engine-stable.
_MMR_LAMBDA = "0.7"


@register(
    "sim_mmr_diversify",
    oracle=sim.COSINE_CTES
    + ",\n    cand AS ("
    + _brute_topk_select(5)
    + f"""),
    pairs AS (
        SELECT a.query_id, a.neighbor_id AS ida, b.neighbor_id AS idb,
               {sim.cosine_sql("x", "y")} AS ps
        FROM cand a
        JOIN cand b ON b.query_id = a.query_id AND b.neighbor_id != a.neighbor_id
        JOIN norms x ON x.vec_id = a.neighbor_id
        JOIN norms y ON y.vec_id = b.neighbor_id
    ),
    sel1 AS (
        SELECT query_id, neighbor_id AS v1, sim AS rel1 FROM cand WHERE rank = 1
    ),
    sel2 AS (
        SELECT query_id, neighbor_id AS v2, rel2, pen2 FROM (
            SELECT c.query_id, c.neighbor_id, c.sim AS rel2, p.ps AS pen2,
                   ROW_NUMBER() OVER (PARTITION BY c.query_id
                       ORDER BY (0.7 * c.sim - 0.3 * p.ps) DESC,
                                c.neighbor_id ASC) AS rk
            FROM cand c
            JOIN sel1 s ON s.query_id = c.query_id AND c.neighbor_id != s.v1
            JOIN pairs p ON p.query_id = c.query_id
                        AND p.ida = c.neighbor_id AND p.idb = s.v1
        ) WHERE rk = 1
    ),
    sel3 AS (
        SELECT query_id, neighbor_id AS v3, rel3, pen3 FROM (
            SELECT c.query_id, c.neighbor_id, c.sim AS rel3,
                   GREATEST(p1.ps, p2.ps) AS pen3,
                   ROW_NUMBER() OVER (PARTITION BY c.query_id
                       ORDER BY (0.7 * c.sim - 0.3 * GREATEST(p1.ps, p2.ps)) DESC,
                                c.neighbor_id ASC) AS rk
            FROM cand c
            JOIN sel1 s1 ON s1.query_id = c.query_id AND c.neighbor_id != s1.v1
            JOIN sel2 s2 ON s2.query_id = c.query_id AND c.neighbor_id != s2.v2
            JOIN pairs p1 ON p1.query_id = c.query_id
                         AND p1.ida = c.neighbor_id AND p1.idb = s1.v1
            JOIN pairs p2 ON p2.query_id = c.query_id
                         AND p2.ida = c.neighbor_id AND p2.idb = s2.v2
        ) WHERE rk = 1
    )
    SELECT query_id, CAST(1 AS BIGINT) AS sel_rank, v1 AS vec_id,
           rel1 AS relevance, CAST(0.0 AS DOUBLE) AS diversity_penalty,
           ROUND(0.7 * rel1, 7) AS mmr_score
    FROM sel1
    UNION ALL
    SELECT query_id, CAST(2 AS BIGINT), v2, rel2, pen2,
           ROUND(0.7 * rel2 - 0.3 * pen2, 7)
    FROM sel2
    UNION ALL
    SELECT query_id, CAST(3 AS BIGINT), v3, rel3, pen3,
           ROUND(0.7 * rel3 - 0.3 * pen3, 7)
    FROM sel3
    """,
)
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    from each query's exact top-10 cosine candidates, greedily select k=3
    results maximizing 0.7·relevance − 0.3·max-similarity-to-already-
    selected — the diversification step a retrieval pipeline runs so the
    context window is not filled with three copies of the same passage.

    The greedy recursion has FIXED depth k, so it unrolls into k
    relational steps (the Lloyd-round discipline of `sim_kmeans_report`):
    step i joins the candidate frame to the i−1 selected rows and the
    candidate-pair similarity frame, takes one rank window, keeps rank 1.
    The candidate and pair frames are ≤ nq·k² rows, so they are
    materialized once as local relations (domain-bounded collect, same
    footprint class as the 16-centroid collects) and every selection step
    is a local-relation join on the query_id equi-key.  Every similarity is quantized to 6 places BEFORE any
    argmax, and candidate-pair cosines are the pair kernel
    (``similarity.pair_cosine``: the oracle's left-to-right sums), so the
    selection sequence is engine-stable.  At 100 TB only candidate generation touches the
    corpus; MMR itself is candidate-set-sized regardless of data volume."""
    from pyspark.sql import Window

    from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import (
        materialized as _mat,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # The candidate frame feeds five consumers (pairs twice, three selection
    # steps) and is tiny (nq·k = 50 rows), so it is computed once and
    # MATERIALIZED to a local relation (r7, VERDICT r6 next-round #6): a
    # lazily-persisted frame re-inlines its whole corpus-scan lineage into
    # every consumer's STATIC plan — 54 parquet scans / 73 exchanges in the
    # r6 plan fingerprint — while the local relation collapses the MMR
    # steps to candidate-set-sized local joins with exactly one corpus
    # scan (candidate generation) plus one semi-join scan (pair vectors).
    cand = shared(
        spark,
        ("mmr_cand", sf_dir),
        lambda: _mat(sim.topk_bruteforce(emb, query_ids_below=5, k=10)),
    )
    vecs = (
        emb.filter(F.col("embedding").isNotNull())
        .join(
            cand.select(F.col("neighbor_id").alias("vec_id")).distinct(),
            "vec_id",
            "semi",
        )
    )
    a = vecs.selectExpr("vec_id AS ida", "embedding AS ea")
    b = vecs.selectExpr("vec_id AS idb", "embedding AS eb")

    def _build_pairs() -> DataFrame:
        # nq·k·(k−1) = 450 rows — materialized for the same reason as cand
        pair_vecs = (
            cand.selectExpr("query_id", "neighbor_id AS ida")
            .join(
                cand.selectExpr("query_id", "neighbor_id AS idb"),
                ["query_id"],
            )
            .filter(F.col("ida") != F.col("idb"))
            .join(F.broadcast(a), "ida")
            .join(F.broadcast(b), "idb")
            .select("query_id", "ida", "idb", "ea", "eb")
        )
        return _mat(
            sim.pair_cosine(pair_vecs, "ea", "eb", "ps").withColumn("ps", F.round("ps", 6))
        )

    pairs = shared(spark, ("mmr_pairs", sf_dir), _build_pairs)
    c = cand.selectExpr("query_id", "neighbor_id", "sim")
    sel1 = cand.filter(F.col("rank") == 1).selectExpr(
        "query_id AS q1", "neighbor_id AS v1", "sim AS rel1"
    )
    p1 = pairs.selectExpr("query_id AS qp", "ida AS pa", "idb AS pb", "ps")
    w2 = Window.partitionBy("query_id").orderBy(
        F.expr("0.7 * sim - 0.3 * ps").desc(), F.col("neighbor_id").asc()
    )
    sel2 = (
        c.join(F.broadcast(sel1), F.col("query_id") == F.col("q1"))
        .filter(F.col("neighbor_id") != F.col("v1"))
        .join(
            F.broadcast(p1),
            (F.col("qp") == F.col("query_id"))
            & (F.col("pa") == F.col("neighbor_id"))
            & (F.col("pb") == F.col("v1")),
        )
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") == 1)
        .selectExpr("query_id AS q2", "neighbor_id AS v2", "sim AS rel2", "ps AS pen2")
    )
    p2 = pairs.selectExpr("query_id AS qp2", "ida AS pa2", "idb AS pb2", "ps AS ps2")
    w3 = Window.partitionBy("query_id").orderBy(
        F.expr("0.7 * sim - 0.3 * pen").desc(), F.col("neighbor_id").asc()
    )
    sel3 = (
        c.join(F.broadcast(sel1), F.col("query_id") == F.col("q1"))
        .filter(F.col("neighbor_id") != F.col("v1"))
        .join(F.broadcast(sel2), F.col("query_id") == F.col("q2"))
        .filter(F.col("neighbor_id") != F.col("v2"))
        .join(
            F.broadcast(p1),
            (F.col("qp") == F.col("query_id"))
            & (F.col("pa") == F.col("neighbor_id"))
            & (F.col("pb") == F.col("v1")),
        )
        .join(
            F.broadcast(p2),
            (F.col("qp2") == F.col("query_id"))
            & (F.col("pa2") == F.col("neighbor_id"))
            & (F.col("pb2") == F.col("v2")),
        )
        .withColumn("pen", F.expr("GREATEST(ps, ps2)"))
        .withColumn("rk", F.row_number().over(w3))
        .filter(F.col("rk") == 1)
        .selectExpr("query_id AS q3", "neighbor_id AS v3", "sim AS rel3", "pen AS pen3")
    )
    out1 = sel1.selectExpr(
        "q1 AS query_id",
        "CAST(1 AS BIGINT) AS sel_rank",
        "v1 AS vec_id",
        "rel1 AS relevance",
        "CAST(0.0 AS DOUBLE) AS diversity_penalty",
        "ROUND(0.7 * rel1, 7) AS mmr_score",
    )
    out2 = sel2.selectExpr(
        "q2 AS query_id",
        "CAST(2 AS BIGINT) AS sel_rank",
        "v2 AS vec_id",
        "rel2 AS relevance",
        "pen2 AS diversity_penalty",
        "ROUND(0.7 * rel2 - 0.3 * pen2, 7) AS mmr_score",
    )
    out3 = sel3.selectExpr(
        "q3 AS query_id",
        "CAST(3 AS BIGINT) AS sel_rank",
        "v3 AS vec_id",
        "rel3 AS relevance",
        "pen3 AS diversity_penalty",
        "ROUND(0.7 * rel3 - 0.3 * pen3, 7) AS mmr_score",
    )
    return out1.unionByName(out2).unionByName(out3)


# --- Product quantization codebooks -------------------------------------------
#
# PQ splits the 64-dim vector into 4 subspaces of 16 dims and trains an
# independent 8-centroid codebook per subspace with the SAME md5-seeded,
# 6-place-rounded Lloyd discipline as similarity.ivf_index, so the whole
# training run replays in SQL.  Memory story: 4 codes/vector (one byte
# each would do) instead of 64 floats — 64x compression before the rerank.
def _pq_assign_sql(cent: str, off: int, keep_d2: bool = False) -> str:
    cols = "vec_id, cluster, d2" if keep_d2 else "vec_id, cluster"
    return f"""
        SELECT {cols} FROM (
            SELECT vec_id, cluster, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2 ASC, cluster ASC) AS rnk
            FROM (
                SELECT e.vec_id, c.cluster,
                       ROUND(SUM((CAST(e.embedding[c.d + {off}] AS DOUBLE) - c.c)
                               * (CAST(e.embedding[c.d + {off}] AS DOUBLE) - c.c)),
                             6) AS d2
                FROM embeddings e CROSS JOIN {cent} c
                WHERE e.embedding IS NOT NULL
                GROUP BY e.vec_id, c.cluster
            )
        ) WHERE rnk = 1
    """


def _pq_update_sql(name: str, prev: str, assign: str, off: int) -> str:
    return f"""
    {name} AS (
        SELECT p.cluster, p.d, COALESCE(u.c, p.c) AS c
        FROM {prev} p LEFT JOIN (
            SELECT a.cluster, g.i AS d,
                   ROUND(AVG(CAST(e.embedding[g.i + {off}] AS DOUBLE)), 6) AS c
            FROM {assign} a JOIN embeddings e USING (vec_id),
                 generate_series(1, 16) g(i)
            WHERE e.embedding IS NOT NULL
            GROUP BY a.cluster, g.i
        ) u ON u.cluster = p.cluster AND u.d = p.d
    )"""


def _pq_cte_prefix() -> str:
    parts = [
        """
    WITH pqseeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cluster, embedding
        FROM (
            SELECT md5(CAST(vec_id AS VARCHAR)) AS h, vec_id, embedding
            FROM embeddings WHERE embedding IS NOT NULL
            ORDER BY h, vec_id
            LIMIT 8
        )
    )"""
    ]
    for s in range(4):
        off = s * 16
        parts.append(
            f""",
    pqc0_{s} AS (
        SELECT cluster, g.i AS d,
               ROUND(CAST(embedding[g.i + {off}] AS DOUBLE), 6) AS c
        FROM pqseeds, generate_series(1, 16) g(i)
    ),
    pqa1_{s} AS ({_pq_assign_sql(f"pqc0_{s}", off)}),
    {_pq_update_sql(f"pqc1_{s}", f"pqc0_{s}", f"pqa1_{s}", off)},
    pqa2_{s} AS ({_pq_assign_sql(f"pqc1_{s}", off)}),
    {_pq_update_sql(f"pqc2_{s}", f"pqc1_{s}", f"pqa2_{s}", off)},
    pqfin_{s} AS ({_pq_assign_sql(f"pqc2_{s}", off, keep_d2=True)})"""
        )
    return "".join(parts)


def _pq_oracle() -> str:
    sels = [
        f"""
    SELECT CAST({s} AS BIGINT) AS subspace,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_cells,
           ROUND(CAST(SUM(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
               AS avg_mse
    FROM pqfin_{s}"""
        for s in range(4)
    ]
    return _pq_cte_prefix() + " UNION ALL ".join(sels)


def _pq_adc_oracle() -> str:
    """ADC search replay: the SAME unrolled 2-round Lloyd training CTEs as
    `_pq_oracle`, extended with the 3-query distance tables against the
    final per-subspace centroids (pqc2_*) and the exact-DECIMAL ADC sum
    over each vector's final code (pqfin_*)."""
    dtabs = [
        """,
    q3 AS (
        SELECT vec_id AS q_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 3
    )"""
    ]
    for s in range(4):
        off = s * 16
        dtabs.append(
            f""",
    dtab_{s} AS (
        SELECT q.q_id, c.cluster,
               CAST(ROUND(SUM((CAST(q.embedding[c.d + {off}] AS DOUBLE) - c.c)
                       * (CAST(q.embedding[c.d + {off}] AS DOUBLE) - c.c)), 6)
                    AS DECIMAL(18,6)) AS dt
        FROM q3 q CROSS JOIN pqc2_{s} c
        GROUP BY q.q_id, c.cluster
    )"""
        )
    parts_sql = " UNION ALL ".join(
        f"SELECT d.q_id, a.vec_id, d.dt FROM pqfin_{s} a"
        f" JOIN dtab_{s} d ON a.cluster = d.cluster"
        for s in range(4)
    )
    return (
        _pq_cte_prefix()
        + "".join(dtabs)
        + f""",
    adc AS (
        SELECT q_id, vec_id, SUM(dt) AS dist
        FROM ({parts_sql}) GROUP BY q_id, vec_id
    ),
    rk AS (
        SELECT q_id, vec_id, dist,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY dist ASC, vec_id ASC) AS rnk
        FROM adc WHERE vec_id <> q_id
    )
    SELECT q_id, CAST(rnk AS BIGINT) AS rank_pos, vec_id,
           ROUND(CAST(dist AS DOUBLE), 6) AS adc_dist
    FROM rk WHERE rnk <= 10"""
    )


@register("emb_pq_codebook", oracle=_pq_oracle())
def emb_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training report (Jégou et al. 2011):
    the 64-dim embedding splits into 4 independent 16-dim subspaces, each
    trained to an 8-centroid codebook with the deterministic md5-seeded
    Lloyd recipe of ``similarity.ivf_index`` (2 rounds, every comparison on
    6-place-rounded values) — so the ENTIRE training run, assignments and
    all, is hash-checked against the oracle's unrolled-SQL replay.  Per
    subspace: vector count, occupied cells, and the average quantization
    MSE (the reconstruction-distortion figure a PQ deployment monitors);
    codes compress 64 floats to 4 small ints — the memory step that makes
    billion-vector ANN shippable.

    Exactness: final-assignment d2 is the same 6-rounded fold used during
    training, and the MSE numerator rides DECIMAL(18,6) so the average is
    order-independent.  Scale posture: codebooks are 8×16 doubles per
    subspace (broadcast forever); training scans are linear; at 100 TB
    train on a sample and run only the final assignment over the corpus —
    the md5-seed discipline keeps any sample deterministic.

    r7 (VERDICT r6 next-round #7): the four subspaces train JOINTLY — one
    exploded (vec_id, subspace, subvector) frame, centroids keyed by
    (subspace, cluster), so each Lloyd round is ONE assignment job and ONE
    32-row centroid collect instead of four of each (12 jobs + 8 collects
    → 4 jobs + 3 collects).  The per-subspace math — and therefore the
    hash-checked output — is bit-identical to the sequential form: the md5
    seed set does not depend on the subspace, and every d2/average is the
    same 6-rounded expression, just batched."""
    v4, cent = _pq_trained(spark, sf_dir)
    final = _pq_assign(v4, cent, keep_d2=True)
    return (
        final.groupBy("s")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.count_distinct("cluster").cast("bigint").alias("n_cells"),
            F.round(
                F.sum(F.expr("CAST(_d2 AS DECIMAL(18,6))")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_mse"),
        )
        .select(
            F.col("s").cast("bigint").alias("subspace"),
            "n_vectors",
            "n_cells",
            "avg_mse",
        )
    )


def _pq_assign(v4: DataFrame, cent: DataFrame, keep_d2: bool = False) -> DataFrame:
    """One PQ assignment pass: nearest (6-rounded d2, cluster tie-break)
    codebook cell per (vector, subspace).  ``cent`` is always a bounded
    local relation (4×8 centroids) — broadcast, never shuffled."""
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id", "s").orderBy(F.asc("_d2"), F.asc("cluster"))
    out = (
        v4.join(F.broadcast(cent), "s")
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
    )
    cols = ["vec_id", "s", "_v", "cluster"] + (["_d2"] if keep_d2 else [])
    return out.select(*cols)


def _pq_trained(spark: SparkSession, sf_dir: str):
    """Train the 4-subspace PQ codebook (2 deterministic Lloyd rounds) and
    return ``(v4, cent)``: the exploded (vec_id, subspace, subvector)
    training frame and the final centroid frame.  Both are session-memoized
    so `emb_pq_codebook` and `sim_pq_adc_topk` share ONE training run."""
    from pyspark.sql import Window

    nn = sim.non_null_vectors(load_table(spark, sf_dir, "embeddings"), "embedding")
    subs = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("s"),
                F.slice(F.col("e"), s * 16 + 1, 16).alias("_v"),
            )
            for s in range(4)
        ]
    )
    # the training frame feeds 3 assignment passes + 2 update passes
    v4 = shared_df(
        spark,
        ("pq_v4", sf_dir),
        lambda: nn.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
        .select("vec_id", F.explode(subs).alias("t"))
        .select("vec_id", F.col("t.s").alias("s"), F.col("t._v").alias("_v")),
    )

    def mat_cent(cent: DataFrame) -> DataFrame:
        # 4 subspaces × 8 clusters × 16 doubles through the driver — bounded,
        # constant in corpus size (one collect per Lloyd round, not four)
        rows = [(r["s"], r["cluster"], r["centroid"]) for r in cent.collect()]
        return spark.createDataFrame(
            rows, "s int, cluster int, centroid array<double>"
        )

    def train() -> DataFrame:
        # seed set: the 8 smallest md5(vec_id) — identical for every subspace,
        # exactly the per-subspace ivf_index seed pick (similarity.ivf_index);
        # the rank window runs on the 8-row LIMIT result, never the corpus
        seed_ids = (
            v4.select("vec_id")
            .distinct()
            .withColumn("_h", F.md5(F.col("vec_id").cast("string")))
            .orderBy("_h", "vec_id")
            .limit(8)
            .withColumn(
                "cluster", F.row_number().over(Window.orderBy("_h", "vec_id")) - 1
            )
            .select("vec_id", "cluster")
        )
        cent = mat_cent(
            v4.join(F.broadcast(seed_ids), "vec_id").select(
                "s",
                "cluster",
                F.transform("_v", lambda x: F.round(x, 6)).alias("centroid"),
            )
        )
        for _ in range(2):
            a = _pq_assign(v4, cent)
            per_dim = (
                a.select("s", "cluster", F.posexplode("_v").alias("d0", "x"))
                .groupBy("s", "cluster", "d0")
                .agg(F.round(F.avg("x"), 6).alias("c"))
            )
            updated = per_dim.groupBy("s", "cluster").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d0", "c"))),
                    lambda st: st["c"],
                ).alias("newc")
            )
            cent = mat_cent(
                cent.join(updated, ["s", "cluster"], "left").select(
                    "s", "cluster", F.coalesce("newc", "centroid").alias("centroid")
                )
            )
        return cent

    # final centroids are a 32-row LOCAL relation — memoized so every PQ
    # consumer (codebook report, ADC search) shares one training run
    cent = shared(spark, ("pq_cent_final", sf_dir), train)
    return v4, cent


@register(
    "search_ndcg_report",
    oracle=sim.COSINE_CTES
    + ",\n    cand AS ("
    + _brute_topk_select(5)
    + """),
    j AS (
        SELECT c.query_id, c.rank,
               CASE WHEN nl.label IS NOT NULL AND ql.label IS NOT NULL
                         AND nl.label = ql.label THEN 1 ELSE 0 END AS rel
        FROM cand c
        JOIN embeddings nl ON nl.vec_id = c.neighbor_id
        JOIN embeddings ql ON ql.vec_id = c.query_id
    ),
    w AS (
        SELECT query_id, rank, rel,
               SUM(rel) OVER (PARTITION BY query_id) AS n_rel
        FROM j
    ),
    terms AS (
        SELECT query_id, n_rel,
               CAST(ROUND(rel / log2(rank + 1), 9) AS DECIMAL(18,9)) AS dterm,
               CASE WHEN rank <= n_rel
                    THEN CAST(ROUND(1.0 / log2(rank + 1), 9) AS DECIMAL(18,9))
                    ELSE CAST(0 AS DECIMAL(18,9)) END AS iterm
        FROM w
    )
    SELECT query_id,
           CAST(MAX(n_rel) AS BIGINT) AS n_relevant,
           ROUND(CAST(MAX(n_rel) AS DOUBLE) / 10, 6) AS precision_at_10,
           ROUND(CASE WHEN SUM(iterm) > 0
                      THEN CAST(SUM(dterm) AS DOUBLE) / CAST(SUM(iterm) AS DOUBLE)
                      ELSE 0.0 END, 6) AS ndcg_at_10
    FROM terms GROUP BY query_id
    """,
)
def search_ndcg_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: NDCG@10 and precision@10 for the exact
    top-10 cosine results of each query vector, with relevance defined as
    label agreement between query and neighbor — the standard offline
    search-eval loop (Järvelin & Kekäläinen 2002) run relationally.  IDCG
    uses the retrieved set's relevant count (NDCG of the ranking over what
    was returned); DCG terms are quantized to 9 places and summed as exact
    decimals so the ratio is order-independent across engines.

    Scale posture: candidate generation is the broadcast-query brute-force
    scan (the documented exact baseline); everything after is
    candidate-set-sized (nq·k rows) — label joins broadcast the 50-row
    candidate frame against the corpus label column, never the reverse."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    cand = sim.topk_bruteforce(emb, query_ids_below=5, k=10)
    labels = emb.select("vec_id", "label")
    j = (
        F.broadcast(cand)
        .join(labels.withColumnRenamed("vec_id", "neighbor_id").withColumnRenamed("label", "nlabel"), "neighbor_id")
        .join(
            F.broadcast(
                labels.filter(F.col("vec_id") < 5)
                .withColumnRenamed("vec_id", "query_id")
                .withColumnRenamed("label", "qlabel")
            ),
            "query_id",
        )
        .select(
            "query_id",
            "rank",
            F.when(
                F.col("nlabel").isNotNull()
                & F.col("qlabel").isNotNull()
                & (F.col("nlabel") == F.col("qlabel")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("rel"),
        )
    )
    w = j.withColumn("n_rel", F.sum("rel").over(Window.partitionBy("query_id")))
    terms = w.select(
        "query_id",
        "n_rel",
        F.round(F.col("rel") / F.log2(F.col("rank") + 1), 9)
        .cast("decimal(18,9)")
        .alias("dterm"),
        F.when(
            F.col("rank") <= F.col("n_rel"),
            F.round(F.lit(1.0) / F.log2(F.col("rank") + 1), 9).cast("decimal(18,9)"),
        )
        .otherwise(F.lit(0).cast("decimal(18,9)"))
        .alias("iterm"),
    )
    return terms.groupBy("query_id").agg(
        F.max("n_rel").cast("bigint").alias("n_relevant"),
        F.round(F.max("n_rel").cast("double") / 10, 6).alias("precision_at_10"),
        F.round(
            F.when(
                F.sum("iterm") > 0,
                F.sum("dterm").cast("double") / F.sum("iterm").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("ndcg_at_10"),
    )


@register(
    "emb_centroid_drift_report",
    oracle="""
    WITH dims AS (
        SELECT label,
               CASE WHEN vec_id % 2 = 0 THEN 'ref' ELSE 'cur' END AS half,
               g.i AS d,
               CAST(embedding[g.i] AS DOUBLE) AS x
        FROM embeddings, generate_series(1, 64) g(i)
        WHERE embedding IS NOT NULL AND label IS NOT NULL
    ),
    cent AS (
        SELECT label, half, d, ROUND(AVG(x), 6) AS c
        FROM dims GROUP BY label, half, d
    ),
    j AS (
        SELECT r.label, r.d, r.c AS cr, u.c AS cu
        FROM cent r JOIN cent u
          ON u.label = r.label AND u.d = r.d
         AND r.half = 'ref' AND u.half = 'cur'
    ),
    agg AS (
        SELECT label,
               SUM(CAST(ROUND((cr - cu) * (cr - cu), 9) AS DECIMAL(18,9))) AS s2,
               SUM(CAST(ROUND(cr * cr, 9) AS DECIMAL(18,9))) AS r2
        FROM j GROUP BY label
    ),
    counts AS (
        SELECT label,
               CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
               CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL
        GROUP BY label
    )
    SELECT label, n_ref, n_cur,
           ROUND(sqrt(CAST(s2 AS DOUBLE)), 6) AS centroid_shift,
           ROUND(sqrt(CAST(s2 AS DOUBLE))
                 / greatest(sqrt(CAST(r2 AS DOUBLE)), 1e-12), 6) AS relative_shift
    FROM agg JOIN counts USING (label)
    """,
)
def emb_centroid_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per label, the L2 distance between the
    class centroid of the reference half (even vec_id, standing in for the
    training snapshot) and the current half (odd vec_id, standing in for
    serving traffic), absolute and relative to the reference centroid norm
    — the cheapest early-warning signal that an upstream encoder or data
    distribution changed under a deployed ANN index.  Labels present in
    only one half are omitted (no pair to compare).

    Determinism: centroids are 6-rounded per-dimension averages; the
    64-term distance rides 9-rounded DECIMAL terms so the sum is
    order-independent across engines.  Scale posture: one posexplode
    aggregation on (label, half, dim) — uniform composite keys, output is
    O(labels × dims) then O(labels); no data-sized intermediate."""
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull() & F.col("label").isNotNull())
    )
    dims = emb.select(
        "label",
        F.when(F.col("vec_id") % 2 == 0, F.lit("ref")).otherwise(F.lit("cur")).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d0", "x"),
    )
    cent = (
        dims.groupBy("label", "half", "d0")
        .agg(F.round(F.avg("x"), 6).alias("c"))
    )
    r = cent.filter(F.col("half") == "ref").select("label", "d0", F.col("c").alias("cr"))
    u = cent.filter(F.col("half") == "cur").select("label", "d0", F.col("c").alias("cu"))
    j = r.join(u, ["label", "d0"])
    agg = j.groupBy("label").agg(
        F.sum(
            F.round((F.col("cr") - F.col("cu")) * (F.col("cr") - F.col("cu")), 9).cast(
                "decimal(18,9)"
            )
        ).alias("s2"),
        F.sum(F.round(F.col("cr") * F.col("cr"), 9).cast("decimal(18,9)")).alias("r2"),
    )
    counts = emb.groupBy("label").agg(
        F.sum((F.col("vec_id") % 2 == 0).cast("int")).cast("bigint").alias("n_ref"),
        F.sum((F.col("vec_id") % 2 == 1).cast("int")).cast("bigint").alias("n_cur"),
    )
    shift = F.sqrt(F.col("s2").cast("double"))
    refnorm = F.greatest(F.sqrt(F.col("r2").cast("double")), F.lit(1e-12))
    return agg.join(counts, "label").select(
        "label",
        "n_ref",
        "n_cur",
        F.round(shift, 6).alias("centroid_shift"),
        F.round(shift / refnorm, 6).alias("relative_shift"),
    )


@register("sim_pq_adc_topk", oracle=_pq_adc_oracle())
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-10 search over the PQ codes (Jégou et
    al. 2011, the IVFADC readout): each of the 3 lowest-vec_id query
    vectors builds a 4×8 distance table against the trained subspace
    centroids, and every corpus vector's approximate distance is the SUM of
    4 table lookups keyed by its PQ code — the scan that makes
    billion-vector ANN affordable, because the corpus is touched only
    through its 4-small-int codes while the float vectors stay cold.
    Shares ONE training run with `emb_pq_codebook` via the session memo.

    Exactness: each table entry is the 6-rounded subspace distance cast to
    DECIMAL(18,6), so the 4-term ADC sum is exact integer arithmetic —
    addition-order-free and bit-identical across engines; ranking ties
    break on vec_id.

    Scale posture: the distance tables are 96 rows (broadcast); the scan
    is one equi-join of codes against them (no vector math in the hot
    loop); top-k reduces in TWO stages — a per-hash-bucket partial top-10
    (64 parallel windows, each over N/64 rows) then a final window over
    the 64×10 survivors per query — the declarative analogue of
    `similarity.topk_numpy`'s partial/final split, so no single reducer
    ever sees the full corpus."""
    from pyspark.sql import Window

    v4, cent = _pq_trained(spark, sf_dir)
    codes = _pq_assign(v4, cent).select("vec_id", "s", "cluster")
    subs = F.array(
        *[
            F.struct(
                F.lit(s).cast("int").alias("s"),
                F.slice(F.col("e"), s * 16 + 1, 16).alias("qv"),
            )
            for s in range(4)
        ]
    )
    q3 = (
        sim.non_null_vectors(load_table(spark, sf_dir, "embeddings"), "embedding")
        .orderBy("vec_id")
        .limit(3)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").cast("array<double>").alias("e"),
        )
    )
    qsub = q3.select("q_id", F.explode(subs).alias("t")).select(
        "q_id", F.col("t.s").alias("s"), F.col("t.qv").alias("qv")
    )
    dtab = qsub.join(F.broadcast(cent), "s").select(
        "q_id",
        "s",
        "cluster",
        F.round(
            F.aggregate(
                F.zip_with("qv", "centroid", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("dt"),
    )
    adc = (
        codes.join(F.broadcast(dtab), ["s", "cluster"])
        .groupBy("q_id", "vec_id")
        .agg(F.sum("dt").alias("dist"))
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    w_part = Window.partitionBy("q_id", "part").orderBy(
        F.asc("dist"), F.asc("vec_id")
    )
    w_final = Window.partitionBy("q_id").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        adc.withColumn("part", F.pmod(F.xxhash64("vec_id"), F.lit(64)))
        .withColumn("_pr", F.row_number().over(w_part))
        .filter(F.col("_pr") <= 10)
        .withColumn("rnk", F.row_number().over(w_final))
        .filter(F.col("rnk") <= 10)
        .select(
            "q_id",
            F.col("rnk").cast("bigint").alias("rank_pos"),
            "vec_id",
            F.round(F.col("dist").cast("double"), 6).alias("adc_dist"),
        )
    )


@register(
    "contrastive_pair_mining",
    oracle=f"""
    WITH lnorms AS (
        SELECT vec_id, label, embedding,
               sqrt((SELECT SUM(CAST(embedding[g.i] AS DOUBLE)
                               * CAST(embedding[g.i] AS DOUBLE))
                     FROM generate_series(1, 64) g(i))) AS nrm
        FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL
    ),
    scored AS (
        SELECT q.vec_id AS anchor_id, q.label AS anchor_label,
               n.vec_id AS cand_id,
               CASE WHEN n.label = q.label THEN 'pos' ELSE 'neg' END AS kind,
               {sim.cosine_sql()} AS sim
        FROM lnorms q JOIN lnorms n
          ON q.vec_id < 3 AND n.vec_id != q.vec_id
    ),
    rk AS (
        SELECT anchor_id, anchor_label, kind, cand_id, sim,
               ROW_NUMBER() OVER (PARTITION BY anchor_id, kind
                                  ORDER BY sim DESC, cand_id ASC) AS rnk
        FROM scored
    )
    SELECT anchor_id, CAST(anchor_label AS BIGINT) AS anchor_label, kind,
           CAST(rnk AS BIGINT) AS rank_pos, cand_id, sim
    FROM rk WHERE rnk <= 2
    """,
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining for embedding-model fine-tuning:
    for each anchor (vec_id < 3), the 2 most-similar SAME-label vectors
    (positives) and the 2 most-similar OTHER-label vectors (hard
    negatives — the highest-cosine wrong-label candidates, exactly the
    pairs InfoNCE/triplet training wants because random negatives are too
    easy to teach anything).  Output: 3 anchors × {pos, neg} × top-2 with
    the 6-rounded cosine, ready to assemble into triplets.

    Scale posture: the anchor set is a broadcast 3-row side (the vetted
    `sim_topk_bruteforce` BNLJ pattern); the corpus is scanned once and
    each pair scored by the pair kernel (``similarity.pair_cosine``);
    ranking reduces per (anchor,
    kind) — at production query counts the same partial/final split as
    `sim_pq_adc_topk` applies."""
    from pyspark.sql import Window

    nn = sim.non_null_vectors(load_table(spark, sf_dir, "embeddings"), "embedding")
    cand = nn.filter(F.col("label").isNotNull()).select("vec_id", "label", "embedding")
    anchors = cand.filter(F.col("vec_id") < 3).selectExpr(
        "vec_id AS anchor_id", "label AS anchor_label", "embedding AS qe"
    )
    pairs = (
        cand.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "anchor_label",
            F.col("vec_id").alias("cand_id"),
            F.when(F.col("label") == F.col("anchor_label"), F.lit("pos"))
            .otherwise(F.lit("neg"))
            .alias("kind"),
            "qe",
            "embedding",
        )
    )
    scored = sim.pair_cosine(pairs, "qe", "embedding").withColumn("sim", F.round("sim", 6))
    w = Window.partitionBy("anchor_id", "kind").orderBy(
        F.desc("sim"), F.asc("cand_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select(
            "anchor_id",
            F.col("anchor_label").cast("bigint").alias("anchor_label"),
            "kind",
            F.col("rnk").cast("bigint").alias("rank_pos"),
            "cand_id",
            "sim",
        )
    )


# Two-table ANN join (r8): left slice = vec_id % 17 = 3 (the "incoming
# batch"), right slice = everything else (the "index corpus").  The oracle
# replays the 6×3 sign-LSH candidate generation bit-for-bit (same
# md5-derived plane family as sim_topk_lsh), restricted to cross-slice
# pairs, then exact-reranks to top-1 — so LSH approximation can never show
# as a hash mismatch.
_ANN_JOIN_SLICES = "qb.vec_id % 17 = 3 AND nb.vec_id % 17 != 3"

_ANN_JOIN_CAND_CTES = sim.LSH_BUCKET_CTES + sim.lsh_cand_cte(_ANN_JOIN_SLICES)

# The exact cross-slice nearest neighbor each recall@1 oracle grades against
# (the SQL side of ``_ann_exact_nn``).
_EXACT_NN_SELECT = sim.top_k_sql(
    "norms q JOIN norms n ON q.vec_id % 17 = 3 AND n.vec_id % 17 != 3", 1, "query_id, neighbor_id"
)


def _ann_join_recall_oracle(cand_ctes: str, *lead: str) -> str:
    """Recall@1 oracle of an ANN join whose candidates ``cand_ctes`` build:
    the join's top-1 ``lsh`` against the exact ``brute``, with the optional
    ``lead`` columns (k_auto, n_candidates) first."""
    return (
        sim.COSINE_CTES
        + cand_ctes
        + f""",
    lsh AS ({sim.ANN_JOIN_SELECT}),
    brute AS ({_EXACT_NN_SELECT})
    {sim.recall_at_1_sql(*lead)}"""
    )


_K_AUTO = "(SELECT k FROM params) AS k_auto"
_N_CANDIDATES = "(SELECT COUNT(*) FROM cand) AS n_candidates"


@register(
    "ann_join_nearest_neighbor",
    oracle=sim.COSINE_CTES + _ANN_JOIN_CAND_CTES + sim.ANN_JOIN_SELECT,
)
def ann_join_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding record linkage (VERDICT r7 "missing" #1): join each vector
    of an incoming batch (vec_id % 17 = 3) to its nearest neighbor in the
    index corpus (all other vectors) — the one ANN shape a pipeline runs
    that no self-join/top-k query covered.  Multi-table sign-LSH candidate
    equi-join between the two slices + exact-cosine rerank; reuses the
    session-shared bucket frame built for sim_topk_lsh, so the linkage adds
    zero extra bucketing scans.

    The reference has no similarity surface at all (SURVEY.md §3); this is
    extended-brief scope (training-data pipeline: linking new crawl batches
    to an embedded index for dedup/enrichment)."""
    return sim.nn_join_lsh(
        load_table(spark, sf_dir, "embeddings"),
        left_pred=lambda c: c % 17 == 3,
        k=1,
        buckets=_topk_buckets(spark, sf_dir),
    )


@register(
    "sim_ann_join_recall_report",
    oracle=_ann_join_recall_oracle(_ANN_JOIN_CAND_CTES),
)
def sim_ann_join_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@1 of ``ann_join_nearest_neighbor`` against the exact
    cross-slice nearest neighbor — the number that certifies the linkage
    operator's LSH parameterization (6 tables × 3 planes) on this corpus,
    exactly as ``sim_lsh_recall`` certifies the self-join top-k.  The exact
    side broadcasts the small incoming-batch slice against the index (the
    allowlisted tiny-broadcast BNLJ recall pattern); the approximate side
    reuses the session-shared bucket frame (and, since r10, the
    session-shared exact-NN frame ``_ann_exact_nn``)."""
    return sim.recall_at_1(_ann_exact_nn(spark, sf_dir), ann_join_nearest_neighbor(spark, sf_dir))


@register(
    "ann_join_ivf",
    oracle=sim.COSINE_CTES
    + _ivf_ctes("e.vec_id % 17 = 3", "a.vec_id % 17 != 3", k=1)
    + "SELECT query_id, neighbor_id, sim FROM ivf",
)
def ann_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF variant of ``ann_join_nearest_neighbor`` — the LINEAR-candidates
    scale path for record linkage (SCALING.md round 8): each incoming-batch
    vector probes its 4 nearest of 16 deterministic coarse cells and reranks
    only the index vectors assigned there, so the probed corpus fraction is
    n_probe/n_centroids at ANY scale and the scale knob (centroid count,
    ~√N) lives in the index, not the query.  Shares the session-memoized
    md5-seeded Lloyd index with sim_topk_ivf; the oracle replays index
    build, probe choice, and rerank bit-for-bit."""
    return sim.nn_join_ivf(
        load_table(spark, sf_dir, "embeddings"),
        left_pred=lambda c: c % 17 == 3,
        k=1,
        index=_ivf(spark, sf_dir),
    )


# Auto-sized-k oracle: k is computed IN SQL from the index cardinality with
# the same integer rule as similarity.auto_planes_per_table (smallest k with
# 2^k ≥ ⌈n/16⌉; POWER(2,p) over integer p ≤ 40 is exact in double, so the
# comparison has no float-log boundary), then the plane family / table split
# parameterize on it via scalar subqueries (similarity.sign_lsh_bucket_ctes
# filters its fixed plane superset, k ≤ 40, to the 6·k planes in play).
def _ann_auto_k_ctes(multiprobe: bool = False, directed_probes: int = 0) -> str:
    """Auto-k bucket + candidate CTEs, optionally with a probe family on
    the query side (r10):

    * ``multiprobe`` — blind Hamming-1: qprobes = each query bucket UNION
      ALL its k single-bit flips (the flip index rides the same
      bounded-superset generate_series trick as the plane family —
      constant bound 39, filtered to i < k).  Bit-for-bit the same
      expansion as ``similarity.hamming1_probes``.
    * ``directed_probes=T`` — query-directed: only the T flips whose plane
      margin |dot| is smallest, ranked by ROW_NUMBER OVER (ORDER BY
      ROUND(ABS(dot), 6), j) — bit-for-bit the quantize+tie-break contract
      of ``similarity.lsh_bucket_tables_np(n_probes=T)``; the bit position
      within the bucket string is j % k (string_agg orders by j).

    Either way the candidate join probes qprobes against the unexpanded
    index buckets."""
    if directed_probes:
        probes = f""",
    qprobes AS (
        SELECT vec_id, tbl, bucket FROM buckets WHERE vec_id % 17 = 3
        UNION ALL
        SELECT b.vec_id, b.tbl,
               substr(b.bucket, 1, f.p) ||
               (CASE WHEN substr(b.bucket, f.p + 1, 1) = '1'
                     THEN '0' ELSE '1' END) ||
               substr(b.bucket, f.p + 2) AS bucket
        FROM buckets b
        JOIN (
            SELECT vec_id, j // (SELECT k FROM params) AS tbl,
                   CAST(j % (SELECT k FROM params) AS INT) AS p,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id, j // (SELECT k FROM params)
                       ORDER BY ROUND(ABS(dot), 6), j) AS rnk
            FROM dots
        ) f ON f.vec_id = b.vec_id AND f.tbl = b.tbl
        WHERE b.vec_id % 17 = 3 AND f.rnk <= {directed_probes}
    )"""
    elif multiprobe:
        probes = """,
    qprobes AS (
        SELECT vec_id, tbl, bucket FROM buckets WHERE vec_id % 17 = 3
        UNION ALL
        SELECT b.vec_id, b.tbl,
               substr(b.bucket, 1, f.i) ||
               (CASE WHEN substr(b.bucket, f.i + 1, 1) = '1'
                     THEN '0' ELSE '1' END) ||
               substr(b.bucket, f.i + 2) AS bucket
        FROM buckets b, generate_series(0, 39) f(i)
        WHERE b.vec_id % 17 = 3 AND f.i < (SELECT k FROM params)
    )"""
    else:
        probes = ""
    return (
        """,
    params AS MATERIALIZED (
        SELECT GREATEST(1, (SELECT MIN(p.p) FROM generate_series(0, 40) p(p)
                            WHERE POWER(2, p.p) >= CEIL(c.cnt / 16.0))) AS k
        FROM (SELECT COUNT(*) AS cnt FROM norms
              WHERE vec_id % 17 != 3 AND embedding IS NOT NULL) c
    )"""
        + sim.sign_lsh_bucket_ctes(
            f"(SELECT {sim.N_TABLES} * k FROM params)", "(SELECT k FROM params)"
        )
        + probes
        + sim.lsh_cand_cte(_ANN_JOIN_SLICES, "qprobes" if probes else "buckets")
    )


_ANN_AUTO_K_CTES = _ann_auto_k_ctes(multiprobe=False)
_ANN_AUTO_K_MP_CTES = _ann_auto_k_ctes(multiprobe=True)
_ANN_AUTO_K_DP_CTES = _ann_auto_k_ctes(directed_probes=2)


@register("ann_join_auto_k", oracle=sim.COSINE_CTES + _ANN_AUTO_K_CTES + sim.ANN_JOIN_SELECT)
def ann_join_auto_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_join_nearest_neighbor`` with the LSH width AUTO-SIZED from the
    corpus (r9, VERDICT r8 next-round #8): k = smallest integer with
    2^k ≥ ⌈|R|/16⌉ planes per table (``similarity.auto_planes_per_table``),
    computed at plan-build time from one index-slice count — the documented
    "grow k with log₂(|R|/B)" scale rule as code instead of prose.
    Expected bucket occupancy then stays ≈ 16 at every corpus size, so
    per-query candidate volume is FLAT across decades (SCALING.md r9 table)
    instead of the Θ(|R|/2^k) growth the fixed-k join admits.

    Registered as a SIBLING of the fixed-6×3 join, which stays untouched so
    its recall@1 numbers (``sim_ann_join_recall_report``) remain comparable
    round over round; the auto-k variant trades recall for bounded
    candidates on this adversarially-uniform fixture (production clustered
    embeddings tolerate the same k far better — see ``nn_join_lsh``).  The
    oracle recomputes the identical k in SQL (integer rule, no float-log
    boundary) and replays bucketing + rerank bit-for-bit, so re-sizing can
    never break correctness.

    One bounded collect: the 1-value index count (plan-build input, like
    the IVF centroid count; session-shared since r10 — ``_auto_k``)."""
    return sim.nn_join_lsh(
        load_table(spark, sf_dir, "embeddings"),
        left_pred=lambda c: c % 17 == 3,
        k=1,
        buckets=_auto_k_buckets(spark, sf_dir),
    )


def _k_auto_col(spark: SparkSession, sf_dir: str) -> Column:
    return F.lit(_auto_k(spark, sf_dir)).cast("bigint").alias("k_auto")


@register("sim_auto_k_recall_report", oracle=_ann_join_recall_oracle(_ANN_AUTO_K_CTES, _K_AUTO))
def sim_auto_k_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@1 of ``ann_join_auto_k`` against the exact
    cross-slice nearest neighbor, plus the k the auto-sizer picked — the
    number that makes the auto-k/fixed-k tradeoff COMPARABLE round over
    round next to ``sim_ann_join_recall_report`` (fixed 6×3): the driver's
    correctness history then tracks both ends of the candidates-vs-recall
    frontier as the fixture is regenerated.  Exact side = the allowlisted
    tiny-broadcast BNLJ recall pattern (session-shared ``_ann_exact_nn``
    since r10); approximate side reuses the session-shared auto-k
    buckets."""
    return sim.recall_at_1(
        _ann_exact_nn(spark, sf_dir), ann_join_auto_k(spark, sf_dir), _k_auto_col(spark, sf_dir)
    )


@register(
    "ann_join_auto_k_multiprobe",
    oracle=sim.COSINE_CTES + _ANN_AUTO_K_MP_CTES + sim.ANN_JOIN_SELECT,
)
def ann_join_auto_k_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_join_auto_k`` + Hamming-1 multiprobe (r10, VERDICT r9
    next-round #2 — the one open end on the ANN frontier): each query
    probes its own bucket PLUS its k single-bit flips in every table
    (``similarity.hamming1_probes``), recovering the recall that auto-k's
    occupancy-16 sizing costs on this adversarially-uniform fixture while
    the candidate bound grows only by the (1+k) probe factor — i.e. BOTH
    sides of the candidates-vs-recall frontier now hold across decades:
    candidates stay Θ(L·k·B) = O(log corpus) per query, recall recovers
    toward the fixed-6×3 join's level (measured per decade in SCALING.md
    r10, next to the plain auto-k rows).

    The probe expansion is per-row string codegen on the (tiny) query
    slice only — the index side stays unexpanded, so index scan cost and
    bucket-frame reuse are identical to the plain auto-k join; the
    candidate equi-join shape is unchanged.  The oracle unrolls the same
    flip family via a bounded generate_series filtered to i < k, with k
    recomputed in SQL from the index count (same integer rule — re-sizing
    can never break correctness).

    One bounded collect: the 1-value index count (plan-build input;
    session-shared since r10, as is the persisted bucket frame)."""
    return sim.nn_join_lsh(
        load_table(spark, sf_dir, "embeddings"),
        left_pred=lambda c: c % 17 == 3,
        k=1,
        buckets=_auto_k_buckets(spark, sf_dir),
        probe_hamming1=_auto_k(spark, sf_dir),
    )


@register(
    "ann_join_query_directed_probe",
    oracle=sim.COSINE_CTES + _ANN_AUTO_K_DP_CTES + sim.ANN_JOIN_SELECT,
)
def ann_join_query_directed_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-DIRECTED multiprobe ANN join (r10, Lv et al. VLDB 2007 §4 —
    the production refinement of blind Hamming-1): per table, each query
    probes its home bucket plus only the T=2 flips whose plane margin
    |dot| is smallest (the planes it nearly crossed — where a true
    neighbor most likely hides).  The probe BUDGET is now fixed at T
    regardless of k, so per-query candidates are Θ(L·T·B) — constant
    across decades even as auto-k grows k logarithmically, vs blind
    multiprobe's (1+k) factor.  Measured next to the blind sibling in
    SCALING.md r10: ~3/(1+k) of the candidates at comparable
    recall-per-probe.

    Cross-engine determinism: margins quantize to 6 places before the
    probe ranking and ties break on plane index
    (``similarity.lsh_bucket_tables_np``); the oracle replays the
    identical choice with ROW_NUMBER() OVER (ORDER BY ROUND(ABS(dot), 6),
    j), so the probe family — like every ranking in this package — is
    bit-replayable, not approximately-compared.

    One bounded collect: the 1-value index count (plan-build input;
    session-shared since r10, as are the bucket and probe frames)."""
    return sim.nn_join_lsh(
        load_table(spark, sf_dir, "embeddings"),
        left_pred=lambda c: c % 17 == 3,
        k=1,
        buckets=_auto_k_buckets(spark, sf_dir),
        query_probes=_directed_probes(spark, sf_dir),
    )


def _probe_recall_report(
    spark: SparkSession, sf_dir: str, qprobes: DataFrame, linked: DataFrame
) -> DataFrame:
    """(k_auto, n_candidates, recall@1 columns) of an auto-k probe join:
    n_candidates is the distinct (query, neighbor) pair count the join
    reranks — ``qprobes`` through the same ``similarity.lsh_candidates``
    equi-join ``nn_join_lsh`` runs — the cost axis the probe family is
    supposed to bound."""
    index = _auto_k_buckets(spark, sf_dir).filter(F.col("vec_id") % 17 != 3)
    n_cand = sim.lsh_candidates(qprobes, index).groupBy().count().select(F.col("count").alias("_nc"))
    return (
        sim.recall_at_1(_ann_exact_nn(spark, sf_dir), linked, _k_auto_col(spark, sf_dir))
        .crossJoin(F.broadcast(n_cand))
        .select(
            "k_auto",
            F.col("_nc").cast("bigint").alias("n_candidates"),
            "n_queries",
            "n_linked",
            "n_correct",
            "recall_at_1",
        )
    )


@register(
    "sim_directed_probe_recall_report",
    oracle=_ann_join_recall_oracle(_ANN_AUTO_K_DP_CTES, _K_AUTO, _N_CANDIDATES),
)
def sim_directed_probe_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@1 + distinct candidate count of
    ``ann_join_query_directed_probe`` — the third point on the
    probe-frontier the driver tracks every round (home-bucket auto-k /
    blind Hamming-1 / directed T=2), making the candidates-vs-recall
    curve a measured series instead of a design claim.  Exact side = the
    allowlisted tiny-broadcast BNLJ recall pattern; approximate side
    rebuilds the auto-k buckets + the directed probe family (session-shared
    persisted frames since r10, as is the exact side ``_ann_exact_nn``)."""
    return _probe_recall_report(
        spark,
        sf_dir,
        _directed_probes(spark, sf_dir),
        ann_join_query_directed_probe(spark, sf_dir),
    )


@register(
    "sim_multiprobe_recall_report",
    oracle=_ann_join_recall_oracle(_ANN_AUTO_K_MP_CTES, _K_AUTO, _N_CANDIDATES),
)
def sim_multiprobe_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@1 AND total candidate count of
    ``ann_join_auto_k_multiprobe`` against the exact cross-slice nearest
    neighbor — the report that certifies multiprobe holds BOTH frontier
    axes at once: read next to ``sim_auto_k_recall_report`` (same k, no
    probes) and ``sim_ann_join_recall_report`` (fixed 6×3), the driver's
    correctness history now tracks recall and candidate volume for all
    three parameterizations every time the fixture regenerates.
    Exact side = the allowlisted tiny-broadcast BNLJ recall pattern
    (session-shared ``_ann_exact_nn`` since r10, as is the persisted
    bucket frame)."""
    qprobes = sim.hamming1_probes(
        _auto_k_buckets(spark, sf_dir).filter(F.col("vec_id") % 17 == 3), _auto_k(spark, sf_dir)
    )
    return _probe_recall_report(spark, sf_dir, qprobes, ann_join_auto_k_multiprobe(spark, sf_dir))


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): semantic dedup scoped BY CLUSTER — k-means
# partitions the corpus, near-duplicate pairs are searched only within each
# cluster, and of every duplicate pair the member MORE similar to its
# centroid is dropped (keep the outlier: it carries more marginal
# information).  The pairwise step is an equi-join on cluster id, so the
# quadratic term is bounded by the largest cluster, never the corpus —
# at 100 TB n_centroids grows with the corpus (SemDeDup uses ~sqrt(N)
# clusters) so cluster sizes, and with them the per-cluster pair counts,
# stay constant; the fixture replay pins n_centroids=16 because the oracle
# must rebuild the identical index.
def _semdedup_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Session-shared persisted ``(csim, duppairs)`` for the SemDeDup pair
    (r10, guide §2.4/§4.2).  The report consumes csim 3× and duppairs 2×,
    and the survivors query re-derives both; persisting the two narrow
    frames scores each cosine once per session and lets the survivors query
    reuse the report's work.  Both cosines (row to centroid, row to row in
    a cluster) are the pair kernel ``similarity.pair_cosine``."""

    def build() -> tuple[DataFrame, DataFrame]:
        from pyspark.storagelevel import StorageLevel

        assigned, cent = _ivf(spark, sf_dir)
        csim = (
            sim.pair_cosine(
                assigned.join(F.broadcast(cent), "cluster").select(
                    "vec_id", "cluster", "embedding", "centroid"
                ),
                "embedding",
                "centroid",
                "cent_sim",
            )
            .withColumn("cent_sim", F.round("cent_sim", 6))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        a = assigned.select("cluster", F.col("vec_id").alias("va"), F.col("embedding").alias("_av"))
        b = assigned.select("cluster", F.col("vec_id").alias("vb"), F.col("embedding").alias("_bv"))
        duppairs = (
            sim.pair_cosine(a.join(b, "cluster").filter(F.col("va") < F.col("vb")), "_av", "_bv")
            .withColumn("sim", F.round("sim", 6))
            .filter(F.col("sim") >= 0.4)
            .select("cluster", "va", "vb")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        return csim, duppairs

    return shared(spark, ("semdedup_frames", sf_dir), build)


@register(
    "dedup_semdedup_report",
    oracle=sim.COSINE_CTES
    + _ivf_ctes("e.vec_id < 5")
    + """,
    centn AS (
        SELECT cluster, sqrt(SUM(c * c)) AS cnrm FROM ivfc2 GROUP BY cluster
    ),
    csim AS (
        SELECT a.vec_id, a.cluster,
               ROUND(SUM(CAST(n.embedding[c.d] AS DOUBLE) * c.c)
                     / (n.nrm * cn.cnrm), 6) AS cent_sim
        FROM ivfafin a
        JOIN norms n ON n.vec_id = a.vec_id AND n.embedding IS NOT NULL
        JOIN ivfc2 c ON c.cluster = a.cluster
        JOIN centn cn ON cn.cluster = a.cluster
        GROUP BY a.vec_id, a.cluster, n.nrm, cn.cnrm
    ),
    duppairs AS (
        SELECT a.cluster, a.vec_id AS va, b.vec_id AS vb
        FROM ivfafin a
        JOIN ivfafin b ON b.cluster = a.cluster AND a.vec_id < b.vec_id
        JOIN norms na ON na.vec_id = a.vec_id AND na.embedding IS NOT NULL
        JOIN norms nb ON nb.vec_id = b.vec_id AND nb.embedding IS NOT NULL
        WHERE ROUND((SELECT SUM(CAST(na.embedding[g.i] AS DOUBLE)
                                * CAST(nb.embedding[g.i] AS DOUBLE))
                     FROM generate_series(1, 64) g(i))
                    / (na.nrm * nb.nrm), 6) >= 0.4
    ),
    losers AS (
        SELECT DISTINCT p.cluster,
               CASE WHEN ca.cent_sim > cb.cent_sim
                         OR (ca.cent_sim = cb.cent_sim AND p.va > p.vb)
                    THEN p.va ELSE p.vb END AS dropped_id
        FROM duppairs p
        JOIN csim ca ON ca.vec_id = p.va
        JOIN csim cb ON cb.vec_id = p.vb
    ),
    perpair AS (
        SELECT cluster, COUNT(*) AS n_dup_pairs FROM duppairs GROUP BY cluster
    ),
    perdrop AS (
        SELECT cluster, COUNT(*) AS n_dropped FROM losers GROUP BY cluster
    )
    SELECT CAST(m.cluster AS BIGINT) AS cluster,
           COUNT(*) AS n_members,
           CAST(COALESCE(MAX(pp.n_dup_pairs), 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(MAX(pd.n_dropped), 0) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - COALESCE(MAX(pd.n_dropped), 0) AS BIGINT) AS n_kept,
           ROUND(COALESCE(MAX(pd.n_dropped), 0)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS drop_frac
    FROM csim m
    LEFT JOIN perpair pp ON pp.cluster = m.cluster
    LEFT JOIN perdrop pd ON pd.cluster = m.cluster
    GROUP BY m.cluster
    """,
)
def dedup_semdedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) per-cluster pruning report: the
    embedding corpus is partitioned by the deterministic 16-cell IVF
    k-means (`similarity.ivf_index` — md5-seeded Lloyd, every comparison
    6-place-rounded so DuckDB rebuilds the identical index), duplicate
    pairs are pairs WITHIN a cluster at cosine >= 0.4, and each pair drops
    the member MORE similar to its cluster centroid (the redundant one;
    ties break on the larger vec_id) — keep-the-outlier, the paper's
    keep rule.  Output: one row per cluster with member/pair/drop/keep
    counts and the drop fraction.

    Differs from `dedup_embedding_cosine` (the global sign-LSH pair list)
    exactly as SemDeDup differs from pairwise near-dedup: the cluster
    scope makes the quadratic term a per-cluster quantity, and the
    centroid-similarity keep rule is a semantic survivorship policy
    rather than a pair list.

    Scale posture: the pairwise step is an equi-join on cluster id — at
    100 TB grow n_centroids ~ sqrt(N) (the paper's setting) so cluster
    sizes are bounded and per-cluster pair work is constant; centroids
    stay broadcastable; the rest is two bounded aggregates.  One bounded
    collect: the 16 x 64 centroid table (`ivf_index`'s documented
    footprint).  Reference provenance: none — the reference has no vector
    surface (SURVEY.md §2.2); extended-brief scope.  csim/duppairs are
    session-shared persisted frames since r10 (``_semdedup_frames``)."""
    csim, duppairs = _semdedup_frames(spark, sf_dir)
    ca = csim.select(F.col("vec_id").alias("va"), F.col("cent_sim").alias("_ca"))
    cb = csim.select(F.col("vec_id").alias("vb"), F.col("cent_sim").alias("_cb"))
    losers = (
        duppairs.join(ca, "va")
        .join(cb, "vb")
        .select(
            "cluster",
            F.when(
                (F.col("_ca") > F.col("_cb"))
                | ((F.col("_ca") == F.col("_cb")) & (F.col("va") > F.col("vb"))),
                F.col("va"),
            )
            .otherwise(F.col("vb"))
            .alias("dropped_id"),
        )
        .distinct()
    )
    perpair = duppairs.groupBy("cluster").agg(F.count("*").alias("n_dup_pairs"))
    perdrop = losers.groupBy("cluster").agg(F.count("*").alias("n_dropped"))
    members = csim.groupBy("cluster").agg(F.count("*").alias("n_members"))
    return (
        members.join(perpair, "cluster", "left")
        .join(perdrop, "cluster", "left")
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "n_members",
            F.coalesce("n_dup_pairs", F.lit(0)).cast("bigint").alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
            (F.col("n_members") - F.coalesce("n_dropped", F.lit(0)))
            .cast("bigint")
            .alias("n_kept"),
            F.round(
                F.coalesce("n_dropped", F.lit(0))
                / F.col("n_members").cast("double"),
                6,
            ).alias("drop_frac"),
        )
    )


@register(
    "dedup_semdedup_survivors",
    oracle=sim.COSINE_CTES
    + _ivf_ctes("e.vec_id < 5")
    + """,
    centn AS (
        SELECT cluster, sqrt(SUM(c * c)) AS cnrm FROM ivfc2 GROUP BY cluster
    ),
    csim AS (
        SELECT a.vec_id, a.cluster,
               ROUND(SUM(CAST(n.embedding[c.d] AS DOUBLE) * c.c)
                     / (n.nrm * cn.cnrm), 6) AS cent_sim
        FROM ivfafin a
        JOIN norms n ON n.vec_id = a.vec_id AND n.embedding IS NOT NULL
        JOIN ivfc2 c ON c.cluster = a.cluster
        JOIN centn cn ON cn.cluster = a.cluster
        GROUP BY a.vec_id, a.cluster, n.nrm, cn.cnrm
    ),
    duppairs AS (
        SELECT a.cluster, a.vec_id AS va, b.vec_id AS vb
        FROM ivfafin a
        JOIN ivfafin b ON b.cluster = a.cluster AND a.vec_id < b.vec_id
        JOIN norms na ON na.vec_id = a.vec_id AND na.embedding IS NOT NULL
        JOIN norms nb ON nb.vec_id = b.vec_id AND nb.embedding IS NOT NULL
        WHERE ROUND((SELECT SUM(CAST(na.embedding[g.i] AS DOUBLE)
                                * CAST(nb.embedding[g.i] AS DOUBLE))
                     FROM generate_series(1, 64) g(i))
                    / (na.nrm * nb.nrm), 6) >= 0.4
    ),
    losers AS (
        SELECT DISTINCT
               CASE WHEN ca.cent_sim > cb.cent_sim
                         OR (ca.cent_sim = cb.cent_sim AND p.va > p.vb)
                    THEN p.va ELSE p.vb END AS dropped_id
        FROM duppairs p
        JOIN csim ca ON ca.vec_id = p.va
        JOIN csim cb ON cb.vec_id = p.vb
    )
    SELECT m.vec_id, CAST(m.cluster AS BIGINT) AS cluster, m.cent_sim
    FROM csim m
    WHERE m.vec_id NOT IN (SELECT dropped_id FROM losers)
    """,
)
def dedup_semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONSUMABLE form of ``dedup_semdedup_report``: the actual keep
    list — every vector that survives SemDeDup's cluster-scoped
    keep-the-outlier rule, with its cluster and (rounded)
    centroid-similarity.  The report certifies the accounting; this query
    hash-checks the row-level survivor SET itself, so a pipeline
    consuming the dedup (the way `pack_windows_content_readback` consumes
    the packing) is verified against the oracle id-for-id.

    Same plan skeleton as the report (broadcast 16-row centroid assign,
    cluster-id equi-join pairwise, distinct losers) closed with a
    left-anti join — survivors = members minus losers, no new shuffle
    shape.  Scale posture identical to the report's (docstring there).
    csim/duppairs are session-shared persisted frames since r10
    (``_semdedup_frames``)."""
    csim, duppairs = _semdedup_frames(spark, sf_dir)
    ca = csim.select(F.col("vec_id").alias("va"), F.col("cent_sim").alias("_ca"))
    cb = csim.select(F.col("vec_id").alias("vb"), F.col("cent_sim").alias("_cb"))
    losers = (
        duppairs.join(ca, "va")
        .join(cb, "vb")
        .select(
            F.when(
                (F.col("_ca") > F.col("_cb"))
                | ((F.col("_ca") == F.col("_cb")) & (F.col("va") > F.col("vb"))),
                F.col("va"),
            )
            .otherwise(F.col("vb"))
            .alias("dropped_id"),
        )
        .distinct()
    )
    return csim.join(
        losers, csim["vec_id"] == losers["dropped_id"], "left_anti"
    ).select("vec_id", F.col("cluster").cast("bigint").alias("cluster"), "cent_sim")
