"""Registered dedup queries with DuckDB oracles (SURVEY.md §7 M4).

Every strategy except the embedding one (see queries_similarity.py) is
hash-matched against an oracle computing the identical md5-derived
construction — the strongest correctness statement available for LSH-style
operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_in_docker_rpyc_spark.operators import dedup as dd
from distributed_mapreduce_in_docker_rpyc_spark.operators import similarity as sim
from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import shared_df
from distributed_mapreduce_in_docker_rpyc_spark.registry import register
from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared persisted distinct-shingle frame: minhash-LSH, exact
    Jaccard, and clustering all start from it; one scan→tokenize→shingle
    pipeline per session instead of one per query (and per consumer — Spark
    has no cross-DAG subplan reuse)."""
    return shared_df(
        spark,
        ("shingles", sf_dir),
        lambda: dd._distinct_shingles(load_table(spark, sf_dir, "documents"), "text", "doc_id"),
    )


def _simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared persisted simhash fingerprint frame (the fingerprint
    query, band join sides, and rerank all consume it)."""
    return shared_df(
        spark,
        ("simhash_fp", sf_dir),
        lambda: dd.simhash_fingerprint(load_table(spark, sf_dir, "documents")),
    )

# Shared oracle CTEs: tokens → shingles → distinct shingles (mirrors
# dedup.shingles_column semantics exactly, incl. the ≥1-shingle guard).
_SHINGLE_CTES = """
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS t
        FROM documents
    ),
    shidx AS (
        SELECT doc_id, t,
               unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
        FROM toks
    ),
    sh AS (
        SELECT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM shidx
    ),
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh)
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: sha2-256 hash-groupBy, deterministic keeper."""
    return dd.exact_dedup(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_minhash_lsh",
    oracle=_SHINGLE_CTES
    + """,
    mh AS (
        SELECT shd.doc_id, g.seed,
               MIN(md5(g.seed::VARCHAR || ':' || shd.shingle)) AS h
        FROM shd, generate_series(0, 15) g(seed)
        GROUP BY shd.doc_id, g.seed
    ),
    bands AS (
        SELECT doc_id, seed // 4 AS band,
               md5(string_agg(h, ',' ORDER BY seed)) AS sig
        FROM mh GROUP BY doc_id, seed // 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shd GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN shd x ON x.doc_id = c.doc_a
        JOIN shd y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i.n_inter) >= 0.5
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup: 16 md5-minhashes over 3-shingles, 4×4 banding,
    bucket self-join, exact-Jaccard verification at 0.5.

    Signature computation is per-row array math (no shuffle, codegen'd); the
    oracle reproduces the identical signatures in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    # One persisted shingle frame feeds signatures, sizes, and both sides of
    # the intersection join — without it Spark re-runs the scan→shingle
    # pipeline 12× (no cross-DAG subplan reuse). ~250 KB/doc-MB cached;
    # evictable (MEMORY_AND_DISK via persist default) so safe at scale.
    shd = _shingles(spark, sf_dir)
    cand = dd.minhash_lsh_candidates(docs, shingles=shd)
    return dd.jaccard_pairs(docs, candidates=cand, threshold=0.5, shingles=shd)


@register(
    "dedup_ngram_jaccard",
    oracle=_SHINGLE_CTES
    + """,
    dfc AS (SELECT shingle, COUNT(*) AS c FROM shd GROUP BY shingle),
    shc AS (SELECT s.doc_id, s.shingle FROM shd s JOIN dfc ON dfc.shingle = s.shingle
            WHERE dfc.c <= 50),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shc GROUP BY doc_id),
    inter AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM shc x JOIN shc y ON y.shingle = x.shingle AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i.n_inter) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i.n_inter) >= 0.3
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-shingle) Jaccard pairs ≥ 0.3 over DF-capped shingle
    sets (stop-shingles with document frequency > 50 dropped from both
    sides and the oracle).  The cap bounds the shared-shingle equi-join's
    per-key fan-out at 50² pairs — without it one hot shingle is quadratic
    in corpus size; tests assert the capped frame's max fan-out.  Pair
    space pruned by the equi-join — never a cross join."""
    docs = load_table(spark, sf_dir, "documents")
    shd = _shingles(spark, sf_dir)
    return dd.jaccard_pairs(docs, threshold=0.3, shingles=shd, max_df=50)


# Sign-LSH candidate CTEs replicating semantic_pairs_lsh's 16×3 buckets
# (similarity.sign_lsh_bucket_ctes) over a `norms` CTE; candidate pairs =
# ids sharing a (table, bucket) cell in any table.  Shared with
# sim_cosine_pairs (queries_similarity).
_DEDUP_BUCKET_CTES = sim.sign_lsh_bucket_ctes(
    sim.DEDUP_N_TABLES * sim.DEDUP_PLANES_PER_TABLE, sim.DEDUP_PLANES_PER_TABLE
) + """,
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM buckets a
        JOIN buckets b ON b.tbl = a.tbl AND b.bucket = a.bucket
                       AND a.vec_id < b.vec_id
    )
"""


@register(
    "dedup_embedding_cosine",
    oracle=sim.COSINE_CTES
    + _DEDUP_BUCKET_CTES
    + f""",
    pairs AS (
        SELECT c.vec_a AS doc_a, c.vec_b AS doc_b, {sim.cosine_sql("a", "b")} AS sim
        FROM cand c
        JOIN norms a ON a.vec_id = c.vec_a
        JOIN norms b ON b.vec_id = c.vec_b
    )
    SELECT p.doc_a, p.doc_b, p.sim,
           da.source AS source_a, db.source AS source_b
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    WHERE p.sim >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup on documents: semantic duplicate pairs
    (cosine ≥ 0.4 over the aligned embeddings table), annotated with each
    side's source — the semantic-dedup stage of a training-data pipeline.

    Candidates come from the 16×3 sign-LSH bucket equi-join
    (similarity.semantic_pairs_lsh) — never an all-pairs nested-loop join;
    the oracle replicates the bucketing bit-for-bit, and tests assert
    recall=1.0 vs the exact pair set on the fixture.  The document joins
    broadcast (dim-sized) onto the pruned pair set."""
    from pyspark.sql import functions as F

    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_similarity import semantic_pairs

    pairs = semantic_pairs(spark, sf_dir, 0.4)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        pairs.withColumnRenamed("vec_a", "doc_a")
        .withColumnRenamed("vec_b", "doc_b")
        .join(F.broadcast(docs).withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "source_a"), "doc_a")
        .join(F.broadcast(docs).withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "source_b"), "doc_b")
        .select("doc_a", "doc_b", "sim", "source_a", "source_b")
    )


_HEX = "0123456789abcdef"

_SIMHASH_CTES = f"""
    WITH counts AS (
        SELECT doc_id, word, COUNT(*) AS c, md5(word) AS h
        FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z'']+')) AS word
              FROM documents)
        GROUP BY doc_id, word
    ),
    pos AS (
        SELECT doc_id, c,
               k.k AS k,
               strpos('{_HEX}', substr(h, k.k + 1, 1)) - 1 AS digit
        FROM counts, generate_series(0, 15) k(k)
    ),
    votes AS (
        SELECT doc_id, k, b.b AS b,
               SUM(((digit // (1 << b.b)) % 2 * 2 - 1) * c) AS s
        FROM pos, generate_series(0, 3) b(b)
        GROUP BY doc_id, k, b.b
    ),
    nibbles AS (
        SELECT doc_id, k,
               SUM(CASE WHEN s > 0 THEN (1 << b) ELSE 0 END) AS nibble
        FROM votes GROUP BY doc_id, k
    ),
    fp AS (
        SELECT doc_id,
               string_agg(substr('{_HEX}', CAST(nibble + 1 AS INTEGER), 1), '' ORDER BY k) AS simhash
        FROM nibbles GROUP BY doc_id
    )
"""


@register(
    "dedup_simhash",
    oracle=_SIMHASH_CTES + "SELECT doc_id, simhash FROM fp",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit simhash fingerprint per document (portable md5-bit-vote
    construction — see dedup.simhash_fingerprint)."""
    return _simhash_fp(spark, sf_dir)


@register(
    "dedup_simhash_pairs",
    oracle=_SIMHASH_CTES
    + f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, ham.hamming
    FROM fp a
    JOIN fp b ON a.doc_id < b.doc_id,
    LATERAL (
        SELECT CAST(SUM(bit_count(CAST(xor(
                   strpos('{_HEX}', substr(a.simhash, g.k, 1)) - 1,
                   strpos('{_HEX}', substr(b.simhash, g.k, 1)) - 1
               ) AS BIGINT))) AS BIGINT) AS hamming
        FROM generate_series(1, 16) g(k)
    ) ham
    WHERE ham.hamming <= 14
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance over the 64-bit fingerprints
    ≤ 14 (loose threshold so the small fixture yields rows).

    EXACT via band equi-join (no nested-loop all-pairs): the 16 hex digits
    are 16 bands of 4 bits; ≤14 differing bits touch ≤14 bands, so every
    qualifying pair agrees on ≥2 whole bands (pigeonhole) and is caught by
    the (position, digit) self-join — recall 1 by construction, which is why
    the oracle can stay the plain all-pairs formulation. At production
    thresholds (hamming ≤ 3-4) the same join prunes to near-identical docs
    only. Fingerprints are persisted: they feed both band sides + rerank."""
    from pyspark.sql import functions as F

    fp = _simhash_fp(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        F.posexplode(F.split("simhash", "(?!$)")).alias("k", "ch"),
    ).filter(F.col("ch") != "")
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.k") == F.col("y.k"))
            & (F.col("x.ch") == F.col("y.ch"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = cand.join(
        fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a")), "doc_a"
    ).join(fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b")), "doc_b")
    ham = sum(
        F.bit_count(
            F.expr(f"locate(substr(sh_a, {k}, 1), '{_HEX}') - 1").bitwiseXOR(
                F.expr(f"locate(substr(sh_b, {k}, 1), '{_HEX}') - 1")
            )
        )
        for k in range(1, 17)
    )
    return pairs.withColumn("hamming", ham.cast("bigint")).filter(
        F.col("hamming") <= 14
    ).select("doc_a", "doc_b", "hamming")


@register(
    "dedup_keep_first",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM (
        SELECT d.*,
               ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        FROM documents d
    )
    WHERE rn = 1
    """,
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialization form of exact dedup: return the surviving ROWS
    (smallest doc_id per content hash), i.e. the cleaned corpus a pipeline
    writes back out — vs dedup_exact's per-hash summary. One shuffle on the
    uniform content hash; the text column is dropped before the window so
    only (hash, metadata) moves."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "dedup_clusters",
    oracle=_SHINGLE_CTES.replace("WITH", "WITH RECURSIVE", 1)
    + """,
    mh AS (
        SELECT shd.doc_id, g.seed,
               MIN(md5(g.seed::VARCHAR || ':' || shd.shingle)) AS h
        FROM shd, generate_series(0, 15) g(seed)
        GROUP BY shd.doc_id, g.seed
    ),
    bands AS (
        SELECT doc_id, seed // 4 AS band,
               md5(string_agg(h, ',' ORDER BY seed)) AS sig
        FROM mh GROUP BY doc_id, seed // 4
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shd GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN shd x ON x.doc_id = c.doc_a
        JOIN shd y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    ),
    near AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i.n_inter) >= 0.5
    ),
    exact AS (
        SELECT d1.doc_id AS doc_a, d2.doc_id AS doc_b
        FROM documents d1 JOIN documents d2
          ON sha256(d1.text) = sha256(d2.text) AND d1.doc_id < d2.doc_id
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM near
        UNION SELECT doc_b, doc_a FROM near
        UNION SELECT doc_a, doc_b FROM exact
        UNION SELECT doc_b, doc_a FROM exact
    ),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON e.a = r.b
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: connected components over the union of the
    exact-duplicate graph and the LSH near-dup graph (Jaccard ≥ 0.5) —
    cluster id = smallest reachable doc_id, singletons keep their own id.
    This is the iterative (Pregel-style) operator relational algebra can't
    do in one pass; the oracle reproduces it with a recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    shd = _shingles(spark, sf_dir)
    cand = dd.minhash_lsh_candidates(docs, shingles=shd)
    near = dd.jaccard_pairs(docs, candidates=cand, threshold=0.5, shingles=shd).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    hashed = docs.select("doc_id", F.sha2("text", 256).alias("h"))
    exact = (
        hashed.alias("d1")
        .join(hashed.alias("d2"), (F.col("d1.h") == F.col("d2.h")) & (F.col("d1.doc_id") < F.col("d2.doc_id")))
        .select(F.col("d1.doc_id").alias("src"), F.col("d2.doc_id").alias("dst"))
    )
    labels = dd.connected_components(docs, near.unionAll(exact).persist())
    return labels.select("doc_id", F.col("cluster").alias("cluster_id"))


@register(
    "dedup_incremental",
    oracle=_SHINGLE_CTES
    + """,
    mh AS (
        SELECT shd.doc_id, g.seed,
               MIN(md5(g.seed::VARCHAR || ':' || shd.shingle)) AS h
        FROM shd, generate_series(0, 15) g(seed)
        GROUP BY shd.doc_id, g.seed
    ),
    bands AS (
        SELECT doc_id, seed // 4 AS band,
               md5(string_agg(h, ',' ORDER BY seed)) AS sig
        FROM mh GROUP BY doc_id, seed // 4
    ),
    cand AS (
        SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
                        GREATEST(a.doc_id, b.doc_id) AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id % 5 = 4 AND b.doc_id % 5 <> 4
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shd GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN shd x ON x.doc_id = c.doc_a
        JOIN shd y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    ),
    near_pairs AS (
        SELECT i.doc_a, i.doc_b
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i.n_inter) >= 0.5
    ),
    exact AS (
        SELECT n.doc_id AS doc_id, MIN(c.doc_id) AS dup_of, 'exact' AS kind
        FROM documents n
        JOIN documents c ON sha256(n.text) = sha256(c.text)
        WHERE n.doc_id % 5 = 4 AND c.doc_id % 5 <> 4
        GROUP BY n.doc_id
    ),
    near AS (
        SELECT CASE WHEN doc_a % 5 = 4 THEN doc_a ELSE doc_b END AS doc_id,
               MIN(CASE WHEN doc_a % 5 = 4 THEN doc_b ELSE doc_a END) AS dup_of,
               'near' AS kind
        FROM near_pairs
        GROUP BY 1
    )
    SELECT doc_id, dup_of, kind FROM exact
    UNION ALL
    SELECT doc_id, dup_of, kind FROM near n
    WHERE NOT EXISTS (SELECT 1 FROM exact e WHERE e.doc_id = n.doc_id)
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new-batch vs corpus) dedup — the continuous-ingest shape
    of a training-data pipeline: docs with ``doc_id % 5 = 4`` play the
    incoming batch, the rest the already-ingested corpus; each batch doc is
    flagged against the corpus only (exact sha-256 match wins over minhash
    near-dup at Jaccard ≥ 0.5; dup_of = smallest matching corpus doc).

    Scale shape: the band frame is computed ONCE over all docs (one pass,
    shared with the other minhash queries via the session memo), then
    filtered into batch/corpus sides before the equi-join — so the join cost
    is batch-bands × colliding corpus-bands and within-corpus pairs NEVER
    materialize.  At 100 TB the batch side is the small one: its band list
    and its sha-256 hash list both broadcast, and cost per ingest round is
    O(batch × collision fan-out), independent of corpus pair count."""
    docs = load_table(spark, sf_dir, "documents")
    is_batch = (F.col("doc_id") % 5) == 4

    hashed = docs.select("doc_id", F.sha2(F.col("text"), 256).alias("h"))
    exact = (
        hashed.filter(is_batch)
        .join(
            hashed.filter(~is_batch).select(F.col("doc_id").alias("c_id"), "h"),
            "h",
        )
        .groupBy("doc_id")
        .agg(F.min("c_id").alias("dup_of"))
        .withColumn("kind", F.lit("exact"))
    )

    shd = _shingles(spark, sf_dir)
    sigs = dd.minhash_signatures(docs, shingles=shd).select(
        "doc_id", F.posexplode(dd.band_signatures(F.col("minhash"))).alias("band", "sig")
    )
    nb = sigs.filter(is_batch).select(F.col("doc_id").alias("new_id"), "band", "sig")
    cb = sigs.filter(~is_batch).select(F.col("doc_id").alias("corpus_id"), "band", "sig")
    cand = (
        nb.join(cb, ["band", "sig"])
        .select(
            F.least("new_id", "corpus_id").alias("doc_a"),
            F.greatest("new_id", "corpus_id").alias("doc_b"),
        )
        .distinct()
    )
    near_pairs = dd.jaccard_pairs(docs, candidates=cand, threshold=0.5, shingles=shd)
    a_is_batch = (F.col("doc_a") % 5) == 4
    near = (
        near_pairs.select(
            F.when(a_is_batch, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_id"),
            F.when(a_is_batch, F.col("doc_b")).otherwise(F.col("doc_a")).alias("dup_of"),
        )
        .groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
        .withColumn("kind", F.lit("near"))
        .join(exact.select("doc_id"), "doc_id", "left_anti")
    )
    return exact.unionByName(near).select("doc_id", "dup_of", "kind")


@register(
    "dedup_containment",
    oracle=_SHINGLE_CTES
    + """,
    dfc AS (SELECT shingle, COUNT(*) AS c FROM shd GROUP BY shingle),
    shc AS (SELECT s.doc_id, s.shingle FROM shd s JOIN dfc ON dfc.shingle = s.shingle
            WHERE dfc.c <= 50),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shc GROUP BY doc_id),
    inter AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM shc x JOIN shc y ON y.shingle = x.shingle AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id
    ),
    scored AS (
        SELECT i.doc_a, i.doc_b,
               round(CAST(i.n_inter AS DOUBLE) / sa.n_shingles, 6) AS containment_a_in_b,
               round(CAST(i.n_inter AS DOUBLE) / sb.n_shingles, 6) AS containment_b_in_a
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
    )
    SELECT * FROM scored
    WHERE containment_a_in_b >= 0.4 OR containment_b_in_a >= 0.4
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (either direction ≥ 0.4) over the same
    DF-capped shingle sets as dedup_ngram_jaccard — the excerpt/quote
    detector Jaccard cannot be (a small doc quoted inside a large one scores
    ~0 Jaccard, 1.0 containment).  Shares the session-persisted shingle
    frame; same equi-join scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    shd = _shingles(spark, sf_dir)
    return dd.containment_pairs(docs, threshold=0.4, shingles=shd, max_df=50)


def _keep_best_oracle() -> str:
    """The cluster-assignment CTE is exactly the ``dedup_clusters`` oracle
    (already registered above), nested as a derived CTE so the two stay in
    lock-step by construction."""
    from distributed_mapreduce_in_docker_rpyc_spark.registry import ORACLES

    return _KEEP_BEST_TEMPLATE.replace("%CLUSTER%", ORACLES["dedup_clusters"])


_KEEP_BEST_TEMPLATE = """
    WITH labels AS (%CLUSTER%),
    qual AS (
        SELECT doc_id,
               COALESCE(len(list_distinct(regexp_extract_all(lower(text), '[a-z'']+'))), -1)
                 AS n_distinct_words
        FROM documents
    ),
    ranked AS (
        SELECT l.cluster_id, l.doc_id, q.n_distinct_words,
               ROW_NUMBER() OVER (
                   PARTITION BY l.cluster_id
                   ORDER BY q.n_distinct_words DESC, l.doc_id
               ) AS rn,
               COUNT(*) OVER (PARTITION BY l.cluster_id) AS n_members
        FROM labels l JOIN qual q ON q.doc_id = l.doc_id
    )
    SELECT cluster_id, doc_id AS kept_doc_id,
           CAST(n_members AS BIGINT) AS n_members,
           n_distinct_words AS kept_distinct_words
    FROM ranked WHERE rn = 1
    """


@register("dedup_cluster_keep_best", oracle=_keep_best_oracle())
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection — the step every dedup pipeline runs
    AFTER clustering: within each duplicate cluster (exact ∪ near-dup
    connected components, same graph as ``dedup_clusters``), keep the
    single highest-quality member.  Quality here is lexical richness
    (distinct word count; NULL text ranks last via the -1 sentinel), ties
    broken by smallest doc_id so the choice is deterministic.  Output is
    one row per cluster: the keeper, the cluster size, and the keeper's
    quality — exactly the frame a training-data build joins back against
    to materialize the deduplicated corpus.

    Scale posture: reuses the session-shared shingle/cluster frames, then
    adds one uniform-key shuffle (cluster_id) for the window argmax; the
    quality column is zero-shuffle codegen array math.  Cluster ids are
    near-unique (clusters are tiny), so the window partitioning cannot
    skew."""
    from pyspark.sql import Window

    labels = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z']+"), 0)
    qual = docs.select(
        "doc_id",
        F.coalesce(F.size(F.array_distinct(toks)), F.lit(-1)).alias("n_distinct_words"),
    )
    w_rank = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_distinct_words"), F.asc("doc_id")
    )
    w_all = Window.partitionBy("cluster_id")
    return (
        labels.join(qual, "doc_id")
        .select(
            "cluster_id",
            "doc_id",
            "n_distinct_words",
            F.row_number().over(w_rank).alias("rn"),
            F.count("*").over(w_all).alias("n_members"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            "n_members",
            F.col("n_distinct_words").alias("kept_distinct_words"),
        )
    )


@register(
    "dedup_prefix_filter",
    oracle=_SHINGLE_CTES
    + """,
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shd GROUP BY doc_id),
    inter AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM shd x JOIN shd y ON y.shingle = x.shingle AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i.n_inter)
               AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i.n_inter) >= 0.6
    """,
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity self-join (All-Pairs/PPJoin family:
    Bayardo et al. WWW'07, Xiao et al. WWW'08) at Jaccard ≥ 0.6 — the
    scalable exact alternative to joining on EVERY shared shingle.

    Construction: rank each document's shingles by ascending global document
    frequency (rarest first, shingle text as tie-break); a pair with
    Jaccard ≥ t MUST share a shingle inside each side's first
    ``n - ceil(t·n) + 1`` shingles (prefix-filtering principle), so the
    candidate equi-join runs on PREFIX shingles only.  A length filter
    (``5·min ≥ 3·max``, exact integer form of ``t·max ≤ min``) prunes
    size-incompatible pairs before verification; exact Jaccard over full
    shingle sets verifies survivors.

    The ORACLE is deliberately the naive all-shared-shingle join at the same
    threshold: a hash-match therefore PROVES the prefix filter is lossless on
    this corpus, not merely self-consistent.

    Shape at 100 TB: candidate keys are each doc's ~(1-t)·n RAREST shingles —
    hot "of the and"-class shingles sit at the END of the df-ordered list and
    never enter the join, so the filter is simultaneously the skew guard
    (contrast dedup_ngram_jaccard's blunt max_df cap).  Join volume is
    Σ_prefix-shingle df², orders of magnitude below Σ_all-shingle df²; the
    rank window is per-doc (uniform keys), the verify join is
    candidate-driven (linear in |candidates|).

    ceil(0.6·n) is computed as floor((3n+4)/5) in integer arithmetic —
    float ceil(0.6*5)=ceil(3.0000000000000004)=4 would shorten the prefix
    and silently break losslessness.
    """
    from pyspark.sql import Window

    t = 0.6
    docs = load_table(spark, sf_dir, "documents")
    shd = _shingles(spark, sf_dir)
    dfc = shd.groupBy("shingle").agg(F.count("*").alias("df"))
    sizes = shd.groupBy("doc_id").agg(F.count("*").alias("n"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    prefix_len = F.col("n") - F.floor((F.lit(3) * F.col("n") + F.lit(4)) / F.lit(5)) + F.lit(1)
    ranked = (
        shd.join(dfc, "shingle")
        .withColumn("rk", F.row_number().over(w))
        .join(sizes, "doc_id")
        .filter(F.col("rk") <= prefix_len)
    )
    a = ranked.select(F.col("doc_id").alias("doc_a"), "shingle", F.col("n").alias("na"))
    b = ranked.select(F.col("doc_id").alias("doc_b"), "shingle", F.col("n").alias("nb"))
    cands = (
        a.join(b, "shingle")
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.least("na", "nb") * 5 >= F.greatest("na", "nb") * 3)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return dd.jaccard_pairs(docs, candidates=cands, threshold=t, shingles=shd)


@register(
    "dedup_sorted_neighborhood",
    oracle="""
    WITH keyed AS (
        SELECT doc_id,
               substring(regexp_replace(lower(text), '[^a-z]', '', 'g'), 1, 24) AS sort_key
        FROM documents
    ),
    blocked AS (SELECT doc_id, sort_key, substring(sort_key, 1, 4) AS block FROM keyed),
    nb AS (
        SELECT doc_id,
               lead(doc_id, 1) OVER w AS n1, lead(doc_id, 2) OVER w AS n2,
               lead(doc_id, 3) OVER w AS n3, lead(doc_id, 4) OVER w AS n4,
               lead(doc_id, 5) OVER w AS n5
        FROM blocked
        WINDOW w AS (PARTITION BY block ORDER BY sort_key, doc_id)
    ),
    cand AS (
        SELECT DISTINCT least(doc_id, nbr) AS doc_a, greatest(doc_id, nbr) AS doc_b
        FROM nb, unnest([n1, n2, n3, n4, n5]) AS u(nbr) WHERE nbr IS NOT NULL
    ),
    toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS t FROM documents
    ),
    shidx AS (
        SELECT doc_id, t,
               unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
        FROM toks
    ),
    sh AS (SELECT doc_id, array_to_string(t[i:i+2], ' ') AS shingle FROM shidx),
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shd GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN shd x ON x.doc_id = c.doc_a
        JOIN shd y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i.n_inter)
               AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_inter AS DOUBLE) / (sa.n_shingles + sb.n_shingles - i.n_inter) >= 0.3
    """,
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup (Hernández & Stolfo SIGMOD'95), blocked:
    documents sort by a normalized key (first 24 alphabetic chars of the
    lowercased text), each doc is compared only with its next 5 neighbors in
    sort order, and candidates are verified with exact shingle Jaccard ≥ 0.3.

    The classic O(n·w) candidate generator for entity resolution — contrast
    the LSH family's O(Σ bucket²).  Blocking twist for distribution: the
    neighborhood window runs WITHIN coarse blocks (first 4 key chars), i.e.
    ``Window.partitionBy(block).orderBy(sort_key, doc_id)`` — no
    single-partition global sort; each block sorts independently, exactly how
    a range-partitioned cluster sort behaves.  On this fixture the method
    attains 100% recall vs the exhaustive ≥0.3 join (near-dup edits preserve
    document openings); docs differing in their first 4 normalized chars land
    in different blocks — the documented blocking trade-off.

    Shape at 100 TB: one window over block-partitioned data (blocks are
    key-prefix ranges, cardinality ~26⁴, uniform for natural text), candidate
    volume exactly 5n pairs, verify join candidate-driven.  No shuffle is
    quadratic anywhere.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    shd = _shingles(spark, sf_dir)
    keyed = docs.select(
        "doc_id",
        F.substring(F.regexp_replace(F.lower("text"), "[^a-z]", ""), 1, 24).alias("sort_key"),
    ).withColumn("block", F.substring("sort_key", 1, 4))
    w = Window.partitionBy("block").orderBy("sort_key", "doc_id")
    nb = keyed.select(
        "doc_id",
        F.array(*[F.lead("doc_id", i).over(w) for i in range(1, 6)]).alias("nbrs"),
    )
    cands = (
        nb.select("doc_id", F.explode("nbrs").alias("nbr"))
        .filter(F.col("nbr").isNotNull())
        .select(
            F.least("doc_id", "nbr").alias("doc_a"),
            F.greatest("doc_id", "nbr").alias("doc_b"),
        )
        .distinct()
    )
    return dd.jaccard_pairs(docs, candidates=cands, threshold=0.3, shingles=shd)


def _lsh_tuning_oracle() -> str:
    """Unrolled per-config SQL for the (bands x rows) tuning sweep: for each
    rows-per-band r in (1, 2, 4) over the same 16 minhashes, candidate count,
    verified-true count (Jaccard >= 0.5), and precision."""
    per_cfg = []
    for r in (2, 4, 8):
        per_cfg.append(f"""
    bands{r} AS (
        SELECT doc_id, seed // {r} AS band,
               md5(string_agg(h, ',' ORDER BY seed)) AS sig
        FROM mh GROUP BY doc_id, seed // {r}
    ),
    cand{r} AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands{r} a
        JOIN bands{r} b ON a.band = b.band AND a.sig = b.sig
                        AND a.doc_id < b.doc_id
    ),
    inter{r} AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
        FROM cand{r} c
        JOIN shd x ON x.doc_id = c.doc_a
        JOIN shd y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
        GROUP BY c.doc_a, c.doc_b
    ),
    truth{r} AS (
        SELECT COUNT(*) AS n FROM inter{r} i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(i.n_inter AS DOUBLE)
              / (sa.n_shingles + sb.n_shingles - i.n_inter) >= 0.5
    ),
    ncand{r} AS (SELECT COUNT(*) AS n FROM cand{r})""")
    selects = [
        f"""
    SELECT {r} AS rows_per_band, {16 // r} AS n_bands,
           ncand{r}.n AS n_candidates, truth{r}.n AS n_true_pairs,
           ROUND(CASE WHEN ncand{r}.n = 0 THEN 0.0
                      ELSE CAST(truth{r}.n AS DOUBLE) / ncand{r}.n END, 6)
               AS precision_at_05
    FROM ncand{r}, truth{r}"""
        for r in (2, 4, 8)
    ]
    return (
        _SHINGLE_CTES
        + """,
    mh AS (
        SELECT shd.doc_id, g.seed,
               MIN(md5(g.seed::VARCHAR || ':' || shd.shingle)) AS h
        FROM shd, generate_series(0, 15) g(seed)
        GROUP BY shd.doc_id, g.seed
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shd GROUP BY doc_id),"""
        + ",".join(per_cfg)
        + " ".join(f"{s} UNION ALL" for s in selects[:-1])
        + selects[-1]
    )


@register("dedup_lsh_tuning_report", oracle=_lsh_tuning_oracle())
def dedup_lsh_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-configuration TUNING SWEEP: the same 16 minhashes regrouped
    as (8 bands x 2 rows), (4 x 4) and (2 x 8), each config's candidate
    pair count, verified-true count (exact Jaccard >= 0.5 on the candidate
    set), and precision — the measurement that turns the S-curve tradeoff
    (more rows per band = fewer, more precise candidates) from folklore
    into a number for THIS corpus, which is how a 100 TB dedup run chooses
    its band geometry before burning a cluster-day.

    Cost discipline: the shingle frame, minhash frame, and verification
    machinery are all shared (session memo + one persisted signature
    frame); each config adds only its band equi-join and the Jaccard
    verification of ITS candidates — never an all-pairs arm."""
    docs = load_table(spark, sf_dir, "documents")
    shd = _shingles(spark, sf_dir)
    mh = dd.minhash_signatures(docs, shingles=shd).persist()
    reports = []
    for r in (2, 4, 8):
        n_bands = 16 // r
        sigs = mh.select(
            "doc_id",
            F.posexplode(
                dd.band_signatures(F.col("minhash"), n_bands=n_bands, rows=r)
            ).alias("band", "sig"),
        )
        a, b = sigs.alias("a"), sigs.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .distinct()
            .persist()
        )
        true_n = dd.jaccard_pairs(
            docs, candidates=cand, threshold=0.5, shingles=shd
        ).agg(F.count("*").alias("n_true"))
        reports.append(
            cand.agg(F.count("*").alias("n_candidates"))
            .crossJoin(F.broadcast(true_n))
            .select(
                F.lit(r).alias("rows_per_band"),
                F.lit(n_bands).alias("n_bands"),
                "n_candidates",
                F.col("n_true").alias("n_true_pairs"),
                F.round(
                    F.when(F.col("n_candidates") == 0, F.lit(0.0)).otherwise(
                        F.col("n_true").cast("double") / F.col("n_candidates")
                    ),
                    6,
                ).alias("precision_at_05"),
            )
        )
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionAll(rep)
    return out


@register(
    "dedup_winnowing",
    oracle="""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z'']+') AS t
        FROM documents
    ),
    kg AS (
        SELECT doc_id, g.i AS i,
               CAST('0x' || substr(md5(array_to_string(t[g.i:g.i+3], ' ')), 1, 8)
                    AS BIGINT) AS h
        FROM toks, unnest(generate_series(1, len(t) - 3)) AS g(i)
        WHERE len(t) >= 4
    ),
    sel AS (
        SELECT DISTINCT doc_id,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
        FROM kg
    ),
    dfc AS (SELECT fp, COUNT(*) AS c FROM sel GROUP BY fp),
    capped AS (
        SELECT s.doc_id, s.fp FROM sel s JOIN dfc USING (fp) WHERE dfc.c <= 50
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM capped GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        FROM capped a JOIN capped b ON b.fp = a.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b, CAST(p.n_shared AS BIGINT) AS n_shared,
           CAST(sa.n_fp AS BIGINT) AS n_fp_a, CAST(sb.n_fp AS BIGINT) AS n_fp_b,
           ROUND(CAST(p.n_shared AS DOUBLE) / LEAST(sa.n_fp, sb.n_fp), 6)
               AS containment
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE p.n_shared >= 3
    """,
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint near-dup pairs (Schleimer, Wilkerson, Aiken —
    SIGMOD 2003, the MOSS scheme): hash every token 4-gram, slide a
    5-position window per document, keep each window's minimum hash as a
    fingerprint (tail-inclusive: shrinking end-of-document windows are
    kept, identically in both engines), then pair documents sharing >= 3
    fingerprints with a containment score over the smaller set.

    Winnowing guarantees any shared run of >= 8 tokens yields at least one
    shared fingerprint while sampling only ~1/5 of the k-gram stream — the
    local-similarity complement to whole-document MinHash
    (`dedup_minhash_lsh`).

    Scale posture: fingerprinting is embarrassingly per-document (one
    window over positions WITHIN each doc — partitioned, never global);
    the pair step is the same DF-capped shared-key equi-join as
    `dedup_ngram_jaccard` (hot fingerprints with document frequency > 50
    dropped from both sides and the oracle), so per-key fan-out is bounded
    and the plan never goes all-pairs."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", dd.tokenize_column("text").alias("t")).filter(
        F.size("t") >= 4
    )
    n_kg = F.size("t") - 3
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.zip_with(
                F.zip_with(
                    F.slice("t", 1, n_kg),
                    F.slice("t", 2, n_kg),
                    lambda a, b: F.concat_ws(" ", a, b),
                ),
                F.zip_with(
                    F.slice("t", 3, n_kg),
                    F.slice("t", 4, n_kg),
                    lambda c, d: F.concat_ws(" ", c, d),
                ),
                lambda ab, cd: F.concat_ws(" ", ab, cd),
            )
        ).alias("pos", "g"),
    )
    kg = grams.selectExpr(
        "doc_id",
        "pos + 1 AS i",
        "CAST(conv(substr(md5(g), 1, 8), 16, 10) AS BIGINT) AS h",
    )
    w_win = Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, 4)
    sel = kg.select("doc_id", F.min("h").over(w_win).alias("fp")).distinct()
    dfc = sel.groupBy("fp").agg(F.count("*").alias("c"))
    capped = sel.join(dfc.filter(F.col("c") <= 50).select("fp"), "fp").persist()
    sizes = capped.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a = capped.selectExpr("doc_id AS doc_a", "fp")
    b = capped.selectExpr("doc_id AS doc_b", "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )
    return (
        pairs.join(sizes.selectExpr("doc_id AS doc_a", "n_fp AS n_fp_a"), "doc_a")
        .join(sizes.selectExpr("doc_id AS doc_b", "n_fp AS n_fp_b"), "doc_b")
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(n_shared AS BIGINT) AS n_shared",
            "CAST(n_fp_a AS BIGINT) AS n_fp_a",
            "CAST(n_fp_b AS BIGINT) AS n_fp_b",
            "ROUND(CAST(n_shared AS DOUBLE) / LEAST(n_fp_a, n_fp_b), 6) AS containment",
        )
    )


@register(
    "dedup_survivorship_report",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, source, sha256(text) AS h
        FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
    ),
    keepers AS (
        SELECT h, MIN(doc_id) AS keep_id FROM hashed GROUP BY h
    ),
    keeper_src AS (
        SELECT k.h, k.keep_id, d.source AS keep_source
        FROM keepers k JOIN hashed d ON d.doc_id = k.keep_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.doc_id = ks.keep_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_survivors,
           CAST(SUM(CASE WHEN d.doc_id != ks.keep_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST(SUM(CASE WHEN d.doc_id != ks.keep_id
                          AND ks.keep_source != d.source
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_lost_to_other_source
    FROM hashed d JOIN keeper_src ks ON ks.h = d.h
    GROUP BY d.source
    """,
)
def dedup_survivorship_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship accounting: after exact dedup (sha-256 of text,
    keep the smallest doc_id — the `dedup_keep_first` policy), how did
    each SOURCE fare?  Per source: document count, survivors, removed
    duplicates, and — the politically loaded number every multi-source
    corpus review asks for — how many of its documents were removed in
    favor of a keeper from a DIFFERENT source.  This is the report that
    turns a dedup pass from a black box into a negotiable data-sourcing
    decision.

    Scale posture: one hash pass, a min-combine on the uniform 256-bit
    key, one join back on that key to tag keepers, and a source-keyed
    aggregate — the same shuffle shape as `dedup_exact` plus one equi-join;
    output is |sources| rows."""
    hashed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("source").isNotNull())
        .select("doc_id", "source", F.sha2("text", 256).alias("h"))
    )
    keepers = hashed.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    keeper_src = keepers.join(
        hashed.selectExpr("doc_id AS keep_id", "source AS keep_source"), "keep_id"
    )
    return (
        hashed.join(keeper_src, "h")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.expr("CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_survivors"),
            F.sum(F.expr("CASE WHEN doc_id != keep_id THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_removed"),
            F.sum(
                F.expr(
                    "CASE WHEN doc_id != keep_id AND keep_source != source"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("n_lost_to_other_source"),
        )
    )
