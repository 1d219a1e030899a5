"""LLM-pipeline operator tests: dedup correctness properties, ANN recall,
vectorized-path equivalence, multimodal stub features vs Python ground truth."""

from __future__ import annotations

import hashlib
import math
import zlib

import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_in_docker_rpyc_spark.operators import dedup as dd
from distributed_mapreduce_in_docker_rpyc_spark.operators import multimodal as mm
from distributed_mapreduce_in_docker_rpyc_spark.operators import similarity as sim
from distributed_mapreduce_in_docker_rpyc_spark.registry import ORACLES, QUERIES, load_all
from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table
from tests.oracle import compare

load_all()

ORACLE_CHECKED = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "sim_cosine_pairs",
    "sim_topk_bruteforce",
    "sim_topk_lsh",
    "sim_topk_ivf",
    "sim_topk_vectorized",
    "sim_lsh_recall",
    "sim_ann_recall_report",
    "sim_quantized_recall",
    "emb_matryoshka_recall",
    "knn_label_vote",
    "ann_join_nearest_neighbor",
    "sim_ann_join_recall_report",
    "ann_join_ivf",
    "ann_join_auto_k",
    "sim_auto_k_recall_report",
    "ann_join_auto_k_multiprobe",
    "ann_join_query_directed_probe",
    "sim_directed_probe_recall_report",
    "sim_multiprobe_recall_report",
    "dedup_embedding_cosine",
    "text_stats",
    "text_langid",
    "text_token_count_bpe",
    "text_fingerprint",
    "events_tumbling_hourly",
    "events_sliding_10m_5m",
    "events_sessionize",
    "events_json_extract",
    "events_top_users",
    "multimodal_meta",
    "c4_line_dedup",
    "dedup_substring_coverage",
    "emb_gram_matrix",
    "corpus_chunk_windows",
    "dedup_prefix_filter",
    "dedup_sorted_neighborhood",
]


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_matches_oracle(spark, sf_dir, name):
    compare(QUERIES[name](spark, sf_dir), ORACLES[name], sf_dir)


def test_exact_dedup_finds_planted_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "unique"), (4, "same text")],
        ["doc_id", "text"],
    )
    rows = {(r["keep_doc_id"], r["n_copies"]) for r in dd.exact_dedup(df).collect()}
    assert rows == {(1, 3), (3, 1)}


def test_minhash_flags_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely different words that share nothing with that sentence at all"
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], ["doc_id", "text"])
    cand = dd.minhash_lsh_candidates(df)
    pairs = {(r["doc_a"], r["doc_b"]) for r in dd.jaccard_pairs(df, cand, 0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_max_df_caps_hot_shingle_fanout(spark):
    """A boilerplate sentence shared by many docs must not create quadratic
    join fan-out: with max_df, hot shingles drop from the sets (so
    boilerplate-only pairs disappear) while genuinely near-dup pairs — which
    share RARE shingles too — survive."""
    boiler = "all rights reserved contact us for more information today"
    uniq = [
        f"document number {i} talks about completely distinct topic {i} alone"
        for i in range(8)
    ]
    near_a = "the quick brown fox jumps over the lazy dog in the sunny park"
    near_b = "the quick brown fox jumps over the lazy dog in the shady park"
    rows = [(i, f"{uniq[i]} {boiler}") for i in range(8)]
    rows += [(100, near_a), (101, near_b)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    shd = dd._distinct_shingles(df, "text", "doc_id")
    capped = dd.jaccard_pairs(df, threshold=0.2, max_df=4)
    uncapped = dd.jaccard_pairs(df, threshold=0.2)
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    uncapped_pairs = {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()}

    assert (100, 101) in capped_pairs  # true near-dups survive the cap
    # boilerplate-only pairs qualified before the cap, vanish after
    assert any(a < 8 and b < 8 for a, b in uncapped_pairs)
    assert not any(a < 8 and b < 8 for a, b in capped_pairs)
    # and the capped shingle frame's max per-key fan-out is bounded
    keep = (
        shd.groupBy("shingle").agg(F.count("*").alias("df")).filter(F.col("df") <= 4)
    )
    assert keep.agg(F.max("df")).first()[0] <= 4


def test_dedup_incremental_exact_wins_and_corpus_only(spark, sf_dir):
    """Every flagged doc is a batch doc (doc_id % 5 == 4), every dup_of is a
    corpus doc, and no doc carries both kinds (exact takes precedence)."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_dedup import dedup_incremental

    rows = dedup_incremental(spark, sf_dir).collect()
    assert rows
    assert all(r.doc_id % 5 == 4 for r in rows)
    assert all(r.dup_of % 5 != 4 for r in rows)
    assert all(r.kind in ("exact", "near") for r in rows)
    assert len({r.doc_id for r in rows}) == len(rows)  # one verdict per doc


def test_simhash_near_for_near_texts(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    near = base + "extra"
    other = "zebra xylophone quartz vex jumble " * 5
    df = spark.createDataFrame([(1, base), (2, near), (3, other)], ["doc_id", "text"])
    fps = {r["doc_id"]: r["simhash"] for r in dd.simhash_fingerprint(df).collect()}

    def ham(a, b):
        return sum(bin(int(x, 16) ^ int(y, 16)).count("1") for x, y in zip(a, b))

    assert ham(fps[1], fps[2]) < ham(fps[1], fps[3])


def test_lsh_topk_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    bf = sim.topk_bruteforce(emb, 5, 10).collect()
    lsh = sim.topk_lsh(emb, 5, 10).collect()
    bf_sets = {}
    for r in bf:
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    lsh_sets = {}
    for r in lsh:
        lsh_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(bf_sets[q] & lsh_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.3  # 4-bit LSH on 500 vecs


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    bf_sets, ivf_sets = {}, {}
    for r in sim.topk_bruteforce(emb, 5, 10).collect():
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in sim.topk_ivf(emb, 5, 10).collect():
        ivf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(bf_sets[q] & ivf_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    # probing 4/16 cells; near neighbors concentrate in the query's cells
    assert sum(recalls) / len(recalls) >= 0.5
    assert all(len(s) == 10 for s in ivf_sets.values())


def test_semantic_pairs_lsh_recall_one_vs_exact(spark, sf_dir):
    """The registered semantic-dedup path (LSH bucket candidates + exact
    rerank) must find EXACTLY the pairs the test-only brute-force ground
    truth finds on the fixture: precision is 1 by construction (both rerank
    with the same exact cosine), and the 16×3 table family was sized for
    recall 1.0 here — so the sets are equal."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r["vec_a"], r["vec_b"], r["sim"]) for r in sim.cosine_pairs(emb, 0.4).collect()
    }
    bucketed = {
        (r["vec_a"], r["vec_b"], r["sim"])
        for r in sim.semantic_pairs_lsh(emb, 0.4).collect()
    }
    assert exact  # fixture must actually exercise the threshold
    assert bucketed == exact


def test_int8_quantization_error_bound_and_recall(spark, sf_dir):
    """Reconstruction error is bounded by scale/2 per element (the rounding
    contract), and exact top-10 over dequantized vectors keeps high recall
    vs the float truth — the property that justifies the 4× storage cut."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_similarity import (
        sim_quantized_recall,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = sim.quantize_int8(emb)
    joined = (
        sim.dequantized(q)
        .withColumnRenamed("embedding", "deq")
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .join(q.select("vec_id", "scale"), "vec_id")
    )
    worst = joined.select(
        F.max(
            F.array_max(
                F.zip_with(
                    "embedding", "deq", lambda a, b: F.abs(a.cast("double") - b) / F.col("scale")
                )
            )
        ).alias("w")
    ).first()["w"]
    assert worst <= 0.5 + 1e-9

    row = sim_quantized_recall(spark, sf_dir).first()
    assert row.n_queries == 50
    assert row.mean_recall_at_10 >= 0.9


def test_lsh_bucketing_np_equals_sql_oracle(spark, sf_dir):
    """The NumPy bucketing kernel must make the bucket decisions every
    sign-LSH oracle replays in SQL (``sim.sign_lsh_bucket_ctes``): the home
    buckets for BOTH plane families (6×3 top-k, 16×3 dedup) over the whole
    corpus, and the ``n_probes=2`` directed-probe family of the auto-k ANN
    join's query slice against that oracle's ``qprobes`` CTE."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_similarity import _ann_auto_k_ctes
    from tests.oracle import duckdb_conn

    con = duckdb_conn(sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    for n_tables, k in (
        (sim.N_TABLES, sim.PLANES_PER_TABLE),
        (sim.DEDUP_N_TABLES, sim.DEDUP_PLANES_PER_TABLE),
    ):
        sql = sim.COSINE_CTES + sim.sign_lsh_bucket_ctes(n_tables * k, k) + (
            " SELECT vec_id, tbl, bucket FROM buckets"
        )
        want = sorted(con.execute(sql).fetchall())
        got = sorted(tuple(r) for r in sim.lsh_bucket_tables_np(emb, n_tables, k).collect())
        assert got == want and want

    k = sim.auto_planes_per_table(
        sim.non_null_vectors(emb, "embedding").filter(F.col("vec_id") % 17 != 3).count()
    )
    sql = sim.COSINE_CTES + _ann_auto_k_ctes(directed_probes=2) + (
        " SELECT vec_id, tbl, bucket FROM qprobes"
    )
    want = sorted(con.execute(sql).fetchall())
    got = sorted(
        tuple(r)
        for r in sim.lsh_bucket_tables_np(
            emb.filter(F.col("vec_id") % 17 == 3), sim.N_TABLES, k, n_probes=2
        ).collect()
    )
    assert got == want and want


def test_numpy_path_equals_expression_path(spark, sf_dir):
    """The broadcast-matrix path scores its batch × Q block with the same
    sequential sums as the pair kernel, so even the sims are equal."""
    emb = load_table(spark, sf_dir, "embeddings")
    expr_rows = {
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in sim.topk_bruteforce(emb, 5, 10).collect()
    }
    np_rows = {
        (r["query_id"], r["neighbor_id"], r["sim"], r["rank"])
        for r in sim.topk_numpy(emb, 5, 10).collect()
    }
    assert expr_rows == np_rows


def test_multimodal_stub_features_ground_truth(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    feats = {r["doc_id"]: r for r in mm.decode_stub_features(mm.attach_payload(docs)).collect()}
    for row in docs.collect():
        raw = row["text"].encode("utf-8")
        f = feats[row["doc_id"]]
        assert f["n_bytes"] == len(raw)
        assert f["payload_md5"] == hashlib.md5(raw).hexdigest()
        assert f["head_hex"] == raw[:8].hex()


def test_multimodal_decode_image_is_real(spark, sf_dir):
    """decode_image is no longer a NotImplementedError gate: it parses real
    BMP payloads (see test_sources.py for codec-level coverage)."""
    docs = load_table(spark, sf_dir, "documents").limit(5)
    rows = mm.decode_image(mm.attach_bmp_payload(docs)).collect()
    assert len(rows) == 5
    assert all(r["width"] >= 1 and r["height"] >= 1 and r["sum_r"] >= 0 for r in rows)


def test_hyperplane_is_deterministic():
    p = sim.hyperplane(0)
    assert p == sim.hyperplane(0) and len(p) == 64 and set(p) <= {1.0, -1.0}
    expected = 1.0 if int(hashlib.md5(b"p0:0").hexdigest()[0], 16) % 2 == 0 else -1.0
    assert p[0] == expected


def test_sessionize_gap_semantics(spark):
    rows = [
        (1, 100, "2024-01-01 00:00:00"),
        (2, 100, "2024-01-01 00:10:00"),  # same session (10 min)
        (3, 100, "2024-01-01 01:00:00"),  # new session (50 min gap)
        (4, 200, "2024-01-01 00:00:00"),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    from distributed_mapreduce_in_docker_rpyc_spark.operators.relational import sessionize

    out = {r["event_id"]: r["session_seq"] for r in sessionize(df).collect()}
    assert out == {1: 1, 2: 1, 3: 2, 4: 1}


def test_sample_frames_short_payload_edge(spark):
    from distributed_mapreduce_in_docker_rpyc_spark.operators import multimodal as mm

    df = spark.createDataFrame(
        [(1, "tiny"), (2, "x" * 40)], ["doc_id", "text"]
    )
    rows = mm.sample_frames(mm.attach_payload(df), k=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert by_doc[1] == [0]  # < 16 bytes -> single frame 0
    # 40 bytes -> 2 frames, k capped to n_frames, evenly spaced, distinct
    assert by_doc[2] == [0, 1]


def test_connected_components_semantics(spark):
    """Chain, clique, and singleton all resolve to min-reachable-id labels;
    chain length > 2 exercises multi-round propagation."""
    vertices = spark.createDataFrame([(i,) for i in range(1, 9)], ["doc_id"])
    #  chain 1-2-3-4, pair 5-6, singleton 7, self-contained 8
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 6)], ["src", "dst"]
    )
    got = {r["doc_id"]: r["cluster"] for r in dd.connected_components(vertices, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7, 8: 8}


def test_ivf_index_persists_and_reloads(spark, sf_dir, tmp_path):
    """Index lifecycle: the IVF index (assigned inverted lists + centroid
    table) round-trips through parquet, and probing the RELOADED index
    yields exactly the fresh-index neighbors.  Operationally this is the
    100 TB shape — build once, persist next to the data, serve probes from
    the stored index instead of re-clustering per query."""
    from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = sim.ivf_index(emb)
    assigned.write.parquet(str(tmp_path / "ivf_assigned"))
    centroids.write.parquet(str(tmp_path / "ivf_centroids"))

    re_assigned = spark.read.parquet(str(tmp_path / "ivf_assigned"))
    re_centroids = spark.read.parquet(str(tmp_path / "ivf_centroids"))
    fresh = {tuple(r) for r in sim.topk_ivf(emb, 5, 10, index=(assigned, centroids)).collect()}
    reloaded = {
        tuple(r) for r in sim.topk_ivf(emb, 5, 10, index=(re_assigned, re_centroids)).collect()
    }
    assert reloaded == fresh and reloaded


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(path) + "/documents.parquet")


def test_c4_line_dedup_drops_corpus_boilerplate(spark, tmp_path):
    # Identical leading 3-token "line" in all three docs -> occurs 3 times
    # corpus-wide -> dropped everywhere; unique tails survive in order.
    rows = [
        (1, "aaa bbb ccc dogs eat grass", "en", "s", 0),
        (2, "aaa bbb ccc fish swim deep", "en", "s", 0),
        (3, "aaa bbb ccc birds fly high", "en", "s", 0),
    ]
    _write_docs(spark, tmp_path, rows)
    out = {
        r["doc_id"]: r
        for r in QUERIES["c4_line_dedup"](spark, str(tmp_path)).collect()
    }
    for doc_id, tail in [(1, "dogs eat grass"), (2, "fish swim deep"), (3, "birds fly high")]:
        assert out[doc_id]["n_lines"] == 2
        assert out[doc_id]["n_kept"] == 1
        assert out[doc_id]["cleaned_text"] == tail


def test_substring_coverage_flags_verbatim_copies(spark, tmp_path):
    copied = "one two three four five six seven eight nine ten"
    rows = [
        (1, copied, "en", "s", 0),
        (2, copied, "en", "s", 0),                      # verbatim copy of 1
        (3, "alpha beta gamma delta epsilon zeta", "en", "s", 0),  # unique
        (4, "xy", "en", "s", 0),                        # shorter than one 4-gram
    ]
    _write_docs(spark, tmp_path, rows)
    out = {
        r["doc_id"]: r
        for r in QUERIES["dedup_substring_coverage"](spark, str(tmp_path)).collect()
    }
    assert out[1]["dup_frac"] == 1.0 and out[1]["is_verbatim"]
    assert out[2]["dup_frac"] == 1.0 and out[2]["is_verbatim"]
    assert out[3]["dup_frac"] == 0.0 and not out[3]["is_verbatim"]
    assert out[4]["n_grams"] == 0 and out[4]["dup_frac"] == 0.0


def test_phash_near_images_closer_than_unrelated(spark, tmp_path):
    """Perceptual property: images synthesized from near-identical texts
    must be closer in hamming distance than images from unrelated text —
    and identical texts must collide exactly."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base.replace("lazy", "hazy")          # same length -> same w,h
    other = "zebra xylophone quartz vex jumble koala parade " * 4
    rows = [
        (1, base, "en", "s", 0),
        (2, near, "en", "s", 0),
        (3, other, "en", "s", 0),
        (4, base, "en", "s", 0),                 # exact copy of 1
    ]
    _write_docs(spark, tmp_path, rows)
    out = {r["doc_id"]: r["phash"] for r in QUERIES["multimodal_phash"](spark, str(tmp_path)).collect()}

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    assert out[1] == out[4]                      # identical bytes, identical hash
    assert ham(out[1], out[2]) < ham(out[1], out[3])
    assert ham(out[1], out[2]) <= 16             # one-word change: most bits stable


def test_byte_entropy_semantics(spark, tmp_path):
    """Entropy ground truths: a one-symbol document has 0 bits, a document
    over 4 equally-frequent ASCII bytes has exactly 2 bits, and empty/NULL
    text collapses to 0 with an empty histogram.  Cross-checked against a
    direct Python/Counter computation for a mixed multibyte document."""
    import math
    from collections import Counter

    docs = spark.createDataFrame(
        [
            (0, "aaaaaaaa"),
            (1, "abcdabcd"),
            (2, ""),
            (3, None),
            (4, "héllo wörld — mixed"),
        ],
        "doc_id long, text string",
    )
    path = str(tmp_path / "sf")
    docs.write.parquet(path + "/documents.parquet")
    rows = {
        r.doc_id: r
        for r in QUERIES["text_byte_entropy"](spark, path).collect()
    }
    assert rows[0].byte_entropy == pytest.approx(0.0)
    assert rows[0].n_distinct_bytes == 1
    assert rows[1].byte_entropy == pytest.approx(2.0)
    assert rows[1].passes_entropy_gate == 0  # below the [3, 6] band
    assert rows[2].byte_entropy == pytest.approx(0.0) and rows[2].n_bytes == 0
    assert rows[3].byte_entropy == pytest.approx(0.0) and rows[3].n_bytes == 0
    raw = "héllo wörld — mixed".encode("utf-8")
    counts = Counter(raw)
    expect = -sum((c / len(raw)) * math.log2(c / len(raw)) for c in counts.values())
    assert rows[4].byte_entropy == pytest.approx(expect)
    assert rows[4].n_bytes == len(raw)
    assert rows[4].ascii_fraction == pytest.approx(
        sum(1 for b in raw if b < 0x80) / len(raw)
    )


def test_prefix_filter_prunes_but_loses_nothing(spark, sf_dir):
    """The prefix-filter join must (a) equal the exhaustive shared-shingle
    Jaccard join at the same threshold — losslessness — while (b) probing
    strictly fewer candidate shingle keys than the doc sets contain."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_dedup import _shingles

    docs = load_table(spark, sf_dir, "documents")
    shd = _shingles(spark, sf_dir)
    exhaustive = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in dd.jaccard_pairs(docs, threshold=0.6, shingles=shd).collect()
    }
    filtered = {
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in QUERIES["dedup_prefix_filter"](spark, sf_dir).collect()
    }
    assert filtered == exhaustive and len(filtered) > 0


def test_sorted_neighborhood_full_recall_on_fixture(spark, sf_dir):
    """SNM is a heuristic (candidates limited to 5 sort-neighbors within a
    4-char block); on the fixture every planted near-dup pair survives it —
    the pairs found must EQUAL the exhaustive ≥0.3 join without the df cap."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_dedup import _shingles

    docs = load_table(spark, sf_dir, "documents")
    shd = _shingles(spark, sf_dir)
    exhaustive = {
        (r["doc_a"], r["doc_b"])
        for r in dd.jaccard_pairs(docs, threshold=0.3, shingles=shd).collect()
    }
    snm = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_sorted_neighborhood"](spark, sf_dir).collect()
    }
    assert snm == exhaustive and len(snm) > 0


def test_tfidf_cosine_pairs_against_python_brute_force(spark, sf_dir):
    """Recompute the DF-capped integer-quantized tf-idf cosine for every
    emitted pair in pure Python over the raw documents — implementation-
    independent ground truth — and spot-check completeness: any pair of
    EXACT duplicate documents (identical token multisets, both with at
    least one surviving term) must appear with cos_sim = 1."""
    import re
    from collections import Counter

    rows = QUERIES["tfidf_cosine_pairs"](spark, sf_dir).collect()
    assert rows
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").collect()
    word = re.compile(r"[a-z']+")
    tf = {r.doc_id: Counter(word.findall((r.text or "").lower())) for r in docs}
    n = len(docs)
    df = Counter(w for c in tf.values() for w in c)
    keep = {w for w, d in df.items() if d * 10 <= n}
    wv = {
        d: {w: t * ((1_000_000 * (n + 1)) // (df[w] + 1)) for w, t in c.items() if w in keep}
        for d, c in tf.items()
    }
    import math

    def cos(a, b):
        dot = sum(va * b[w] for w, va in a.items() if w in b)
        na = math.sqrt(float(sum(v * v for v in a.values())))
        nb = math.sqrt(float(sum(v * v for v in b.values())))
        return float(dot) / (na * nb) if na and nb else 0.0

    for r in rows:
        assert abs(r.cos_sim - round(cos(wv[r.doc_a], wv[r.doc_b]), 6)) <= 2e-6
        assert r.doc_a < r.doc_b
    # completeness spot-check via exact duplicates
    emitted = {(r.doc_a, r.doc_b) for r in rows}
    by_tokens = {}
    for d, c in tf.items():
        if any(w in keep for w in c):
            by_tokens.setdefault(frozenset(c.items()), []).append(d)
    dup_pairs = {
        (a, b)
        for ids in by_tokens.values()
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
    }
    for a, b in dup_pairs:
        assert (min(a, b), max(a, b)) in emitted


def test_bigram_lm_score_matches_python(spark, sf_dir):
    """Recompute the Laplace bigram score for three documents in pure
    Python over the corpus counts."""
    import math
    import re
    from collections import Counter

    rows = {r.doc_id: r for r in QUERIES["text_bigram_lm_score"](spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").collect()
    word = re.compile(r"[a-z']+")
    toks = {r.doc_id: word.findall((r.text or "").lower()) for r in docs}
    bg = Counter()
    for t in toks.values():
        bg.update(zip(t, t[1:]))
    ctx = Counter()
    for (w1, _), c in bg.items():
        ctx[w1] += c
    v = len({w for t in toks.values() for w in t})
    checked = 0
    for did, t in sorted(toks.items()):
        pairs = list(zip(t, t[1:]))
        if not pairs:
            assert did not in rows
            continue
        score = -sum(math.log((bg[p] + 1.0) / (ctx[p[0]] + float(v))) for p in pairs) / len(pairs)
        assert rows[did].n_bigrams == len(pairs)
        assert abs(rows[did].mean_neg_logprob - round(score, 6)) <= 2e-6
        checked += 1
        if checked >= 3:
            break


def test_wav_energy_matches_python(spark, sf_dir):
    """Recompute the 256-sample frame energies from the raw text bytes for
    every document: exact integer equality."""
    rows = {r.doc_id: r for r in QUERIES["multimodal_wav_energy"](spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text").collect()
    assert len(rows) == len(docs)
    for r in docs:
        b = (r.text or "").encode("utf-8") or b"\x00"
        frames = [
            sum((x - 128) ** 2 for x in b[i : i + 256]) for i in range(0, len(b), 256)
        ]
        got = rows[r.doc_id]
        assert got.n_frames == len(frames)
        assert got.total_energy == sum(frames)
        peak = max(range(len(frames)), key=lambda i: (frames[i], -i))
        assert got.peak_frame_idx == peak
        assert got.peak_frame_energy == frames[peak]


def test_psi_drift_ground_truth(spark, sf_dir):
    """PSI recomputed from raw orders with a plain-Python binning pass;
    psi_total is identical on every row and matches the term sum."""
    import math as _math

    rows = sorted(QUERIES["dq_psi_drift"](spark, sf_dir).collect(), key=lambda r: r.bin)
    assert rows
    totals = {r.psi_total for r in rows}
    assert len(totals) == 1
    o = [
        (r.o_orderdate.timestamp(), r.o_totalprice)
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
        if r.o_orderdate is not None and r.o_totalprice is not None
    ]
    e_lo, e_hi = min(e for e, _ in o), max(e for e, _ in o)
    v_lo, v_hi = min(v for _, v in o), max(v for _, v in o)
    width = (v_hi - v_lo) / 10.0
    na = [0] * 10
    nb = [0] * 10
    for e, v in o:
        b = min(9, int((v - v_lo) // width))
        (na if 2.0 * e <= e_lo + e_hi else nb)[b] += 1
    ta, tb = sum(na), sum(nb)
    psi = 0.0
    for b in range(10):
        pa = (na[b] + 0.5) / (ta + 5.0)
        pb = (nb[b] + 0.5) / (tb + 5.0)
        psi += (pb - pa) * _math.log(pb / pa)
    by_bin = {r.bin: r for r in rows}
    for b in range(10):
        if na[b] or nb[b]:
            assert by_bin[b].n_first_half == na[b]
            assert by_bin[b].n_second_half == nb[b]
    assert abs(rows[0].psi_total - psi) < 1e-5
    assert abs(sum(r.psi_term for r in rows) - psi) < 1e-4


def test_js_divergence_ground_truth_and_bounds(spark, sf_dir):
    """JSD bounded by ln 2; one language recomputed with Counter arithmetic."""
    import math as _math
    import re
    from collections import Counter

    rows = {r.lang: r for r in QUERIES["corpus_js_divergence"](spark, sf_dir).collect()}
    assert rows and "en" not in rows
    for r in rows.values():
        assert -1e-9 <= r.jsd_nats <= _math.log(2.0) + 1e-9
        assert abs(r.jsd_bits - r.jsd_nats / _math.log(2.0)) < 1e-5

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    tok = re.compile(r"[a-z']+")
    lang = sorted(rows)[0]
    cl, ce = Counter(), Counter()
    for d in docs:
        if d.lang == lang:
            cl.update(tok.findall(d.text.lower()))
        elif d.lang == "en":
            ce.update(tok.findall(d.text.lower()))
    nl, ne = sum(cl.values()), sum(ce.values())
    jsd = 0.0
    for w in set(cl) | set(ce):
        p, q = cl[w] / nl, ce[w] / ne
        m = (p + q) / 2.0
        if p > 0:
            jsd += 0.5 * p * _math.log(p / m)
        if q > 0:
            jsd += 0.5 * q * _math.log(q / m)
    assert rows[lang].n_union_vocab == len(set(cl) | set(ce))
    assert abs(rows[lang].jsd_nats - jsd) < 1e-5


def test_ngram_novelty_conservation(spark, sf_dir):
    """The earliest document is 100% novel, and Σ n_novel over docs equals
    the corpus's total distinct-trigram count (each gram is novel exactly
    once)."""
    import re

    rows = sorted(
        QUERIES["text_ngram_novelty"](spark, sf_dir).collect(), key=lambda r: r.doc_id
    )
    assert rows
    assert rows[0].novelty_frac == 1.0
    for r in rows:
        assert 0.0 <= r.novelty_frac <= 1.0
        assert 0 <= r.n_novel <= r.n_distinct_trigrams

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    tok = re.compile(r"[a-z']+")
    all_grams = set()
    for d in docs:
        w = tok.findall(d.text.lower())
        all_grams.update(
            " ".join(w[i : i + 3]) for i in range(len(w) - 2)
        )
    assert sum(r.n_novel for r in rows) == len(all_grams)


def test_winnowing_pairs_ground_truth(spark, sf_dir):
    """Full winnowing pipeline (4-gram md5 hashes, 5-window tail-inclusive
    minima, DF<=50 cap, >=3 shared) recomputed in plain Python."""
    import re
    from collections import Counter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    tok = re.compile(r"[a-z']+")
    fps = {}
    for d in docs:
        t = tok.findall(d.text.lower())
        if len(t) < 4:
            continue
        hs = [
            int(hashlib.md5(" ".join(t[i : i + 4]).encode()).hexdigest()[:8], 16)
            for i in range(len(t) - 3)
        ]
        fps[d.doc_id] = {min(hs[i : i + 5]) for i in range(len(hs))}
    df = Counter(fp for s in fps.values() for fp in s)
    capped = {doc: {fp for fp in s if df[fp] <= 50} for doc, s in fps.items()}
    expected = {}
    ids = sorted(capped)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            shared = len(capped[a] & capped[b])
            if shared >= 3:
                expected[(a, b)] = shared
    got = {
        (r.doc_a, r.doc_b): r
        for r in QUERIES["dedup_winnowing"](spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for (a, b), r in got.items():
        assert r.n_shared == expected[(a, b)]
        assert r.n_fp_a == len(capped[a]) and r.n_fp_b == len(capped[b])
        assert abs(r.containment - r.n_shared / min(r.n_fp_a, r.n_fp_b)) < 1e-6


def test_interval_coverage_ground_truth(spark, sf_dir):
    """Merged-interval count and covered seconds recomputed with a plain
    sorted-merge in Python; every island is at least one padding long and
    coverage never exceeds 300s per event."""
    rows = {
        r.user_id: r
        for r in QUERIES["events_interval_coverage"](spark, sf_dir).collect()
    }
    assert rows
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").collect()
    by_user = {}
    for e in ev:
        if e.user_id is None or e.ts is None:
            continue
        s = int(e.ts.timestamp())
        by_user.setdefault(e.user_id, []).append((s, s + 300))
    for uid, iv in by_user.items():
        iv.sort()
        islands = []
        for s, e in iv:
            if islands and s <= islands[-1][1]:
                islands[-1][1] = max(islands[-1][1], e)
            else:
                islands.append([s, e])
        covered = sum(e - s for s, e in islands)
        r = rows[uid]
        assert r.n_intervals == len(islands)
        assert r.covered_seconds == covered
        assert r.covered_seconds >= 300 * r.n_intervals
        assert r.covered_seconds <= 300 * len(iv)


def test_silhouette_bounds_and_membership(spark, sf_dir):
    """Average silhouettes bounded by [-1, 1]; cluster membership counts sum
    to the vector count; recompute one cluster's mean from the index."""
    out = QUERIES["emb_silhouette"](spark, sf_dir).collect()
    assert out
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_vec = emb.filter(F.col("embedding").isNotNull()).count()
    assert sum(r.n_vectors for r in out) == n_vec
    for r in out:
        assert -1.0 - 1e-9 <= r.avg_silhouette <= 1.0 + 1e-9

    # independent recompute: distances to the deterministic centroids
    import numpy as np
    from distributed_mapreduce_in_docker_rpyc_spark.operators import similarity as s_mod

    assigned, cent = s_mod.ivf_index(emb)
    C = {r.cluster: np.array(r.centroid) for r in cent.collect()}
    vecs = [(r.vec_id, np.array(r.embedding, dtype=float)) for r in emb.collect()
            if r.embedding is not None]
    sums = {}
    counts = {}
    for _, v in vecs:
        d2 = sorted(
            (round(float(((v - c) ** 2).sum()), 6), k) for k, c in C.items()
        )
        (d2o, own), (d2n, _) = d2[0], d2[1]
        s = (math.sqrt(d2n) - math.sqrt(d2o)) / max(
            math.sqrt(d2o), math.sqrt(d2n)
        ) if max(d2o, d2n) > 0 else 0.0
        sums[own] = sums.get(own, 0.0) + round(s, 6)
        counts[own] = counts.get(own, 0) + 1
    got = {r.cluster: r for r in out}
    for k in got:
        assert got[k].n_vectors == counts[k]
        assert abs(got[k].avg_silhouette - sums[k] / counts[k]) < 1e-5


def _cdc_lengths(text: str) -> list[int]:
    n = len(text)
    cuts = [
        i + 7
        for i in range(1, n - 6)
        if int(hashlib.md5(text[i - 1 : i + 7].encode()).hexdigest()[:4], 16) % 64 == 0
    ]
    ends = sorted(set(cuts) | {n})
    prev = 0
    out = []
    for c in ends:
        out.append(c - prev)
        prev = c
    return out


def test_content_chunks_ground_truth_and_shift_robustness(spark, sf_dir):
    """Chunk counts/sizes/fingerprints recomputed in Python; and the CDC
    property itself: prepending text leaves the chunk-length sequence's
    tail unchanged (fixed-size splitting would shift every boundary)."""
    rows = {r.doc_id: r for r in QUERIES["text_content_chunks"](spark, sf_dir).collect()}
    docs = {
        d.doc_id: d.text
        for d in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
        if d.text is not None and len(d.text) >= 8
    }
    assert set(rows) == set(docs)
    for doc_id, text in docs.items():
        lens = _cdc_lengths(text)
        r = rows[doc_id]
        assert r.n_chunks == len(lens)
        assert r.max_chunk_chars == max(lens)
        assert abs(r.avg_chunk_chars - sum(lens) / len(lens)) < 1e-6
        assert r.chunk_fp == hashlib.md5(
            ",".join(str(x) for x in lens).encode()
        ).hexdigest()

    # the defining content-defined property, on the longest fixture doc
    text = max(docs.values(), key=len)
    base = _cdc_lengths(text)
    shifted = _cdc_lengths("the quick brown prefix " + text)
    k = min(len(base), len(shifted)) - 1
    assert k >= 1
    assert base[-k:] == shifted[-k:]


def test_heaps_law_ground_truth(spark, sf_dir):
    """β and K recomputed with a plain cumulative pass + numpy polyfit-free
    OLS; β must land in the sublinear band for natural text."""
    import re

    out = QUERIES["corpus_heaps_law"](spark, sf_dir).collect()
    assert len(out) == 1
    row = out[0]
    docs = sorted(
        spark.read.parquet(f"{sf_dir}/documents.parquet").collect(),
        key=lambda d: d.doc_id,
    )
    tok = re.compile(r"[a-z']+")
    seen = set()
    cum_tok = 0
    xs, ys = [], []
    for d in docs:
        words = tok.findall(d.text.lower())
        if not words and cum_tok == 0:
            continue
        cum_tok += len(words)
        seen.update(words)
        if cum_tok > 0 and seen:
            xs.append(math.log(cum_tok))
            ys.append(math.log(len(seen)))
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sxx = sum(a * a for a in xs)
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    logk = (sy - beta * sx) / n
    assert row.n_checkpoints == n
    assert abs(row.heaps_beta - beta) < 1e-4
    assert abs(row.heaps_k - math.exp(logk)) < 1e-3
    # the synthetic fixture draws from a small fixed vocabulary, so growth
    # saturates (beta near 0); natural text lands 0.4-0.7 — only the
    # sublinearity bound is fixture-independent
    assert 0.0 <= row.heaps_beta < 1.0


def test_mlm_masking_plan_ground_truth(spark, sf_dir):
    """Mask counts recomputed with Python hashlib on every document; the
    corpus-level mask rate must sit near 15% and the branch split near
    80/10/10 (law-of-large-numbers bands at fixture scale)."""
    import re

    rows = {r.doc_id: r for r in QUERIES["mlm_masking_plan"](spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    assert set(rows) == {d.doc_id for d in docs}
    tot = {"tok": 0, "m": 0, "mask": 0, "rand": 0, "keep": 0}
    for d in docs:
        toks = re.findall(r"[a-z']+", (d.text or "").lower())
        n_masked = n_mask = n_rand = n_keep = 0
        for p, tok in enumerate(toks, start=1):
            hx = hashlib.md5(f"{d.doc_id}:{p}:{tok}".encode()).hexdigest()
            m = int(hx[:4], 16)
            y = int(hx[4:8], 16)
            if m < 9830:
                n_masked += 1
                if y < 52429:
                    n_mask += 1
                elif y < 58982:
                    n_rand += 1
                else:
                    n_keep += 1
        r = rows[d.doc_id]
        assert r.n_tokens == len(toks)
        assert r.n_masked == n_masked
        assert (r.n_mask_tok, r.n_random_tok, r.n_keep_tok) == (n_mask, n_rand, n_keep)
        tot["tok"] += len(toks)
        tot["m"] += n_masked
        tot["mask"] += n_mask
        tot["rand"] += n_rand
        tot["keep"] += n_keep
    assert abs(tot["m"] / tot["tok"] - 0.15) < 0.01
    assert abs(tot["mask"] / tot["m"] - 0.80) < 0.03
    assert abs(tot["rand"] / tot["m"] - 0.10) < 0.03
    assert abs(tot["keep"] / tot["m"] - 0.10) < 0.03


def test_preference_pairs_are_groupwise_extremes(spark, sf_dir):
    """Every source yields exactly one pair; chosen/rejected recomputed as
    the Python argmax/argmin under the same (score, doc_id) total order."""
    import re

    rows = {r.source: r for r in QUERIES["preference_pair_builder"](spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    by_src = {}
    for d in docs:
        if d.source is None:
            continue
        toks = re.findall(r"[a-z']+", (d.text or "").lower())
        if not toks:
            continue
        by_src.setdefault(d.source, []).append(
            (len(set(toks)) / len(toks), d.doc_id)
        )
    assert set(rows) == set(by_src)
    for src, cand in by_src.items():
        best = max(cand, key=lambda t: (t[0], -t[1]))
        worst = min(cand, key=lambda t: (t[0], -t[1]))
        r = rows[src]
        assert r.chosen_doc_id == best[1], src
        assert r.rejected_doc_id == worst[1], src
        assert abs(r.chosen_score - round(best[0], 6)) < 1e-9
        assert abs(r.rejected_score - round(worst[0], 6)) < 1e-9
        assert r.score_gap >= 0


def test_mmr_diversify_matches_python_greedy(spark, sf_dir):
    """Full MMR selection sequence recomputed with a NumPy greedy: same
    candidates, same quantization, same tiebreaks — the selection (not just
    the scores) must match row for row."""
    import numpy as np

    rows = QUERIES["sim_mmr_diversify"](spark, sf_dir).collect()
    got = {}
    for r in rows:
        got.setdefault(r.query_id, []).append(
            (r.sel_rank, r.vec_id, r.relevance, r.diversity_penalty)
        )
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        if r.embedding is not None
    }
    ids = sorted(emb)
    for q in range(5):
        qv = emb[q]
        qn = float(np.sqrt(qv @ qv))
        sims = sorted(
            (
                (round(float(qv @ emb[i]) / (qn * float(np.sqrt(emb[i] @ emb[i]))), 6), i)
                for i in ids
                if i != q
            ),
            key=lambda t: (-t[0], t[1]),
        )[:10]
        cand = {i: s for s, i in sims}

        def ps(x, y):
            return round(
                float(emb[x] @ emb[y])
                / (float(np.sqrt(emb[x] @ emb[x])) * float(np.sqrt(emb[y] @ emb[y]))),
                6,
            )

        sel = []
        for _ in range(3):
            best = None
            for i, rel in cand.items():
                if i in sel:
                    continue
                pen = max((ps(i, s) for s in sel), default=0.0)
                score = 0.7 * rel - 0.3 * pen
                key = (-score, i)
                if best is None or key < best[0]:
                    best = (key, i, rel, pen)
            sel.append(best[1])
            rk = len(sel)
            want = (rk, best[1], round(best[2], 6), round(best[3], 6))
            have = sorted(got[q])[rk - 1]
            assert have[:2] == want[:2], (q, rk, have, want)
            assert abs(have[2] - want[2]) < 1e-9 and abs(have[3] - want[3]) < 1e-9


def test_pq_codebook_matches_numpy_lloyd(spark, sf_dir):
    """The full PQ training run replicated independently in NumPy: same
    md5 seeds, same 6-place-rounded assignment/update discipline, per
    subspace — vector counts, occupied cells and avg MSE must all match."""
    import numpy as np
    from decimal import Decimal

    rows = {r.subspace: r for r in QUERIES["emb_pq_codebook"](spark, sf_dir).collect()}
    assert set(rows) == {0, 1, 2, 3}
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        if r.embedding is not None
    }
    seeds = sorted(emb, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:8]
    for s in range(4):
        sub = {i: v[s * 16 : (s + 1) * 16] for i, v in emb.items()}
        cent = {c: np.round(sub[i], 6) for c, i in enumerate(seeds)}

        def assign():
            out = {}
            for i, v in sub.items():
                best = None
                for c in sorted(cent):
                    d2 = round(float(((v - cent[c]) ** 2).sum()), 6)
                    if best is None or (d2, c) < best[:2]:
                        best = (d2, c)
                out[i] = best
            return out

        for _ in range(2):
            a = assign()
            for c in sorted(cent):
                members = [sub[i] for i, (_, cc) in a.items() if cc == c]
                if members:
                    cent[c] = np.round(np.mean(members, axis=0), 6)
        fin = assign()
        n = len(fin)
        cells = len({c for _, c in fin.values()})
        mse = float(sum(Decimal(str(d2)) for d2, _ in fin.values()) / n)
        r = rows[s]
        assert r.n_vectors == n and r.n_cells == cells
        assert abs(r.avg_mse - round(mse, 6)) < 1e-6


def test_pii_report_ground_truth_on_synthetic_corpus(spark, tmp_path):
    """Known PII counts on a crafted corpus: the report must count every
    email/phone/IPv4 exactly, and the per-source totals must equal the
    Python-side rollup of the per-document rows."""
    docs = [
        (1, "mail a@b.co and c.d+x@e-f.org here", "en", "s1"),
        (2, "call 555-123-4567 or 555.987.6543 now", "en", "s1"),
        (3, "host 10.0.0.1 and 192.168.255.3 up", "en", "s2"),
        (4, "clean text with no identifiers at all", "en", "s2"),
        (5, "mixed x@y.io 111-222-3333 127.0.0.1", "en", None),
        (6, None, "en", "s3"),
    ]
    fixture = str(tmp_path / "piifix")
    spark.createDataFrame(
        [(i, t, lang, s, len(t) if t else None) for i, t, lang, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{fixture}/documents.parquet")

    rows = {r.doc_id: r for r in QUERIES["text_pii_report"](spark, fixture).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}  # NULL-text doc excluded
    assert (rows[1].n_emails, rows[1].n_phones, rows[1].n_ipv4) == (2, 0, 0)
    assert (rows[2].n_emails, rows[2].n_phones, rows[2].n_ipv4) == (0, 2, 0)
    assert (rows[3].n_emails, rows[3].n_phones, rows[3].n_ipv4) == (0, 0, 2)
    assert rows[4].n_pii == 0 and rows[4].has_pii == 0
    assert (rows[5].n_emails, rows[5].n_phones, rows[5].n_ipv4) == (1, 1, 1)
    assert rows[5].has_pii == 1

    totals = {r.source: r for r in QUERIES["text_pii_totals"](spark, fixture).collect()}
    assert totals["s1"].n_docs == 2 and totals["s1"].n_docs_with_pii == 2
    assert totals["s2"].total_ipv4 == 2 and totals["s2"].n_docs_with_pii == 1
    assert totals[None].total_emails == 1 and totals[None].total_phones == 1


def test_bpe_second_merge_round_matches_python(spark, sf_dir):
    """Round-1 winner, leftmost-non-overlapping merge application, and the
    round-2 symbol-pair counts recomputed with plain Python."""
    import re
    from collections import Counter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    wc = Counter()
    for d in docs:
        wc.update(re.findall(r"[a-z']+", (d.text or "").lower()))
    r1 = Counter()
    for w, c in wc.items():
        for i in range(len(w) - 1):
            r1[w[i : i + 2]] += c
    top1 = sorted(r1.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
    r2 = Counter()
    for w, c in wc.items():
        s = w.replace(top1, "\x01")  # Python replace = leftmost non-overlapping
        for i in range(len(s) - 1):
            left = top1 if s[i] == "\x01" else s[i]
            right = top1 if s[i + 1] == "\x01" else s[i + 1]
            r2[f"{left}+{right}"] += c
    want = sorted(r2.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    rows = QUERIES["bpe_second_merge_round"](spark, sf_dir).collect()
    assert all(r.merged_pair == top1 for r in rows)
    assert [(r.sym_pair, r.cnt) for r in rows] == want


def test_quality_rules_report_ground_truth(spark, sf_dir):
    """Symbol/line rule fractions recomputed in plain Python per document."""
    import re

    rows = {
        r.doc_id: r
        for r in QUERIES["text_quality_rules_report"](spark, sf_dir).collect()
    }
    docs = [d for d in spark.read.parquet(f"{sf_dir}/documents.parquet").collect() if d.text is not None]
    assert set(rows) == {d.doc_id for d in docs}
    for d in docs:
        lines = d.text.split("\n")
        nonempty = [x for x in lines if x.strip(" ") != ""]
        n_lines = len(nonempty)
        n_words = len(re.findall(r"[a-z']+", d.text.lower()))
        n_sym = d.text.count("#") + d.text.count("...")  # non-overlapping, same as replace-diff
        bullets = [x for x in lines if x.lstrip(" ").startswith(("-", "*", "•"))]
        ell = [x for x in lines if x.rstrip(" ").endswith("...")]
        r = rows[d.doc_id]
        assert r.n_words == n_words and r.n_lines == n_lines
        assert abs(r.symbol_word_ratio - n_sym / max(n_words, 1)) < 1e-9
        assert abs(r.repeated_line_frac - (n_lines - len(set(nonempty))) / max(n_lines, 1)) < 1e-9
        assert abs(r.bullet_line_frac - len(bullets) / max(n_lines, 1)) < 1e-9
        assert abs(r.ellipsis_line_frac - len(ell) / max(n_lines, 1)) < 1e-9
        want_pass = int(
            n_sym / max(n_words, 1) <= 0.1
            and len(bullets) / max(n_lines, 1) <= 0.9
            and len(ell) / max(n_lines, 1) <= 0.3
        )
        assert r.passes_symbol_rules == want_pass


def test_decontam_eval_report_matches_python_sets(spark, sf_dir):
    """Per-eval-doc contamination recomputed with Python set intersection
    over word-5-grams; also cross-checks consistency with the train-side
    report (an eval doc is contaminated iff some train doc shares a gram)."""
    import re

    def grams(text):
        toks = re.findall(r"[a-z']+", (text or "").lower())
        return {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    train = set()
    for d in docs:
        if d.doc_id % 10 != 0:
            train |= grams(d.text)
    rows = {r.doc_id: r for r in QUERIES["decontam_eval_report"](spark, sf_dir).collect()}
    evald = [d for d in docs if d.doc_id % 10 == 0 and grams(d.text)]
    assert set(rows) == {d.doc_id for d in evald}
    for d in evald:
        g = grams(d.text)
        hit = len(g & train)
        r = rows[d.doc_id]
        assert (r.n_grams, r.n_hit) == (len(g), hit)
        assert abs(r.contamination_frac - hit / len(g)) < 1e-9
        assert r.is_contaminated == int(hit > 0)


def test_search_ndcg_matches_python(spark, sf_dir):
    """NDCG@10 / precision@10 recomputed in plain Python from the collected
    top-10 candidates and the label column."""
    import math

    labels = {
        r.vec_id: r.label
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "label")
        .collect()
    }
    cand = QUERIES["sim_topk_bruteforce"](spark, sf_dir).collect()
    by_q = {}
    for r in cand:
        by_q.setdefault(r.query_id, []).append(r)
    rows = {r.query_id: r for r in QUERIES["search_ndcg_report"](spark, sf_dir).collect()}
    assert set(rows) == set(by_q)
    for q, items in by_q.items():
        items.sort(key=lambda r: r.rank)
        rel = [
            int(
                labels.get(r.neighbor_id) is not None
                and labels.get(q) is not None
                and labels[r.neighbor_id] == labels[q]
            )
            for r in items
        ]
        n_rel = sum(rel)
        dcg = sum(round(rv / math.log2(rk + 2), 9) for rk, rv in enumerate(rel))
        idcg = sum(round(1 / math.log2(i + 2), 9) for i in range(n_rel))
        want = round(dcg / idcg, 6) if idcg > 0 else 0.0
        r = rows[q]
        assert r.n_relevant == n_rel
        assert abs(r.precision_at_10 - n_rel / 10) < 1e-9
        assert abs(r.ndcg_at_10 - want) < 2e-6
        assert 0.0 <= r.ndcg_at_10 <= 1.0


def test_dataset_fingerprint_detects_single_row_drift(spark, sf_dir, tmp_path):
    """The fingerprint must be order-independent (same data, different
    partitioning → same fingerprint) and content-sensitive (one changed row
    → different fingerprint, same row count)."""
    rows = {r.table_name: r for r in QUERIES["dataset_fingerprint_report"](spark, sf_dir).collect()}
    assert set(rows) == {"documents", "orders"}

    base = str(tmp_path / "fp")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # reshuffled copy: same content, different file layout/order
    docs.repartition(7).write.parquet(f"{base}/documents.parquet")
    orders.repartition(3).write.parquet(f"{base}/orders.parquet")
    same = {r.table_name: r for r in QUERIES["dataset_fingerprint_report"](spark, base).collect()}
    for t in ("documents", "orders"):
        assert same[t].n_rows == rows[t].n_rows
        assert same[t].fingerprint == rows[t].fingerprint

    drift = str(tmp_path / "fp2")
    from pyspark.sql import functions as F

    docs.withColumn(
        "text", F.when(F.col("doc_id") == 3, F.lit("mutated")).otherwise(F.col("text"))
    ).write.parquet(f"{drift}/documents.parquet")
    orders.write.parquet(f"{drift}/orders.parquet")
    changed = {r.table_name: r for r in QUERIES["dataset_fingerprint_report"](spark, drift).collect()}
    assert changed["documents"].n_rows == rows["documents"].n_rows
    assert changed["documents"].fingerprint != rows["documents"].fingerprint
    assert changed["orders"].fingerprint == rows["orders"].fingerprint


def test_emb_centroid_drift_matches_numpy(spark, sf_dir):
    """Per-label centroid shift recomputed with numpy under the same
    6-place centroid / 9-place term quantization."""
    import numpy as np

    rows = {r.label: r for r in QUERIES["emb_centroid_drift_report"](spark, sf_dir).collect()}
    emb = [
        (r.label, r.vec_id, np.array(r.embedding, dtype=np.float64))
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        if r.embedding is not None and r.label is not None
    ]
    labels = sorted({e[0] for e in emb})
    seen = set()
    for lab in labels:
        ref = [v for l2, vid, v in emb if l2 == lab and vid % 2 == 0]
        cur = [v for l2, vid, v in emb if l2 == lab and vid % 2 == 1]
        if not ref or not cur:
            assert lab not in rows
            continue
        seen.add(lab)
        cr = np.round(np.mean(ref, axis=0), 6)
        cu = np.round(np.mean(cur, axis=0), 6)
        s2 = float(np.sum(np.round((cr - cu) ** 2, 9)))
        r2 = float(np.sum(np.round(cr * cr, 9)))
        r = rows[lab]
        assert (r.n_ref, r.n_cur) == (len(ref), len(cur))
        assert abs(r.centroid_shift - round(s2 ** 0.5, 6)) < 2e-6
        assert abs(r.relative_shift - round(s2 ** 0.5 / max(r2 ** 0.5, 1e-12), 6)) < 2e-6
    assert seen == set(rows)


def test_span_corruption_plan_ground_truth(spark, sf_dir):
    """Block-level corruption replayed with hashlib over the raw documents:
    token counts, span counts, and the packed input/target lengths."""
    import hashlib as hl
    import re

    rows = {r.doc_id: r for r in QUERIES["span_corruption_plan"](spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    tok_re = re.compile(r"[a-z']+")
    for d in docs:
        toks = tok_re.findall((d.text or "").lower())
        n_blocks = (len(toks) + 2) // 3
        n_masked = n_spans = 0
        for b in range(n_blocks):
            n_tok = min(3, len(toks) - b * 3)
            m = int(hl.md5(f"span:{d.doc_id}:{b}".encode()).hexdigest()[:4], 16)
            if m < 9830:
                n_masked += n_tok
                n_spans += 1
        r = rows[d.doc_id]
        assert r.n_tokens == len(toks)
        assert r.n_masked == n_masked
        assert r.n_spans == n_spans
        assert r.input_len == len(toks) - n_masked + n_spans
        assert r.target_len == n_masked + n_spans
    assert set(rows) == {d.doc_id for d in docs}


def test_negative_sampling_plan_ground_truth(spark, sf_dir):
    """The alias table and all 2000 draws replayed in plain Python with the
    same integer weight space; every word's draw count must match and the
    draws must sum to 2000."""
    import hashlib as hl
    import math
    import re
    from collections import Counter

    out = {r.word: r for r in QUERIES["negative_sampling_plan"](spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    tok_re = re.compile(r"[a-z']+")
    cnt = Counter()
    for d in docs:
        cnt.update(tok_re.findall((d.text or "").lower()))
    vocab = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:1024]
    ws = [math.floor(c**0.75 * 1000000) for _, c in vocab]
    wtot = sum(ws)
    bounds = []
    acc = 0
    for (word, c), w in zip(vocab, ws):
        bounds.append((word, acc, acc + w))
        acc += w
    drawn = Counter()
    for i in range(2000):
        u = int(hl.md5(f"neg:{i}".encode()).hexdigest()[:8], 16) / 4294967296.0
        t = math.floor(u * wtot)
        for word, lo, hi in bounds:
            if lo <= t < hi:
                drawn[word] += 1
                break
    assert sum(drawn.values()) == 2000
    assert set(out) == {w for w, _ in vocab}
    for (word, c), w in zip(vocab, ws):
        r = out[word]
        assert r.cnt == c and r.weight == w
        assert abs(r.p_word - round(w / wtot, 6)) < 1e-9
        assert r.n_drawn == drawn.get(word, 0)


def test_pq_adc_topk_matches_numpy_replay(spark, sf_dir):
    """The whole ADC pipeline replicated in NumPy: retrain the codebooks
    (same md5 seeds / rounding discipline as the Lloyd test above), encode
    every vector, build the 3 query distance tables, rank by the exact
    decimal ADC sum — all 3×10 result rows must match."""
    import numpy as np
    from decimal import Decimal

    out = QUERIES["sim_pq_adc_topk"](spark, sf_dir).collect()
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        if r.embedding is not None
    }
    seeds = sorted(emb, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:8]
    codes = {i: [None] * 4 for i in emb}
    cents = []
    for s in range(4):
        sub = {i: v[s * 16 : (s + 1) * 16] for i, v in emb.items()}
        cent = {c: np.round(sub[i], 6) for c, i in enumerate(seeds)}

        def assign():
            a = {}
            for i, v in sub.items():
                best = None
                for c in sorted(cent):
                    d2 = round(float(((v - cent[c]) ** 2).sum()), 6)
                    if best is None or (d2, c) < best[:2]:
                        best = (d2, c)
                a[i] = best[1]
            return a

        for _ in range(2):
            a = assign()
            for c in sorted(cent):
                members = [sub[i] for i, cc in a.items() if cc == c]
                if members:
                    cent[c] = np.round(np.mean(members, axis=0), 6)
        fin = assign()
        for i, c in fin.items():
            codes[i][s] = c
        cents.append(cent)
    qids = sorted(emb)[:3]
    want = {}
    for q in qids:
        dt = [
            {
                c: Decimal(
                    str(round(float(((emb[q][s * 16 : (s + 1) * 16] - cents[s][c]) ** 2).sum()), 6))
                )
                for c in cents[s]
            }
            for s in range(4)
        ]
        dists = {
            i: sum(dt[s][codes[i][s]] for s in range(4))
            for i in emb
            if i != q
        }
        top = sorted(dists.items(), key=lambda kv: (kv[1], kv[0]))[:10]
        for rk, (i, d) in enumerate(top, 1):
            want[(q, rk)] = (i, float(d))
    assert len(out) == 30
    for r in out:
        wi, wd = want[(r.q_id, r.rank_pos)]
        assert r.vec_id == wi, (r.q_id, r.rank_pos, r.vec_id, wi)
        assert abs(r.adc_dist - round(wd, 6)) < 1e-9


def test_repetition_report_ground_truth(spark, sf_dir):
    """Trigram repetition stats replayed in plain Python."""
    import re
    from collections import Counter

    rows = {r.doc_id: r for r in QUERIES["text_repetition_report"](spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    tok_re = re.compile(r"[a-z']+")
    seen = set()
    for d in docs:
        toks = tok_re.findall((d.text or "").lower())
        if len(toks) < 3:
            assert d.doc_id not in rows
            continue
        seen.add(d.doc_id)
        grams = Counter(
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        )
        tot = sum(grams.values())
        rep = sum(c for c in grams.values() if c > 1)
        r = rows[d.doc_id]
        assert r.n_trigrams == tot
        assert r.n_distinct == len(grams)
        assert r.max_repeat == max(grams.values())
        assert abs(r.repeated_frac - round(rep / tot, 6)) < 1e-9
        assert r.is_degenerate == int(rep * 2 >= tot)
    assert set(rows) == seen


def test_importance_resample_ground_truth(spark, sf_dir):
    """Weights and every accept decision replayed with hashlib."""
    import hashlib as hl
    from collections import Counter, defaultdict

    rows = {r.lang: r for r in QUERIES["corpus_importance_resample"](spark, sf_dir).collect()}
    docs = [
        d
        for d in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
        if d.lang is not None
    ]
    counts = Counter(d.lang for d in docs)
    n_tot, n_langs = len(docs), len(counts)
    w = {l: (1.0 / n_langs) / (c / n_tot) for l, c in counts.items()}
    wmax = max(w.values())
    accepted = defaultdict(int)
    for d in docs:
        u = (int(hl.md5(f"ir:{d.doc_id}".encode()).hexdigest()[:8], 16) + 0.5) / 4294967296.0
        if u < w[d.lang] / wmax:
            accepted[d.lang] += 1
    assert set(rows) == set(counts)
    for l, c in counts.items():
        r = rows[l]
        assert r.n_docs == c
        assert abs(r.p_nat - round(c / n_tot, 6)) < 1e-9
        assert abs(r.p_tgt - round(1.0 / n_langs, 6)) < 1e-9
        assert abs(r.accept_rate - round(w[l] / wmax, 6)) < 1e-9
        assert r.n_accepted == accepted[l]
    # the rarest language must pass whole (its weight IS wmax)
    rare = min(counts, key=lambda l: (counts[l], l))
    assert rows[rare].accept_rate == 1.0


# --- r8 builds: two-table ANN join, k-round BPE, snapshot diff --------------


def test_ann_join_links_across_slices_only(spark, sf_dir):
    """ann_join_nearest_neighbor is a genuine A↔B join: every query comes
    from the incoming-batch slice (vec_id % 17 = 3), every neighbor from
    the index slice, exactly one neighbor per linked query, cosine in
    [-1, 1]."""
    load_all()
    rows = QUERIES["ann_join_nearest_neighbor"](spark, sf_dir).collect()
    assert rows, "fixture slice produced no linkage"
    qids = [r["query_id"] for r in rows]
    assert len(qids) == len(set(qids))  # top-1: one row per left vector
    for r in rows:
        assert r["query_id"] % 17 == 3
        assert r["neighbor_id"] % 17 != 3
        assert -1.0 - 1e-9 <= r["sim"] <= 1.0 + 1e-9


def test_ann_join_top1_matches_bruteforce_on_candidates(spark, sf_dir):
    """For every linked query, the reported neighbor must be AT LEAST as
    similar as any other vector sharing an LSH bucket with it — i.e. the
    rerank really is exact over the candidate set (the linkage is only
    approximate through candidate RECALL, never through ranking)."""
    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        r["query_id"]: (r["neighbor_id"], r["sim"])
        for r in sim.nn_join_lsh(emb, left_pred=lambda c: c % 17 == 3, k=1).collect()
    }
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect() if r["embedding"] is not None}

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    for qid, (nid, s) in got.items():
        exact_best = max(
            cos(vecs[qid], v) for i, v in vecs.items() if i % 17 != 3
        )
        # the reported sim can miss exact_best only via candidate recall;
        # it can never exceed it, and ranking inside candidates is exact
        assert s <= round(exact_best, 6) + 1e-9
        assert abs(cos(vecs[qid], vecs[nid]) - s) < 1e-4


def test_bpe_k_merges_is_consistent_with_single_round_queries(spark, sf_dir):
    """Round 1 of the k-merge trainer must be bpe_merge_pairs' winner, and
    winner counts are non-increasing (every post-merge pair occurrence
    contains the merged symbol, so no later pair can out-count an earlier
    winner)."""
    load_all()
    table = QUERIES["bpe_train_k_merges"](spark, sf_dir).collect()
    assert [r["round"] for r in table] == sorted(r["round"] for r in table)
    assert len(table) == 8
    counts = [r["cnt"] for r in sorted(table, key=lambda r: r["round"])]
    assert counts == sorted(counts, reverse=True)
    r1 = QUERIES["bpe_merge_pairs"](spark, sf_dir).collect()
    best = sorted(r1, key=lambda r: (-r["cnt"], r["pair"]))[0]
    first = next(r for r in table if r["round"] == 1)
    assert first["merged_pair"] == best["pair"]
    assert first["cnt"] == best["cnt"]


def test_snapshot_diff_counts_match_fixture_mutation(spark, sf_dir):
    """The diff report must equal the mutation recipe's own arithmetic:
    removed = dropped slice, added = appended slice, changed = the ENTIRE
    rewritten slice (r9: the mutation is a literal '|mut' marker append,
    which changes every selected row unconditionally — the old upper()
    mutation was identity on caseless text AND engine-dependent on
    non-ASCII, per ADVICE r8)."""
    load_all()
    docs = load_table(spark, sf_dir, "documents")
    mod = F.col("doc_id") % 97
    n13 = docs.filter(mod == 13).count()
    n15 = docs.filter(mod == 15).count()
    n14_changed = docs.filter(mod == 14).count()
    n_total = docs.count()
    row = QUERIES["dataset_snapshot_diff"](spark, sf_dir).collect()[0]
    assert row["n_removed"] == n13
    assert row["n_added"] == n15
    assert row["n_changed"] == n14_changed
    assert row["n_unchanged"] == n_total - n13 - n14_changed


def test_filter_funnel_is_monotone_and_anchored(spark, sf_dir):
    """Funnel survivors must be non-increasing stage over stage, and stage
    0 must equal the raw document count (no silent pre-filter)."""
    load_all()
    docs = load_table(spark, sf_dir, "documents")
    rows = sorted(
        QUERIES["corpus_filter_funnel"](spark, sf_dir).collect(),
        key=lambda r: r["stage"],
    )
    assert rows[0]["stage_name"] == "all"
    assert rows[0]["n_surviving"] == docs.count()
    survs = [r["n_surviving"] for r in rows]
    assert survs == sorted(survs, reverse=True), survs


def test_bpe_encode_compression_bounds(spark, sf_dir):
    """Every merged token covers >= 1 char, so n_tokens <= n_chars and
    chars_per_token >= 1; the per-source word totals must add up to the
    corpus token count (the encode pass drops nothing)."""
    load_all()
    rows = QUERIES["bpe_encode_corpus"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_tokens"] <= r["n_chars"]
        assert r["chars_per_token"] >= 1.0
    docs = load_table(spark, sf_dir, "documents")
    from distributed_mapreduce_in_docker_rpyc_spark.functions.text import tokenize_column

    n_total = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(tokenize_column("text")).alias("w"))
        .count()
    )
    assert sum(r["n_words"] for r in rows) == n_total


def test_curriculum_phases_partition_corpus(spark, sf_dir):
    """Curriculum phases must partition the tokenizable corpus (every doc
    with >= 1 word lands in exactly one phase) with band edges in order."""
    load_all()
    rows = sorted(
        QUERIES["corpus_curriculum_plan"](spark, sf_dir).collect(),
        key=lambda r: r["phase"],
    )
    assert rows
    from distributed_mapreduce_in_docker_rpyc_spark.functions.text import tokenize_column

    docs = load_table(spark, sf_dir, "documents")
    n_eligible = (
        docs.filter(F.col("text").isNotNull())
        .filter(F.size(tokenize_column("text")) >= 1)
        .count()
    )
    assert sum(r["n_docs"] for r in rows) == n_eligible
    for a, b in zip(rows, rows[1:]):
        assert a["max_difficulty"] <= b["min_difficulty"] + 1e-9


def test_uplift_segments_cover_testable_users(spark, sf_dir):
    """Per-segment arm sizes must add up to the users that joined the
    customer dimension, and uplift must equal the arm-rate difference."""
    load_all()
    rows = QUERIES["ab_uplift_by_segment"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        t_rate = r["conv_treat"] / max(r["n_treat"], 1)
        c_rate = r["conv_ctrl"] / max(r["n_ctrl"], 1)
        assert abs(r["uplift"] - round(t_rate - c_rate, 6)) < 1e-9


def test_ann_join_ivf_links_across_slices_with_bounded_probes(spark, sf_dir):
    """The IVF linkage variant must obey the same A-to-B contract as the
    LSH variant (cross-slice only, one top-1 row per linked query) and its
    candidate volume must respect the probe bound: every reported neighbor
    sits in one of the query's 4 probed cells."""
    load_all()
    rows = QUERIES["ann_join_ivf"](spark, sf_dir).collect()
    assert rows
    qids = [r["query_id"] for r in rows]
    assert len(qids) == len(set(qids))
    for r in rows:
        assert r["query_id"] % 17 == 3
        assert r["neighbor_id"] % 17 != 3
        assert -1.0 - 1e-9 <= r["sim"] <= 1.0 + 1e-9


def test_pack_sequences_plan_invariants(spark, sf_dir):
    """Packing arithmetic invariants the oracle hash can't name: the window
    budget covers the corpus (n_sequences * CTX >= total >= (n_sequences-1)
    * CTX), fill ratio in (0, 1], split docs bounded by non-empty docs, and
    the banded cumulative's totals equal a direct aggregate."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_text import _PACK_CTX
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    row = QUERIES["pack_sequences_plan"](spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents")
    assert row["n_docs"] == docs.count()
    total, nseq = row["total_tokens"], row["n_sequences"]
    assert nseq * _PACK_CTX >= total > (nseq - 1) * _PACK_CTX
    assert 0 < row["fill_ratio"] <= 1
    assert 0 <= row["n_split_docs"] <= row["n_docs"] - row["n_empty_docs"]


def test_dataloader_shard_plan_partitions_corpus(spark, sf_dir):
    """Shard rows must partition the corpus exactly (doc counts and token
    totals sum to the whole) and load factors must average 1 weighted by
    construction (sum of shard_tokens * 16 / total over shards = 16)."""
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["dataloader_shard_plan"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    assert len({r["shard"] for r in rows}) == len(rows) <= 16
    total = sum(r["shard_tokens"] for r in rows)
    assert total > 0
    assert abs(sum(r["load_factor"] for r in rows) - 16.0) < 1e-3


def test_pack_manifest_consistent_with_plan(spark, sf_dir):
    """The row-per-sequence manifest must tie out to the 1-row plan: same
    sequence count, token totals equal, every window full except possibly
    the last, and whole docs never exceed contributing docs."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_text import _PACK_CTX
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    plan = QUERIES["pack_sequences_plan"](spark, sf_dir).collect()[0]
    manifest = QUERIES["pack_sequences_manifest"](spark, sf_dir).collect()
    assert len(manifest) == plan["n_sequences"]
    assert sum(r["n_tokens"] for r in manifest) == plan["total_tokens"]
    last = max(r["seq_id"] for r in manifest)
    for r in manifest:
        assert 0 < r["n_tokens"] <= _PACK_CTX
        if r["seq_id"] != last:
            assert r["n_tokens"] == _PACK_CTX
        assert 0 <= r["n_whole_docs"] <= r["n_docs"]


def test_multiprobe_dominates_plain_auto_k(spark, sf_dir):
    """Structural guarantees of Hamming-1 multiprobe: the probe family
    contains the original bucket, so (a) the candidate set is a SUPERSET
    of plain auto-k's, (b) every query plain auto-k links is still linked,
    and (c) measured recall@1 and linked count never decrease.  The probe
    expansion itself must emit exactly 1 + k rows per bucket row, all at
    Hamming distance <= 1 from the original."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators import similarity as sim
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    # probe-family unit contract on a tiny literal frame
    buckets = spark.createDataFrame(
        [(1, 0, "010"), (2, 3, "111")], "vec_id long, tbl int, bucket string"
    )
    probes = sim.hamming1_probes(buckets, 3).collect()
    assert len(probes) == 2 * 4
    by_id = {}
    for r in probes:
        by_id.setdefault((r["vec_id"], r["tbl"]), set()).add(r["bucket"])
    assert by_id[(1, 0)] == {"010", "110", "000", "011"}
    assert by_id[(2, 3)] == {"111", "011", "101", "110"}

    plain = QUERIES["sim_auto_k_recall_report"](spark, sf_dir).collect()[0]
    multi = QUERIES["sim_multiprobe_recall_report"](spark, sf_dir).collect()[0]
    assert multi["k_auto"] == plain["k_auto"]
    assert multi["n_queries"] == plain["n_queries"]
    assert multi["n_linked"] >= plain["n_linked"]
    assert multi["n_correct"] >= plain["n_correct"]
    assert (multi["recall_at_1"] or 0.0) >= (plain["recall_at_1"] or 0.0)

    # directed T=2 probes a SUBSET of the Hamming-1 family that still
    # contains the home bucket: candidates between plain and blind, linked
    # count at least plain's
    directed = QUERIES["sim_directed_probe_recall_report"](spark, sf_dir).collect()[0]
    assert directed["k_auto"] == plain["k_auto"]
    assert directed["n_queries"] == plain["n_queries"]
    assert directed["n_linked"] >= plain["n_linked"]
    assert directed["n_correct"] >= plain["n_correct"]
    assert directed["n_candidates"] <= multi["n_candidates"]


# Eight vectors whose coordinates are multiples of 1/6: every plane dot is
# n/6 exactly, and vector 6's dot on plane 2 is an exact zero — the sign-LSH
# tie that an unquantized float sign decides by summation order.
_SIXTHS_ROWS = [
    (i, [((i * 31 + d * 7) % 13 - 6) / 6.0 for d in range(64)]) for i in range(1, 9)
]


def test_directed_probes_pick_smallest_margin_planes(spark):
    """lsh_bucket_tables_np's probe CHOICE (``n_probes``) must equal the
    spec: per (vector, table), flip exactly the T planes with the smallest
    quantized |dot| (ties on plane index) — recomputed independently here
    with the same md5 hyperplanes in plain NumPy."""
    import numpy as np

    emb = spark.createDataFrame(_SIXTHS_ROWS, "vec_id long, embedding array<double>")
    k, n_tables, t_probes = 4, 3, 2
    got = sim.lsh_bucket_tables_np(
        emb, n_tables=n_tables, planes_per_table=k, n_probes=t_probes
    ).collect()
    by_key = {}
    for r in got:
        by_key.setdefault((r["vec_id"], r["tbl"]), []).append(r["bucket"])
    signs = np.array([sim.hyperplane(p) for p in range(n_tables * k)])
    for vid, vec in _SIXTHS_ROWS:
        dots = np.asarray(vec) @ signs.T
        bits = np.where(np.round(dots, 6) >= 0, "1", "0")
        for t in range(n_tables):
            d_t = dots[t * k : (t + 1) * k]
            b_t = list(bits[t * k : (t + 1) * k])
            home = "".join(b_t)
            order = np.argsort(np.round(np.abs(d_t), 6), kind="stable")
            expect = {home}
            for r_i in range(t_probes):
                fl = b_t.copy()
                p = order[r_i]
                fl[p] = "0" if fl[p] == "1" else "1"
                expect.add("".join(fl))
            assert set(by_key[(vid, t)]) == expect, (vid, t)
            assert len(by_key[(vid, t)]) == 1 + t_probes


def test_sign_lsh_buckets_do_not_depend_on_arrow_batching(spark):
    """A vector's sign-LSH buckets and probes are a function of the vector
    alone, not of which rows share its Arrow batch: vector 6's exact-zero
    dot on plane 2 has an unquantized float sign that differs between a
    1-row and an 8-row matmul."""
    schema = "vec_id long, embedding array<double>"
    one_batch = spark.createDataFrame(spark.sparkContext.parallelize(_SIXTHS_ROWS, 1), schema)
    one_row_batches = spark.createDataFrame(
        spark.sparkContext.parallelize(_SIXTHS_ROWS, 8), schema
    )
    sizes = one_row_batches.groupBy(F.spark_partition_id()).count().collect()
    assert sorted(r["count"] for r in sizes) == [1] * 8
    for n_probes in (0, 2):
        whole, split = (
            sorted(
                tuple(r)
                for r in sim.lsh_bucket_tables_np(
                    e, n_tables=3, planes_per_table=4, n_probes=n_probes
                ).collect()
            )
            for e in (one_batch, one_row_batches)
        )
        assert whole == split


def test_sign_lsh_sql_oracle_takes_the_same_tie_rule():
    """The SQL side of the tie (no Spark): the oracles' bucket CTEs, run in
    DuckDB over the 1/6-grid fixture, must give the buckets of
    ``sign_bits(mat @ signs.T)`` — vector 6's exact zero on plane 2 is bit 1
    on both sides."""
    import duckdb
    import numpy as np
    import pyarrow as pa

    n_tables, k = 3, 4
    mat = np.array([v for _, v in _SIXTHS_ROWS])
    signs = np.array([sim.hyperplane(p) for p in range(n_tables * k)])
    dots = mat @ signs.T
    assert np.round(dots[5, 2], 6) == 0  # the tie is in the fixture
    bits = sim.sign_bits(dots)
    want = sorted(
        (vid, t, "".join(bits[i, t * k : (t + 1) * k]))
        for i, (vid, _) in enumerate(_SIXTHS_ROWS)
        for t in range(n_tables)
    )
    con = duckdb.connect()
    con.register(
        "emb",
        pa.table(
            {
                "vec_id": pa.array([vid for vid, _ in _SIXTHS_ROWS], pa.int64()),
                "embedding": pa.array([v for _, v in _SIXTHS_ROWS], pa.list_(pa.float64())),
            }
        ),
    )
    sql = (
        "WITH norms AS (SELECT vec_id, embedding FROM emb)"
        + sim.sign_lsh_bucket_ctes(n_tables * k, k)
        + " SELECT vec_id, tbl, bucket FROM buckets"
    )
    assert sorted(con.execute(sql).fetchall()) == want


def test_packed_write_layout_contract(spark, tmp_path):
    """The shard-balanced sink's FILE-LAYOUT contract, asserted on the
    actual emitted files (VERDICT r9 next-round #3, the same posture as
    partitioned_write_pruning's PartitionFilters assertion): on a corpus
    big enough to populate every shard, the write must produce (a) one
    hive directory per shard, (b) no parquet file with more rows than
    maxRecordsPerFile, (c) more than one file in a shard whose window
    count exceeds the cap — proof the cap actually splits files — and
    (d) a readback identical to the in-memory window frame."""
    import glob as globmod

    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_text import (
        _PACK_SHARDS,
        _packed_windows,
        write_packed_windows,
    )

    # 256 docs x 512 tokens = 64 full 2048-token windows -> 4 windows in
    # every one of the 16 mod-shards
    docs = spark.createDataFrame(
        [(i, "tok " * 512) for i in range(256)], "doc_id long, text string"
    )
    win = _packed_windows(docs)
    path = str(tmp_path / "packed")
    write_packed_windows(win, path, max_records_per_file=2)

    dirs = sorted(globmod.glob(f"{path}/shard_id=*"))
    assert len(dirs) == _PACK_SHARDS, dirs
    for d in dirs:
        files = globmod.glob(f"{d}/*.parquet")
        assert files, f"no parquet files in {d}"
        counts = [spark.read.parquet(f).count() for f in files]
        assert all(c <= 2 for c in counts), (d, counts)
        # 4 windows per shard at cap 2 -> the cap must have split files
        assert len(files) >= 2, (d, counts)

    # hive read surfaces the partition column last regardless of the
    # passed schema's order — realign by name before the set compare
    back = spark.read.schema(win.schema).parquet(path).select(win.columns)
    assert back.count() == 64
    assert back.exceptAll(win).count() == 0
    assert win.exceptAll(back).count() == 0


def test_packed_write_report_ties_out_to_manifest(spark, sf_dir):
    """The writer's per-shard readback report must tie out to the
    row-per-sequence manifest on the fixture corpus: same window count,
    same token total, and segment counts equal the manifest's per-window
    doc contributions summed over each shard's windows."""
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_text import _PACK_SHARDS
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    report = QUERIES["pack_sequences_write"](spark, sf_dir).collect()
    manifest = QUERIES["pack_sequences_manifest"](spark, sf_dir).collect()
    assert sum(r["n_windows"] for r in report) == len(manifest)
    assert sum(r["n_tokens"] for r in report) == sum(r["n_tokens"] for r in manifest)
    per_shard_docs = {}
    for m in manifest:
        per_shard_docs[m["seq_id"] % _PACK_SHARDS] = (
            per_shard_docs.get(m["seq_id"] % _PACK_SHARDS, 0) + m["n_docs"]
        )
    assert {r["shard_id"]: r["n_segments"] for r in report} == per_shard_docs


def test_batch_padding_plan_ties_out_to_packing(spark, sf_dir):
    """Padding-plan invariants: buckets are powers of two covering their
    docs, per-bucket fill in (0, 1], and the real-token total equals the
    pack plan's (same tokenizer, same non-empty docs) — the two reports
    describe the same corpus under the two batching strategies."""
    from distributed_mapreduce_in_docker_rpyc_spark.registry import QUERIES, load_all

    load_all()
    rows = QUERIES["batch_padding_plan"](spark, sf_dir).collect()
    plan = QUERIES["pack_sequences_plan"](spark, sf_dir).collect()[0]
    assert sum(r["real_tokens"] for r in rows) == plan["total_tokens"]
    assert sum(r["n_docs"] for r in rows) == plan["n_docs"] - plan["n_empty_docs"]
    for r in rows:
        assert r["bucket_len"] >= 16 and (r["bucket_len"] & (r["bucket_len"] - 1)) == 0
        assert r["real_tokens"] <= r["padded_tokens"] == r["n_docs"] * r["bucket_len"]
        assert 0 < r["fill_ratio"] <= 1
        assert r["n_batches"] == -(-r["n_docs"] // 32)


def test_semdedup_keep_rule_invariants(spark, sf_dir):
    """Structural invariants of the SemDeDup drop rule: counts reconcile,
    and because the per-cluster minimum-(cent_sim, vec_id) member can never
    lose a pair, every cluster keeps at least one member."""
    load_all()
    rows = QUERIES["dedup_semdedup_report"](spark, sf_dir).collect()
    assert rows, "report must cover the clusters"
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    assert sum(r["n_members"] for r in rows) == emb.count()
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_members"]
        assert 0 <= r["n_dropped"] <= r["n_dup_pairs"] or r["n_dup_pairs"] == 0
        if r["n_members"] > 0:
            assert r["n_kept"] >= 1, r
        assert 0.0 <= r["drop_frac"] <= 1.0
    # the fixture embeds genuine near-duplicates: the rule must actually
    # fire somewhere, else the query asserts nothing
    assert sum(r["n_dropped"] for r in rows) > 0


def test_attention_mask_plan_reconciles_with_pack_family(spark, sf_dir):
    """pack_attention_mask_plan must agree with the packing plan and the
    manifest it prices: same window count, boundaries = total manifest doc
    slices minus windows, and the document mask only ever REMOVES
    attention pairs."""
    load_all()
    mask = QUERIES["pack_attention_mask_plan"](spark, sf_dir).collect()[0]
    plan = QUERIES["pack_sequences_plan"](spark, sf_dir).collect()[0]
    manifest = QUERIES["pack_sequences_manifest"](spark, sf_dir).collect()
    assert mask["n_windows"] == plan["n_sequences"] == len(manifest)
    assert mask["n_boundaries"] == sum(r["n_docs"] for r in manifest) - len(manifest)
    assert mask["n_multi_doc_windows"] == sum(1 for r in manifest if r["n_docs"] > 1)
    assert 0 < mask["block_diag_pairs"] <= mask["causal_pairs"]
    assert 0.0 <= mask["cross_doc_attn_frac"] < 1.0
    assert 0 <= mask["continuation_tokens"] <= plan["total_tokens"]


def test_semdedup_survivors_reconcile_with_report(spark, sf_dir):
    """The keep list must be exactly the report's accounting: per-cluster
    survivor counts equal n_kept, and no survivor pair can include a
    dropped member's id twice (the list is a subset of the members)."""
    load_all()
    surv = QUERIES["dedup_semdedup_survivors"](spark, sf_dir).collect()
    report = {
        r["cluster"]: r
        for r in QUERIES["dedup_semdedup_report"](spark, sf_dir).collect()
    }
    per_cluster: dict[int, int] = {}
    for r in surv:
        per_cluster[r["cluster"]] = per_cluster.get(r["cluster"], 0) + 1
    for cluster, rep in report.items():
        assert per_cluster.get(cluster, 0) == rep["n_kept"], cluster
    assert len(surv) == len({r["vec_id"] for r in surv})


def test_directed_probes_clamp_to_k(spark):
    """n_probes > k must clamp: with k=2 planes per table, T=5 emits only
    1 home + 2 flips per (vector, table) — never a duplicate or an
    out-of-range flip index."""
    rows = [(i, [((i * 13 + d) % 7 - 3) / 3.0 for d in range(64)]) for i in range(1, 5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sim.lsh_bucket_tables_np(
        emb, n_tables=2, planes_per_table=2, n_probes=5
    ).collect()
    by_key = {}
    for r in got:
        by_key.setdefault((r["vec_id"], r["tbl"]), []).append(r["bucket"])
    for (vid, t), buckets in by_key.items():
        assert len(buckets) == 3, (vid, t, buckets)
        assert len(set(buckets)) == 3
        assert all(len(b) == 2 for b in buckets)
