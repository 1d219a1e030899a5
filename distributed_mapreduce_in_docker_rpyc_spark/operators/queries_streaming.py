"""Registered streaming queries (SURVEY.md §7 M5).

Each entry RUNS a Structured Streaming job over the events parquet
(``Trigger.AvailableNow`` → memory sink) and returns the materialized result
as a batch DataFrame, so the driver hash-compares an actual incremental
execution against the DuckDB batch oracle — stream ≡ batch ≡ oracle.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_in_docker_rpyc_spark.operators import similarity as sim
from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_text import PACK_SEQUENCES_MANIFEST_ORACLE
from distributed_mapreduce_in_docker_rpyc_spark.registry import register
from distributed_mapreduce_in_docker_rpyc_spark.streaming import jobs

_VALUE_DEC = "CAST(value AS DECIMAL(30,6))"


def _run(agg: DataFrame, output_mode: str = "complete", checkpoint: bool = False) -> DataFrame:
    """Run ``agg`` to completion into a memory sink and return the sink's
    rows as a batch frame.  The frame is resolved before the sink's temp
    view is dropped and holds the rows itself, so neither the view nor the
    checkpoint outlives the call."""
    spark = agg.sparkSession
    table = f"stream_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="sg-ckpt-") if checkpoint else None
    try:
        jobs.run_to_memory(agg, table, output_mode=output_mode, checkpoint_dir=ckpt)
        return spark.table(table)
    finally:
        spark.catalog.dropTempView(table)
        if ckpt:
            shutil.rmtree(ckpt, ignore_errors=True)


@register(
    "stream_tumbling_hourly",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS wstart, event_type,
           COUNT(*) AS n_events,
           CAST(SUM({_VALUE_DEC}) AS DOUBLE) AS total_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows executed INCREMENTALLY (watermarked streaming
    aggregation, availableNow backfill) — result must equal the batch SQL."""
    return _run(jobs.tumbling_hourly(jobs.events_stream(spark, sf_dir)))


@register(
    "stream_sliding_10m_5m",
    oracle=f"""
    WITH slid AS (
        SELECT e.*, time_bucket(INTERVAL '5 minutes', e.ts) - o.o * INTERVAL '5 minutes' AS wstart
        FROM events e, generate_series(0, 1) o(o)
    )
    SELECT wstart, COUNT(*) AS n_events,
           CAST(SUM({_VALUE_DEC}) AS DOUBLE) AS total_value
    FROM slid
    WHERE ts >= wstart AND ts < wstart + INTERVAL '10 minutes'
    GROUP BY wstart
    """,
)
def stream_sliding_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10m/5m windows executed incrementally."""
    return _run(jobs.sliding_10m_5m(jobs.events_stream(spark, sf_dir)))


@register(
    "stream_stateful_user_totals",
    oracle="SELECT user_id, COUNT(*) AS n_total FROM events GROUP BY user_id",
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState running counter);
    final per-user state must equal the batch COUNT(*)."""
    emitted = _run(
        jobs.stateful_user_totals(jobs.events_stream(spark, sf_dir)),
        output_mode="update",
        checkpoint=True,
    )
    # update mode re-emits per micro-batch; the max is the final state.
    return emitted.groupBy("user_id").agg(F.max("n_total").alias("n_total"))


@register(
    "stream_session_windows",
    oracle="""
    WITH d AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM d
    )
    SELECT MIN(ts) AS t_start,
           MAX(ts) + INTERVAL '30 minutes' AS t_end,
           user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap-based session windows (30 min) per user, incrementally.

    DuckDB has no session window, but the lag/cumsum construction reproduces
    ``F.session_window`` exactly: a session breaks when the gap to the
    previous event is >= 30 min (Spark's window end ``last + gap`` is
    exclusive), t_end = last event + gap.  The stream≡batch equality is
    additionally asserted in tests/test_streaming.py."""
    return _run(jobs.session_windows(jobs.events_stream(spark, sf_dir)))


@register(
    "stream_static_join_segments",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM({_VALUE_DEC}) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join executed incrementally: events stream enriched
    with the customer dim (broadcast per micro-batch), aggregated by market
    segment — result must equal the batch join."""
    from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return _run(jobs.enriched_counts(jobs.events_stream(spark, sf_dir), dim))


@register(
    "stream_dedup_pairs",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup: the emitted set of (user_id, event_type)
    pairs must equal batch DISTINCT."""
    return _run(
        jobs.distinct_user_event_pairs(jobs.events_stream(spark, sf_dir)),
        output_mode="append",
        checkpoint=True,
    )


@register(
    "stream_stream_join_attribution",
    oracle="""
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           p.ts AS purchase_ts, c.ts AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '30 minutes'
    """,
)
def stream_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click→purchase attribution within 30
    minutes), both sides watermarked and state-store buffered, executed
    incrementally — hash-checked against the batch range join."""
    stream = jobs.events_stream(spark, sf_dir)
    return _run(
        jobs.click_purchase_stream_join(stream),
        output_mode="append",
        checkpoint=True,
    )


# 24 h per-step window: the sparse fixture (~2 events/user/day) yields real
# matches there where the 30-min production default yields none.
_CEP_W_US = 24 * 3600 * 1_000_000


@register(
    "stream_cep_funnel",
    oracle=f"""
    WITH RECURSIVE ev AS MATERIALIZED (
        SELECT user_id, epoch_us(ts) AS t, event_type AS typ,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_type) AS rn
        FROM events
        WHERE ts IS NOT NULL AND event_type IS NOT NULL
    ),
    step AS (
        SELECT user_id, CAST(0 AS BIGINT) AS rn, 0 AS stage,
               CAST(0 AS BIGINT) AS view_us, CAST(0 AS BIGINT) AS click_us,
               CAST(NULL AS BIGINT) AS m_view, CAST(NULL AS BIGINT) AS m_click,
               CAST(NULL AS BIGINT) AS m_purchase
        FROM (SELECT DISTINCT user_id FROM ev)
        UNION ALL
        SELECT user_id, rn,
               CASE WHEN s1 = 0 AND typ = 'view' THEN 1
                    WHEN s1 = 1 AND typ = 'click' THEN 2
                    WHEN s1 = 2 AND typ = 'purchase' THEN 0
                    ELSE s1 END AS stage,
               CASE WHEN s1 = 0 AND typ = 'view' THEN t ELSE view_us END AS view_us,
               CASE WHEN s1 = 1 AND typ = 'click' THEN t ELSE click_us END AS click_us,
               CASE WHEN s1 = 2 AND typ = 'purchase' THEN view_us END AS m_view,
               CASE WHEN s1 = 2 AND typ = 'purchase' THEN click_us END AS m_click,
               CASE WHEN s1 = 2 AND typ = 'purchase' THEN t END AS m_purchase
        FROM (
            SELECT s.user_id, e.rn, e.t, e.typ, s.view_us, s.click_us,
                   CASE WHEN s.stage = 1 AND e.t - s.view_us > {_CEP_W_US} THEN 0
                        WHEN s.stage = 2 AND e.t - s.click_us > {_CEP_W_US} THEN 0
                        ELSE s.stage END AS s1
            FROM step s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1
        )
    )
    SELECT user_id,
           strftime(make_timestamp(m_view), '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
           strftime(make_timestamp(m_click), '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           strftime(make_timestamp(m_purchase), '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
    FROM step WHERE m_purchase IS NOT NULL
    """,
)
def stream_cep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP pattern matching (Flink-CEP's ``SELECT a b c WITHIN t`` shape)
    executed INCREMENTALLY: greedy per-user view→click→purchase sequences,
    each step within 24 h of the previous, matched by a custom stateful
    operator (``applyInPandasWithState``) whose partial-match state survives
    micro-batch boundaries.

    The oracle replays the same greedy state machine as a recursive CTE —
    one iteration per event rank, threading (stage, view_us, click_us)
    through CASE expressions — so the driver hash-checks an inherently
    sequential pattern matcher, the same technique as the
    ``pagerank_word_graph`` iterative oracle."""
    return _run(
        jobs.cep_funnel_matches(jobs.events_stream(spark, sf_dir), window_us=_CEP_W_US),
        output_mode="append",
        checkpoint=True,
    )


@register(
    "stream_dedup_against_corpus",
    oracle="""
    SELECT n.doc_id AS doc_id, c.dup_of AS dup_of,
           c.dup_of IS NOT NULL AS is_dup
    FROM documents n
    LEFT JOIN (
        SELECT sha256(text) AS h, MIN(doc_id) AS dup_of
        FROM documents WHERE doc_id % 5 <> 4
        GROUP BY sha256(text)
    ) c ON sha256(n.text) = c.h
    WHERE n.doc_id % 5 = 4
    """,
)
def stream_dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest gate: documents arriving on a file stream (the
    doc_id % 5 = 4 batch plays the feed) are exact-dedup-checked against the
    static corpus via a stateless stream-static broadcast join — the
    streaming twin of ``dedup_incremental``'s exact stage, executed
    INCREMENTALLY and hash-checked against the same batch oracle."""
    from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    corpus_keepers = (
        docs.filter((F.col("doc_id") % 5) != 4)
        .groupBy(F.sha2(F.col("text"), 256).alias("h"))
        .agg(F.min("doc_id").alias("dup_of"))
    )
    feed = jobs.documents_stream(spark, sf_dir).filter((F.col("doc_id") % 5) == 4)
    return _run(jobs.dedup_against_corpus(feed, corpus_keepers), output_mode="append")


def _replay_feed(spark, sf_dir: str, cols: list[str], work_name: str, splits=None):
    """Replay the events table as a multi-file micro-batch feed projecting
    ``cols``; returns (work_root, streaming DataFrame reading it one file
    per micro-batch, oldest mtime first).  Default ``splits`` is the
    THREE-FILE out-of-order feed (history / straggler band / head — see
    ``stream_watermark_finalize``); callers may pass their own
    ``[(tag, predicate)]`` list over ``ts`` and the broadcast 1-row ``mx``
    max-timestamp column — the left-outer join uses a strictly time-ordered
    two-split so no row arrives below the advancing watermark.  No driver
    collect: the split predicates ride the broadcast mx frame."""
    import glob
    import os
    import shutil

    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_wordcount import _work_dir
    from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(*cols)
    mx = ev.agg(F.max("ts").alias("mx"))
    cls = ev.crossJoin(F.broadcast(mx))
    if splits is None:
        band = (F.col("ts") > F.col("mx") - F.expr("INTERVAL 8 HOUR")) & (
            F.col("ts") <= F.col("mx") - F.expr("INTERVAL 5 HOUR")
        )
        head_cut = F.col("ts") <= F.col("mx") - F.expr("INTERVAL 3 HOUR")
        splits = [
            ("0-history", (~band) & head_cut),
            ("1-stragglers", band),
            ("2-head", ~head_cut),
        ]
    root = _work_dir(work_name)
    feed = os.path.join(root, "feed")
    os.makedirs(feed)
    for n, (tag, pred) in enumerate(splits):
        stage = os.path.join(root, tag)
        cls.where(pred).select(*cols).coalesce(1).write.parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = os.path.join(feed, f"{tag}.parquet")
        shutil.move(part, dst)
        # file-source order = modification time, oldest first; pin it
        os.utime(dst, (1_700_000_000 + 100 * n, 1_700_000_000 + 100 * n))
    # Not sources.tables.parquet_schema, here or at the two feeds below:
    # each call writes a new feed directory, so the session's schema memo
    # would only gain one entry per invocation.
    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    return root, stream


@register(
    "stream_watermark_finalize",
    oracle="""
    WITH m AS (SELECT max(ts) AS mx FROM events)
    SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n_events
    FROM events, m
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= mx - INTERVAL 7273 SECOND
    GROUP BY 1, 2
    """,
)
def stream_watermark_finalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark append-mode FINALIZATION semantics made observable — the
    late-data contract the reference has no answer to (SURVEY.md §2.2 "no
    late-data handling").  The events table is replayed as three controlled
    micro-batches: (A) all history up to max-3h except a straggler band,
    (B) the straggler band (max-8h, max-5h] arriving AFTER the watermark
    (delay 7273 s) has passed most of it, (C) the head beyond max-3h that
    advances the watermark far enough to close every remaining window.
    Append-mode tumbling counts then pin Spark's guaranteed contract:
    every window row is emitted EXACTLY ONCE, only after the watermark
    passes its end; windows still open at end-of-input (the last ~2 h)
    never emit; stragglers arriving within state lifetime merge into their
    window before its single emission.  (Dropping data beyond the watermark
    is explicitly best-effort in Spark — this build admits it, verified
    empirically and reflected in the oracle — so the hash check pins the
    guarantee, not the heuristic.)

    Scale posture: the feed build is three filtered writes of the narrow
    (ts, event_type) projection (no driver collect — the max rides a
    broadcast 1-row frame); the streaming side is a standard watermarked
    tumbling aggregation whose state is bounded by the watermark."""
    _, stream = _replay_feed(spark, sf_dir, ["ts", "event_type"], "latefeed")
    agg = (
        stream.withWatermark("ts", "7273 seconds")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n_events")
    )
    return _run(agg, output_mode="append", checkpoint=True)


@register(
    "stream_upsert_user_state",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
)
def stream_upsert_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC sink: a micro-batched event stream drives MERGE/upsert
    of per-user running state into a parquet table via ``foreachBatch`` —
    the standard "stream into a serving table" pattern (Delta/Iceberg MERGE
    minus the transaction log; ``maintenance.upsert_parquet`` is the merge).
    The table is replayed as THREE out-of-order micro-batches (shared
    ``_replay_feed``), so the same user accumulates across merges: each
    batch aggregates its slice, joins the existing table state, and upserts
    combined (count, decimal-exact value sum, last ts) rows; after the
    availableNow backfill the table must equal the plain batch aggregate —
    hash-checked against that oracle.

    Scale posture: per-batch work is one partial aggregate on the uniform
    user_id key plus a key-equi merge of O(touched users) rows; at 100 TB
    the table is partitioned and only affected partitions rewrite (see
    upsert_parquet docstring)."""
    import os

    from distributed_mapreduce_in_docker_rpyc_spark.operators.maintenance import upsert_parquet

    root, stream = _replay_feed(spark, sf_dir, ["ts", "user_id", "value"], "upsertfeed")
    table = os.path.join(root, "user_state")
    schema = "user_id long, n_events long, total_value decimal(30,6), last_ts timestamp"
    spark.createDataFrame([], schema).write.parquet(table)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).alias("total_value"),
            F.max("ts").alias("last_ts"),
        )
        prev = batch_df.sparkSession.read.parquet(table).select(
            F.col("user_id"),
            F.col("n_events").alias("p_n"),
            F.col("total_value").alias("p_v"),
            F.col("last_ts").alias("p_ts"),
        )
        combined = (
            delta.join(prev, "user_id", "left")
            .select(
                "user_id",
                (F.col("n_events") + F.coalesce("p_n", F.lit(0))).alias("n_events"),
                (
                    F.col("total_value")
                    + F.coalesce(F.col("p_v"), F.lit(0).cast("decimal(30,6)"))
                ).cast("decimal(30,6)").alias("total_value"),
                F.greatest(F.col("last_ts"), F.coalesce("p_ts", F.col("last_ts"))).alias(
                    "last_ts"
                ),
            )
        )
        upsert_parquet(batch_df.sparkSession, table, combined, "user_id")

    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(root, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(table).select(
        "user_id",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        "last_ts",
    )


@register(
    "stream_join_left_outer",
    oracle="""
    WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
    m AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
                 - INTERVAL '2 hours' AS wm)
    SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
           p.ts AS purchase_ts, c.ts AS click_ts
    FROM p JOIN c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '30 minutes'
    UNION ALL
    SELECT p.user_id, p.event_id AS purchase_id, CAST(NULL AS BIGINT) AS click_id,
           p.ts AS purchase_ts, CAST(NULL AS TIMESTAMP) AS click_ts
    FROM p, m
    WHERE NOT EXISTS (
            SELECT 1 FROM c
            WHERE c.user_id = p.user_id
              AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '30 minutes'
          )
      AND p.ts < m.wm
    """,
)
def stream_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream join with watermarked state: purchases with
    no attributable click in the preceding 30 minutes emit ONCE,
    null-extended, only after the watermark proves no matching click can
    still arrive — the outer-join finalization semantics Structured
    Streaming layers on top of the inner interval join
    (``stream_stream_join_attribution``).

    The feed is a strictly time-ordered two-file replay (history ≤ mx−3h,
    then head), so the watermark ratchets mid-stream and nothing arrives
    late.  The oracle encodes the EXACT emission contract of the state
    store: matched pairs always emit; an unmatched purchase emits iff
    ``purchase_ts < least(max click_ts, max purchase_ts) − 2h`` — each
    ``withWatermark`` operator tracks the max event time IT has seen
    (clicks and purchases separately, not the whole events table), the
    query's global watermark is the MIN across them
    (spark.sql.streaming.multipleWatermarkPolicy default), and a buffered
    purchase below that line can never match a future click.  Purchases
    above the line are still sitting in the state store when the
    availableNow run drains, exactly as they would be on a live cluster
    (verified to the row against the running query at two scale factors).

    State at 100 TB: both sides' buffers are bounded by watermark + interval
    (eviction is by event time, not row count), keyed on user_id — uniform
    partitioning, no skew amplification beyond the data's own."""
    ordered = [
        ("0-history", F.col("ts") <= F.col("mx") - F.expr("INTERVAL 3 HOUR")),
        ("1-head", F.col("ts") > F.col("mx") - F.expr("INTERVAL 3 HOUR")),
    ]
    _, stream = _replay_feed(
        spark, sf_dir, ["ts", "event_id", "user_id", "event_type"],
        "outerjoinfeed", splits=ordered,
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 minutes")),
        "leftOuter",
    ).select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id", "purchase_ts", "click_ts"
    )
    return _run(joined, output_mode="append", checkpoint=True)


@register(
    "stream_wordcount_totals",
    oracle="""
    WITH toks AS (
        SELECT lower(unnest(regexp_extract_all(lower(text), '[A-Za-z'']+'))) AS word
        FROM documents
    )
    SELECT word, count(*) AS cnt
    FROM toks
    GROUP BY word
    """,
)
def stream_wordcount_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own workload (SURVEY.md §2.1 OP-5..OP-10: tokenize,
    lowercase, per-word counts) executed INCREMENTALLY as a streaming
    aggregation over the document feed — closing the parity loop in the
    streaming dimension the reference lacks entirely: the same counts the
    batch engine produces must come out of the state-store path,
    micro-batch by micro-batch (stream ≡ batch ≡ oracle)."""
    return _run(jobs.wordcount_totals(jobs.documents_stream(spark, sf_dir)))


# Oracle: the batch ANN-join replay with the arrival-order candidate
# predicate — batch b's queries link against the index slice plus earlier
# batches only.
@register(
    "stream_ann_index_maintenance",
    oracle=sim.COSINE_CTES
    + sim.LSH_BUCKET_CTES
    + sim.lsh_cand_cte(
        "qb.vec_id % 17 = 3 AND (nb.vec_id % 17 != 3"
        " OR (nb.vec_id % 17 = 3 AND nb.vec_id % 3 < qb.vec_id % 3))"
    )
    + sim.ANN_JOIN_SELECT,
)
def stream_ann_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN index maintenance (r9, VERDICT r8 next-round #7 /
    "missing" #2): the production loop ``ann_join_nearest_neighbor`` left
    open — new vectors ARRIVE over time, and each micro-batch must (a) link
    against the index as it existed at arrival and (b) be upserted into the
    persisted sign-LSH bucket frame so LATER batches can link to it.

    Mechanics: the incoming slice (vec_id % 17 = 3) is replayed as three
    micro-batches in arrival order ``vec_id % 3`` ∈ {0, 1, 2}; the bucket
    frame starts as the index slice's (vec_id, tbl, bucket) rows (the same
    6×3 sign-LSH family as the batch join, via ``lsh_bucket_tables_np``)
    in a parquet table.  Each ``foreachBatch``: bucket the batch (one
    NumPy matmul per Arrow batch), equi-join its buckets against the
    CURRENT frame — only the affected buckets are touched, by construction
    of the equi-join — exact-cosine rerank to top-1, MERGE the links by
    query_id and the new buckets by (vec_id, tbl) composite key
    (``upsert_parquet``, so a retried micro-batch is idempotent =
    exactly-once sink semantics).  Batch b therefore links against
    index ∪ {batches < b}, never its own batch — and the oracle replays
    exactly that candidate set with an arrival-order predicate.

    Scale posture: per-batch cost is O(|batch| · L) bucket rows broadcast
    onto the frame + the candidate rerank; the frame grows append-only and
    at 100 TB is partitioned by (tbl, bucket-prefix) so the merge rewrites
    only affected partitions.  ``test_streaming`` asserts stream ≡ batch:
    the final frame equals the one-shot bucket build over the full corpus.

    Reference provenance: the reference has no streaming or similarity
    surface (SURVEY.md §2.2); extended-brief scope."""
    import glob
    import os
    import shutil

    from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import work_dir
    from distributed_mapreduce_in_docker_rpyc_spark.operators.maintenance import upsert_parquet
    from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table

    emb = sim.non_null_vectors(load_table(spark, sf_dir, "embeddings"), "embedding")
    root = work_dir("annmaint")

    # --- micro-batch feed: the incoming slice in arrival order vec_id % 3
    feed = os.path.join(root, "feed")
    os.makedirs(feed)
    incoming = emb.filter(F.col("vec_id") % 17 == 3).select("vec_id", "embedding")
    for b in range(3):
        stage = os.path.join(root, f"b{b}")
        incoming.filter(F.col("vec_id") % 3 == b).coalesce(1).write.parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = os.path.join(feed, f"b{b}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + 100 * b, 1_700_000_000 + 100 * b))

    # --- persisted state: the bucket frame (index slice) + empty links
    bucket_table = os.path.join(root, "bucket_frame")
    links_table = os.path.join(root, "links")
    index_buckets = sim.lsh_bucket_tables_np(
        emb.filter(F.col("vec_id") % 17 != 3)
    ).withColumn("bkey", F.concat_ws("-", "vec_id", "tbl"))
    index_buckets.write.parquet(bucket_table)
    spark.createDataFrame(
        [], "query_id long, neighbor_id long, sim double"
    ).write.parquet(links_table)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        bb = sim.lsh_bucket_tables_np(batch_df).persist()
        cand = sim.lsh_candidates(bb, s.read.parquet(bucket_table))
        index = sim.non_null_vectors(load_table(s, sf_dir, "embeddings"), "embedding")
        links = sim.rerank(cand, batch_df, index, 1).select("query_id", "neighbor_id", "sim")
        # link FIRST (against the pre-batch frame), then admit the batch
        upsert_parquet(s, links_table, links, "query_id")
        upsert_parquet(
            s,
            bucket_table,
            bb.withColumn("bkey", F.concat_ws("-", "vec_id", "tbl")),
            "bkey",
        )
        bb.unpersist()

    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(root, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(links_table)


# Oracle: the batch manifest's SQL verbatim — the strongest stream ≡ batch
# statement available.
@register("stream_pack_sequences", oracle=PACK_SEQUENCES_MANIFEST_ORACLE)
def stream_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming concat-and-chunk packing (r10): the packing manifest as a
    CONTINUOUSLY-RUNNING ingest job — documents arrive in corpus order
    over three micro-batches, and the job maintains the same
    doc->window manifest ``pack_sequences_manifest`` computes in one
    shot.  Stream ≡ batch ≡ oracle: the registered oracle IS the batch
    manifest's SQL, so the state-store path is hash-checked against the
    one-shot computation every driver round.

    Mechanics: the feed replays ``documents`` as three contiguous
    ``doc_id`` ranges in order (packing is defined over the corpus total
    order, so arrival order = doc_id order is the contract — out-of-order
    arrival would be a different operator).  Persisted state is (a) a
    SEGMENT table keyed by ``doc_id-seq_id`` — each document's window
    slices, upserted per batch, and (b) a CARRY table keyed by batch id
    holding the cumulative token total after that batch.  Each
    ``foreachBatch``: read the previous batch's carry (one bounded 1-row
    lookup), run the batch-local banded cumulative, offset by the carry
    to get every document's GLOBAL exclusive prefix, explode into window
    segments, and MERGE both tables (``upsert_parquet``).  Keying the
    carry by batch id makes a retried micro-batch idempotent — it
    recomputes from the PREVIOUS batch's carry instead of double-counting
    its own (exactly-once state semantics without a transaction log).
    A window split across a batch boundary converges as its later
    segments arrive — exactly how a continuous packing service behaves.

    Scale posture: per-batch cost is the batch's tokenize scan + banded
    cumulative + one merge shuffle on the uniform ``doc_id-seq_id`` key;
    state grows with segments (≈ docs + splits), never rescanned; the
    carry is O(batches) 2-long rows.  At 100 TB the segment table is
    partitioned by seq_id range and each merge rewrites only affected
    partitions.  Reference provenance: none — the reference has no
    streaming surface (SURVEY.md §2.2); extended-brief scope."""
    import glob
    import os
    import shutil

    from distributed_mapreduce_in_docker_rpyc_spark.functions.text import tokenize_column
    from distributed_mapreduce_in_docker_rpyc_spark.operators._shared import work_dir
    from distributed_mapreduce_in_docker_rpyc_spark.operators.maintenance import upsert_parquet
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_features import _banded_cum
    from distributed_mapreduce_in_docker_rpyc_spark.operators.queries_text import _PACK_CTX as CTX
    from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import load_table

    root = work_dir("packstream")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ids = docs.agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")).collect()[0]
    # Empty corpus: min/max are NULL — feed three empty batches instead of
    # crashing (the job then produces the empty manifest, same as the batch
    # twin on empty input).
    lo = ids["lo"] if ids["lo"] is not None else 0
    span = (ids["hi"] - lo + 1) if ids["hi"] is not None else 1

    feed = os.path.join(root, "feed")
    os.makedirs(feed)
    prev = lo
    for b in range(3):
        ub = lo + (span * (b + 1)) // 3
        stage = os.path.join(root, f"b{b}")
        docs.filter(
            (F.col("doc_id") >= prev) & (F.col("doc_id") < ub)
        ).coalesce(1).write.parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = os.path.join(feed, f"b{b}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + 100 * b,) * 2)
        prev = ub

    seg_table = os.path.join(root, "segments")
    carry_table = os.path.join(root, "carry")
    spark.createDataFrame(
        [], "skey string, doc_id long, seq_id long, cb long, nt long, tok_len long"
    ).write.parquet(seg_table)
    spark.createDataFrame([], "batch_id long, cum_after long").write.parquet(
        carry_table
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        carry_rows = {
            r["batch_id"]: r["cum_after"]
            for r in s.read.parquet(carry_table).collect()
        }
        carry = carry_rows.get(batch_id - 1, 0)
        d = batch_df.select(
            "doc_id",
            F.coalesce(F.size(tokenize_column("text")), F.lit(0))
            .cast("long")
            .alias("nt"),
        )
        c = (
            _banded_cum(d, "doc_id", ("nt",), 4096.0)
            .select(
                "doc_id",
                "nt",
                (F.col("cum_nt") - F.col("nt") + F.lit(carry)).alias("cb"),
            )
            .filter(F.col("nt") > 0)
        )
        seg = c.select(
            "doc_id",
            "nt",
            "cb",
            F.explode(
                F.sequence(
                    F.expr(f"cb div {CTX}"), F.expr(f"(cb + nt - 1) div {CTX}")
                )
            ).alias("seq_id"),
        ).select(
            F.concat_ws("-", "doc_id", "seq_id").alias("skey"),
            "doc_id",
            "seq_id",
            "cb",
            "nt",
            (
                F.least((F.col("seq_id") + 1) * CTX, F.col("cb") + F.col("nt"))
                - F.greatest(F.col("seq_id") * CTX, F.col("cb"))
            ).alias("tok_len"),
        )
        batch_total = c.agg(F.coalesce(F.sum("nt"), F.lit(0))).collect()[0][0] or 0
        upsert_parquet(s, seg_table, seg, "skey")
        upsert_parquet(
            s,
            carry_table,
            s.createDataFrame(
                [(batch_id, carry + batch_total)], "batch_id long, cum_after long"
            ),
            "batch_id",
        )

    schema = spark.read.parquet(feed).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(feed)
    )
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(root, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    segs = spark.read.parquet(seg_table)
    return (
        segs.groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(
                F.when(
                    (F.col("cb") >= F.col("seq_id") * CTX)
                    & (F.col("cb") + F.col("nt") <= (F.col("seq_id") + 1) * CTX),
                    1,
                )
            ).alias("n_whole_docs"),
            F.sum("tok_len").cast("bigint").alias("n_tokens"),
        )
        .select(
            F.col("seq_id").cast("bigint").alias("seq_id"),
            "n_docs",
            "n_whole_docs",
            "n_tokens",
        )
    )
