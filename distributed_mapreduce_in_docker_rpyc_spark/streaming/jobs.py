"""Structured Streaming slice over the events table (SURVEY.md §7 M5).

The reference is batch-only, run-to-completion (reference README.md:38-39;
SURVEY.md §2.2 "Streaming: none") — this module is the extended scope a
modern analytics engine needs: incremental tumbling/sliding/session windows
with event-time watermarks, plus a custom stateful operator via
``applyInPandasWithState``.

Stream ≡ batch is the correctness contract: every streaming aggregation here
has the same shape as its batch twin in ``operators/queries_events.py``, and
tests drive the SAME parquet through both paths (file-source +
``Trigger.AvailableNow`` → memory sink) and assert equality.

Scale posture: streaming state lives in the state store keyed by
(window/session, group keys) — uniform keys, partitioned by the normal
shuffle; watermarks bound state size (late data beyond the delay is dropped,
finalized windows are evicted). ``availableNow`` + ``maxFilesPerTrigger``
gives backfill-sized batches on historical data with the same query.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

from distributed_mapreduce_in_docker_rpyc_spark.sources.tables import normalize_events_ts, parquet_schema

if TYPE_CHECKING:
    from pyspark.sql.streaming import StreamingQuery

DEFAULT_WATERMARK = "2 hours"


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over ``events.parquet`` (streams require an
    explicit schema: the batch loader's memoized one).  Converts ``ts``
    exactly like the batch loader (sources/tables.py)."""
    path = f"{sf_dir}/events.parquet"
    # Same driver-session safety as sources/tables.py: the schema peek below
    # hits TIMESTAMP(NANOS) and needs the legacy conf in sessions that didn't
    # set it at build time.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # events.parquet is a single file; the file stream source wants a
    # directory, so scan the parent with a glob filter.
    df = (
        spark.readStream.schema(parquet_schema(spark, path))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(df)


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over ``documents.parquet`` — the incoming-document
    feed of a continuous ingest pipeline (same single-file-glob trick as
    ``events_stream``; no timestamp columns, so no conversion needed)."""
    return (
        spark.readStream.schema(parquet_schema(spark, f"{sf_dir}/documents.parquet"))
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def dedup_against_corpus(doc_stream: DataFrame, corpus_keepers: DataFrame) -> DataFrame:
    """Stream-static exact-dedup gate: every incoming document gets a
    verdict row ``(doc_id, dup_of, is_dup)`` — ``dup_of`` is the corpus
    keeper whose content hash matches (null for novel docs).

    Stateless stream-static LEFT join (stream side preserved) — no
    watermark, no state store; per-micro-batch cost is the batch's hash
    lookups against the (broadcast) corpus table, the exact shape a 100 TB
    ingest gate wants.  The corpus side is pre-aggregated to one keeper per
    hash so output is deterministic (exactly one verdict per doc)."""
    hashed = doc_stream.select("doc_id", F.sha2(F.col("text"), 256).alias("h"))
    return hashed.join(F.broadcast(corpus_keepers), "h", "left").select(
        "doc_id", "dup_of", F.col("dup_of").isNotNull().alias("is_dup")
    )


def tumbling_hourly(stream: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Streaming twin of ``events_tumbling_hourly``: 1-hour tumbling windows
    per event type, counts + value sums, late data beyond ``watermark``
    dropped."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("wstart"), "event_type", "n_events", "total_value")
    )


def sliding_10m_5m(stream: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Streaming twin of ``events_sliding_10m_5m``: 10-minute windows sliding
    every 5 (each event in 2 windows)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("wstart"), "n_events", "total_value")
    )


def session_windows(stream: DataFrame, gap: str = "30 minutes", watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Native session windows (30-min inactivity gap) per user.

    ``F.session_window`` works identically over batch DataFrames, which is
    what the stream≡batch test exploits.  (The batch ``events_sessionize``
    query keeps its lag-based formulation because DuckDB has no session
    window to oracle this against.)
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("t_start"),
            F.col("w.end").alias("t_end"),
            "user_id",
            "n_events",
        )
    )


USER_TOTALS_OUTPUT = StructType(
    [StructField("user_id", LongType()), StructField("n_total", LongType())]
)
USER_TOTALS_STATE = StructType([StructField("n", LongType())])


def _count_events(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (n,) = state.get if state.exists else (0,)
    for pdf in pdfs:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n_total": [n]})


def stateful_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user event totals via
    ``applyInPandasWithState`` — the pattern for operators Spark's built-in
    windows can't express (per-key counters, custom sessionization, CEP).
    Emits the updated total for each user touched by each micro-batch."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _count_events,
        USER_TOTALS_OUTPUT,
        USER_TOTALS_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    agg: DataFrame,
    table: str,
    output_mode: str = "complete",
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Drive a streaming aggregation over all currently-available input
    (``Trigger.AvailableNow``) into an in-memory sink table, blocking until
    the backfill completes; returns the terminated query (its progress)."""
    writer = (
        agg.writeStream.format("memory")
        .queryName(table)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    query = writer.start()
    query.awaitTermination()
    return query


def enriched_counts(stream: DataFrame, dim: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Stream-static join: enrich the event stream with a dimension table
    (broadcast — the static side is planned per micro-batch, no stream-side
    state), then windowless keyed aggregation per segment.

    At 100 TB the static side is the slowly-changing dim refreshed per
    batch; stream-stream joins (both sides watermarked + state-store
    buffered) are the escalation path when the dim itself is a stream."""
    joined = stream.withWatermark("ts", watermark).join(
        F.broadcast(dim), stream["user_id"] == dim["c_custkey"]
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total_value"),
    )


def distinct_user_event_pairs(stream: DataFrame, watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Streaming deduplication: emit each (user_id, event_type) pair once.

    ``dropDuplicates`` keeps per-key state; with a watermark the state is
    evicted once no earlier duplicate can arrive — the bounded-state form of
    exact dedup for infinite streams. The emitted SET is deterministic
    (which physical row represented it is not, so only key columns are
    projected)."""
    return (
        stream.withWatermark("ts", watermark)
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )


def click_purchase_stream_join(
    stream: DataFrame, window: str = "30 minutes", watermark: str = DEFAULT_WATERMARK
) -> DataFrame:
    """Stream-stream interval join: purchases matched to the same user's
    clicks from the preceding ``window``.

    Both sides are watermarked so the state store can evict buffered rows
    once no counterpart can arrive: clicks are held for at most
    watermark + window, purchases for watermark. The time-bound predicate is
    REQUIRED — an unbounded stream-stream equi-join would buffer forever.
    """
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {window}")),
    ).select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id", "purchase_ts", "click_ts"
    )


SESSION_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t_start", StringType()),
        StructField("t_end", StringType()),
        StructField("n_events", LongType()),
    ]
)
# state: (session_start_us, session_last_us, n_events)
SESSION_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
    ]
)
SESSION_GAP_US = 30 * 60 * 1_000_000


def _fmt(us: int) -> str:
    return pd.Timestamp(us * 1000).strftime("%Y-%m-%d %H:%M:%S.%f")


def _session_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Gap-based sessionizer with explicit state + event-time timeout.

    Within a batch: sort this user's events, split on >30-min gaps, emit
    every CLOSED session immediately, keep the trailing open session in
    state. The event-time timeout fires when the watermark passes
    last_event + gap — i.e. the open session is provably closed — and emits
    it from the timeout branch. This is the operator Spark's built-in
    session_window implements natively; spelled out here as the template for
    semantics session_window can't express (per-session caps, early
    emission, custom merge rules)."""
    out = []
    if state.hasTimedOut:
        start_us, last_us, n = state.get
        out.append((key[0], _fmt(start_us), _fmt(last_us), n))
        state.remove()
    else:
        times: list[int] = []
        for pdf in pdfs:
            times.extend(int(v) // 1000 for v in pdf["ts"].astype("int64"))
        times.sort()
        if state.exists:
            start_us, last_us, n = state.get
        elif times:
            start_us, last_us, n = times[0], times[0], 0
        else:
            return
        for t in times:
            if t - last_us > SESSION_GAP_US:
                out.append((key[0], _fmt(start_us), _fmt(last_us), n))
                start_us, n = t, 0
            last_us = max(last_us, t)
            n += 1
        state.update((start_us, last_us, n))
        state.setTimeoutTimestamp(last_us // 1000 + SESSION_GAP_US // 1000)
    if out:
        yield pd.DataFrame(out, columns=["user_id", "t_start", "t_end", "n_events"])


def stateful_sessionize(stream: DataFrame, watermark: str = "1 seconds") -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState with
    EventTimeTimeout. Emits each session once, when it provably closed."""
    return (
        stream.withWatermark("ts", watermark)
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn,
            SESSION_OUTPUT,
            SESSION_STATE,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


CEP_WINDOW_US = 30 * 60 * 1_000_000
CEP_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("view_ts", StringType()),
        StructField("click_ts", StringType()),
        StructField("purchase_ts", StringType()),
    ]
)
# state: (stage 0/1/2, view_us, click_us)
CEP_STATE = StructType(
    [
        StructField("stage", LongType()),
        StructField("view_us", LongType()),
        StructField("click_us", LongType()),
    ]
)


def _cep_step(events, state, window_us: int = CEP_WINDOW_US):
    """Pure greedy matcher for the view→click→purchase pattern (each step
    within ``window_us`` of the previous): feed (ts_us, event_type) in
    event-time order, thread (stage, view_us, click_us), return completed
    matches.

    Shared verbatim by the streaming operator (state carried across
    micro-batches) and its batch twin (state threaded through one sorted
    group) — stream ≡ batch then proves exactly the hard part: the state
    machine survives arbitrary micro-batch boundaries."""
    stage, view_us, click_us = state
    out = []
    for t, typ in events:
        # expire a partial match whose next step is now out of window
        if stage == 1 and t - view_us > window_us:
            stage = 0
        elif stage == 2 and t - click_us > window_us:
            stage = 0
        if stage == 0 and typ == "view":
            stage, view_us = 1, t
        elif stage == 1 and typ == "click":
            stage, click_us = 2, t
        elif stage == 2 and typ == "purchase":
            out.append((view_us, click_us, t))
            stage = 0
    return out, (stage, view_us, click_us)


def _make_cep_fn(window_us: int):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        rows: list[tuple[int, str]] = []
        for pdf in pdfs:
            rows.extend(
                zip((int(v) // 1000 for v in pdf["ts"].astype("int64")), pdf["event_type"])
            )
        rows.sort()
        st = state.get if state.exists else (0, 0, 0)
        matches, st = _cep_step(rows, st, window_us)
        state.update(st)
        if matches:
            yield pd.DataFrame(
                [(key[0], _fmt(v), _fmt(c), _fmt(p)) for v, c, p in matches],
                columns=["user_id", "view_ts", "click_ts", "purchase_ts"],
            )

    return fn


def cep_funnel_matches(stream: DataFrame, window_us: int = CEP_WINDOW_US) -> DataFrame:
    """CEP pattern matching: per-user view→click→purchase sequences where
    each step follows the previous within the window, matched greedily and
    emitted as they complete — the complex-event-processing shape
    (Flink-CEP's SELECT a b c WITHIN t) as a custom stateful operator.

    Ordering contract: events are matched in event-time order WITHIN each
    micro-batch, with the partial-match state carried across batches — so
    with time-contiguous batches (file chunks, Kafka partitions by time)
    the match equals the batch run over the fully sorted stream.  True
    out-of-order tolerance would buffer events until the watermark passes
    (as stream-stream joins do internally); the sessionizer
    (``stateful_sessionize``) shows the event-time-timeout machinery that
    extension would reuse.

    Domain: events with a NULL timestamp or NULL type carry no pattern
    information and are excluded (SQL-predicate semantics — a NULL can
    neither match a step nor expire one)."""
    return (
        stream.select("user_id", "ts", "event_type")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_cep_fn(window_us), CEP_OUTPUT, CEP_STATE, "append", GroupStateTimeout.NoTimeout
        )
    )


def cep_funnel_matches_batch(events: DataFrame, window_us: int = CEP_WINDOW_US) -> DataFrame:
    """Batch twin of :func:`cep_funnel_matches`: the same pure matcher over
    each user's fully sorted history (fresh state, one group = one batch)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = sorted(
            zip((int(v) // 1000 for v in pdf["ts"].astype("int64")), pdf["event_type"])
        )
        matches, _ = _cep_step(rows, (0, 0, 0), window_us)
        uid = int(pdf["user_id"].iloc[0])
        return pd.DataFrame(
            [(uid, _fmt(v), _fmt(c), _fmt(p)) for v, c, p in matches],
            columns=["user_id", "view_ts", "click_ts", "purchase_ts"],
        )

    return (
        events.select("user_id", "ts", "event_type")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("user_id")
        .applyInPandas(fn, CEP_OUTPUT)
    )


def tws_user_totals(stream: DataFrame) -> DataFrame:
    """The same running per-user totals on the transformWithStateInPandas
    API (Spark 4) — typed state handles (ValueState) instead of a raw state
    tuple, the forward path for custom stateful operators: state schema
    evolution, multiple state variables, timers, TTL all hang off the
    handle.  Kept semantically identical to ``stateful_user_totals`` so the
    two APIs are differential-tested against each other."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("n_events", "n BIGINT")
            self._value = handle.getValueState("total_value", "v DOUBLE")

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            import pandas as pd

            n = self._count.get()[0] if self._count.exists() else 0
            v = self._value.get()[0] if self._value.exists() else 0.0
            for pdf in rows:
                n += len(pdf)
                v += float(pdf["value"].sum())
            self._count.update((n,))
            self._value.update((v,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [v]})

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserTotals(),
        outputStructType="user_id BIGINT, n_events BIGINT, total_value DOUBLE",
        outputMode="Update",
        timeMode="None",
    )


def wordcount_totals(doc_stream: DataFrame) -> DataFrame:
    """The reference's ENTIRE workload — tokenize [A-Za-z']+, lowercase,
    count per word (reference worker/worker.py map/reduce) — executed as a
    STREAMING aggregation over the incoming-document feed: running word
    totals maintained incrementally in the state store, no watermark
    (word is not a time key; complete-mode totals are the contract).

    At 100 TB-a-day this is the shape of a continuous ingest counter: the
    map side (tokenize + partial counts) runs per micro-batch, the state
    store holds one row per distinct word (lexicon-bounded, not
    data-bounded)."""
    from distributed_mapreduce_in_docker_rpyc_spark.functions.text import tokenize_column

    return (
        doc_stream.select(F.explode(tokenize_column("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
