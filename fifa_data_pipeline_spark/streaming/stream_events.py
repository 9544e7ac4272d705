"""Structured Streaming over the events schema (SURVEY.md §2.6; the
reference is a monthly batch cron — streaming is north-star surface).

Batch/stream unification is the point: ``tumbling_window_agg`` from
the batch module is applied verbatim to a streaming DataFrame — same
logical expression, incrementalized by the streaming planner with a
watermark bounding state. Custom stateful sessionization uses
``applyInPandasWithState`` (Arrow-batched per-group state), the
engine's answer to "operator Spark lacks, state required".

Scale notes: windowed aggs shuffle on (window, keys) per micro-batch
and keep one state row per open window — the watermark is what stops
state growth. Sessionization keys state by user; hot users bound the
batch size, and state eviction follows the same watermark logic.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fifa_data_pipeline_spark.operators.events import tumbling_window_agg


def read_event_stream(
    spark: SparkSession, src_dir: str, schema: T.StructType
) -> DataFrame:
    """File-source stream of event parquet files. Schema must be
    pinned (streaming sources don't infer). If ``ts`` arrives as
    int64 nanos (see sources.io.read_table), rebuild the timestamp."""
    df = spark.readStream.schema(schema).parquet(src_dir)
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(dt, T.TimestampNTZType):
        # µs-NTZ parquet (round-3 testdata); normalize to TimestampType
        # in the UTC session so epoch funcs and watermarks behave as
        # with the rebuilt-nanos path (see sources.io.read_table).
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_tumbling_counts(
    events: DataFrame, watermark: str = "1 hour", window: str = "1 hour"
) -> DataFrame:
    """The batch tumbling aggregate, incrementalized: watermark bounds
    late data (and state), then the exact same groupBy-window
    expression runs per micro-batch."""
    return tumbling_window_agg(
        events.withWatermark("ts", watermark), "ts", ["event_type"], window
    )


def stream_hopping_counts(
    events: DataFrame,
    watermark: str = "2 hours",
    window: str = "2 hours",
    slide: str = "1 hour",
) -> DataFrame:
    """Hopping-window streaming aggregate: the batch hopping
    expression incrementalized. State holds one row per OPEN window
    per key — overlap multiplies open windows by window/slide, so the
    watermark matters proportionally more than for tumbling windows."""
    return tumbling_window_agg(
        events.withWatermark("ts", watermark), "ts", ["event_type"], window, slide
    )


SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_idx", T.LongType()),
        T.StructField("session_start", T.LongType()),
        T.StructField("session_end", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_epoch", T.LongType()),
        T.StructField("session_idx", T.LongType()),
        T.StructField("session_start", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def _sessionize_group(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user stateful sessionizer: carries (last_epoch,
    session_idx, session_start, n_events) across micro-batches and
    emits the updated state of every session it touches."""
    gap = 1800
    (user_id,) = key
    if state.exists:
        last_epoch, session_idx, session_start, n_events = state.get
    else:
        last_epoch, session_idx, session_start, n_events = None, 0, None, 0

    out: list[tuple[int, int, int, int, int]] = []
    for pdf in pdfs:
        for ep in sorted(int(e) for e in pdf["epoch"]):
            if last_epoch is None or ep - last_epoch > gap:
                if session_start is not None:
                    out.append(
                        (user_id, session_idx, session_start, last_epoch, n_events)
                    )
                session_idx += 1
                session_start = ep
                n_events = 0
            n_events += 1
            last_epoch = ep
    if session_start is not None:
        out.append((user_id, session_idx, session_start, last_epoch, n_events))
    state.update((last_epoch, session_idx, session_start, n_events))
    yield pd.DataFrame(
        out,
        columns=["user_id", "session_idx", "session_start", "session_end", "n_events"],
    )


def stream_sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via
    ``applyInPandasWithState``: gap-based sessions maintained across
    micro-batches, keyed by user. Output mode is ``update`` — each
    emitted row is the latest state of a session (downstream sinks
    upsert on (user_id, session_idx))."""
    with_epoch = events.select(
        "user_id", F.unix_timestamp("ts").cast("bigint").alias("epoch")
    )
    return with_epoch.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_session_window(
    events: DataFrame, watermark: str = "1 hour", gap_seconds: int = 1800
) -> DataFrame:
    """Native session windows on a stream: the same
    ``F.session_window`` expression as the batch
    ``plans.extended4.q_session_window``, incrementalized — Spark
    merges a user's overlapping [ts, ts+gap) intervals in the
    streaming session-window state store and closes a session once
    the watermark passes its end (append mode emits exactly-final
    sessions, no upsert sink needed — the advantage over the
    ``applyInPandasWithState`` form above, which must emit updates).

    State: one open session per (user) at a time in steady state,
    evicted at watermark — bounded by active users, not history."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{gap_seconds} seconds").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp("w.start").cast("bigint").alias("session_start"),
            (F.unix_timestamp("w.end").cast("bigint") - gap_seconds).alias(
                "session_last"
            ),
            "n_events",
            "sum_value",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    lookback: str = "INTERVAL 1 HOUR",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event pairs
    with right-stream events of the same key in the window
    ``[left.ts - lookback, left.ts]`` (e.g. purchases ⋈ the views
    that preceded them).

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions — that pair of constraints is what lets
    the streaming planner evict join state; an unbounded condition
    would grow state forever. Scale: state is partitioned by the join
    key, sized by (event rate × lookback window).

    ``how='left_outer'`` additionally emits null-padded rows for left
    events that found no partner — but only once the watermark has
    passed their join window (the engine must be SURE no partner can
    still arrive), so outer results trail the watermark by design;
    a stopped stream may hold back null rows for the newest events.
    Same state bound as the inner form.
    """
    l = left.select(
        F.col(key),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_event_id"),
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col(key).alias("__rk"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_event_id"),
    ).withWatermark("r_ts", watermark)
    cond = (
        (F.col(key) == F.col("__rk"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") >= F.expr(f"l_ts - {lookback}"))
    )
    # coalesce the key across sides: a FULL-outer right-null row has
    # no left attributes, and projecting only the left's key would
    # emit NULL keys for perfectly-keyed right rows
    return l.join(r, cond, how).select(
        F.coalesce(F.col(key), F.col("__rk")).alias(key),
        "l_event_id",
        "r_event_id",
        F.unix_timestamp("l_ts").cast("bigint").alias("l_epoch"),
        F.unix_timestamp("r_ts").cast("bigint").alias("r_epoch"),
    )


def stream_dedup(
    events: DataFrame, key_cols: list[str] | None = None, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup: drop rows whose key was already seen
    within the watermark horizon (``dropDuplicatesWithinWatermark``).
    The watermark is what bounds the dedup state — without it,
    streaming dedup state grows forever; with it, a key older than
    the horizon can be evicted because any duplicate arriving later
    would be dropped as late data anyway."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols or ["event_id"]
    )


def run_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "update"
) -> None:
    """Drain a stream into an in-memory table with availableNow (test
    / backfill harness: process everything currently in the source,
    then stop)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)

EWMA_STATE_SCHEMA = T.StructType([T.StructField("last_ewma", T.DoubleType())])


def _ewma_group(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-key stateful EWMA: carries the running smoothed value
    across micro-batches — the FULL recurrence, not the batch
    operator's bounded-lookback approximation (streaming state is
    what makes the unbounded recurrence tractable: O(1) doubles per
    key). Events are ordered by (epoch, event_id) within the batch;
    cross-batch order is the source's arrival order, as for every
    stateful operator here."""
    alpha = 0.3
    (etype,) = key
    prev = state.get[0] if state.exists else None
    rows: list[tuple[int, str, float, float]] = []
    parts = [p for p in pdfs if len(p)]
    if parts:
        batch = pd.concat(parts, ignore_index=True)
        batch = batch.sort_values(["epoch", "event_id"])
        for eid, val in zip(batch["event_id"], batch["value"]):
            val = float(val)
            prev = val if prev is None else alpha * val + (1.0 - alpha) * prev
            rows.append((int(eid), etype, round(val, 6), round(prev, 6)))
    if prev is not None:
        state.update((prev,))
    yield pd.DataFrame(rows, columns=["event_id", "event_type", "value", "ewma"])


def stream_ewma(events: DataFrame) -> DataFrame:
    """Streaming EWMA per event_type via ``applyInPandasWithState``
    (append mode: each event is emitted exactly once with its
    smoothed value). State is one double per key — contrast with the
    batch :func:`~fifa_data_pipeline_spark.operators.events.ewma`,
    which pays an O(lookback) window frame per row to stay
    data-parallel; the streaming form computes the exact unbounded
    recurrence because state sequentializes each key anyway."""
    prepared = events.select(
        "event_id",
        "event_type",
        F.unix_timestamp("ts").cast("bigint").alias("epoch"),
        F.col("value").cast("double").alias("value"),
    )
    return prepared.groupBy("event_type").applyInPandasWithState(
        _ewma_group,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


HW_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("forecast", T.DoubleType()),
    ]
)

HW_STATE_SCHEMA = T.StructType(
    [
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
    ]
)


def _holt_winters_group(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-key double-exponential (Holt) smoothing: level and trend
    recurrences carried across micro-batches. The operation ORDER is
    the oracle contract (plans/streaming_queries.py replays the same
    double arithmetic in a recursive CTE), so keep the expressions
    exactly as written — including ``(1.0 - alpha)`` instead of the
    different double 0.7."""
    alpha, beta = 0.3, 0.1
    (etype,) = key
    if state.exists:
        level, trend = state.get
    else:
        level, trend = None, 0.0
    rows: list[tuple[int, str, float, float, float, float]] = []
    parts = [p for p in pdfs if len(p)]
    if parts:
        batch = pd.concat(parts, ignore_index=True)
        batch = batch.sort_values(["epoch", "event_id"])
        for eid, val in zip(batch["event_id"], batch["value"]):
            val = float(val)
            if level is None:
                level, trend = val, 0.0
            else:
                prev = level
                level = alpha * val + (1.0 - alpha) * (level + trend)
                trend = beta * (level - prev) + (1.0 - beta) * trend
            # forecast = rounded level + rounded trend, NO outer
            # round: the sum of two 6-dp decimals is a 6-dp decimal,
            # while round(level+trend, 6) of the raw doubles can
            # straddle a boundary differently per engine (observed
            # at sf0.01, event 18)
            rl, rt = round(level, 6), round(trend, 6)
            rows.append(
                (int(eid), etype, round(val, 6), rl, rt, rl + rt)
            )
    if level is not None:
        state.update((level, trend))
    yield pd.DataFrame(
        rows,
        columns=["event_id", "event_type", "value", "level", "trend", "forecast"],
    )


def stream_holt_winters(events: DataFrame) -> DataFrame:
    """Streaming double-exponential (Holt) smoothing per event_type:
    the one-step forecast ``level + trend`` for every event, exact
    unbounded recurrences at O(2 doubles) state per key — the
    trend-aware sibling of :func:`stream_ewma` (an EWMA lags any
    trending series; the trend term corrects it). Append mode: each
    event emitted exactly once with its updated smoothing state."""
    prepared = events.select(
        "event_id",
        "event_type",
        F.unix_timestamp("ts").cast("bigint").alias("epoch"),
        F.col("value").cast("double").alias("value"),
    )
    return prepared.groupBy("event_type").applyInPandasWithState(
        _holt_winters_group,
        outputStructType=HW_OUTPUT_SCHEMA,
        stateStructType=HW_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_distinct_counts(
    events: DataFrame, watermark: str = "1 hour", window: str = "1 hour"
) -> DataFrame:
    """Streaming per-window distinct-user reach via
    ``approx_count_distinct`` (HLL): exact distinct counting is not
    incrementalizable without holding every seen id per open window,
    while the HLL register state is O(KB) per (window, key) and
    merges associatively across micro-batches — the standard
    streaming-reach trade. The estimate is deterministic for a given
    input set (hash-based, no RNG), so the batch twin computes the
    IDENTICAL number and the equality test is exact."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
        .select(
            F.unix_timestamp("w.start").cast("bigint").alias("ws"),
            "event_type",
            "approx_users",
        )
    )


def stream_cdc_apply(
    feed: DataFrame,
    target_path: str,
    checkpoint_path: str,
    key: str = "user_id",
    n_buckets: int = 16,
) -> None:
    """Streaming CDC apply with delete semantics: an I/U/D change
    feed is merged into a bucket-partitioned parquet store via
    ``foreachBatch`` — per micro-batch, only the key buckets the
    batch touches are read back, merged latest-wins (ordered by
    ``(ep, event_id)``), and atomically replaced with dynamic
    partition overwrite. Deletes are retained as TOMBSTONES (op='D'
    rows stay in the store) so a late, older update can never
    resurrect a deleted key; readers filter ``op != 'D'``.

    Scale: batch cost is O(touched buckets), not O(store); the
    bucket count bounds both the merge read-back and the overwrite
    unit (pick buckets ≈ store size / healthy-partition size). On an
    ACID table format the same merge is MERGE INTO; this is the
    plain-parquet equivalent with the same idempotent-replay
    property (a replayed batch re-derives identical partitions).
    Batch twin: plans/extended13.q_cdc_apply (oracle-checked) — the
    streaming store filtered of tombstones converges to it."""
    from pyspark.sql import Window

    bucket = F.pmod(F.col(key), F.lit(n_buckets)).alias("bucket")

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        import os

        spark = batch_df.sparkSession
        b = batch_df.withColumn("bucket", bucket)
        touched = [r["bucket"] for r in b.select("bucket").distinct().collect()]
        if not touched:
            return
        if os.path.exists(target_path):
            existing = spark.read.parquet(target_path).filter(
                F.col("bucket").isin(touched)
            )
            merged = existing.unionByName(b)
        else:
            merged = b
        w = Window.partitionBy(key).orderBy(
            F.desc("ep"), F.desc("event_id")
        )
        latest = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        (
            latest.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(target_path)
        )

    q = (
        feed.writeStream.foreachBatch(apply)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_near_dedup(
    docs_stream: DataFrame,
    bands_path: str,
    accepted_path: str,
    checkpoint_path: str,
    n_hashes: int = 32,
    bands: int = 8,
    k: int = 3,
) -> None:
    """Streaming MinHash near-dedup: representative-anchored corpus
    ingestion. Each micro-batch of documents is LSH-banded, docs
    whose ANY band collides with the persisted band table of
    previously-ACCEPTED docs are rejected, the batch's survivors are
    component-reduced among themselves (band-sharing graph, min id
    wins), and the winners' bands are appended to the band table.

    Semantics (the standard streaming-dedup contract, documented
    because it differs from offline global dedup): only
    REPRESENTATIVES anchor future rejections — a doc that near-dups
    a previously-rejected doc but not its representative is accepted.
    Offline global dedup (``dedup.connected_components`` over the
    pair graph) would merge those into one component; run it
    periodically as compaction if transitive-closure semantics are
    required.

    Scale: per batch, the history contributes ONLY its (band_id,
    band_hash) pairs — a narrow semi-join probe, never the corpus
    text; state grows O(accepted docs × bands). Both sinks are
    partitioned by ``batch_id`` and written with dynamic partition
    overwrite, and the band probe only reads bands from STRICTLY
    EARLIER batches — so a replay after a crash at ANY point
    (between the two writes, or after both but before the
    checkpoint commit) recomputes the same decisions and overwrites
    its own partitions instead of appending duplicates (ADVICE r3,
    medium: two non-atomic appends were replay-unsafe)."""
    from fifa_data_pipeline_spark.operators.dedup import (
        connected_components,
        minhash_buckets,
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if not batch_df.head(1):
            return
        buckets = minhash_buckets(
            batch_df, "doc_id", "text", n_hashes, bands, k
        )
        import os

        # existence probe instead of read-and-catch: Spark logs a
        # noisy stack trace for a missing path even when caught
        seen = (
            spark.read.parquet(bands_path)
            if os.path.exists(bands_path)
            else None
        )
        if seen is not None:
            # a replayed batch must not probe its OWN bands (written
            # before a failed checkpoint commit) — only history
            seen = seen.filter(F.col("batch_id") < F.lit(batch_id))
        if seen is not None:
            hit = (
                buckets.join(
                    seen.select("band_id", "band_hash").distinct(),
                    ["band_id", "band_hash"],
                    "left_semi",
                )
                .select("doc_id")
                .distinct()
            )
            fresh_ids = (
                batch_df.select("doc_id")
                .join(hit, "doc_id", "left_anti")
            )
        else:
            fresh_ids = batch_df.select("doc_id")
        fresh_buckets = buckets.join(
            F.broadcast(fresh_ids), "doc_id", "left_semi"
        ).cache()
        # within-batch transitive reduction: docs sharing a band form
        # an edge; keep each component's min doc_id
        pairs = (
            fresh_buckets.alias("a")
            .join(
                fresh_buckets.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("src"),
                F.col("b.doc_id").alias("dst"),
            )
            .distinct()
        )
        # each node is labelled with the min id of its component, so
        # component winners are node == label; isolated docs never
        # appear in the edge set and win by default (anti-join
        # against the losers)
        comp = connected_components(pairs, "src", "dst")
        losers = comp.filter(F.col("node") != F.col("label")).select(
            F.col("node").alias("doc_id")
        )
        winners = fresh_ids.join(
            F.broadcast(losers), "doc_id", "left_anti"
        )
        accepted = batch_df.join(
            F.broadcast(winners), "doc_id", "left_semi"
        )
        (
            accepted.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(accepted_path)
        )
        (
            fresh_buckets.join(F.broadcast(winners), "doc_id", "left_semi")
            .select("band_id", "band_hash")
            .distinct()
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(bands_path)
        )
        fresh_buckets.unpersist()

    q = (
        docs_stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_kmv_distinct(
    events_stream: DataFrame,
    state_path: str,
    out_path: str,
    checkpoint_path: str,
    group_col: str = "event_type",
    value_col: str = "user_id",
    k: int = 64,
) -> None:
    """Streaming KMV distinct-count maintenance: each micro-batch
    hashes its values, merges them into the persisted per-group
    min-k set (union → re-rank → keep k — the KMV merge, associative
    and deterministic, so the final state EQUALS the batch sketch
    over all data regardless of batch boundaries; pinned by test),
    and emits the refreshed estimates.

    Idempotency (same contract as :func:`stream_near_dedup`): the
    state snapshot AND the estimate output are partitioned by
    ``batch_id`` with dynamic partition overwrite, and each batch
    merges from the latest snapshot with a STRICTLY smaller
    batch_id — a replayed batch rebuilds its own partitions
    identically instead of double-merging.

    Scale: state is ``groups × k`` rows (a sketch — KBs at any corpus
    size), so the full-snapshot-per-batch write is deliberate; the
    batch side reduces to per-group distinct hashes before touching
    state. This is the streaming face of ``sketch.kmv_distinct`` —
    the same md5→BIGINT hash, so a DuckDB batch run cross-checks the
    streamed state bit-exactly."""
    from pyspark.sql import Window

    from fifa_data_pipeline_spark.operators.sketch import kmv_distinct

    h = F.expr(
        f"CAST(conv(substring(md5(CAST(`{value_col}` AS STRING)), 1, 15),"
        " 16, 10) AS BIGINT)"
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        import os

        spark = batch_df.sparkSession
        if not batch_df.head(1):
            return
        batch_hashes = (
            batch_df.filter(F.col(value_col).isNotNull())
            .select(F.col(group_col).alias("g"), h.alias("__h"))
            .distinct()
        )
        prev = None
        if os.path.exists(state_path):
            snap = spark.read.parquet(state_path).filter(
                F.col("batch_id") < F.lit(batch_id)
            )
            latest = snap.agg(F.max("batch_id").alias("b")).collect()[0]["b"]
            if latest is not None:
                prev = snap.filter(F.col("batch_id") == latest).select(
                    "g", "__h"
                )
        merged = (
            batch_hashes.unionByName(prev).distinct()
            if prev is not None
            else batch_hashes
        )
        w = Window.partitionBy("g").orderBy("__h")
        state = (
            merged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select("g", "__h")
            .localCheckpoint(eager=True)
            # one computation feeds both sinks; raw localCheckpoint
            # BY DESIGN — see the foreachBatch note above

        )
        (
            state.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(state_path)
        )
        space = float(2**60)
        est = (
            state.groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("k_eff"),
                F.max("__h").alias("kth_min_hash"),
            )
            .withColumn(
                "distinct_est",
                F.when(F.col("k_eff") < k, F.col("k_eff"))
                .otherwise(
                    F.floor(
                        F.lit(space)
                        / F.col("kth_min_hash").cast("double")
                        * F.lit(float(k - 1))
                    )
                )
                .cast("bigint"),
            )
        )
        (
            est.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )

    q = (
        events_stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_table_checksum(
    events_stream: DataFrame,
    state_path: str,
    checkpoint_path: str,
    cols: list[str],
) -> None:
    """Streaming anti-entropy: maintain the running
    :func:`~fifa_data_pipeline_spark.operators.relational.table_checksum`
    of everything ingested so far. XOR is the whole trick — the fold
    is commutative/associative/mergeable, so per-batch partial
    checksums combine with the persisted state by one more XOR (and a
    count addition), and the streamed state after N batches EQUALS
    the batch checksum over all data regardless of batch boundaries.
    A replica ingesting the same feed can compare one BIGINT per
    checkpoint instead of re-scanning history.

    Idempotency: state snapshots are batch_id-partitioned with
    dynamic overwrite and each batch merges from the latest STRICTLY
    earlier snapshot (the same replay contract as stream_near_dedup /
    stream_kmv_distinct)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        import os

        from fifa_data_pipeline_spark.operators.relational import (
            table_checksum,
        )

        spark = batch_df.sparkSession
        if not batch_df.head(1):
            return
        part = table_checksum(batch_df, cols)
        prev = None
        if os.path.exists(state_path):
            snap = spark.read.parquet(state_path).filter(
                F.col("batch_id") < F.lit(batch_id)
            )
            latest = snap.agg(F.max("batch_id").alias("b")).collect()[0]["b"]
            if latest is not None:
                prev = snap.filter(F.col("batch_id") == latest).select(
                    "checksum", "n_rows"
                )
        if prev is not None:
            merged = (
                part.select(
                    F.col("checksum").alias("__c1"),
                    F.col("n_rows").alias("__n1"),
                )
                .crossJoin(
                    F.broadcast(
                        prev.select(
                            F.col("checksum").alias("__c2"),
                            F.col("n_rows").alias("__n2"),
                        )
                    )
                )
                .select(
                    # NULL checksum = empty side; XOR with 0 is identity
                    (
                        F.coalesce("__c1", F.lit(0)).bitwiseXOR(
                            F.coalesce("__c2", F.lit(0))
                        )
                    ).alias("checksum"),
                    (F.col("__n1") + F.col("__n2")).alias("n_rows"),
                )
            )
        else:
            merged = part
        (
            merged.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(state_path)
        )

    q = (
        events_stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
