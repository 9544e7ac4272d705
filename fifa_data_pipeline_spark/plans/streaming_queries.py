"""Streaming-backed registry queries.

Most get a FULL DuckDB value-hash oracle: an availableNow drain is
deterministic, and append-mode emission ("end <= final watermark")
is a plain SQL closure condition — see the ORACLES block below. The
remaining rows-only entries (distinct/neardedup) are pinned by
exact batch-equivalence tests in test_streaming.py instead: HLL
register state and order-dependent accepts are not reproducible in
SQL. Even the stateful Python recurrences ARE: the EWMA oracle is a
recursive CTE replaying the identical double ops in the identical
order (bit-exact), and the sessionizer drain equals batch
sessionization.

Each query lands the events table into a temp directory (file stream
sources require directories), drains the stream with an availableNow
trigger into a memory sink, and returns the resulting batch table —
so the driver exercises the real streaming engine end-to-end."""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.util import scratch_dir
from fifa_data_pipeline_spark.sources.io import read_table
from fifa_data_pipeline_spark.streaming import stream_events as S


def _land_events(spark: SparkSession, sf_dir: str) -> str:
    d = scratch_dir("spark_graft_stream_") + "/events"
    read_table(spark, sf_dir, "events").write.mode("overwrite").parquet(d)
    return d


def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window count/sum via Structured Streaming
    (append mode: only watermark-closed windows are emitted)."""
    src = _land_events(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = S.read_event_stream(spark, src, schema)
    name = f"q_stream_tumbling_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(S.stream_tumbling_counts(stream), name, "append")
    return spark.table(name)


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization via applyInPandasWithState;
    returns the final per-session update rows."""
    src = _land_events(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = S.read_event_stream(spark, src, schema)
    name = f"q_stream_sessionize_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(S.stream_sessionize(stream), name, "update")
    return spark.table(name)


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session-window streaming aggregate (merge-on-overlap
    state, append mode emits watermark-closed sessions); the batch
    twin q_session_window is oracle-checked."""
    src = _land_events(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = S.read_event_stream(spark, src, schema)
    name = f"q_stream_sesswin_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(S.stream_session_window(stream), name, "append")
    return spark.table(name)


def q_stream_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked hopping-window (2h/1h) streaming aggregate; the
    batch twin q_window_hopping is oracle-checked."""
    src = _land_events(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = S.read_event_stream(spark, src, schema)
    name = f"q_stream_hopping_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(S.stream_hopping_counts(stream), name, "append")
    return spark.table(name)


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: purchases ⋈ the views
    that preceded them within 1 hour, both sides streaming. The batch
    equivalence is pinned by
    test_streaming.py::test_stream_interval_join_matches_batch."""
    src = _land_events(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    purchases = S.read_event_stream(spark, src, schema).where(
        "event_type = 'purchase'"
    )
    views = S.read_event_stream(spark, src, schema).where(
        "event_type = 'view'"
    )
    name = f"q_stream_ivj_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.stream_interval_join(purchases, views), name, "append"
    )
    return spark.table(name)


def q_stream_interval_join_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT OUTER watermarked stream-stream interval join — the
    semantics the inner form can't show: purchases with NO preceding
    view emit null-padded, but only once the engine is SURE no
    partner can still arrive. The drain's closure is EXACT and
    oracle-able: every inner match emits, plus null rows for
    unmatched purchases with ``l_epoch < global_wm`` where the global
    watermark is the MIN of the two sides' post-filter maxima minus
    the delay (probed empirically: the join-bound does NOT shift the
    eviction cut; each side's watermark comes from its own filtered
    rows, and eviction is strict-less-than — no fixture row sits on
    the boundary, documented). Purchases newer than the final
    watermark stay held in state, exactly as a live pipeline would
    hold them."""
    src = _land_events(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    purchases = S.read_event_stream(spark, src, schema).where(
        "event_type = 'purchase'"
    )
    views = S.read_event_stream(spark, src, schema).where(
        "event_type = 'view'"
    )
    name = f"q_stream_ivjo_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.stream_interval_join(purchases, views, how="left_outer"),
        name,
        "append",
    )
    return spark.table(name)


def q_stream_interval_join_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL OUTER watermarked stream-stream interval join. The drain
    closure is ASYMMETRIC, exactly as the join bound implies: an
    unmatched purchase (left) emits once the global watermark passes
    its own event time (no future view with ``v.ts ≤ p.ts`` can
    arrive), but an unmatched view (right) must wait an EXTRA
    lookback — it could still match purchases up to ``v.ts + 1h`` —
    so its null row emits only when ``r_epoch < wm − 3600``. Both
    cuts probed empirically and hash-checked; the global watermark is
    min over both sides' post-filter max event times minus the 2 h
    delay."""
    src = _land_events(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    purchases = S.read_event_stream(spark, src, schema).where(
        "event_type = 'purchase'"
    )
    views = S.read_event_stream(spark, src, schema).where(
        "event_type = 'view'"
    )
    name = f"q_stream_ivjf_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.stream_interval_join(purchases, views, how="full_outer"),
        name,
        "append",
    )
    return spark.table(name)


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup within the watermark horizon
    (dropDuplicatesWithinWatermark); events are landed twice so the
    second copy is dropped — output equals the single-copy batch."""
    src = _land_events(spark, sf_dir)
    ev = spark.read.parquet(src)
    ev.write.mode("append").parquet(src)  # duplicate every event
    schema = ev.schema
    stream = S.read_event_stream(spark, src, schema)
    name = f"q_stream_dedup_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(
        S.stream_dedup(stream).select("event_id", "user_id", "event_type"),
        name,
        "append",
    )
    return spark.table(name)


def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming EWMA per event_type (exact unbounded
    recurrence, one double of state per key); batch equivalence is
    pinned by test_streaming.py::test_stream_ewma_matches_batch."""
    src = _land_events(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = S.read_event_stream(spark, src, schema)
    name = f"q_stream_ewma_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(S.stream_ewma(stream), name, "append")
    return spark.table(name)



def q_stream_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming Holt (level+trend) smoothing per event_type;
    oracle = a recursive CTE replaying the identical double
    recurrences in the identical order (see ORACLES)."""
    src = _land_events(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = S.read_event_stream(spark, src, schema)
    name = f"q_stream_hw_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(S.stream_holt_winters(stream), name, "append")
    return spark.table(name)


def q_state_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming state-store introspection via Spark 4's
    ``statestore`` data source: drain the watermarked tumbling
    aggregate with a durable checkpoint, then read the checkpoint's
    RETAINED state as a DataFrame — the windows still open at the
    final watermark. This is the ops/debugging surface for stateful
    streaming (what is my state, how big, which keys), and its
    contents are exactly the complement of q_stream_tumbling's
    append-mode output, so the oracle is the same closure condition
    negated — emitted ∪ retained = the full batch aggregate, both
    halves hash-checked."""
    src = _land_events(spark, sf_dir)
    base = scratch_dir("spark_graft_state_")
    ckpt = f"{base}/ckpt"
    schema = spark.read.parquet(src).schema
    stream = S.read_event_stream(spark, src, schema)
    q = (
        S.stream_tumbling_counts(stream)
        .writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    st = spark.read.format("statestore").load(ckpt)
    return st.select(
        F.unix_timestamp("key.window.start").cast("bigint").alias("ws"),
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").cast("bigint").alias("n_events"),
        F.round("value.sum", 6).alias("sum_value"),
    )


def q_stream_dedup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 4:
    multiple stateful ops per query): watermarked exact dedup feeding
    the tumbling-window aggregate. Events are landed twice; the dedup
    stage restores single copies before the agg, so the output equals
    q_stream_tumbling's single-copy closure — one oracle covers the
    whole two-stage stateful pipeline. Note the watermark is declared
    ONCE upstream (redefining it between stateful ops is disallowed).
    """
    from fifa_data_pipeline_spark.operators.events import tumbling_window_agg

    src = _land_events(spark, sf_dir)
    ev = spark.read.parquet(src)
    ev.write.mode("append").parquet(src)  # duplicate every event
    schema = ev.schema
    stream = S.read_event_stream(spark, src, schema)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = tumbling_window_agg(deduped, "ts", ["event_type"], "1 hour")
    name = f"q_stream_dedup_agg_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(agg, name, "append")
    return spark.table(name)


def q_stream_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window distinct-user reach (approx HLL state —
    O(KB)/window instead of per-id sets; hash-deterministic, so the
    batch twin computes the identical estimate and
    test_streaming.py::test_stream_distinct_matches_batch pins
    equality). The EXACT windowed-distinct semantics are hash-pinned
    by ``q_stream_distinct_exact`` (driver-green r5: dedup-then-count
    drain with a closed-form SQL oracle)."""
    src = _land_events(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = S.read_event_stream(spark, src, schema)
    name = f"q_stream_distinct_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(S.stream_distinct_counts(stream), name, "append")
    return spark.table(name)



def q_stream_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-window distinct-user reach in streaming: chained
    stateful ops — watermarked dedup on (user, hour bucket) feeding a
    tumbling count. Same-window duplicates always have event times
    within one window of each other, i.e. within the watermark delay,
    so ``dropDuplicatesWithinWatermark`` provably removes every one;
    the downstream count of surviving rows IS the exact distinct
    count. State: one row per (user, window) — heavier than the HLL
    variant (q_stream_distinct, O(KB)/window) but exact, and fully
    value-hash oracle-able via the closure condition."""
    src = _land_events(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = S.read_event_stream(spark, src, schema)
    keyed = (
        stream.withWatermark("ts", "1 hour")
        .withColumn("__wb", F.date_trunc("hour", F.col("ts")))
    )
    dd = keyed.dropDuplicatesWithinWatermark(["user_id", "__wb"])
    agg = dd.groupBy(F.window("ts", "1 hour")).agg(
        F.count(F.lit(1)).alias("n_users")
    ).select(
        F.unix_timestamp(F.col("window.start")).cast("bigint").alias("ws"),
        F.col("n_users").cast("bigint").alias("n_users"),
    )
    name = f"q_stream_distinct_exact_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(agg, name, "append")
    return spark.table(name)


def q_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct streaming enrichment against an SCD-2
    dimension: each streamed event joins the dim row whose
    [valid_from, valid_to) interval CONTAINS the event time — the
    temporal-correctness upgrade over plain stream-static enrichment
    (which reads "current" attributes and silently backdates them).
    The dim is the engine's own SCD-2 historization (q_scd2) built in
    batch; the join is stateless per micro-batch (equi-key on user +
    interval post-filter on the broadcast dim), so no watermark or
    state is involved and the availableNow drain equals the batch
    temporal join — the full value-hash oracle below."""
    from fifa_data_pipeline_spark.plans.extended4 import q_scd2

    src = _land_events(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    dim = q_scd2(spark, sf_dir).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("status"),
        "valid_from", "valid_to", "version",
    )
    stream = S.read_event_stream(spark, src, schema).select(
        "event_id", "user_id",
        F.unix_timestamp("ts").cast("bigint").alias("ep"),
    )
    joined = stream.join(
        F.broadcast(dim),
        (F.col("user_id") == F.col("d_user"))
        & (F.col("ep") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ep") < F.col("valid_to"))),
    ).select("event_id", "user_id", "ep", "status", "version")
    name = f"q_stream_scd2_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(joined, name, "append")
    return spark.table(name)


def q_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply end-to-end: the event-derived I/U/D feed
    is drained multi-batch (maxFilesPerTrigger=1) through the
    foreachBatch bucket-merge sink, then the live store (tombstones
    filtered) is returned — converges exactly to the oracle-checked
    batch twin q_cdc_apply
    (test_streaming.py::test_stream_cdc_apply_converges_to_batch)."""
    from pyspark.sql import functions as F

    base = scratch_dir("spark_graft_cdc_")
    feed_dir, target, ckpt = f"{base}/feed", f"{base}/target", f"{base}/ckpt"
    ev = read_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    ev.select(
        "user_id",
        op.alias("op"),
        F.unix_timestamp("ts").cast("bigint").alias("ep"),
        "event_id",
        "value",
    ).repartition(4).write.parquet(feed_dir)
    schema = spark.read.parquet(feed_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    S.stream_cdc_apply(stream, target, ckpt, key="user_id", n_buckets=8)
    return (
        spark.read.parquet(target)
        .filter(F.col("op") != "D")
        .select("user_id", "op", "ep", F.round("value", 6).alias("value_r"))
    )


def q_stream_neardedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash near-dedup end-to-end: documents arrive in
    micro-batches (maxFilesPerTrigger), each batch is LSH-banded and
    checked against the persisted band table of previously-accepted
    docs; the accepted corpus is returned. Representative-anchored
    semantics (see stream_events.stream_near_dedup); invariants
    pinned in test_streaming.py, and the batch MinHash+LSH kernel it
    replays incrementally is hash-pinned by ``q_near_dedup`` /
    ``q_minhash_pairs`` (driver-green r2-r3) plus the replay-
    idempotence restart test."""
    from pyspark.sql import functions as F

    base = scratch_dir("spark_graft_nd_")
    src, bands_p, acc, ckpt = (
        f"{base}/src", f"{base}/bands", f"{base}/accepted", f"{base}/ckpt"
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    docs.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    S.stream_near_dedup(stream, bands_p, acc, ckpt)
    return (
        spark.read.parquet(acc)
        .select("doc_id", F.length("text").alias("n_chars"))
    )


def q_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV distinct maintenance end-to-end: events arrive in
    micro-batches, each merges into the persisted per-group min-k
    state; the FINAL estimates are returned. The oracle is the BATCH
    KMV sketch over all data — the KMV merge is associative and
    deterministic, so batch boundaries cannot change the state, and a
    streaming operator gets a full value-hash oracle (not the weaker
    rows-only check)."""
    base = scratch_dir("spark_graft_kmv_")
    src, state, out, ckpt = (
        f"{base}/src", f"{base}/state", f"{base}/out", f"{base}/ckpt"
    )
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    ev.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    S.stream_kmv_distinct(stream, state, out, ckpt, "event_type", "user_id")
    final = spark.read.parquet(out)
    last = final.agg(F.max("batch_id").alias("b")).collect()[0]["b"]
    return (
        final.filter(F.col("batch_id") == last)
        .select(
            F.col("g").alias("event_type"),
            F.col("k_eff").cast("long").alias("k_eff"),
            "kth_min_hash",
            "distinct_est",
        )
    )



def q_stream_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming running table-checksum: lineitem key columns arrive
    in micro-batches; the persisted XOR state after the last batch
    must equal the BATCH checksum over the whole table (XOR
    mergeability), so this streaming operator also gets a full
    value-hash oracle — extended23's q_table_checksum SQL verbatim."""
    base = scratch_dir("spark_graft_ck_")
    src, state, ckpt = f"{base}/src", f"{base}/state", f"{base}/ckpt"
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )
    li.repartition(4).write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    S.stream_table_checksum(
        stream, state, ckpt, ["l_orderkey", "l_linenumber", "l_returnflag"]
    )
    snap = spark.read.parquet(state)
    last = snap.agg(F.max("batch_id").alias("b")).collect()[0]["b"]
    return snap.filter(F.col("batch_id") == last).select(
        "checksum", "n_rows"
    )


def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed leaderboard: the watermark-closed tumbling
    counts (same append drain as q_stream_tumbling) ranked per window
    — top-3 event types by count, count desc / type asc tie-break —
    the stream→serve composition behind a live leaderboard: streaming
    does the stateful pre-aggregation, a batch rank runs on the
    drained (window-grain, tiny) sink. Fully deterministic: counts
    are integers and the tie-break is total, so the rank-3 boundary
    is engine-exact."""
    from pyspark.sql import Window as W

    src = _land_events(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = S.read_event_stream(spark, src, schema)
    name = f"q_stream_topk_{uuid.uuid4().hex[:8]}"
    S.run_to_memory(S.stream_tumbling_counts(stream), name, "append")
    w = W.partitionBy("ws").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        spark.table(name)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "ws", "event_type", "n_events",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


QUERIES = {
    "q_stream_tumbling": q_stream_tumbling,
    "q_stream_topk": q_stream_topk,
    "q_stream_ewma": q_stream_ewma,
    "q_stream_sessionize": q_stream_sessionize,
    "q_stream_session_window": q_stream_session_window,
    "q_stream_hopping": q_stream_hopping,
    "q_stream_interval_join": q_stream_interval_join,
    "q_stream_interval_join_outer": q_stream_interval_join_outer,
    "q_stream_interval_join_full": q_stream_interval_join_full,
    "q_stream_dedup": q_stream_dedup,
    "q_stream_distinct": q_stream_distinct,
    "q_stream_cdc": q_stream_cdc,
    "q_stream_neardedup": q_stream_neardedup,
    "q_stream_kmv": q_stream_kmv,
    "q_stream_checksum": q_stream_checksum,
    "q_stream_holt_winters": q_stream_holt_winters,
    "q_state_inspect": q_state_inspect,
    "q_stream_dedup_agg": q_stream_dedup_agg,
    "q_stream_distinct_exact": q_stream_distinct_exact,
    "q_stream_scd2_enrich": q_stream_scd2_enrich,
}

# q_stream_kmv gets a FULL oracle: the associative KMV merge makes
# the streamed state equal the batch sketch over all data, so the
# batch twin (extended24's q_kmv_distinct SQL) is the exact oracle.
from fifa_data_pipeline_spark.plans import extended24 as _e24  # noqa: E402

from fifa_data_pipeline_spark.plans import extended23 as _e23  # noqa: E402

ORACLES: dict[str, str] = {
    "q_stream_kmv": _e24.ORACLES["q_kmv_distinct"],
    # XOR mergeability makes the streamed state equal the batch fold
    "q_stream_checksum": _e23.ORACLES["q_table_checksum"],
    # ---- availableNow drains with closed-form batch semantics ----
    # The drains below are deterministic: a single-batch availableNow
    # run finishes with watermark = max(ts) - delay, and append mode
    # emits exactly the windows/sessions whose END <= that watermark
    # (Spark's state-eviction predicate). That closure condition is
    # plain SQL, so these streaming operators get the FULL value-hash
    # oracle instead of the weaker rows-only check (VERDICT r3 #5).
    # Boundary note: emission is `end <= watermark`; the testdata's
    # max(ts) is not on a window boundary so the driver compare
    # cannot be boundary-sensitive, and the equality form matches the
    # engine's predicate.
    "q_stream_tumbling": """
        WITH wm AS (SELECT epoch_ms(MAX(ts)) - 3600000 AS w FROM events)
        SELECT CAST(FLOOR(extract(epoch FROM date_trunc('hour', ts))) AS BIGINT) AS ws,
               event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 6) AS sum_value
        FROM events GROUP BY 1, 2
        HAVING (ws + 3600) * 1000 <= (SELECT w FROM wm)
    """,
    # Streamed pre-agg + batch rank: the closed-window counts are the
    # tumbling closure SQL; the integer count + total tie-break makes
    # the rank-3 boundary engine-exact.
    "q_stream_topk": """
        WITH wm AS (SELECT epoch_ms(MAX(ts)) - 3600000 AS w FROM events),
        closed AS (
          SELECT CAST(FLOOR(extract(epoch FROM date_trunc('hour', ts))) AS BIGINT) AS ws,
                 event_type, CAST(COUNT(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1, 2
          HAVING (ws + 3600) * 1000 <= (SELECT w FROM wm)
        )
        SELECT ws, event_type, n_events,
               CAST(ROW_NUMBER() OVER (
                 PARTITION BY ws ORDER BY n_events DESC, event_type
               ) AS BIGINT) AS rnk
        FROM closed
        QUALIFY rnk <= 3
    """,
    # Stateless temporal enrichment: the drain equals the batch
    # point-in-time join against the identically-derived SCD-2 dim.
    "q_stream_scd2_enrich": """
        WITH e AS (
          SELECT user_id, event_id, event_type,
                 CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT) AS ep
          FROM events
        ), flagged AS (
          SELECT user_id, event_id, event_type, ep,
                 LAG(event_type) OVER w AS prev
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)
        ), changes AS (
          SELECT * FROM flagged
          WHERE prev IS NULL OR prev <> event_type
        ), dim AS (
          SELECT user_id AS d_user, event_type AS status,
                 ep AS valid_from,
                 LEAD(ep) OVER w AS valid_to,
                 CAST(ROW_NUMBER() OVER w AS INTEGER) AS version
          FROM changes
          WINDOW w AS (PARTITION BY user_id ORDER BY ep, event_id)
        )
        SELECT s.event_id, s.user_id, s.ep, d.status, d.version
        FROM e s JOIN dim d
          ON s.user_id = d.d_user
         AND s.ep >= d.valid_from
         AND (d.valid_to IS NULL OR s.ep < d.valid_to)
    """,
    # Exact distinct = dedup(user, window) feeding a count; closed
    # windows carry the batch COUNT(DISTINCT) exactly.
    "q_stream_distinct_exact": """
        WITH wm AS (SELECT epoch_ms(MAX(ts)) - 3600000 AS w FROM events)
        SELECT CAST(FLOOR(extract(epoch FROM date_trunc('hour', ts))) AS BIGINT) AS ws,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1
        HAVING (ws + 3600) * 1000 <= (SELECT w FROM wm)
    """,
    # Chained dedup→agg restores single copies before aggregating, so
    # the two-stage stateful pipeline shares the tumbling closure SQL.
    "q_stream_dedup_agg": """
        WITH wm AS (SELECT epoch_ms(MAX(ts)) - 3600000 AS w FROM events)
        SELECT CAST(FLOOR(extract(epoch FROM date_trunc('hour', ts))) AS BIGINT) AS ws,
               event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 6) AS sum_value
        FROM events GROUP BY 1, 2
        HAVING (ws + 3600) * 1000 <= (SELECT w FROM wm)
    """,
    # Retained state = the closure condition NEGATED (windows the
    # final watermark has NOT passed). Emitted ∪ retained = batch agg.
    "q_state_inspect": """
        WITH wm AS (SELECT epoch_ms(MAX(ts)) - 3600000 AS w FROM events)
        SELECT CAST(FLOOR(extract(epoch FROM date_trunc('hour', ts))) AS BIGINT) AS ws,
               event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 6) AS sum_value
        FROM events GROUP BY 1, 2
        HAVING (ws + 3600) * 1000 > (SELECT w FROM wm)
    """,
    "q_stream_hopping": """
        WITH wm AS (SELECT epoch_ms(MAX(ts)) - 7200000 AS w FROM events),
        base AS (
          SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS b,
                 event_type, value
          FROM events
        )
        SELECT b - o AS ws, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 6) AS sum_value
        FROM base, (SELECT UNNEST([0, 3600]) AS o) offs
        GROUP BY ws, event_type
        HAVING (ws + 7200) * 1000 <= (SELECT w FROM wm)
    """,
    # Sessions close when last_event + gap falls behind the watermark;
    # boundaries compared in µs BEFORE the second-floor projection.
    "q_stream_session_window": """
        WITH wm AS (SELECT epoch_us(MAX(ts)) - 3600000000 AS w FROM events),
        e AS (
          SELECT user_id, value, epoch_us(ts) AS us FROM events
        ), flagged AS (
          SELECT user_id, value, us,
                 CASE WHEN us - LAG(us) OVER w IS NULL
                        OR us - LAG(us) OVER w >= 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
        ), sess AS (
          SELECT user_id, value, us,
                 SUM(is_new) OVER (
                   PARTITION BY user_id ORDER BY us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged
        )
        SELECT user_id,
               CAST(FLOOR(MIN(us) / 1000000) AS BIGINT) AS session_start,
               CAST(FLOOR(MAX(us) / 1000000) AS BIGINT) AS session_last,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 6) AS sum_value
        FROM sess GROUP BY user_id, sid
        HAVING MAX(us) + 1800000000 <= (SELECT w FROM wm)
    """,
    # The doubled landing is drained in one availableNow batch, so
    # every duplicate pair is in-state together and the output is the
    # single-copy table (event_id is unique in the testdata — pinned
    # by the count/distinct assertion in test_streaming.py).
    "q_stream_dedup": """
        SELECT event_id, user_id, event_type FROM events
    """,
    # Inner stream-stream join: every match is emitted in the batch
    # where it is found; a single-batch drain therefore emits the
    # complete batch interval join.
    "q_stream_interval_join": """
        SELECT p.user_id, p.event_id AS l_event_id, v.event_id AS r_event_id,
               CAST(FLOOR(extract(epoch FROM p.ts)) AS BIGINT) AS l_epoch,
               CAST(FLOOR(extract(epoch FROM v.ts)) AS BIGINT) AS r_epoch
        FROM events p JOIN events v
          ON p.user_id = v.user_id
         AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
        WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """,
    # LEFT OUTER stream-stream join closure: all inner matches, plus
    # null-padded unmatched lefts whose event time sits strictly
    # below the final global watermark — min over BOTH sides'
    # post-filter max event times minus the 2h delay (each stream
    # computes its watermark from its own filtered rows).
    "q_stream_interval_join_outer": """
        WITH wm AS (
          SELECT LEAST(
            (SELECT MAX(CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT))
             FROM events WHERE event_type = 'purchase'),
            (SELECT MAX(CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT))
             FROM events WHERE event_type = 'view')
          ) - 7200 AS w
        ), p AS (
          SELECT user_id, event_id,
                 CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT) AS ep
          FROM events WHERE event_type = 'purchase'
        ), v AS (
          SELECT user_id, event_id,
                 CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT) AS ep
          FROM events WHERE event_type = 'view'
        )
        SELECT p.user_id, p.event_id AS l_event_id,
               v.event_id AS r_event_id,
               p.ep AS l_epoch, v.ep AS r_epoch
        FROM p JOIN v
          ON p.user_id = v.user_id
         AND v.ep <= p.ep AND v.ep >= p.ep - 3600
        UNION ALL
        SELECT p.user_id, p.event_id,
               CAST(NULL AS BIGINT), p.ep, CAST(NULL AS BIGINT)
        FROM p, wm
        WHERE p.ep < wm.w
          AND NOT EXISTS (
            SELECT 1 FROM v
            WHERE v.user_id = p.user_id
              AND v.ep <= p.ep AND v.ep >= p.ep - 3600)
    """,
    # FULL OUTER closure: inner matches + left nulls below wm +
    # right nulls below wm - lookback (a view can still match
    # purchases up to v.ts + 1h, so its eviction waits that long).
    "q_stream_interval_join_full": """
        WITH wm AS (
          SELECT LEAST(
            (SELECT MAX(CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT))
             FROM events WHERE event_type = 'purchase'),
            (SELECT MAX(CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT))
             FROM events WHERE event_type = 'view')
          ) - 7200 AS w
        ), p AS (
          SELECT user_id, event_id,
                 CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT) AS ep
          FROM events WHERE event_type = 'purchase'
        ), v AS (
          SELECT user_id, event_id,
                 CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT) AS ep
          FROM events WHERE event_type = 'view'
        )
        SELECT p.user_id, p.event_id AS l_event_id,
               v.event_id AS r_event_id,
               p.ep AS l_epoch, v.ep AS r_epoch
        FROM p JOIN v
          ON p.user_id = v.user_id
         AND v.ep <= p.ep AND v.ep >= p.ep - 3600
        UNION ALL
        SELECT p.user_id, p.event_id,
               CAST(NULL AS BIGINT), p.ep, CAST(NULL AS BIGINT)
        FROM p, wm
        WHERE p.ep < wm.w
          AND NOT EXISTS (
            SELECT 1 FROM v
            WHERE v.user_id = p.user_id
              AND v.ep <= p.ep AND v.ep >= p.ep - 3600)
        UNION ALL
        SELECT v.user_id, CAST(NULL AS BIGINT),
               v.event_id, CAST(NULL AS BIGINT), v.ep
        FROM v, wm
        WHERE v.ep < wm.w - 3600
          AND NOT EXISTS (
            SELECT 1 FROM p
            WHERE p.user_id = v.user_id
              AND v.ep <= p.ep AND v.ep >= p.ep - 3600)
    """,
    # Stateful sessionize: a single-batch drain emits exactly one
    # update row per completed-or-open session, which equals plain
    # batch sessionization (gap STRICTLY > 1800 s, second-grain
    # epochs, 1-based per-user index in time order).
    "q_stream_sessionize": """
        WITH e AS (
          SELECT user_id, CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT) AS ep
          FROM events
        ), flagged AS (
          SELECT user_id, ep,
                 CASE WHEN ep - LAG(ep) OVER w IS NULL
                        OR ep - LAG(ep) OVER w > 1800
                      THEN 1 ELSE 0 END AS is_new
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep)
        ), sess AS (
          SELECT user_id, ep,
                 SUM(is_new) OVER (PARTITION BY user_id ORDER BY ep
                   ROWS UNBOUNDED PRECEDING) AS sid
          FROM flagged
        )
        SELECT user_id, CAST(sid AS BIGINT) AS session_idx,
               MIN(ep) AS session_start, MAX(ep) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sess GROUP BY user_id, sid
    """,
}

ORACLES.update({
    # Stateful EWMA: the drain applies the recurrence prev = 0.3·v +
    # (1-0.3)·prev per key in (epoch, event_id) order; a recursive
    # CTE replays the IDENTICAL double operations in the identical
    # order, so the match is bit-exact (note (1.0 - 0.3), not 0.7 —
    # they are different doubles). O(rows·keys) recursion: fine at
    # the sf0.01 gate, excluded from the sf0.1 bench pairing.
    "q_stream_ewma": """
        WITH RECURSIVE e AS (
          SELECT event_id, event_type,
                 CAST(value AS DOUBLE) AS v,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT),
                            event_id) AS rn
          FROM events
        ), r AS (
          SELECT event_id, event_type, v, v AS ewma, rn FROM e WHERE rn = 1
          UNION ALL
          SELECT e.event_id, e.event_type, e.v,
                 0.3 * e.v + (1.0 - 0.3) * r.ewma, e.rn
          FROM e JOIN r ON e.event_type = r.event_type AND e.rn = r.rn + 1
        )
        SELECT event_id, event_type,
               ROUND(v, 6) AS value, ROUND(ewma, 6) AS ewma
        FROM r
    """,
    # The bucket-merge CDC sink converges to last-writer-wins per key
    # regardless of batch boundaries (merge is by (ep, event_id)
    # recency) — the batch twin q_cdc_apply's ranking, re-aliased to
    # the live store's column names.
    # Holt smoothing: same recursive-replay contract as q_stream_ewma;
    # level_new must be SPELLED TWICE in the trend term (SQL cannot
    # reference a same-SELECT alias) — identical double expression,
    # identical result.
    "q_stream_holt_winters": """
        WITH RECURSIVE e AS (
          SELECT event_id, event_type,
                 CAST(value AS DOUBLE) AS v,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT),
                            event_id) AS rn
          FROM events
        ), r AS (
          SELECT event_id, event_type, v, rn,
                 v AS level, CAST(0.0 AS DOUBLE) AS trend
          FROM e WHERE rn = 1
          UNION ALL
          SELECT e.event_id, e.event_type, e.v, e.rn,
                 0.3 * e.v + (1.0 - 0.3) * (r.level + r.trend),
                 0.1 * ((0.3 * e.v + (1.0 - 0.3) * (r.level + r.trend))
                        - r.level)
                   + (1.0 - 0.1) * r.trend
          FROM e JOIN r ON e.event_type = r.event_type AND e.rn = r.rn + 1
        )
        SELECT event_id, event_type, ROUND(v, 6) AS value,
               ROUND(level, 6) AS level, ROUND(trend, 6) AS trend,
               ROUND(level, 6) + ROUND(trend, 6) AS forecast
        FROM r
    """,
    "q_stream_cdc": """
        WITH feed AS (
          SELECT user_id,
                 CASE event_type WHEN 'signup' THEN 'I'
                                 WHEN 'error' THEN 'D'
                                 ELSE 'U' END AS op,
                 CAST(FLOOR(extract(epoch FROM ts)) AS BIGINT) AS ep,
                 event_id, value
          FROM events
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ep DESC, event_id DESC) AS rn
          FROM feed
        )
        SELECT user_id, op, ep, ROUND(value, 6) AS value_r
        FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
})
