"""Structured Streaming tests: batch/stream result parity for the
tumbling window agg, stateful sessionization across micro-batches,
watermark config. File source + availableNow trigger + memory sink."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fifa_data_pipeline_spark.operators.events import sessionize, tumbling_window_agg
from fifa_data_pipeline_spark.sources.io import read_table
from fifa_data_pipeline_spark.streaming import stream_events as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events re-landed as a parquet directory (file stream sources
    read directories; this also normalizes ts to µs)."""
    path = str(tmp_path_factory.mktemp("stream") / "events")
    read_table(spark, SF, "events").write.parquet(path)
    return path


def test_stream_tumbling_matches_batch(spark, events_dir):
    batch = read_table(spark, SF, "events")
    expected = {
        (r.ws, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_window_agg(batch).collect()
    }
    schema = spark.read.parquet(events_dir).schema
    stream = S.read_event_stream(spark, events_dir, schema)
    S.run_to_memory(S.stream_tumbling_counts(stream), "t_tumbling", "append")
    got = {
        (r.ws, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    # append mode emits only watermark-closed windows; with availableNow
    # the final watermark closes all but the latest window(s)
    assert len(got) > 0
    for k, v in got.items():
        assert expected[k] == v


def test_stream_sessionize_matches_batch(spark, events_dir):
    batch = read_table(spark, SF, "events")
    expected = {
        (r.user_id, r.session_idx): (r.session_start, r.session_end, r.n_events)
        for r in sessionize(batch).collect()
    }
    schema = spark.read.parquet(events_dir).schema
    stream = S.read_event_stream(spark, events_dir, schema)
    S.run_to_memory(S.stream_sessionize(stream), "t_sessions", "update")
    rows = spark.sql("SELECT * FROM t_sessions").collect()
    # update mode may emit a session several times, and the memory
    # sink does not guarantee emission order across batches on
    # collect() — the LATEST update per (user, session) is the one
    # with the largest (n_events, session_end), both monotone
    final = {}
    for r in rows:
        k = (r.user_id, r.session_idx)
        v = (r.session_start, r.session_end, r.n_events)
        if k not in final or (v[2], v[1]) > (final[k][2], final[k][1]):
            final[k] = v
    assert final == expected


def test_stream_interval_join_matches_batch(spark, events_dir):
    batch = read_table(spark, SF, "events")
    purchases_b = batch.filter(F.col("event_type") == "purchase")
    views_b = batch.filter(F.col("event_type") == "view")
    expected = {
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in purchases_b.alias("l")
        .join(
            views_b.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") <= F.col("l.ts"))
            & (F.col("r.ts") >= F.expr("l.ts - INTERVAL 1 HOUR")),
        )
        .select(
            F.col("l.user_id").alias("user_id"),
            F.col("l.event_id").alias("l_event_id"),
            F.col("r.event_id").alias("r_event_id"),
        )
        .collect()
    }
    schema = spark.read.parquet(events_dir).schema
    stream = S.read_event_stream(spark, events_dir, schema)
    joined = S.stream_interval_join(
        stream.filter(F.col("event_type") == "purchase"),
        stream.filter(F.col("event_type") == "view"),
    )
    S.run_to_memory(joined, "t_ivjoin", "append")
    got = {
        (r.user_id, r.l_event_id, r.r_event_id)
        for r in spark.sql("SELECT * FROM t_ivjoin").collect()
    }
    assert len(got) > 0
    # append-mode stream join may withhold pairs still inside the
    # final watermark; everything emitted must be a correct batch pair
    assert got <= expected
    assert len(got) >= len(expected) * 0.8


def test_stream_dedup_drops_duplicates(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0, 10.0), (1, t0 + dt.timedelta(minutes=1), 11.0), (2, t0, 12.0)]
    d = str(tmp_path / "dup_events")
    df = spark.createDataFrame(rows, ["event_id", "ts", "value"])
    # write the same rows twice -> exact duplicates across files
    df.write.mode("overwrite").parquet(d)
    df.write.mode("append").parquet(d)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).parquet(d)
    S.run_to_memory(S.stream_dedup(stream, ["event_id"]), "t_dedup", "append")
    got = spark.sql("SELECT event_id, count(*) c FROM t_dedup GROUP BY 1").collect()
    assert {r.event_id: r.c for r in got} == {1: 1, 2: 1}


def test_events_event_id_unique_in_testdata(spark):
    """q_stream_dedup's DuckDB oracle is the plain single-copy select,
    which is only valid while event_id is unique in the events table —
    pin that invariant here so a testdata change fails loudly instead
    of silently weakening the oracle."""
    from tests.conftest import SF_DIR

    ev = read_table(spark, SF_DIR, "events")
    n, d = ev.agg(
        F.count(F.lit(1)), F.countDistinct("event_id")
    ).first()
    assert n == d


def test_sessionize_state_carries_across_batches(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    d1 = str(tmp_path / "ev")
    rows1 = [(1, t0), (1, t0 + dt.timedelta(minutes=5))]
    rows2 = [(1, t0 + dt.timedelta(minutes=10)), (1, t0 + dt.timedelta(hours=2))]
    # one part file per wave: multi-file waves can straddle micro-
    # batches in mod-time order, which under load delivers the 2h
    # event BEFORE the 10-min one — a different (out-of-order) input,
    # not the state-carry-over scenario this test pins
    spark.createDataFrame(rows1, ["user_id", "ts"]).coalesce(1).write.mode("overwrite").parquet(d1)
    schema = spark.read.parquet(d1).schema

    # ONE continuous query; files arrive in two waves — per-user state
    # must carry across the micro-batches.
    stream = S.read_event_stream(spark, d1, schema)
    q = (
        S.stream_sessionize(stream)
        .writeStream.format("memory")
        .queryName("s_state")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(rows2, ["user_id", "ts"]).coalesce(1).write.mode("append").parquet(d1)
        q.processAllAvailable()
    finally:
        q.stop()
    # latest update per session = max n_events (monotone) — collect()
    # order across update batches is not guaranteed (flaked under a
    # loaded box when an earlier update row iterated last)
    final = {}
    for r in spark.sql("SELECT * FROM s_state").collect():
        k = (r.user_id, r.session_idx)
        final[k] = max(final.get(k, 0), r.n_events)
    # events at 0,5,10min are one session (3 events); +2h starts session 2
    assert final == {(1, 1): 3, (1, 2): 1}


def test_stream_hopping_matches_batch(spark, events_dir):
    batch = read_table(spark, SF, "events")
    expected = {
        (r.ws, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_window_agg(
            batch, "ts", ["event_type"], "2 hours", "1 hour"
        ).collect()
    }
    schema = spark.read.parquet(events_dir).schema
    stream = S.read_event_stream(spark, events_dir, schema)
    S.run_to_memory(S.stream_hopping_counts(stream), "t_hopping", "append")
    got = {
        (r.ws, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM t_hopping").collect()
    }
    # append emits only watermark-closed windows; every closed window
    # must agree with the batch hopping aggregate
    assert len(got) > 0
    for k, v in got.items():
        assert expected[k] == v


def test_stream_session_window_matches_batch(spark, events_dir):
    from fifa_data_pipeline_spark.plans.extended4 import q_session_window

    expected = {
        (r.user_id, r.session_start): (r.session_last, r.n_events, r.sum_value)
        for r in q_session_window(spark, SF).collect()
    }
    schema = spark.read.parquet(events_dir).schema
    stream = S.read_event_stream(spark, events_dir, schema)
    S.run_to_memory(S.stream_session_window(stream), "t_sesswin", "append")
    got = {
        (r.user_id, r.session_start): (r.session_last, r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM t_sesswin").collect()
    }
    # append emits only watermark-closed sessions; each must equal the
    # batch session_window result exactly
    assert len(got) > 0
    for k, v in got.items():
        assert expected[k] == v


def test_stream_restart_recovers_from_checkpoint(spark, tmp_path):
    """Exactly-once across restarts: run a watermarked windowed agg
    over batch 1, stop, land batch 2, restart with the SAME
    checkpoint — the second run must continue from persisted state:
    no window emitted twice, and every emitted window must equal the
    batch aggregate over the full data."""
    import shutil

    batch = read_table(spark, SF, "events").withColumn(
        "ep", F.unix_timestamp("ts")
    )
    cut = batch.agg(F.expr("percentile_approx(ep, 0.5)")).collect()[0][0]
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    batch.filter(F.col("ep") <= cut).drop("ep").write.parquet(src)

    schema = spark.read.parquet(src).schema

    def run_once():
        stream = S.read_event_stream(spark, src, schema)
        q = (
            S.stream_tumbling_counts(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink).collect()

    first = run_once()
    # Land the second half into the SAME source dir, restart.
    batch.filter(F.col("ep") > cut).drop("ep").write.mode("append").parquet(src)
    combined = run_once()

    assert len(first) > 0 and len(combined) > len(first)
    keys = [(r.ws, r.event_type) for r in combined]
    assert len(keys) == len(set(keys)), "window re-emitted across restart"
    expected = {
        (r.ws, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_window_agg(read_table(spark, SF, "events")).collect()
    }
    for r in combined:
        assert expected[(r.ws, r.event_type)] == (r.n_events, r.sum_value)
    shutil.rmtree(src, ignore_errors=True)


def test_stream_ewma_matches_batch(spark, events_dir):
    """The streaming EWMA (exact unbounded recurrence via state)
    must equal the batch window+fold form with a lookback covering
    the longest per-key series."""
    from fifa_data_pipeline_spark.operators.events import ewma as batch_ewma

    batch = read_table(spark, SF, "events")
    expected = {
        r.event_id: r.ewma
        for r in batch_ewma(batch, lookback=1_000_000).collect()
    }
    schema = spark.read.parquet(events_dir).schema
    stream = S.read_event_stream(spark, events_dir, schema)
    S.run_to_memory(S.stream_ewma(stream), "t_ewma", "append")
    got = {r.event_id: r.ewma for r in spark.sql("SELECT * FROM t_ewma").collect()}
    assert len(got) == len(expected)
    mismatches = [
        k for k in expected if abs(got[k] - expected[k]) > 1e-6
    ]
    assert not mismatches, mismatches[:5]


def test_stream_distinct_matches_batch(spark, events_dir):
    # approx_count_distinct is hash-deterministic: streaming HLL
    # state merged across micro-batches must equal the one-shot
    # batch aggregate exactly
    from pyspark.sql import functions as F

    batch = read_table(spark, SF, "events")
    expected = {
        (r.ws, r.event_type): r.approx_users
        for r in batch.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
        .select(
            F.unix_timestamp("w.start").cast("bigint").alias("ws"),
            "event_type",
            "approx_users",
        )
        .collect()
    }
    schema = spark.read.parquet(events_dir).schema
    stream = S.read_event_stream(spark, events_dir, schema)
    S.run_to_memory(S.stream_distinct_counts(stream), "t_distinct", "append")
    got = {
        (r.ws, r.event_type): r.approx_users
        for r in spark.sql("SELECT * FROM t_distinct").collect()
    }
    assert len(got) > 0
    for k, v in got.items():
        assert expected[k] == v


def test_stream_cdc_apply_converges_to_batch(spark, tmp_path_factory):
    # multi-batch CDC stream (maxFilesPerTrigger=1 over a multi-file
    # landing) merged into the bucket store must equal the one-shot
    # batch apply, tombstones filtered
    from pyspark.sql import functions as F

    from fifa_data_pipeline_spark.plans.extended13 import q_cdc_apply

    base = tmp_path_factory.mktemp("cdc")
    feed_dir = str(base / "feed")
    target = str(base / "target")
    ckpt = str(base / "ckpt")

    ev = read_table(spark, SF, "events")
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    feed = ev.select(
        "user_id",
        op.alias("op"),
        F.unix_timestamp("ts").cast("bigint").alias("ep"),
        "event_id",
        F.col("value"),
    )
    # several files -> several micro-batches
    feed.repartition(4).write.parquet(feed_dir)

    schema = spark.read.parquet(feed_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )
    S.stream_cdc_apply(stream, target, ckpt, key="user_id", n_buckets=8)

    store = spark.read.parquet(target)
    live = store.filter(F.col("op") != "D")
    got = {
        (r["user_id"], r["op"], r["ep"], round(r["value"], 6))
        for r in live.collect()
    }
    expected = {
        (r["user_id"], r["last_op"], r["applied_at"], r["value_r"])
        for r in q_cdc_apply(spark, SF).collect()
    }
    assert got == expected
    # tombstones persisted for deleted keys
    n_deleted = store.filter(F.col("op") == "D").count()
    assert store.count() == len(expected) + n_deleted
    assert n_deleted > 0


def test_stream_cdc_apply_replay_is_idempotent(spark, tmp_path_factory):
    # wiping the checkpoint and replaying the whole feed into the
    # SAME target must converge to the identical store (dynamic
    # partition overwrite re-derives, never duplicates)
    import shutil

    from pyspark.sql import functions as F

    base = tmp_path_factory.mktemp("cdc_replay")
    feed_dir, target, ckpt = str(base / "feed"), str(base / "tgt"), str(base / "ck")

    ev = read_table(spark, SF, "events")
    feed = ev.select(
        "user_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        F.unix_timestamp("ts").cast("bigint").alias("ep"),
        "event_id",
        "value",
    )
    feed.repartition(3).write.parquet(feed_dir)
    schema = spark.read.parquet(feed_dir).schema

    def run(ck):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed_dir)
        )
        S.stream_cdc_apply(stream, target, ck, key="user_id", n_buckets=4)

    run(ckpt)
    first = sorted(
        tuple(r) for r in spark.read.parquet(target).drop("bucket").collect()
    )
    shutil.rmtree(ckpt)
    run(str(base / "ck2"))  # full replay into the same target
    second = sorted(
        tuple(r) for r in spark.read.parquet(target).drop("bucket").collect()
    )
    assert first == second


def test_stream_interval_join_left_outer(spark, events_dir):
    batch = read_table(spark, SF, "events")
    purchases_b = batch.filter(F.col("event_type") == "purchase")
    views_b = batch.filter(F.col("event_type") == "view")
    matched = {
        r.l_event_id
        for r in purchases_b.alias("l")
        .join(
            views_b.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (F.col("r.ts") <= F.col("l.ts"))
            & (F.col("r.ts") >= F.expr("l.ts - INTERVAL 1 HOUR")),
        )
        .select(F.col("l.event_id").alias("l_event_id"))
        .collect()
    }
    schema = spark.read.parquet(events_dir).schema
    stream = S.read_event_stream(spark, events_dir, schema)
    joined = S.stream_interval_join(
        stream.filter(F.col("event_type") == "purchase"),
        stream.filter(F.col("event_type") == "view"),
        how="left_outer",
    )
    S.run_to_memory(joined, "t_ivjoin_lo", "append")
    rows = spark.sql("SELECT * FROM t_ivjoin_lo").collect()
    inner = {(r.user_id, r.l_event_id, r.r_event_id) for r in rows
             if r.r_event_id is not None}
    nulls = {r.l_event_id for r in rows if r.r_event_id is None}
    assert len(inner) > 0
    # every null-padded left must truly have NO batch partner
    assert not (nulls & matched)
    # matched pairs are a subset of the inner join's batch answer
    for u, le, re_ in inner:
        assert le not in nulls  # a left row is matched XOR null-padded


def test_stream_near_dedup_invariants_and_batch_split_stability(
    spark, tmp_path
):
    """Streaming near-dedup: (a) accepted docs never share an LSH
    band; (b) exact duplicate texts are always collapsed to one
    survivor; (c) the wave split does not change the outcome when
    ids arrive in order (min-id representatives are wave-stable)."""
    from fifa_data_pipeline_spark.operators.dedup import minhash_buckets

    texts = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
        (3, "a completely different document about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog tonight"),  # near dup of 1
        (5, "yet another unrelated text mentioning databases only"),
        (6, "a completely different document about spark engines!"),  # near dup of 3
    ]

    def run(split_at: int, tag: str) -> set:
        base = tmp_path / tag
        src = str(base / "src")
        df1 = spark.createDataFrame(texts[:split_at], ["doc_id", "text"])
        df2 = spark.createDataFrame(texts[split_at:], ["doc_id", "text"])
        df1.coalesce(1).write.mode("overwrite").parquet(src)
        df2.coalesce(1).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        S.stream_near_dedup(
            stream,
            str(base / "bands"),
            str(base / "acc"),
            str(base / "ckpt"),
        )
        return {
            r.doc_id for r in spark.read.parquet(str(base / "acc")).collect()
        }

    acc = run(3, "a")
    assert 2 not in acc          # exact dup rejected
    # replay with the SAME checkpoint: availableNow sees nothing new,
    # the accepted corpus must not grow (exactly-once end-to-end)
    base = tmp_path / "a"
    schema2 = spark.read.parquet(str(base / "src")).schema
    S.stream_near_dedup(
        spark.readStream.schema(schema2)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(base / "src")),
        str(base / "bands"),
        str(base / "acc"),
        str(base / "ckpt"),
    )
    replay = {
        r.doc_id for r in spark.read.parquet(str(base / "acc")).collect()
    }
    assert replay == acc
    assert 1 in acc and 3 in acc and 5 in acc
    # (a) accepted docs pairwise share no band
    docs = spark.createDataFrame(
        [t for t in texts if t[0] in acc], ["doc_id", "text"]
    )
    b = minhash_buckets(docs)
    dup_bands = (
        b.groupBy("band_id", "band_hash")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup_bands == 0
    # (c) different wave split, same outcome (ordered arrival)
    assert run(4, "b") == acc


def test_stream_interval_join_full_outer(spark, events_dir):
    """full_outer stream-stream interval join: BOTH directions emit
    null-padded rows once the watermark clears their window — lefts
    with no partner AND rights whose events never preceded a left."""
    schema = spark.read.parquet(events_dir).schema
    stream = S.read_event_stream(spark, events_dir, schema)
    joined = S.stream_interval_join(
        stream.filter(F.col("event_type") == "purchase"),
        stream.filter(F.col("event_type") == "view"),
        how="full_outer",
    )
    S.run_to_memory(joined, "t_ivjoin_fo", "append")
    rows = spark.sql("SELECT * FROM t_ivjoin_fo").collect()
    left_null = [r for r in rows if r.l_event_id is None]
    right_null = [r for r in rows if r.r_event_id is None]
    both = [r for r in rows
            if r.l_event_id is not None and r.r_event_id is not None]
    assert both, "inner matches must still appear"
    # full outer must pad BOTH sides somewhere in this data
    assert left_null and right_null
    # a padded row carries the surviving side's key
    assert all(r.r_event_id is not None for r in left_null)
    assert all(r.l_event_id is not None for r in right_null)


def test_stream_near_dedup_replay_after_partial_write_is_idempotent(
    spark, tmp_path
):
    """ADVICE r3 (medium): a crash between the accepted write and the
    bands write replays the batch; with plain appends the docs were
    re-accepted and duplicated. With batch_id-partitioned dynamic
    overwrite the replay rewrites its own partitions: accepted corpus
    identical, no duplicate rows."""
    import os
    import shutil

    base = tmp_path / "crash"
    src = str(base / "src")
    texts = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (3, "a completely different document about spark engines"),
        (5, "yet another unrelated text mentioning databases only"),
        (7, "the quick brown fox jumps over the lazy dog tonight"),
    ]
    spark.createDataFrame(texts[:2], ["doc_id", "text"]).coalesce(1)\
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(texts[2:], ["doc_id", "text"]).coalesce(1)\
        .write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    bands_p, acc, ckpt = (
        str(base / "bands"), str(base / "acc"), str(base / "ckpt")
    )

    def run():
        S.stream_near_dedup(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            bands_p, acc, ckpt,
        )

    run()
    rows0 = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(acc).collect()
    )
    # simulate a crash AFTER the accepted write of the last batch but
    # BEFORE its bands write and checkpoint commit: drop that batch's
    # bands partition and its commit marker, then restart
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", last))
    crc = os.path.join(ckpt, "commits", f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    band_part = os.path.join(bands_p, f"batch_id={int(last)}")
    if os.path.exists(band_part):
        shutil.rmtree(band_part)
    run()
    rows1 = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(acc).collect()
    )
    assert rows1 == rows0  # no duplicates, same corpus
    assert len(rows1) == len({d for d, _ in rows1})


def test_stream_kmv_replay_and_batch_equivalence(spark, tmp_path):
    """(a) The streamed KMV state after all batches equals the BATCH
    sketch over all data (merge associativity); (b) replaying the last
    batch after a simulated crash (state written, output+commit lost)
    rebuilds identical output with no duplicate partitions."""
    import os
    import shutil

    from fifa_data_pipeline_spark.operators.sketch import kmv_distinct

    base = tmp_path / "kmv"
    src = str(base / "src")
    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b", i % 40) for i in range(200)],
        "event_id long, event_type string, user_id long",
    )
    df.filter("event_id < 100").coalesce(1).write.mode("overwrite").parquet(src)
    df.filter("event_id >= 100").coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    state, out, ckpt = (
        str(base / "state"), str(base / "out"), str(base / "ckpt")
    )

    def run():
        S.stream_kmv_distinct(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            state, out, ckpt, "event_type", "user_id", k=16,
        )

    run()
    last = max(
        int(d.split("=")[1])
        for d in os.listdir(out)
        if d.startswith("batch_id=")
    )
    streamed = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .filter(F.col("batch_id") == last)
            .select("g", "k_eff", "kth_min_hash", "distinct_est")
            .collect(),
        )
    )
    batch = sorted(
        map(
            tuple,
            kmv_distinct(df, "event_type", "user_id", k=16).collect(),
        )
    )
    assert streamed == batch
    # crash simulation: drop the last batch's OUTPUT partition and its
    # checkpoint commit (state partition survives), then restart
    for sub in ("commits",):
        commits = sorted(
            c for c in os.listdir(os.path.join(ckpt, sub))
            if not c.startswith(".")
        )
        os.remove(os.path.join(ckpt, sub, commits[-1]))
        crc = os.path.join(ckpt, sub, f".{commits[-1]}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    shutil.rmtree(os.path.join(out, f"batch_id={last}"))
    run()
    streamed2 = sorted(
        map(
            tuple,
            spark.read.parquet(out)
            .filter(F.col("batch_id") == last)
            .select("g", "k_eff", "kth_min_hash", "distinct_est")
            .collect(),
        )
    )
    assert streamed2 == streamed
    # no duplicate batch partitions appeared anywhere
    assert sorted(
        d for d in os.listdir(out) if d.startswith("batch_id=")
    ) == [f"batch_id={b}" for b in range(last + 1)]


def test_stream_checksum_equals_batch_and_replays_clean(spark, tmp_path):
    """XOR mergeability: the streamed running checksum after all
    batches equals the batch fold over all rows; replay after a lost
    commit rebuilds the same state."""
    import os

    from fifa_data_pipeline_spark.operators.relational import table_checksum

    base = tmp_path / "ck"
    src = str(base / "src")
    df = spark.createDataFrame(
        [(i, i % 7, f"s{i%5}") for i in range(500)],
        "a long, b long, c string",
    )
    df.filter("a < 250").coalesce(1).write.mode("overwrite").parquet(src)
    df.filter("a >= 250").coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    state, ckpt = str(base / "state"), str(base / "ckpt")

    def run():
        S.stream_table_checksum(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            state, ckpt, ["a", "b", "c"],
        )

    run()
    last = max(
        int(d.split("=")[1]) for d in os.listdir(state)
        if d.startswith("batch_id=")
    )
    got = (
        spark.read.parquet(state)
        .filter(F.col("batch_id") == last)
        .select("checksum", "n_rows")
        .collect()[0]
    )
    want = table_checksum(df, ["a", "b", "c"]).collect()[0]
    assert (got.checksum, got.n_rows) == (want.checksum, want.n_rows)
    # lose the last commit; replay must rebuild identical state
    commits = sorted(
        c for c in os.listdir(os.path.join(ckpt, "commits"))
        if not c.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    crc = os.path.join(ckpt, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    got2 = (
        spark.read.parquet(state)
        .filter(F.col("batch_id") == last)
        .select("checksum", "n_rows")
        .collect()[0]
    )
    assert (got2.checksum, got2.n_rows) == (want.checksum, want.n_rows)


def test_stream_holt_winters_tracks_linear_trend(spark, tmp_path):
    """On a noiseless linear series the trend estimate converges
    toward the true slope and the one-step forecast leads the level."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), "a", float(10 + 5 * i))
        for i in range(30)
    ]
    d = str(tmp_path / "hw_events")
    spark.createDataFrame(rows, ["event_id", "ts", "event_type", "value"]).write.parquet(d)
    schema = spark.read.parquet(d).schema
    stream = S.read_event_stream(spark, d, schema)
    S.run_to_memory(S.stream_holt_winters(stream), "t_hw", "append")
    out = {r.event_id: r for r in spark.sql("SELECT * FROM t_hw").collect()}
    assert len(out) == 30
    last = out[29]
    assert last.trend > 2.0           # converging toward slope 5
    assert last.forecast > last.level  # positive trend leads
    assert out[0].level == 10.0 and out[0].trend == 0.0


def test_tumbling_drain_identical_under_rocksdb_state_store(spark, sf_dir):
    """The production state backend (RocksDBStateStoreProvider — the
    off-heap store a 100 TB streaming job runs, with changelog
    checkpointing) produces identical drain results to the default
    HDFS-backed in-memory store: the swap is pure session config, no
    operator change. Uses the registered q_stream_tumbling drain
    (fresh checkpoint + query name per call) under each provider."""
    from fifa_data_pipeline_spark.plans.streaming_queries import (
        q_stream_tumbling,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    chg = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    baseline = sorted(
        map(tuple, q_stream_tumbling(spark, sf_dir).collect())
    )
    prior = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider",
    )
    spark.conf.set(chg, "true")
    try:
        rocks = sorted(
            map(tuple, q_stream_tumbling(spark, sf_dir).collect())
        )
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
        spark.conf.unset(chg)
    assert baseline and rocks == baseline
