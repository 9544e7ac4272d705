"""Python DataSource API connector tests: partitioned reads,
determinism across partition counts, option plumbing, and stream
drains that resume and replay exactly."""

from __future__ import annotations

from fifa_data_pipeline_spark.sources.pydatasource import (
    SYNTH_SCHEMA,
    OracledFeedStreamReader,
    register,
    synth_row,
)


def _read(spark, **opts):
    register(spark)
    r = spark.read.format("synthetic_events")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_reads_expected_rows_and_schema(spark):
    df = _read(spark, n=1000, n_users=7, partitions=4)
    assert df.count() == 1000
    assert df.columns == ["event_id", "user_id", "event_type", "amount_cents"]
    rows = {r.event_id: r for r in df.collect()}
    for i in (0, 1, 999):
        eid, uid, et, cents = synth_row(i, 7)
        assert (rows[i].user_id, rows[i].event_type,
                rows[i].amount_cents) == (uid, et, cents)


def test_partition_count_is_honored_and_result_invariant(spark):
    a = _read(spark, n=500, partitions=1)
    b = _read(spark, n=500, partitions=13)
    assert b.rdd.getNumPartitions() == 13
    assert a.rdd.getNumPartitions() == 1
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_filters_and_projection_apply_after_scan(spark):
    df = _read(spark, n=2000).filter("event_type = 'click'").select(
        "event_id", "user_id"
    )
    got = df.count()
    want = sum(1 for i in range(2000) if synth_row(i, 100)[2] == "click")
    assert got == want


def test_stream_reader_multi_batch_drain(spark):
    """The simpleStreamReader serves row-index offset windows; a
    polled continuous-trigger drain must land every row across
    multiple micro-batches, identical to the batch read."""
    import time
    import uuid

    register(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n", 900)
        .option("n_users", 7)
        .option("batch_rows", 200)
        .load()
    )
    name = f"t_pyds_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 60
    while spark.table(name).count() < 900:
        assert time.time() < deadline, "stream did not drain"
        time.sleep(0.1)
    q.stop()
    q.awaitTermination()
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {synth_row(i, 7) for i in range(900)}
    assert got == want


def test_stream_reader_checkpoint_resume_no_dupes(spark, tmp_path):
    """Exactly-once across restarts, deterministically: run 1 drains
    a 500-row feed to a parquet sink over a persistent checkpoint;
    run 2 reopens the SAME checkpoint with the feed grown to 1000 —
    offsets resume at 500, so the sink ends with exactly one copy of
    every row (growth-of-a-feed is the real restart scenario; no
    sleeps, no race on when the stop lands)."""
    import time

    register(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain(n):
        stream = (
            spark.readStream.format("synthetic_events")
            .option("n", n)
            .option("n_users", 7)
            .option("batch_rows", 200)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(processingTime="0 seconds")
            .start()
        )
        from pyspark.errors import AnalysisException

        def landed() -> int:
            try:
                return spark.read.parquet(out).count()
            except AnalysisException:
                return 0  # sink dir not created yet

        deadline = time.time() + 90
        while landed() < n:
            assert time.time() < deadline, "drain stalled"
            time.sleep(0.1)
        q.stop()
        q.awaitTermination()

    drain(500)
    assert spark.read.parquet(out).count() == 500
    drain(1000)
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1000  # no dupes from the restart
    got = {tuple(r) for r in rows}
    assert got == {synth_row(i, 7) for i in range(1000)}
    # replay determinism: a committed offset range regenerates
    # bit-identically — the contract exactly-once recovery rests on
    reader = OracledFeedStreamReader(
        {"n": 1000, "n_users": 7, "batch_rows": 200}
    )
    for lo, hi in ((0, 200), (200, 400), (300, 1000)):
        replay = list(reader.readBetweenOffsets({"i": lo}, {"i": hi}))
        assert replay == [synth_row(i, 7) for i in range(lo, hi)]



