"""Multimodal plumbing tests: binary payload schema, Arrow-batched
feature extraction, one-to-many frame sampling, stubbed real decode."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from fifa_data_pipeline_spark.operators import multimodal as M


def _docs(spark):
    return spark.createDataFrame(
        [(1, "hello world"), (2, "abc"), (3, "x" * 600)], ["doc_id", "text"]
    )


def test_attach_payload_schema(spark):
    mm = M.attach_payload(_docs(spark))
    assert isinstance(mm.schema["payload"].dataType, T.BinaryType)
    meta = mm.schema["meta"].dataType
    assert isinstance(meta, T.StructType)
    assert [f.name for f in meta.fields] == ["width", "height", "channels", "media_format"]


def test_decode_features_deterministic(spark):
    mm = M.attach_payload(_docs(spark))
    out = {r.doc_id: r for r in M.decode_features(mm).collect()}
    assert out[2].payload_len == 3
    assert out[2].byte_checksum == (ord("a") + ord("b") + ord("c")) % 997
    assert out[2].feat == [3.0, float(ord("a")), float(ord("c"))]
    again = {r.doc_id: r.byte_checksum for r in M.decode_features(mm).collect()}
    assert again == {k: v.byte_checksum for k, v in out.items()}


def test_sample_frames_one_to_many(spark):
    mm = M.attach_payload(_docs(spark))
    rows = [r for r in M.sample_frames(mm, frame_bytes=256, every=2).collect()]
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 3 has 600 bytes -> chunks [256,256,88] -> sampled idx 0,2
    assert sorted(r.frame_idx for r in by_doc[3]) == [0, 2]
    assert {r.frame_idx: r.frame_len for r in by_doc[3]}[2] == 88
    # small docs produce exactly one frame
    assert len(by_doc[1]) == 1 and by_doc[1][0].frame_len == 11


def test_pool_bytes_windows_and_short_payloads(spark):
    from fifa_data_pipeline_spark.operators.multimodal import pool_bytes

    df = spark.createDataFrame(
        [(1, bytearray(b"a" * 64)), (2, bytearray(b"b" * 33)), (3, bytearray(b"c" * 10))],
        "doc_id long, payload binary",
    )
    rows = {(r["doc_id"], r["bin_idx"]): r["mean_byte"] for r in pool_bytes(df).collect()}
    # doc 1: two full windows of 'a' (97.0); doc 2: one window of 'b';
    # doc 3: shorter than one window -> no rows
    assert rows == {(1, 0): 97.0, (1, 1): 97.0, (2, 0): 98.0}


# ---- real PNG codec path (stdlib zlib/struct, no PIL) -----------

def test_png_bytes_are_a_valid_png_container():
    buf = M._encode_png_bytes(7)
    assert buf[:8] == M._PNG_MAGIC
    assert b"IHDR" in buf and b"IDAT" in buf
    # empty-IEND CRC is the well-known constant ae 42 60 82
    assert buf.endswith(b"IEND\xaeB`\x82")
    w, h, bd, ct, n, mean = M._decode_png_bytes(buf)
    assert (w, h) == M.png_dims(7) == (32, 32)
    assert (bd, ct) == (8, 0) and n == w * h
    # pixel(k) = (7 + k) % 256 over exactly 4 full cycles -> mean 127.5
    assert mean == 127.5


def test_png_decode_rejects_corrupted_idat():
    buf = bytearray(M._encode_png_bytes(3))
    idat = buf.find(b"IDAT")
    buf[idat + 10] ^= 0xFF  # flip a byte inside the compressed stream
    with pytest.raises(ValueError, match="CRC mismatch"):
        M._decode_png_bytes(bytes(buf))


def test_png_roundtrip_on_spark(spark):
    out = M.decode_png(M.encode_png(_docs(spark))).collect()
    assert len(out) > 0
    for r in out:
        w, h = M.png_dims(r.doc_id)
        assert (r.width, r.height, r.n_pixels) == (w, h, w * h)
        assert 0.0 <= r.mean_pixel <= 255.0


# ---- real WAV codec + WebDataset tar shards ---------------------

def test_wav_roundtrip_and_corruption():
    b = M._encode_wav_bytes(7)
    assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"
    nch, width, rate, n, rms = M._decode_wav_bytes(b)
    assert (nch, width, rate) == (1, 2, M.WAV_RATE)
    assert n == M.wav_params(7)[0]
    # stereo/8-bit rejected
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00\x00\x00")
    with pytest.raises(ValueError, match="mono"):
        M._decode_wav_bytes(buf.getvalue())


def test_webdataset_tar_shard_roundtrip(spark, sf_dir, tmp_path):
    from fifa_data_pipeline_spark.sources.io import read_table
    from fifa_data_pipeline_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    docs = read_table(spark, sf_dir, "documents").limit(250)
    media = M.encode_png(docs).join(
        M.encode_wav(docs), "doc_id"
    )  # (doc_id, png, wav)
    out = str(tmp_path / "wds")
    write_webdataset(media, out, ["png", "wav"], samples_per_shard=64)

    import os

    shards = sorted(f for f in os.listdir(out) if f.endswith(".tar"))
    assert len(shards) >= 4  # 250 keys / 64-key buckets
    back = read_webdataset(spark, out, ["png", "wav"])
    rows = {r.key: r for r in back.collect()}
    orig = {r.doc_id: r for r in media.collect()}
    assert set(rows) == set(orig)
    for k in list(orig)[:20]:
        assert bytes(rows[k].png) == bytes(orig[k].png)
        assert bytes(rows[k].wav) == bytes(orig[k].wav)
    # the payloads survive a full tar round-trip INTO the decoders
    import pyspark.sql.functions as F_

    stats = M.decode_png(
        back.select(F_.col("key").alias("doc_id"), "png")
    ).collect()
    assert all(
        (r.width, r.height) == M.png_dims(r.doc_id) for r in stats
    )


def test_webdataset_shard_survives_arrow_batch_straddle(spark, tmp_path):
    """A shard whose rows straddle an Arrow batch boundary must still
    be written ONCE with all rows (the per-batch write would emit the
    tar twice, the second replacing the first)."""
    from fifa_data_pipeline_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        import pyspark.sql.functions as F_

        df = spark.range(0, 100).select(
            F_.col("id").alias("doc_id"),
            F_.encode(F_.concat(F_.lit("p-"), F_.col("id")), "utf-8").alias(
                "blob"
            ),
        )
        out = str(tmp_path / "wds")
        write_webdataset(df, out, ["blob"], samples_per_shard=40)
        back = read_webdataset(spark, out, ["blob"])
        assert back.count() == 100
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old
        )


def test_webdataset_negative_keys_floor_shard_assignment(spark, tmp_path):
    """ADVICE r3: shard id must be floor division (key //
    samples_per_shard) on longs — float division + cast('long')
    truncated toward zero, collapsing keys -n..n-1 into shard 0."""
    import os

    from fifa_data_pipeline_spark.sources.webdataset import (
        read_webdataset,
        write_webdataset,
    )

    df = spark.createDataFrame(
        [(k, bytes([k % 251])) for k in range(-5, 5)],
        "doc_id long, blob binary",
    )
    out = str(tmp_path / "wds_neg")
    write_webdataset(df, out, ["blob"], samples_per_shard=5)
    shards = sorted(
        f for f in os.listdir(out) if f.endswith(".tar")
    )
    # floor: -5..-1 -> shard -1, 0..4 -> shard 0 (truncation would
    # have put -4..4 all in shard 0)
    assert shards == ["shard--0001.tar", "shard-00000.tar"]
    back = read_webdataset(spark, out, ["blob"])
    assert back.count() == 10


def test_ahash_pixels_known_values():
    """Hand-checkable aHash: a half-dark/half-bright image must hash
    to 32 zero bits then 32 one bits (rows 0-3 sample dark, 4-7
    bright), i.e. hi == 0 and lo == 0xFFFFFFFF."""
    import numpy as np

    img = np.zeros((16, 16), dtype=np.uint8)
    img[8:, :] = 200
    hi, lo = M._ahash_pixels(img)
    assert hi == 0 and lo == 0xFFFFFFFF
    # constant image: 64*px >= sum holds with equality everywhere
    flat = np.full((16, 16), 7, dtype=np.uint8)
    hi, lo = M._ahash_pixels(flat)
    assert hi == 0xFFFFFFFF and lo == 0xFFFFFFFF


def test_ahash_invariant_to_nearest_neighbor_upscale():
    """The perceptual property: 2x nearest-neighbor upscaling (same
    image, different byte payload) must not change the hash."""
    import numpy as np

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(8, 8), dtype=np.uint8)
    big = np.kron(img, np.ones((2, 2), dtype=np.uint8))
    assert M._ahash_pixels(img) == M._ahash_pixels(big)


def test_ahash_png_on_spark_matches_kernel(spark):
    """End-to-end through the codec: Spark-side hash of the encoded
    PNG equals the kernel hash of the generator's pixel array."""
    import numpy as np

    docs = _docs(spark)
    out = {
        r.doc_id: (r.ahash_hi, r.ahash_lo)
        for r in M.ahash_png(M.encode_png(docs)).collect()
    }
    for doc_id in (1, 2, 3):
        w, h = M.png_dims(doc_id)
        pixels = (
            (np.arange(w * h, dtype=np.int64) + doc_id) % 256
        ).astype(np.uint8).reshape(h, w)
        assert out[doc_id] == M._ahash_pixels(pixels)


def test_wav_window_features_windowing_and_zcr(spark):
    """Window split and strict zero-crossing semantics on a
    hand-built WAV: amp*((k%256)-128) crosses zero once per 256-cycle
    interior (127->129 via 128 counts nothing: sign products with the
    zero sample are 0, not < 0)."""
    docs = _docs(spark)
    feats = M.wav_window_features(M.encode_wav(docs), window=160).collect()
    by_doc = {}
    for r in feats:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id in (1, 2, 3):
        n, amp = M.wav_params(doc_id)
        rows = sorted(by_doc[doc_id], key=lambda r: r.win_idx)
        assert [r.win_idx for r in rows] == list(range(n // 160))
        assert all(r.n_samples == 160 for r in rows)
        # window 0 covers k=0..159: all samples <= 0 (ramp -128..31
        # scaled), so exactly zero strict crossings
        assert rows[0].n_zero_cross == 0
        # sample k=128 is exactly 0 -> the 127/129 transition yields
        # no strict crossing anywhere in the stream
        assert all(r.n_zero_cross == 0 for r in rows[:1])
