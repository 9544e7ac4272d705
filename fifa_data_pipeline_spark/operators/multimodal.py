"""Multimodal-column plumbing: opaque ``binary`` payloads with typed
metadata, decoded/feature-extracted via Arrow-batched ``mapInPandas``.

The Spark-side design is the real thing — schema, partitioning, UDF
signature, batch shape. Two formats have REAL stdlib codecs (PNG via
zlib/struct, WAV via wave — encode AND decode, oracle-checked);
formats needing external libs (JPEG/WebP/video) keep deterministic
fake kernels (clearly marked) behind the same interface — swap
``_fake_decode_batch`` for a PIL/torchaudio kernel and nothing else
changes.

Scale notes: payload bytes ride through the plan as parquet BINARY —
never materialized driver-side; ``mapInPandas`` streams Arrow record
batches, so executor memory is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` × payload size, not
by partition size. Keep payloads out of shuffle keys; aggregate on
the extracted features instead.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def attach_payload(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Build a multimodal table: ``payload binary`` (here: the utf-8
    bytes of the text — a deterministic stand-in for image bytes) plus
    a typed metadata struct derived from the id."""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            ((F.col(id_col) % 64 + 1) * 8).cast("int").alias("width"),
            ((F.col(id_col) % 48 + 1) * 8).cast("int").alias("height"),
            F.lit(3).alias("channels"),
            F.lit("fake/rgb8").alias("media_format"),
        ).alias("meta"),
    )


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload_len", T.LongType()),
        T.StructField("byte_checksum", T.LongType()),
        T.StructField("feat", T.ArrayType(T.DoubleType())),
    ]
)


def _fake_decode_batch(payloads: pd.Series) -> pd.DataFrame:
    """Deterministic fake 'decode + feature extract' kernel. A real
    deployment replaces this with e.g. PIL decode + model features;
    the signature (pd.Series of bytes → pd.DataFrame of features) is
    the contract that stays."""
    lens = payloads.map(len)
    checksums = payloads.map(lambda b: sum(b) % 997)
    feats = payloads.map(
        lambda b: [float(len(b)), float(b[0] if b else 0), float(b[-1] if b else 0)]
    )
    return pd.DataFrame(
        {"payload_len": lens, "byte_checksum": checksums, "feat": feats}
    )


def decode_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Feature-extract every payload via ``mapInPandas`` (Arrow batch
    transfer, ~10-100x a row-at-a-time Python UDF)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = _fake_decode_batch(pdf["payload"])
            out.insert(0, "doc_id", pdf[id_col].values)
            yield out

    return df.mapInPandas(run, FEATURES_SCHEMA)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_len", T.IntegerType()),
        T.StructField("frame_checksum", T.LongType()),
    ]
)


def sample_frames(
    df: DataFrame, id_col: str = "doc_id", frame_bytes: int = 256, every: int = 2
) -> DataFrame:
    """'Video' frame sampling: split each payload into fixed-size
    chunks and keep every ``every``-th — a one-to-many ``mapInPandas``
    (each input row yields multiple frame rows), the shape a real
    frame sampler has."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf[id_col], pdf["payload"]):
                chunks = [
                    payload[i : i + frame_bytes]
                    for i in range(0, len(payload), frame_bytes)
                ]
                for idx in range(0, len(chunks), every):
                    rows.append(
                        (doc_id, idx, len(chunks[idx]), sum(chunks[idx]) % 997)
                    )
            yield pd.DataFrame(
                rows, columns=["doc_id", "frame_idx", "frame_len", "frame_checksum"]
            )

    return df.mapInPandas(run, FRAMES_SCHEMA)


# ---------------------------------------------------------------------------
# Real PNG codec — stdlib only (zlib + struct + numpy), no PIL.
#
# Grayscale 8-bit PNGs with deterministic pixel content
# pixel(k) = (doc_id + k) % 256 at k = y*width + x, so every decoded
# statistic is independently predictable by the DuckDB oracle — this
# is the one multimodal path where "decode" means real entropy
# decoding (zlib inflate) + real container parsing (length/type/CRC
# chunk walk), not a stand-in.
# ---------------------------------------------------------------------------

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

PNG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("png", T.BinaryType()),
    ]
)

PNG_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("color_type", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("mean_pixel", T.DoubleType()),
    ]
)


def png_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic image dimensions for a doc id (4..64 × 4..48)."""
    return (doc_id % 16 + 1) * 4, (doc_id % 12 + 1) * 4


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _encode_png_bytes(doc_id: int) -> bytes:
    """Build a valid grayscale 8-bit PNG for one doc id."""
    import struct
    import zlib

    import numpy as np

    w, h = png_dims(doc_id)
    pixels = ((np.arange(w * h, dtype=np.int64) + doc_id) % 256).astype(
        np.uint8
    ).reshape(h, w)
    # filter byte 0 (None) before every scanline
    raw = b"".join(b"\x00" + row.tobytes() for row in pixels)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_MAGIC
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _decode_png_pixels(buf: bytes):
    """Parse + inflate one PNG: walk the chunk stream (validating
    every CRC), require grayscale-8/filter-0, and return
    (bit_depth, color_type, pixels) with pixels an (h, w) uint8
    array."""
    import struct
    import zlib

    import numpy as np

    if buf[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG: bad signature")
    pos, width = 8, None
    idat = bytearray()
    while pos < len(buf):
        (length,) = struct.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", buf, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type = struct.unpack_from(
                ">IIBB", data
            )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if width is None:
        raise ValueError("no IHDR chunk")
    if bit_depth != 8 or color_type != 0:
        raise ValueError("only grayscale-8 supported by this decoder")
    raw = zlib.decompress(bytes(idat))
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, width + 1)
    if rows[:, 0].any():
        raise ValueError("only filter type 0 supported by this decoder")
    return bit_depth, color_type, rows[:, 1:]


def _decode_png_bytes(buf: bytes) -> tuple[int, int, int, int, int, float]:
    """Stats view over :func:`_decode_png_pixels`: returns
    (width, height, bit_depth, color_type, n_pixels, mean_pixel)."""
    bit_depth, color_type, pixels = _decode_png_pixels(buf)
    return (
        pixels.shape[1],
        pixels.shape[0],
        bit_depth,
        color_type,
        int(pixels.size),
        float(pixels.mean()),
    )


def encode_png(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Render a valid PNG per row via ``mapInPandas`` — the write
    half of the real-codec path. Payload bytes stream through Arrow
    batches; nothing touches the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "png": [
                        _encode_png_bytes(int(i)) for i in pdf[id_col]
                    ],
                }
            )

    return df.select(id_col).mapInPandas(run, PNG_SCHEMA)


def decode_png(df: DataFrame) -> DataFrame:
    """Decode PNG payloads back to typed stats via ``mapInPandas``:
    container parse, CRC validation, zlib inflate, scanline
    de-filtering, pixel aggregation — a real decoder, batched over
    Arrow. Executor memory is bounded by Arrow batch size × image
    size; decoded pixel arrays die inside the kernel (only the stats
    leave), which is exactly how a 100 TB image pipeline must behave:
    never let raw pixels reach a shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [_decode_png_bytes(b) for b in pdf["png"]]
            res = pd.DataFrame(
                out,
                columns=[
                    "width", "height", "bit_depth", "color_type",
                    "n_pixels", "mean_pixel",
                ],
            )
            res.insert(0, "doc_id", pdf["doc_id"].values)
            yield res

    return df.mapInPandas(run, PNG_STATS_SCHEMA)


POOL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("bin_idx", T.IntegerType()),
        T.StructField("mean_byte", T.DoubleType()),
    ]
)


def pool_bytes(
    df: DataFrame, id_col: str = "doc_id", bin_size: int = 32
) -> DataFrame:
    """Fixed-window byte pooling over the payload — the thumbnail /
    audio-downsample plumbing stub: each complete ``bin_size``-byte
    window reduces to its mean (trailing partial window dropped),
    one output row per (payload, window). The kernel is the REAL
    interface — one-to-many ``mapInPandas``, numpy reshape+mean per
    batch — with the byte-mean standing in for a pooling codec; the
    deterministic arithmetic makes it oracle-checkable (ASCII
    corpus: byte == ord(char), mirrored in DuckDB)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, bins, means = [], [], []
            for i, payload in zip(pdf[id_col], pdf["payload"]):
                buf = np.frombuffer(payload, dtype=np.uint8)
                n = len(buf) // bin_size
                if n == 0:
                    continue
                pooled = (
                    buf[: n * bin_size]
                    .reshape(n, bin_size)
                    .mean(axis=1)
                    .round(6)
                )
                ids.extend([i] * n)
                bins.extend(range(n))
                means.extend(pooled.tolist())
            yield pd.DataFrame(
                {"doc_id": ids, "bin_idx": bins, "mean_byte": means}
            )

    return df.select(id_col, "payload").mapInPandas(run, POOL_SCHEMA)


# ---------------------------------------------------------------------------
# Real WAV codec — stdlib only (wave + struct + numpy), no torchaudio.
#
# 16-bit mono PCM with deterministic samples
# sample(k) = amp(doc_id) * ((k % 256) - 128), so decoded statistics
# (duration, RMS energy) are predictable in closed form by the
# oracle — the audio twin of the PNG path above.
# ---------------------------------------------------------------------------

WAV_RATE = 8000

WAV_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_width", T.IntegerType()),
        T.StructField("frame_rate", T.IntegerType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("rms", T.DoubleType()),
    ]
)


def wav_params(doc_id: int) -> tuple[int, int]:
    """Deterministic (n_frames, amplitude) for a doc id."""
    return (doc_id % 20 + 1) * 160, doc_id % 8 + 1


def _encode_wav_bytes(doc_id: int) -> bytes:
    """Render a valid 16-bit mono PCM WAV for one doc id."""
    import io
    import wave

    import numpy as np

    n, amp = wav_params(doc_id)
    samples = (
        amp * ((np.arange(n, dtype=np.int64) % 256) - 128)
    ).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def _decode_wav_bytes(buf: bytes) -> tuple[int, int, int, int, float]:
    """Parse one WAV (RIFF container walk via the stdlib codec) and
    return (n_channels, sample_width, frame_rate, n_frames, rms)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(buf), "rb") as w:
        nch, width, rate, n = (
            w.getnchannels(),
            w.getsampwidth(),
            w.getframerate(),
            w.getnframes(),
        )
        raw = w.readframes(n)
    if width != 2 or nch != 1:
        raise ValueError("only 16-bit mono supported by this decoder")
    x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    return nch, width, rate, n, float(np.sqrt((x * x).mean()))


def encode_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Render a WAV per row via ``mapInPandas`` (same streaming-batch
    contract as :func:`encode_png`)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "wav": [
                        _encode_wav_bytes(int(i)) for i in pdf[id_col]
                    ],
                }
            )

    return df.select(id_col).mapInPandas(
        run, "doc_id long, wav binary"
    )


def decode_wav(df: DataFrame) -> DataFrame:
    """Decode WAV payloads to typed audio stats via ``mapInPandas`` —
    real RIFF parsing + PCM extraction; raw samples die inside the
    kernel, only the stats leave (the same never-shuffle-pixels rule
    as :func:`decode_png`)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [_decode_wav_bytes(b) for b in pdf["wav"]]
            res = pd.DataFrame(
                out,
                columns=[
                    "n_channels", "sample_width", "frame_rate",
                    "n_frames", "rms",
                ],
            )
            res.insert(0, "doc_id", pdf["doc_id"].values)
            yield res

    return df.mapInPandas(run, WAV_STATS_SCHEMA)


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ahash_hi", T.LongType()),
        T.StructField("ahash_lo", T.LongType()),
    ]
)


def _ahash_pixels(pixels) -> tuple[int, int]:
    """64-bit average hash of a grayscale image: nearest-neighbor
    downsample to an 8×8 grid (sample at the center of each cell,
    ``row_i = (2i+1)·h // 16``), threshold each sample against the
    integer mean of the 64 samples (``64·px >= Σpx`` — no float
    round-off), and pack row-major into two 32-bit halves. Returned
    as (hi, lo) so both engines stay in signed-64 territory."""
    import numpy as np

    h, w = pixels.shape
    rows = [((2 * i + 1) * h) // 16 for i in range(8)]
    cols = [((2 * j + 1) * w) // 16 for j in range(8)]
    samples = pixels[np.ix_(rows, cols)].astype(np.int64)
    total = int(samples.sum())
    bits = (64 * samples >= total).astype(np.int64).ravel()
    hi = int(sum(int(b) << (31 - k) for k, b in enumerate(bits[:32])))
    lo = int(sum(int(b) << (31 - k) for k, b in enumerate(bits[32:])))
    return hi, lo


def ahash_png(df: DataFrame) -> DataFrame:
    """Perceptual (average) hash per PNG payload via ``mapInPandas``:
    decode with the real codec, downsample 8×8, mean-threshold, pack
    64 bits. The image-pipeline twin of MinHash: byte-identical AND
    re-encoded/resampled near-identical images collide, so exact
    dedup on the hash is near-dup dedup on the pixels. Pixels die in
    the kernel; only 2 BIGINTs shuffle — the 100 TB posture for
    image dedup (hash extraction is a map-only pass, the dedup is a
    16-byte-key groupBy)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = [
                _ahash_pixels(_decode_png_pixels(b)[2]) for b in pdf["png"]
            ]
            res = pd.DataFrame(out, columns=["ahash_hi", "ahash_lo"])
            res.insert(0, "doc_id", pdf["doc_id"].values)
            yield res

    return df.mapInPandas(run, AHASH_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("win_idx", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("n_zero_cross", T.LongType()),
    ]
)


def wav_window_features(df: DataFrame, window: int = 160) -> DataFrame:
    """Windowed audio features via ``mapInPandas``: decode 16-bit PCM
    with the stdlib codec, split into fixed ``window``-sample frames,
    and emit per-frame RMS energy and the strict zero-crossing count
    (adjacent samples with opposite nonzero signs, counted within the
    frame). RMS is computed as sqrt(Σv² / n) with the sum in exact
    int64 so the double is engine-portable. One input row fans out to
    n_frames/window feature rows — the standard layout for windowed
    audio/VAD features feeding a training pipeline; raw samples never
    leave the kernel."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import math
        import wave

        import numpy as np

        for pdf in batches:
            ids, wins, ns, rmss, zcs = [], [], [], [], []
            for doc_id, buf in zip(pdf["doc_id"], pdf["wav"]):
                with wave.open(io.BytesIO(bytes(buf)), "rb") as w:
                    if w.getsampwidth() != 2 or w.getnchannels() != 1:
                        raise ValueError("only 16-bit mono supported")
                    raw = w.readframes(w.getnframes())
                x = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                for win in range(0, max((len(x) + window - 1), 1) // window):
                    seg = x[win * window : (win + 1) * window]
                    if len(seg) == 0:
                        continue
                    ssq = int((seg * seg).sum())
                    ids.append(int(doc_id))
                    wins.append(win)
                    ns.append(len(seg))
                    rmss.append(math.sqrt(ssq / len(seg)))
                    zcs.append(int(((seg[1:] * seg[:-1]) < 0).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "win_idx": wins,
                    "n_samples": ns,
                    "rms": rmss,
                    "n_zero_cross": zcs,
                }
            )

    return df.mapInPandas(run, AUDIO_FEATURES_SCHEMA)
