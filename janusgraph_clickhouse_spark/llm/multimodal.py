"""Multimodal columns: opaque binary blobs + typed metadata.

Images/audio/video ride through the engine as `BinaryType` columns with a
typed metadata struct; decode / feature-extraction / resize run as
Arrow-batched `mapInPandas` stages so each Python batch sees a
columnar chunk, never a row at a time.  Decode is REAL for the
uncompressed formats a pure-numpy parser can read — PPM P6, 24-bit BMP,
PCM-16 WAV (`decode_image` / `decode_audio`, exercised end-to-end by
`decode_image_stats` / `decode_audio_stats`) — and STUBBED only for
codec formats (JPEG/PNG/compressed audio: entropy decoders aren't in
this container; those rows surface as ok=false audit rows, never job
failures).

At 100 TB the governing constraint is partition sizing: blobs make rows
huge, so `spark.sql.files.maxPartitionBytes` and an explicit repartition
on the id (not the blob) keep batches memory-bounded; metadata-only
queries never touch the blob column thanks to parquet column pruning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("blob", T.BinaryType()),
    T.StructField("mime", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
])


def attach_binary(df: DataFrame, id_col: str, text_col: str,
                  mime: str = "application/octet-stream") -> DataFrame:
    """Build a media table from a source column: blob + typed metadata.
    (With real media you'd `spark.read.format("binaryFile")` instead; this
    derives deterministic blobs from the fixtures.)"""
    blob = F.encode(F.col(text_col), "utf-8")
    return df.select(F.col(id_col).alias("media_id"),
                     blob.alias("blob"),
                     F.lit(mime).alias("mime"),
                     F.octet_length(blob).cast("long").alias("n_bytes"))


def decode_image(blob: bytes):
    """Decode a blob to an (H, W, 3) uint8 numpy array.

    REAL for the uncompressed formats a pure-numpy decoder can handle —
    PPM P6 and 24-bit BI_RGB BMP (byte-layout parsing, no codec
    library); STUBBED for codec formats (JPEG/PNG/WebP/…): entropy
    decoding needs libs not present in this container — swap the
    NotImplementedError arm for PIL/torchvision/ffmpeg in a full
    deployment.  The mapInPandas plumbing downstream is identical
    either way."""
    if blob is None or len(blob) < 2:
        raise ValueError("empty blob")
    if blob[:2] == b"P6":
        return _decode_ppm_p6(blob)
    if blob[:2] == b"BM":
        return _decode_bmp24(blob)
    raise NotImplementedError(
        "codec-format decode (JPEG/PNG/...) is stubbed in this "
        "environment; PPM P6 and 24-bit BMP decode natively")


def _decode_ppm_p6(blob: bytes):
    """PPM P6: ASCII header (magic, width, height, maxval; '#' comments)
    then raw RGB bytes."""
    import numpy as np

    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(blob) and blob[pos:pos + 1].isspace():
            pos += 1
        if blob[pos:pos + 1] == b"#":
            while pos < len(blob) and blob[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(blob) and not blob[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(blob[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError("PPM maxval != 255")
    return (np.frombuffer(blob, np.uint8, count=w * h * 3, offset=pos)
            .reshape(h, w, 3))


def _decode_bmp24(blob: bytes):
    """Uncompressed 24-bit BI_RGB BMP: little-endian header fields, rows
    padded to 4 bytes, stored bottom-up in BGR order."""
    import struct

    import numpy as np

    data_off, = struct.unpack_from("<I", blob, 10)
    w, h = struct.unpack_from("<ii", blob, 18)
    bpp, = struct.unpack_from("<H", blob, 28)
    compression, = struct.unpack_from("<I", blob, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP (got bpp={bpp}, "
            f"compression={compression})")
    flip = h > 0
    h = abs(h)
    row = (w * 3 + 3) // 4 * 4
    arr = (np.frombuffer(blob, np.uint8, count=row * h, offset=data_off)
           .reshape(h, row)[:, :w * 3].reshape(h, w, 3))
    if flip:
        arr = arr[::-1]
    return arr[:, :, ::-1]  # BGR → RGB


def decode_audio(blob: bytes):
    """Decode a RIFF/WAVE PCM-16 blob to (samples int16 [n, channels],
    sample_rate).  Pure chunk-walk + numpy frombuffer — real decode for
    the uncompressed format; compressed audio stays stubbed."""
    import struct

    import numpy as np

    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise NotImplementedError("only RIFF/WAVE audio decodes natively")
    pos, fmt, raw = 12, None, None
    while pos + 8 <= len(blob):
        cid = blob[pos:pos + 4]
        sz, = struct.unpack_from("<I", blob, pos + 4)
        body = blob[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            raw = body
        pos += 8 + sz + (sz & 1)
    if fmt is None or raw is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError("only PCM-16 WAV decodes natively")
    samples = np.frombuffer(raw, np.int16).reshape(-1, channels)
    return samples, rate


DECODE_SCHEMA = ("media_id long, ok boolean, width int, height int, "
                 "channels int, pixel_mean double")


def decode_image_stats(media: DataFrame) -> DataFrame:
    """The REAL decode stage end-to-end: mapInPandas batches of blobs →
    per-image (width, height, channels, mean pixel) through
    decode_image.  Rows whose format only a codec library could read
    come back ok=false with null dims — a decode failure must not kill
    the 100 TB job, it must be auditable (the scrub_pii counting
    discipline applied to media)."""
    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "ok": [], "width": [], "height": [],
                    "channels": [], "pixel_mean": []}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                rows["media_id"].append(mid)
                try:
                    arr = decode_image(blob)
                    rows["ok"].append(True)
                    rows["height"].append(arr.shape[0])
                    rows["width"].append(arr.shape[1])
                    rows["channels"].append(arr.shape[2])
                    rows["pixel_mean"].append(
                        round(float(arr.mean()), 6))
                except (NotImplementedError, ValueError):
                    rows["ok"].append(False)
                    rows["height"].append(None)
                    rows["width"].append(None)
                    rows["channels"].append(None)
                    rows["pixel_mean"].append(None)
            yield pd.DataFrame(rows)

    return media.mapInPandas(stats, schema=DECODE_SCHEMA)


AUDIO_SCHEMA = ("media_id long, ok boolean, n_samples long, channels int, "
                "sample_rate int, rms double")


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """PCM-16 WAV decode end-to-end: per-clip sample count, channel
    count, rate and RMS amplitude via decode_audio; non-WAV blobs come
    back ok=false (same audit discipline as decode_image_stats)."""
    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in batches:
            rows = {"media_id": [], "ok": [], "n_samples": [],
                    "channels": [], "sample_rate": [], "rms": []}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                rows["media_id"].append(mid)
                try:
                    samples, rate = decode_audio(blob)
                    rows["ok"].append(True)
                    rows["n_samples"].append(samples.shape[0])
                    rows["channels"].append(samples.shape[1])
                    rows["sample_rate"].append(rate)
                    rows["rms"].append(round(float(
                        np.sqrt((samples.astype(np.float64) ** 2)
                                .mean())), 6))
                except (NotImplementedError, ValueError):
                    rows["ok"].append(False)
                    rows["n_samples"].append(None)
                    rows["channels"].append(None)
                    rows["sample_rate"].append(None)
                    rows["rms"].append(None)
            yield pd.DataFrame(rows)

    return media.mapInPandas(stats, schema=AUDIO_SCHEMA)


FEATURE_SCHEMA = ("media_id long, n_bytes long, first_byte int, "
                  "byte_mean double, feature array<float>")


def extract_features(media: DataFrame, feature_dim: int = 4) -> DataFrame:
    """mapInPandas feature extraction over binary blobs.

    Real decode is stubbed; the extracted features are deterministic
    functions of the raw bytes (length, first byte, mean byte value, and a
    fixed-width moment vector) so the batch shape, schema, and
    partitioning behavior of a real extractor are exercised end-to-end.
    """
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf["blob"]
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "n_bytes": blobs.map(lambda b: len(b) if b is not None else 0),
                "first_byte": blobs.map(
                    lambda b: int(b[0]) if b else -1),
                "byte_mean": blobs.map(
                    lambda b: (sum(b) / len(b)) if b else 0.0),
                "feature": blobs.map(lambda b: _moment_vector(b, feature_dim)),
            })
            yield out

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)


def _moment_vector(b: bytes | None, dim: int) -> list[float]:
    """Deterministic fake 'embedding' of a blob: chunked byte means."""
    if not b:
        return [0.0] * dim
    chunk = max(1, len(b) // dim)
    return [float(sum(b[i * chunk:(i + 1) * chunk])
                  / max(1, len(b[i * chunk:(i + 1) * chunk])))
            for i in range(dim)]


def resize(media: DataFrame, target_bytes: int = 64) -> DataFrame:
    """'Resize' shape over binary columns: emit a fixed-size downsampled
    blob per row (the 1:1 blob→smaller-blob batch shape of a real image
    resize; the resampling itself is a deterministic byte stride —
    the codec call it stands in for is `decode_image`, stubbed here)."""
    schema = "media_id long, blob binary, n_bytes long"

    def shrink(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"media_id": [], "blob": [], "n_bytes": []}
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                if blob is None:
                    small = b""
                else:
                    stride = max(1, len(blob) // target_bytes)
                    small = bytes(blob[::stride][:target_bytes])
                out["media_id"].append(mid)
                out["blob"].append(small)
                out["n_bytes"].append(len(small))
            yield pd.DataFrame(out)

    return media.mapInPandas(shrink, schema=schema)


def encode_wav_pcm16(samples, rate: int) -> bytes:
    """REAL RIFF/WAVE PCM-16 writer — the encode half of decode_audio
    (chunk layout per the public WAVE spec: fmt + data, little-endian).
    samples: int16 array [n, channels]."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr.reshape(-1, 1)
    channels = arr.shape[1]
    data = arr.tobytes()
    byte_rate = rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, rate, byte_rate,
                      channels * 2, 16)
    # no pad byte: PCM-16 data is always even (n·channels·2).  The
    # decoder's `sz & 1` chunk-walk skip is the half that matters for
    # FOREIGN WAVs carrying odd-sized chunks.
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synth_wav_corpus(df: DataFrame, id_col: str,
                     rate: int = 8000) -> DataFrame:
    """Deterministic synthetic audio corpus as REAL WAV bytes: clip i
    has 64 + (i % 32) mono samples v_j = ((i·31 + j·17) % 4096) − 2048,
    encoded through encode_wav_pcm16 in Arrow-batched mapInPandas.
    Because the sample formula is relational, an SQL oracle can
    recompute every decoded statistic WITHOUT parsing binary — the
    encode→decode round trip is what the hash-match then proves."""
    ids = df.select(F.col(id_col).alias("media_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in batches:
            blobs = []
            for mid in pdf["media_id"]:
                ns = 64 + int(mid) % 32
                j = np.arange(ns, dtype=np.int64)
                v = ((int(mid) * 31 + j * 17) % 4096) - 2048
                blobs.append(encode_wav_pcm16(v.astype(np.int16), rate))
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "blob": blobs})

    return ids.mapInPandas(gen, schema="media_id long, blob binary")
