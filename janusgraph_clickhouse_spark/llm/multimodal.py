"""Multimodal columns: opaque binary blobs + typed metadata.

Images/audio/video ride through the engine as `BinaryType` columns with a
typed metadata struct; decode and feature extraction run as
Arrow-batched `mapInPandas` stages so each Python batch sees a
columnar chunk, never a row at a time.  Audio decode is REAL for
PCM-16 WAV, the uncompressed format a pure-numpy parser can read
(`decode_audio`, exercised end-to-end by `decode_audio_stats`), and
STUBBED for compressed audio (entropy decoders aren't available here;
those rows surface as ok=false audit rows, never job failures).

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


AUDIO_SCHEMA = ("media_id long, ok boolean, n_samples long, channels int, "
                "sample_rate int, rms double")


def decode_audio_stats(media: DataFrame) -> DataFrame:
    """PCM-16 WAV decode end-to-end: per-clip sample count, channel
    count, rate and RMS amplitude via decode_audio; non-WAV blobs come
    back ok=false — a decode failure must not kill the 100 TB job, it
    must be auditable (the scrub_pii counting discipline applied to
    media)."""
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
