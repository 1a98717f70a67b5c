"""Multimodal columns: image/audio/video as opaque `binary` with typed
metadata; decode / feature-extract / resize / frame-sample as Arrow-batched
UDFs over mapInPandas.

Codecs (pbf2json_spark.codecs, stdlib-only — the container has no
Pillow/librosa):

  * image — REAL PNG (zlib inflate + all five scanline filters, CRC
    validation); resize re-encodes a real PNG.
  * audio — REAL WAV/PCM-16 via the stdlib `wave` module.
  * video — no container format is decodable without external libraries,
    so video blobs use a documented deterministic FAKE layout
    (`b"FAKE" + kind(1B) + width(u16) + height(u16) + payload`, one
    "frame" per payload row); a real codec would replace only the
    `_parse` branch.

The Spark-side shape is the part that matters at 10^12 rows: media rides
as a binary column, every crossing is an Arrow batch (mapInPandas), the
fan-out of frame sampling is a generator row-multiplier, and decode
failures surface per-row, not per-task."""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pbf2json_spark import codecs

MAGIC = b"FAKE"
KINDS = {0: "image", 1: "audio", 2: "video"}

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("blob", T.BinaryType(), False),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def generate_media(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic media table: real PNGs (grayscale or RGB), real WAVs,
    and FAKE-container videos, all derived from the row id — distributed,
    reproducible on any partitioning."""
    base = spark.range(n).withColumn("_seed", F.lit(seed))

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["id"].to_numpy()
            sd = int(pdf["_seed"].iloc[0]) if len(pdf) else 0
            rows = []
            for i in ids:
                kind = int(i % 3)
                w = 4 + int((i * 7 + sd) % 13)
                h = 4 + int((i * 11 + sd) % 9)
                rng = np.random.default_rng(sd + int(i))
                if kind == 0:  # image: real PNG, alternate gray / RGB
                    ch = 1 if i % 2 == 0 else 3
                    shape = (h, w) if ch == 1 else (h, w, ch)
                    img = rng.integers(0, 256, shape, dtype=np.uint8)
                    blob = codecs.encode_png(img, filter_type=int(i % 5))
                    meta = {"w": str(w), "h": str(h), "codec": "png"}
                elif kind == 1:  # audio: real WAV, ~w*h samples
                    samples = rng.integers(
                        -(1 << 14), 1 << 14, w * h * 16, dtype=np.int16
                    )
                    blob = codecs.encode_wav(samples, 16_000)
                    meta = {"samples": str(samples.size), "codec": "wav"}
                else:  # video: documented FAKE container (no codec in env)
                    payload = rng.integers(0, 256, w * h, dtype=np.uint8).tobytes()
                    blob = MAGIC + struct.pack("<BHH", kind, w, h) + payload
                    meta = {"w": str(w), "h": str(h), "codec": "fake"}
                rows.append(
                    {"media_id": int(i), "kind": KINDS[kind], "blob": blob, "meta": meta}
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "blob", "meta"])

    return base.mapInPandas(gen, MEDIA_SCHEMA)


_DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_value", T.DoubleType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _parse_fake(blob: bytes) -> tuple[int, int, int, np.ndarray]:
    kind, w, h = struct.unpack("<BHH", blob[4:9])
    payload = np.frombuffer(blob[9:], dtype=np.uint8)
    return kind, w, h, payload


def decode_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract in one Arrow pass, dispatching on the blob's
    real magic bytes:

      image (PNG)  → width, height, mean pixel value
      audio (WAV)  → width = n_samples, height = n_channels,
                     mean_value = mean |amplitude| normalized to [0, 1]
      video (FAKE) → frame geometry + mean byte
    """

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, kind, blob in zip(pdf["media_id"], pdf["kind"], pdf["blob"]):
                b = bytes(blob)
                if b[:8] == codecs.PNG_MAGIC:
                    img = codecs.decode_png(b)
                    h, w = img.shape[:2]
                    mean = float(img.mean())
                elif b[:4] == b"RIFF":
                    _sr, ch, samples = codecs.decode_wav(b)
                    w, h = int(samples.size), ch
                    mean = float(np.abs(samples.astype(np.float64)).mean() / 32768.0)
                elif b[:4] == MAGIC:
                    _, w, h, payload = _parse_fake(b)
                    mean = float(payload.mean()) if payload.size else 0.0
                else:
                    raise NotImplementedError(
                        "unrecognized media container (PNG, WAV and the FAKE "
                        "video layout are decodable in this environment)"
                    )
                out.append(
                    {
                        "media_id": int(mid), "kind": kind, "width": int(w),
                        "height": int(h), "mean_value": mean, "n_bytes": len(b),
                    }
                )
            yield pd.DataFrame(out, columns=[f.name for f in _DECODED_SCHEMA.fields])

    return media.mapInPandas(run, _DECODED_SCHEMA)


_DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def image_dhash(media: DataFrame) -> DataFrame:
    """Perceptual difference-hash (dHash) over REAL PNG blobs — the
    image near-dup key a multimodal corpus dedups on (re-encoded,
    resized, slightly-recompressed copies of one image land within a few
    bits of each other; exact byte hashing sees three unrelated blobs):
    decode → grayscale (channel mean) → 9×8 nearest-neighbor downsample
    → one bit per horizontal neighbor pair (left > right), 64 bits
    row-major. Deterministic end to end (integer sampling grid, float64
    means, strict >), so the same image hashes identically on any
    partitioning. Non-PNG rows (audio/video) are skipped — no raster,
    no hash.

    Arrow-batched mapInPandas like every media pass; blobs never
    explode, one int64 per image comes out.
    """

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out_ids: list[int] = []
            out_hs: list[int] = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                b = bytes(blob)
                if b[:8] != codecs.PNG_MAGIC:
                    continue
                img = codecs.decode_png(b)
                g = (
                    img.mean(axis=2) if img.ndim == 3
                    else img.astype(np.float64)
                )
                h, w = g.shape
                ys = (np.arange(8) * h) // 8
                xs = (np.arange(9) * w) // 9
                s = g[np.ix_(ys, xs)]
                bits = (s[:, 1:] > s[:, :-1]).ravel()
                val = 0
                for bit in bits:
                    val = (val << 1) | int(bit)
                if val >= 1 << 63:
                    val -= 1 << 64
                out_ids.append(int(mid))
                out_hs.append(val)
            yield pd.DataFrame(
                {"media_id": pd.Series(out_ids, dtype="int64"),
                 "dhash": pd.Series(out_hs, dtype="int64")}
            )

    return media.mapInPandas(run, _DHASH_SCHEMA)


_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("energy", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
        T.StructField("peak", T.LongType()),
    ]
)


def audio_features(media: DataFrame) -> DataFrame:
    """Integer PCM features over REAL WAV blobs — the audio analog of
    image_dhash's "cheap, deterministic, join-key-grade" features: total
    energy Σs² (silence/clipping screen, loudness dedup key),
    zero-crossing count (strict sign flips — the classic voiced/unvoiced
    and tone-vs-noise proxy), and peak |s|. All int64 arithmetic on the
    int16 samples: energy ≤ 2³⁰ per sample, so ~2^33 samples per clip
    before overflow — hours of audio; exact on any partitioning.

    Non-WAV rows (PNG images, fake-container videos) are skipped, same
    convention as image_dhash. Arrow-batched mapInPandas; blobs never
    explode; seven scalars per clip come out. No SQL oracle by design
    (binary container decode) — brute-force pytest coverage instead,
    like the rest of the codec layer.
    """

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, blob in zip(pdf["media_id"], pdf["blob"]):
                b = bytes(blob)
                if b[:4] != b"RIFF":
                    continue
                sr, ch, samples = codecs.decode_wav(b)
                s = samples.astype(np.int64)
                nz = s[s != 0]
                rows.append(
                    {
                        "media_id": int(mid),
                        "sample_rate": int(sr),
                        "n_channels": int(ch),
                        "n_samples": int(s.size),
                        "energy": int(np.dot(s, s)),
                        "zero_crossings": int(
                            np.count_nonzero(nz[1:] * nz[:-1] < 0)
                        ),
                        "peak": int(np.abs(s).max()) if s.size else 0,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in _AUDIO_SCHEMA.fields],
            ).astype(
                {"media_id": "int64", "sample_rate": "int32",
                 "n_channels": "int32", "n_samples": "int64",
                 "energy": "int64", "zero_crossings": "int64",
                 "peak": "int64"}
            )

    return media.mapInPandas(run, _AUDIO_SCHEMA)
