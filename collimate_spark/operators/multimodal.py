"""Multimodal column handling: opaque ``binary`` payloads + typed metadata
structs, processed via Arrow-batched ``mapInPandas``.

The decode step is REAL for all three non-text modalities: PNG (stdlib
zlib/struct decoder, functions/png.py → pixel arrays), WAV (stdlib
RIFF/PCM decoder, functions/wav.py → int16 sample arrays), and video via
YUV4MPEG2 (ASCII-header raw-plane decoder, functions/y4m.py → per-frame
luma arrays); swap in PIL/libvips/torchaudio/pyav at the single marked
call sites in a deployment with compressed-codec libraries.
``decode_other_stub`` remains only for compressed containers (mp4/h264)
that genuinely need ffmpeg. The Spark-side plumbing
— schema, binary columns, batch iteration, partition sizing — is
identical either way and is tested (tests/test_multimodal.py). At 100 TB
the payloads live in Parquet binary columns co-partitioned with their
metadata; feature extraction is an embarrassingly-parallel mapInPandas
with batch size bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, SparkSession

from collimate_spark.catalog import load_table
from collimate_spark.functions import png, wav, y4m
from collimate_spark.scratch import scache


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """Wrap each document as a multimodal asset: binary payload (utf-8
    bytes of the text standing in for image/audio bytes) + metadata
    struct. This is the storage pattern: payload column stays opaque,
    metadata is queryable/prunable without touching payload bytes."""
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.length(F.col("text").cast("binary")).alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only scan over binary assets: per-source byte stats +
    payload checksums, without decoding payloads. Demonstrates that
    metadata queries prune the payload column (check ReadSchema)."""
    assets = with_binary_payload(load_table(spark, "documents", sf_dir))
    return (
        assets.select(
            "asset_id",
            F.col("meta.source").alias("source"),
            F.col("meta.n_bytes").alias("n_bytes"),
            F.md5("payload").alias("payload_md5"),
        )
        .orderBy("asset_id")
    )


MULTIMODAL_META_SQL = """
SELECT doc_id AS asset_id,
       source,
       octet_length(CAST(text AS BLOB)) AS n_bytes,
       md5(text) AS payload_md5
FROM documents
ORDER BY asset_id
"""


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("byte_mean", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def decode_other_stub(payload: bytes) -> None:
    """Placeholder for COMPRESSED-container decodes (mp4/h264/vp9 —
    ffmpeg/pyav in a real deployment; this container ships no codec
    libraries). Uncompressed formats of all three modalities decode for
    REAL: PNG (functions/png.py), WAV (functions/wav.py), and YUV4MPEG2
    video (functions/y4m.py)."""
    raise NotImplementedError(
        "compressed-container codecs are not available in this container; "
        "swap in ffmpeg/pyav in a real deployment"
    )


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas feature extractor over binary payloads.

    PNG payloads get a REAL decode (functions/png.py — this is the call
    site where PIL/libvips slots in when available): width/height, mean
    pixel value, and an 8-bin pixel-intensity histogram. Non-image
    payloads fall back to a byte-histogram sketch over the raw bytes
    (width/height null) so mixed-modality batches flow through one
    schema."""
    for pdf in batches:
        out = []
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            b = bytes(payload)
            if png.is_png(b):
                px = png.decode(b).astype(np.float64)
                flat = px.ravel()
                hist = np.histogram(flat, bins=8, range=(0, 256))[0] / max(flat.size, 1)
                out.append(
                    {
                        "asset_id": asset_id,
                        "n_bytes": len(b),
                        "width": px.shape[1],
                        "height": px.shape[0],
                        "byte_mean": float(flat.mean()),
                        "feature": [float(x) for x in hist],
                    }
                )
            else:
                arr = np.frombuffer(b, dtype=np.uint8)
                n = max(arr.size, 1)
                hist = np.bincount(arr >> 5, minlength=8)[:8] / n
                out.append(
                    {
                        "asset_id": asset_id,
                        "n_bytes": len(b),
                        "width": None,
                        "height": None,
                        "byte_mean": float(arr.mean()) if arr.size else 0.0,
                        "feature": [float(x) for x in hist],
                    }
                )
        yield pd.DataFrame(out, columns=[f.name for f in FEATURE_SCHEMA.fields])


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal feature pipeline: binary assets →
    mapInPandas(extract_features) → aggregate feature stats per source.
    Rows-only correctness (byte-level features are engine-specific);
    determinism covered in tests."""
    assets = with_binary_payload(load_table(spark, "documents", sf_dir))
    feats = assets.select("asset_id", "payload").mapInPandas(extract_features, FEATURE_SCHEMA)
    src = with_binary_payload(load_table(spark, "documents", sf_dir)).select(
        "asset_id", F.col("meta.source").alias("source")
    )
    return (
        feats.join(src, "asset_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.round(F.avg("byte_mean"), 4).alias("avg_byte_mean"),
            F.round(F.avg(F.element_at("feature", 4)), 6).alias("avg_f3"),
        )
        .orderBy("source")
    )


IMG_W, IMG_H = 12, 8


def synthesize_png_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic tiny RGB PNGs derived from asset_id — the ingest-side
    twin of extract_features, exercising the encode path of the codec.
    Pixel (r, c, ch) = (asset_id·7 + r·13 + c·29 + ch·101) mod 256."""
    for pdf in batches:
        rows = []
        for asset_id in pdf["asset_id"]:
            r = np.arange(IMG_H).reshape(-1, 1, 1)
            c = np.arange(IMG_W).reshape(1, -1, 1)
            ch = np.arange(3).reshape(1, 1, -1)
            px = ((int(asset_id) * 7 + r * 13 + c * 29 + ch * 101) % 256).astype(np.uint8)
            rows.append({"asset_id": asset_id, "payload": png.encode(px)})
        yield pd.DataFrame(rows, columns=["asset_id", "payload"])


def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image pipeline with a REAL PNG round-trip: synthesize deterministic
    RGB images per asset (encode), decode them back in the feature
    kernel, and aggregate width/height/pixel stats per id bucket. Proves
    the decoder yields true pixel data — widths/heights/means are
    asserted exactly in tests/test_multimodal.py. Rows-only correctness
    (pixel synthesis is engine-specific)."""
    ids = load_table(spark, "documents", sf_dir).select(
        F.col("doc_id").alias("asset_id")
    ).filter(F.col("asset_id") < 200)
    payloads = ids.mapInPandas(
        synthesize_png_payloads,
        T.StructType(
            [
                T.StructField("asset_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    feats = payloads.mapInPandas(extract_features, FEATURE_SCHEMA)
    return (
        feats.groupBy((F.col("asset_id") % 10).alias("id_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("width").alias("min_w"),
            F.max("width").alias("max_w"),
            F.min("height").alias("min_h"),
            F.max("height").alias("max_h"),
            F.round(F.avg("byte_mean"), 4).alias("avg_pixel_mean"),
        )
        .orderBy("id_bucket")
    )


# ---------------------------------------------------------------------------
# Perceptual image dedup (difference hash)

DHASH_BITS = (IMG_W - 1) * IMG_H  # 88 bits at native 12×8
_DHASH_BANDS = 4  # pigeonhole: hamming ≤ 2·(bands−1)÷? — ≤ _DHASH_MAX_HAM
_DHASH_MAX_HAM = 3  # ≤ bands−1 flips leave ≥1 band intact (pigeonhole)


def synthesize_neardup_pngs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """PNGs where asset_id ≥ 100 re-renders asset_id−100's image with a
    one-pixel, one-channel +1 perturbation — an exact-hash-breaking,
    perceptually-invisible change. The pair (i, i+100) is the planted
    near-duplicate ground truth."""
    for pdf in batches:
        rows = []
        for asset_id in pdf["asset_id"]:
            base = int(asset_id) % 100
            r = np.arange(IMG_H).reshape(-1, 1, 1)
            c = np.arange(IMG_W).reshape(1, -1, 1)
            ch = np.arange(3).reshape(1, 1, -1)
            px = ((base * 7 + r * 13 + c * 29 + ch * 101) % 256).astype(np.uint8)
            if int(asset_id) >= 100:
                px[0, 0, 0] = (int(px[0, 0, 0]) + 1) % 256
            rows.append({"asset_id": asset_id, "payload": png.encode(px)})
        yield pd.DataFrame(rows, columns=["asset_id", "payload"])


def dhash_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Difference hash: decode → grayscale → each cell compares to its
    right neighbor → 88 bits packed into two longs. Robust to small
    pixel perturbations because only sign flips of adjacent differences
    change bits — the property that makes it a perceptual (not
    cryptographic) fingerprint."""
    for pdf in batches:
        rows = []
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            arr = png.decode(bytes(payload)).astype(np.int32)
            gray = arr.mean(axis=2)
            bits = (gray[:, 1:] > gray[:, :-1]).astype(np.uint64).ravel()
            h0 = int(sum(int(b) << i for i, b in enumerate(bits[:44])))
            h1 = int(sum(int(b) << i for i, b in enumerate(bits[44:])))
            rows.append({"asset_id": asset_id, "h0": h0, "h1": h1})
        yield pd.DataFrame(rows, columns=["asset_id", "h0", "h1"])


def multimodal_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate image pairs by difference hash: real PNG
    decode → 88-bit dHash (two longs) → BANDED candidate generation
    (4 × 22-bit bands, equi-join per band — pigeonhole-complete for
    hamming ≤ 3) → exact hamming verify via xor + bit_count, all JVM
    after the hash kernel. The planted (i, i+100) one-pixel twins come
    out with hamming ≈ 0-1; unrelated images sit near DHASH_BITS/2.

    Scale: the LSH-for-hamming-space layout — band join cost tracks
    collisions, never n²; the 2-long hash travels instead of pixels.
    Rows-only (pixel synthesis is engine-specific); planted-pair recall
    and separation margins are pinned in tests/test_multimodal.py."""
    ids = (
        load_table(spark, "documents", sf_dir)
        .select(F.col("doc_id").alias("asset_id"))
        .filter(F.col("asset_id") < 200)
    )
    payloads = ids.mapInPandas(
        synthesize_neardup_pngs,
        T.StructType(
            [
                T.StructField("asset_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    # Scratch-cache the hash relation: the banded candidate join below
    # references it TWICE (self-join), and uncached Spark would re-run
    # the whole synthesize→PNG-decode→dHash Python chain once per side.
    # The cached frame is tiny (one row of 3 longs per asset).
    hashes = scache(
        payloads.mapInPandas(
            dhash_kernel,
            T.StructType(
                [
                    T.StructField("asset_id", T.LongType()),
                    T.StructField("h0", T.LongType()),
                    T.StructField("h1", T.LongType()),
                ]
            ),
        )
    )
    band_w = DHASH_BITS // _DHASH_BANDS  # 22
    bands = hashes.select(
        "asset_id",
        "h0",
        "h1",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"(CASE WHEN {b} < 2 THEN h0 >> {b * band_w} "
                            f"ELSE h1 >> {(b - 2) * band_w} END) & {(1 << band_w) - 1}"
                        ).alias("bits"),
                    )
                    for b in range(_DHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("asset_id", "h0", "h1", F.col("bb.band").alias("band"), F.col("bb.bits").alias("bits"))
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bits"])
        .filter(F.col("a.asset_id") < F.col("b.asset_id"))
        .select(
            F.col("a.asset_id").alias("asset_a"),
            F.col("b.asset_id").alias("asset_b"),
            F.col("a.h0").alias("a0"),
            F.col("a.h1").alias("a1"),
            F.col("b.h0").alias("b0"),
            F.col("b.h1").alias("b1"),
        )
        .distinct()
    )
    ham = F.bit_count(F.expr("a0 ^ b0")) + F.bit_count(F.expr("a1 ^ b1"))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= _DHASH_MAX_HAM)
        .select("asset_a", "asset_b", "hamming")
        .orderBy("asset_a", "asset_b")
    )


# ---------------------------------------------------------------------------
# Audio fingerprint dedup (Haitsma-Kalker sign-delta bits)

_AFP_N = 4096  # samples per clip
_AFP_FRAME, _AFP_HOP = 512, 256  # → 15 frames → 14 delta rows
_AFP_BANDS = 8  # spectral bands per frame
# HK kernel emits (frames-1) x (bands-1) = 14 x 7 = 98 fingerprint bits
# (adjacent-band differences drop one band; temporal delta drops one frame)
_AFP_JOIN_BANDS = 14  # 7-bit join bands: pigeonhole-complete to hamming ≤ 13
_AFP_MAX_HAM = 12


def synthesize_neardup_wavs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Three-tone sinusoidal clips whose frequencies derive from
    asset_id mod 100; asset_id ≥ 100 re-renders its base clip with a
    −54 dB extra tone — the audio analog of the one-pixel PNG twin."""
    for pdf in batches:
        rows = []
        t = np.arange(_AFP_N, dtype=np.float64) / AUDIO_RATE
        for asset_id in pdf["asset_id"]:
            aid = int(asset_id)
            base = aid % 100
            f1 = 200 + (base * 37) % 1500
            f2 = 400 + (base * 73) % 2000
            f3 = 800 + (base * 11) % 3000
            x = (
                8000 * np.sin(2 * np.pi * f1 * t)
                + 5000 * np.sin(2 * np.pi * f2 * t)
                + 3000 * np.sin(2 * np.pi * f3 * t)
            )
            if aid >= 100:
                x = x + 20 * np.sin(2 * np.pi * 3777 * t)
            samples = np.clip(x, -32768, 32767).astype(np.int16).reshape(-1, 1)
            rows.append({"asset_id": asset_id, "payload": wav.encode(samples, AUDIO_RATE)})
        yield pd.DataFrame(rows, columns=["asset_id", "payload"])


def audio_fingerprint_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL WAV decode → framed rfft band energies → the classic
    Haitsma-Kalker bit: sign of the band-energy difference's TEMPORAL
    delta, robust to level changes and small additive noise. 98 bits
    ((frames-1) x (bands-1) = 14 x 7) packed into two 49-bit longs."""
    edges = np.linspace(0, _AFP_FRAME // 2 + 1, _AFP_BANDS + 1).astype(int)
    for pdf in batches:
        rows = []
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            _, samples = wav.decode(bytes(payload))
            mono = samples.astype(np.float64).mean(axis=1)
            frames = []
            for start in range(0, len(mono) - _AFP_FRAME + 1, _AFP_HOP):
                spec = np.abs(np.fft.rfft(mono[start : start + _AFP_FRAME]))
                frames.append(
                    [float(spec[edges[b] : edges[b + 1]].sum()) for b in range(_AFP_BANDS)]
                )
            e = np.asarray(frames)
            # HK bit: sign of the temporal delta of adjacent-band
            # energy differences
            bd = e[:, :-1] - e[:, 1:]  # frames × (bands-1)
            bits_mat = (bd[1:] - bd[:-1]) > 0  # (frames-1) × (bands-1)
            bits = bits_mat.astype(np.uint64).ravel()
            half = len(bits) // 2
            h0 = int(sum(int(b) << i for i, b in enumerate(bits[:half])))
            h1 = int(sum(int(b) << i for i, b in enumerate(bits[half:])))
            rows.append({"asset_id": asset_id, "h0": h0, "h1": h1, "nbits": int(len(bits))})
        yield pd.DataFrame(rows, columns=["asset_id", "h0", "h1", "nbits"])


def multimodal_audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs by spectral fingerprint: real WAV
    decode → Haitsma-Kalker sign-delta bits → banded equi-join candidate
    generation → exact hamming verify (xor + bit_count). The planted
    (i, i+100) −54 dB-perturbed twins come out at hamming ≈ 0; clips
    with different tone stacks sit near half the fingerprint length.
    Same LSH-for-hamming layout as ``multimodal_image_dhash_pairs`` —
    one shape, two modalities. Rows-only; planted-pair recall and
    separation pinned in tests/test_multimodal.py."""
    ids = (
        load_table(spark, "documents", sf_dir)
        .select(F.col("doc_id").alias("asset_id"))
        .filter(F.col("asset_id") < 200)
    )
    payloads = ids.mapInPandas(
        synthesize_neardup_wavs,
        T.StructType(
            [
                T.StructField("asset_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    # Scratch-cached for the same reason as the dHash variant: the band
    # self-join otherwise re-runs the WAV-synthesize→decode→FFT kernel
    # chain once per join side; the cache is one 3-long row per asset.
    hashes = scache(
        payloads.mapInPandas(
            audio_fingerprint_kernel,
            T.StructType(
                [
                    T.StructField("asset_id", T.LongType()),
                    T.StructField("h0", T.LongType()),
                    T.StructField("h1", T.LongType()),
                    T.StructField("nbits", T.IntegerType()),
                ]
            ),
        ).drop("nbits")
    )
    band_w = 7  # 2×49-bit halves → exactly 7 bands of 7 from each half
    bands = hashes.select(
        "asset_id",
        "h0",
        "h1",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"(CASE WHEN {b} < 7 THEN h0 >> {b * band_w} "
                            f"ELSE h1 >> {(b - 7) * band_w} END) & {(1 << band_w) - 1}"
                        ).alias("bits"),
                    )
                    for b in range(_AFP_JOIN_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(
        "asset_id", "h0", "h1", F.col("bb.band").alias("band"), F.col("bb.bits").alias("bits")
    )
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bits"])
        .filter(F.col("a.asset_id") < F.col("b.asset_id"))
        .select(
            F.col("a.asset_id").alias("asset_a"),
            F.col("b.asset_id").alias("asset_b"),
            F.col("a.h0").alias("a0"),
            F.col("a.h1").alias("a1"),
            F.col("b.h0").alias("b0"),
            F.col("b.h1").alias("b1"),
        )
        .distinct()
    )
    ham = F.bit_count(F.expr("a0 ^ b0")) + F.bit_count(F.expr("a1 ^ b1"))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= _AFP_MAX_HAM)
        .select("asset_a", "asset_b", "hamming")
        .orderBy("asset_a", "asset_b")
    )


AUDIO_RATE = 8000

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
        T.StructField("zero_crossings", T.IntegerType()),
    ]
)


def synthesize_wav_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic 16-bit PCM WAVs derived from asset_id — the audio
    twin of synthesize_png_payloads, exercising the encode path.
    Frame i, channel c = ((asset_id·31 + i·17 + c·257) mod 32768) − 16384;
    length and channel count also vary with asset_id."""
    for pdf in batches:
        rows = []
        for asset_id in pdf["asset_id"]:
            aid = int(asset_id)
            n = 800 + (aid % 5) * 80
            ch = 1 + (aid % 2)
            i = np.arange(n).reshape(-1, 1)
            c = np.arange(ch).reshape(1, -1)
            samples = ((aid * 31 + i * 17 + c * 257) % 32768 - 16384).astype(np.int16)
            rows.append({"asset_id": asset_id, "payload": wav.encode(samples, AUDIO_RATE)})
        yield pd.DataFrame(rows, columns=["asset_id", "payload"])


def extract_audio_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas audio feature extractor: REAL WAV decode
    (functions/wav.py — the call site where torchaudio slots in) →
    exact per-asset sample stats: RMS, absolute peak, zero-crossing
    count on the channel-mean signal."""
    for pdf in batches:
        out = []
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            rate, samples = wav.decode(bytes(payload))
            x = samples.astype(np.float64)
            mono = x.mean(axis=1)
            out.append(
                {
                    "asset_id": asset_id,
                    "sample_rate": rate,
                    "n_channels": samples.shape[1],
                    "n_frames": samples.shape[0],
                    "rms": float(np.sqrt((x**2).mean())),
                    "peak": int(np.abs(samples).max()),
                    "zero_crossings": int(((mono[:-1] * mono[1:]) < 0).sum()),
                }
            )
        yield pd.DataFrame(out, columns=[f.name for f in AUDIO_FEATURE_SCHEMA.fields])


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio pipeline with a REAL WAV round-trip: synthesize deterministic
    PCM waveforms per asset (encode), decode them back in the feature
    kernel, and aggregate rate/duration/signal stats per id bucket.
    Sample stats are asserted exactly in tests/test_multimodal.py.
    Rows-only correctness (waveform synthesis is engine-specific)."""
    ids = (
        load_table(spark, "documents", sf_dir)
        .select(F.col("doc_id").alias("asset_id"))
        .filter(F.col("asset_id") < 200)
    )
    payloads = ids.mapInPandas(
        synthesize_wav_payloads,
        T.StructType(
            [
                T.StructField("asset_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    feats = payloads.mapInPandas(extract_audio_features, AUDIO_FEATURE_SCHEMA)
    return (
        feats.groupBy((F.col("asset_id") % 10).alias("id_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.min("n_frames").alias("min_frames"),
            F.max("n_frames").alias("max_frames"),
            F.sum("n_channels").alias("sum_channels"),
            F.round(F.avg("rms"), 4).alias("avg_rms"),
            F.sum("zero_crossings").alias("sum_zero_crossings"),
        )
        .orderBy("id_bucket")
    )


VIDEO_W, VIDEO_H = 12, 8
VIDEO_FPS = (25, 1)

VIDEO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("fps", T.DoubleType()),
        T.StructField("luma_mean", T.DoubleType()),
        T.StructField("motion", T.DoubleType()),
    ]
)


def synthesize_y4m_payloads(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic tiny .y4m clips derived from asset_id — a horizontal
    gradient that pans one pixel per frame (so inter-frame motion is
    nonzero and exactly computable). Frame f, pixel (r, c) =
    (asset_id·11 + r·13 + (c + f)·29) mod 256; frame count and chroma
    mode also vary with asset_id."""
    for pdf in batches:
        rows = []
        for asset_id in pdf["asset_id"]:
            aid = int(asset_id)
            n = 3 + (aid % 4)
            f = np.arange(n).reshape(-1, 1, 1)
            r = np.arange(VIDEO_H).reshape(1, -1, 1)
            c = np.arange(VIDEO_W).reshape(1, 1, -1)
            luma = ((aid * 11 + r * 13 + (c + f) * 29) % 256).astype(np.uint8)
            chroma = "mono" if aid % 2 == 0 else "420jpeg"
            rows.append(
                {"asset_id": asset_id, "payload": y4m.encode(luma, fps=VIDEO_FPS, chroma=chroma)}
            )
        yield pd.DataFrame(rows, columns=["asset_id", "payload"])


def extract_video_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas video feature extractor: REAL YUV4MPEG2 decode
    (functions/y4m.py — the call site where pyav/ffmpeg slots in) →
    exact per-clip stats: frame geometry, luma mean, and motion = mean
    absolute luma difference between consecutive frames (the frame-
    sampling / shot-detection primitive)."""
    for pdf in batches:
        out = []
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            (num, den), luma = y4m.decode(bytes(payload))
            x = luma.astype(np.float64)
            motion = float(np.abs(np.diff(x, axis=0)).mean()) if len(x) > 1 else 0.0
            out.append(
                {
                    "asset_id": asset_id,
                    "width": luma.shape[2],
                    "height": luma.shape[1],
                    "n_frames": luma.shape[0],
                    "fps": num / den,
                    "luma_mean": float(x.mean()),
                    "motion": motion,
                }
            )
        yield pd.DataFrame(out, columns=[f.name for f in VIDEO_FEATURE_SCHEMA.fields])


def multimodal_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video pipeline with a REAL YUV4MPEG2 round-trip: synthesize
    deterministic panning-gradient clips per asset (encode), decode them
    back in the feature kernel, and aggregate geometry/motion stats per
    id bucket. Frame stats are asserted exactly in
    tests/test_multimodal.py. Rows-only correctness (frame synthesis is
    engine-specific). With this, all three non-text modalities
    (image/PNG, audio/WAV, video/Y4M) have real stdlib decoders; the
    only deployment swap is codec libraries at the marked call sites."""
    ids = (
        load_table(spark, "documents", sf_dir)
        .select(F.col("doc_id").alias("asset_id"))
        .filter(F.col("asset_id") < 200)
    )
    payloads = ids.mapInPandas(
        synthesize_y4m_payloads,
        T.StructType(
            [
                T.StructField("asset_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    feats = payloads.mapInPandas(extract_video_features, VIDEO_FEATURE_SCHEMA)
    return (
        feats.groupBy((F.col("asset_id") % 10).alias("id_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.min("n_frames").alias("min_frames"),
            F.max("n_frames").alias("max_frames"),
            F.sum(F.col("n_frames")).alias("sum_frames"),
            F.round(F.avg("luma_mean"), 4).alias("avg_luma"),
            F.round(F.avg("motion"), 4).alias("avg_motion"),
        )
        .orderBy("id_bucket")
    )


RESIZE_FACTOR = 2  # 2×2 block-mean downsample
FRAME_STRIDE = 2  # keep every 2nd frame

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("in_w", T.IntegerType()),
        T.StructField("in_h", T.IntegerType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("in_mean", T.DoubleType()),
        T.StructField("out_mean", T.DoubleType()),
        T.StructField("out_bytes", T.IntegerType()),
    ]
)


def resize_images(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas image RESIZE kernel: real PNG decode → 2×2 block-mean
    downsample (numpy reshape trick, the area-average resize) → real PNG
    re-encode. Block-mean preserves the global pixel mean up to uint8
    rounding — asserted exactly in tests. This is the thumbnail/
    preprocessing pass of a multimodal pipeline; PIL/libvips slot in at
    the same call site for resampling filters beyond area-average."""
    f = RESIZE_FACTOR
    for pdf in batches:
        out = []
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            px = png.decode(bytes(payload)).astype(np.float64)
            h, w, ch = px.shape
            h2, w2 = (h // f) * f, (w // f) * f
            small = (
                px[:h2, :w2]
                .reshape(h2 // f, f, w2 // f, f, ch)
                .mean(axis=(1, 3))
            )
            small_u8 = np.round(small).astype(np.uint8)
            re_encoded = png.encode(small_u8)
            out.append(
                {
                    "asset_id": asset_id,
                    "in_w": w,
                    "in_h": h,
                    "out_w": small_u8.shape[1],
                    "out_h": small_u8.shape[0],
                    "in_mean": float(px.mean()),
                    "out_mean": float(small.mean()),
                    "out_bytes": len(re_encoded),
                }
            )
        yield pd.DataFrame(out, columns=[f_.name for f_ in RESIZE_SCHEMA.fields])


def multimodal_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize pipeline: synthesize PNGs → block-mean downsample →
    re-encode, aggregating geometry + mean-preservation stats per id
    bucket. Rows-only (pixel synthesis is engine-specific); exact
    mean-preservation pinned in tests/test_multimodal.py."""
    ids = (
        load_table(spark, "documents", sf_dir)
        .select(F.col("doc_id").alias("asset_id"))
        .filter(F.col("asset_id") < 200)
    )
    payloads = ids.mapInPandas(
        synthesize_png_payloads,
        T.StructType(
            [
                T.StructField("asset_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    feats = payloads.mapInPandas(resize_images, RESIZE_SCHEMA)
    return (
        feats.groupBy((F.col("asset_id") % 10).alias("id_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("out_w").alias("out_w"),
            F.min("out_h").alias("out_h"),
            F.round(F.avg(F.abs(F.col("in_mean") - F.col("out_mean"))), 6).alias(
                "avg_mean_drift"
            ),
            F.sum("out_bytes").alias("sum_out_bytes"),
        )
        .orderBy("id_bucket")
    )


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas video FRAME-SAMPLE kernel: real Y4M decode → keep every
    FRAME_STRIDE-th frame → re-encode the sampled clip. The cheap-pass
    primitive before expensive per-frame models (caption/embed every
    k-th frame)."""
    for pdf in batches:
        out = []
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            fps, luma = y4m.decode(bytes(payload))
            sampled = luma[::FRAME_STRIDE]
            re_encoded = y4m.encode(sampled, fps=fps, chroma="mono")
            x = sampled.astype(np.float64)
            out.append(
                {
                    "asset_id": asset_id,
                    "width": luma.shape[2],
                    "height": luma.shape[1],
                    "n_frames": sampled.shape[0],
                    "fps": fps[0] / fps[1],
                    "luma_mean": float(x.mean()),
                    "motion": float(np.abs(np.diff(x, axis=0)).mean()) if len(x) > 1 else 0.0,
                }
            )
            assert y4m.is_y4m(re_encoded)
        yield pd.DataFrame(out, columns=[f.name for f in VIDEO_FEATURE_SCHEMA.fields])


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline: synthesize clips → keep every 2nd frame →
    aggregate sampled-clip stats per id bucket. n_frames must equal
    ceil(original/2) exactly — pinned in tests. Rows-only."""
    ids = (
        load_table(spark, "documents", sf_dir)
        .select(F.col("doc_id").alias("asset_id"))
        .filter(F.col("asset_id") < 200)
    )
    payloads = ids.mapInPandas(
        synthesize_y4m_payloads,
        T.StructType(
            [
                T.StructField("asset_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    feats = payloads.mapInPandas(sample_frames, VIDEO_FEATURE_SCHEMA)
    return (
        feats.groupBy((F.col("asset_id") % 10).alias("id_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.min("n_frames").alias("min_frames"),
            F.max("n_frames").alias("max_frames"),
            F.sum("n_frames").alias("sum_frames"),
            F.round(F.avg("luma_mean"), 4).alias("avg_luma"),
        )
        .orderBy("id_bucket")
    )


# ---------------------------------------------------------------------------
# Video scene-cut detection (temporal segmentation over real Y4M decode)

_SCENE_FRAMES = 12
_SCENE_CUT_DELTA = 60.0  # mean circular luma delta above this = hard cut


def synthesize_scene_videos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """12-frame clips with ONE planted hard cut at frame
    3 + asset_id mod 7: the pattern phase jumps by 128 there, while
    every other transition is the usual 1-pixel pan (small, smooth
    deltas). Ground truth is exactly recoverable."""
    for pdf in batches:
        rows = []
        for asset_id in pdf["asset_id"]:
            aid = int(asset_id)
            cut_at = 3 + aid % 7  # first frame of the new scene, in [3, 9]
            f = np.arange(_SCENE_FRAMES).reshape(-1, 1, 1)
            r = np.arange(VIDEO_H).reshape(1, -1, 1)
            c = np.arange(VIDEO_W).reshape(1, 1, -1)
            phase = np.where(f >= cut_at, 128, 0)
            luma = ((aid * 11 + r * 13 + (c + f) * 29 + phase) % 256).astype(np.uint8)
            rows.append(
                {"asset_id": asset_id, "payload": y4m.encode(luma, fps=VIDEO_FPS)}
            )
        yield pd.DataFrame(rows, columns=["asset_id", "payload"])


def scene_cut_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """REAL Y4M decode → per-transition mean |luma delta| → cut flags.
    The video analog of sessionization: a threshold on the inter-frame
    difference segments the clip into scenes."""
    for pdf in batches:
        rows = []
        for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
            _, frames = y4m.decode(bytes(payload))
            # CIRCULAR luma delta: the synthetic patterns live on a
            # mod-256 ring, so |a-b| wraps (a 29-step pan reads as 227
            # for wrapped pixels); min(d, 256-d) is wrap-free
            d = np.abs(np.diff(frames.astype(np.int32), axis=0))
            deltas = np.minimum(d, 256 - d).mean(axis=(1, 2))
            cuts = [i + 1 for i, d in enumerate(deltas) if d > _SCENE_CUT_DELTA]
            rows.append(
                {
                    "asset_id": asset_id,
                    "n_frames": int(frames.shape[0]),
                    "n_cuts": len(cuts),
                    "first_cut_frame": cuts[0] if cuts else None,
                    "max_delta": float(deltas.max()),
                    "median_delta": float(np.median(deltas)),
                }
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "asset_id",
                "n_frames",
                "n_cuts",
                "first_cut_frame",
                "max_delta",
                "median_delta",
            ],
        )


def multimodal_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-boundary detection over real video decode: per clip, the
    number of hard cuts, the first cut's frame index, and the
    delta-magnitude stats that separate cuts (circular phase jump ≈
    99-128 gray levels) from ordinary motion (1-pixel pan ≈ 29). One planted
    cut per clip; exact recovery pinned in tests/test_multimodal.py.

    Scale: embarrassingly parallel mapInPandas over payload bytes —
    the same shape every video pipeline (shot detection, keyframe
    extraction, dedup-by-scene) starts from; the per-clip output is a
    few scalars, so the downstream agg is metadata-sized. Rows-only."""
    ids = (
        load_table(spark, "documents", sf_dir)
        .select(F.col("doc_id").alias("asset_id"))
        .filter(F.col("asset_id") < 150)
    )
    payloads = ids.mapInPandas(
        synthesize_scene_videos,
        T.StructType(
            [
                T.StructField("asset_id", T.LongType()),
                T.StructField("payload", T.BinaryType()),
            ]
        ),
    )
    return (
        payloads.mapInPandas(
            scene_cut_kernel,
            T.StructType(
                [
                    T.StructField("asset_id", T.LongType()),
                    T.StructField("n_frames", T.IntegerType()),
                    T.StructField("n_cuts", T.IntegerType()),
                    T.StructField("first_cut_frame", T.IntegerType()),
                    T.StructField("max_delta", T.DoubleType()),
                    T.StructField("median_delta", T.DoubleType()),
                ]
            ),
        )
        .select(
            "asset_id",
            "n_frames",
            "n_cuts",
            "first_cut_frame",
            F.round("max_delta", 3).alias("max_delta"),
            F.round("median_delta", 3).alias("median_delta"),
        )
        .orderBy("asset_id")
    )


QUERIES = {
    "multimodal_metadata": multimodal_metadata,
    "multimodal_features": multimodal_features,
    "multimodal_image_features": multimodal_image_features,
    "multimodal_audio_features": multimodal_audio_features,
    "multimodal_video_features": multimodal_video_features,
    "multimodal_image_resize": multimodal_image_resize,
    "multimodal_frame_sample": multimodal_frame_sample,
    "multimodal_image_dhash_pairs": multimodal_image_dhash_pairs,
    "multimodal_audio_fingerprint_pairs": multimodal_audio_fingerprint_pairs,
    "multimodal_video_scene_cuts": multimodal_video_scene_cuts,
}

ORACLES = {
    "multimodal_metadata": MULTIMODAL_META_SQL,
    # multimodal_features / multimodal_image_features /
    # multimodal_audio_features / multimodal_video_features /
    # multimodal_image_resize / multimodal_frame_sample: rows-only
    # (byte/pixel/sample/frame-level features are engine-specific)
}
