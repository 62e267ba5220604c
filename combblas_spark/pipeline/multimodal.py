"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages.  The real codecs (PIL/ffmpeg/torchaudio) are
NOT in this container, so the decode step is stubbed: if a codec
import succeeds it is used, otherwise a clearly-marked deterministic
fake decodes the payload (hash-derived pixels).  The Spark-side
plumbing — schema, partitioning, UDF signatures, Arrow batch shapes —
is real and tested; swapping the stub for a codec changes no plan.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),      # image | audio | video
        StructField("payload", BinaryType(), False),    # opaque encoded bytes
        StructField("width", IntegerType(), True),      # typed metadata
        StructField("height", IntegerType(), True),
        StructField("duration_ms", IntegerType(), True),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("decoded_w", IntegerType(), False),
        StructField("decoded_h", IntegerType(), False),
        StructField("features", ArrayType(FloatType()), False),
    ]
)

try:  # pragma: no cover - codec not present in this container
    from PIL import Image  # noqa: F401

    HAVE_CODEC = True
except ImportError:
    HAVE_CODEC = False


def synth_media(spark: SparkSession, n: int, seed: int = 42, n_partitions: int = 4) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kinds = ["image", "audio", "video"]
        for b in batches:
            rows = []
            for i in b["id"]:
                i = int(i)
                kind = kinds[i % 3]
                payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * 4
                w, h = 8 + i % 32, 8 + (i * 7) % 32
                rows.append((i, kind, payload, w, h, 1000 + i % 5000))
            yield pd.DataFrame(
                rows, columns=[f.name for f in MEDIA_SCHEMA.fields]
            )

    return spark.range(0, n, 1, n_partitions).mapInPandas(gen, MEDIA_SCHEMA)


_MIX1 = np.uint64(0x9E3779B97F4A7C15)
_MIX2 = np.uint64(0xBF58476D1CE4E5B9)
_MIX3 = np.uint64(0x94D049BB133111EB)


def _fake_pixels(seeds: np.ndarray, npix: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """STUB decode, batch-vectorized: counter-based (splitmix64-style)
    pseudo-pixels — pixel k of row r mixes (seed_r, k) with pure numpy
    uint64 arithmetic, so the whole Arrow batch decodes in a handful of
    array ops (no per-row Python).  Returns (pixels n×maxpix float32,
    valid-mask n×maxpix)."""
    maxpix = int(npix.max()) if len(npix) else 0
    k = np.arange(maxpix, dtype=np.uint64)[None, :]
    with np.errstate(over="ignore"):
        x = seeds[:, None] * _MIX1 + k * _MIX2
        x ^= x >> np.uint64(30)
        x *= _MIX2
        x ^= x >> np.uint64(27)
        x *= _MIX3
        x ^= x >> np.uint64(31)
    pix = (x & np.uint64(0xFF)).astype(np.float32)
    mask = k < npix[:, None].astype(np.uint64)
    return pix, mask


def decode_and_featurize(media: DataFrame, feat_dim: int = 8) -> DataFrame:
    """decode → resize-to-metadata → mean-pool row-band features.

    One ``mapInPandas`` pass; batches stay Arrow-columnar in and out,
    and the whole batch is processed with numpy array ops: pixels from
    the vectorized counter-based stub, band means via one cumulative
    sum + boundary gather (each band j of ``np.array_split`` over the
    h rows is a contiguous flat pixel range, so its mean is a cumsum
    difference).  With a real codec only the pixel source changes.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if HAVE_CODEC:
            raise NotImplementedError(
                "real codec path intentionally unimplemented in sandbox"
            )
        cols = [f.name for f in FEATURES_SCHEMA.fields]
        for b in batches:
            n = len(b)
            if n == 0:
                continue
            w = b["width"].to_numpy(np.int64)
            h = b["height"].to_numpy(np.int64)
            seeds = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(bytes(p)).digest()[:8], "little")
                    for p in b["payload"]
                ),
                dtype=np.uint64,
                count=n,
            )
            pix, mask = _fake_pixels(seeds, h * w)
            csum = np.concatenate(
                [np.zeros((n, 1), dtype=np.float64),
                 np.cumsum(pix * mask, axis=1, dtype=np.float64)],
                axis=1,
            )
            # array_split row boundaries → flat pixel boundaries
            j = np.arange(feat_dim + 1, dtype=np.int64)[None, :]
            brow = j * (h // feat_dim)[:, None] + np.minimum(j, (h % feat_dim)[:, None])
            bpix = brow * w[:, None]
            rows_ix = np.arange(n)[:, None]
            sums = csum[rows_ix, bpix[:, 1:]] - csum[rows_ix, bpix[:, :-1]]
            counts = bpix[:, 1:] - bpix[:, :-1]
            feats = np.where(counts > 0, sums / np.maximum(counts, 1), 0.0).astype(
                np.float32
            )
            yield pd.DataFrame(
                {
                    cols[0]: b["media_id"].to_numpy(np.int64),
                    cols[1]: b["kind"].to_numpy(),
                    cols[2]: w.astype(np.int32),
                    cols[3]: h.astype(np.int32),
                    cols[4]: list(feats),
                }
            )

    return media.mapInPandas(run, FEATURES_SCHEMA)


def frame_sample(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """video → (media_id, frame_idx) sample plan (metadata-only, no
    decode): the distributed fan-out stage of a frame pipeline."""
    vids = media.filter(F.col("kind") == "video")
    n_frames = F.greatest((F.col("duration_ms") / every_ms).cast("int"), F.lit(1))
    return vids.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
    )
