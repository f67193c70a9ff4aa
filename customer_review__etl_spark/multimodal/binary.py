"""Binary-column operators: metadata extraction (JVM-side) and a
feature-extraction decode pass (Arrow-batched mapInPandas).

Since the driver testdata ships no media files, the blob stand-in is
the UTF-8 encoding of `documents.text` (ASCII by construction, so
byte offsets == char offsets), and the decode pass runs a
deterministic stand-in decoder (`fake_decode`); a production
deployment reads real bytes via spark.read.format("binaryFile") and
plugs a real decoder into the identical plan shape.

Scale notes:
- metadata (length/digest/magic) never leaves the JVM;
- decode runs in mapInPandas so each Arrow batch amortizes the Python
  hop, and the iterator form streams batches without materializing a
  partition in memory;
- media bytes are never shuffled: decode is a narrow map, and any
  downstream grouping is on the extracted (small) features.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = (
    "doc_id BIGINT, width INT, height INT, n_channels INT, mean_lum DOUBLE"
)


def with_blob(df: DataFrame) -> DataFrame:
    """Attach the binary stand-in column: `text` as UTF-8 bytes."""
    return df.withColumn("blob", F.encode(F.col("text"), "UTF-8"))


def binary_meta(df_blob: DataFrame) -> DataFrame:
    """JVM-side binary metadata: size, digest, magic prefix."""
    return df_blob.select(
        "doc_id",
        F.length("blob").cast("long").alias("n_bytes"),
        F.md5("blob").alias("digest"),
        F.lower(F.hex(F.substring(F.col("blob"), 1, 4))).alias("magic_hex"),
    )


def fake_decode(blob: bytes) -> tuple[int, int, int, float]:
    """Deterministic stand-in decoder: derives a fake (width, height,
    channels, mean luminance) from the content digest so results are
    stable across runs/engines while exercising the real batch path."""
    if blob is None:
        return (0, 0, 0, 0.0)
    d = hashlib.md5(blob).digest()
    return (
        64 + d[0] % 192,          # width 64..255
        64 + d[1] % 192,          # height
        1 + d[2] % 4,             # channels 1..4
        d[3] / 255.0,             # mean luminance in [0,1]
    )


FRAME_STRIDE = 10  # sample every 10th frame


def frame_sample(df_blob: DataFrame) -> DataFrame:
    """Video-style frame sampling plumbing: derive the frame count from
    blob metadata (stand-in: 1 + n_bytes % 60; a real container parses
    the header), generate every FRAME_STRIDE-th index JVM-side with
    `sequence`, and explode to one row per sampled frame.

    The blob itself is NOT carried through the explode — at scale the
    per-frame decode joins frame indices back to blobs inside one
    mapInPandas pass (extract_features' batch path), so media bytes are
    never replicated per frame nor shuffled."""
    n_frames = (F.length("blob").cast("long") % 60 + 1).alias("n_frames")
    return (
        df_blob.select("doc_id", n_frames)
        .select(
            "doc_id",
            "n_frames",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.col("n_frames") - 1,
                    F.lit(FRAME_STRIDE).cast("long"),
                )
            ).alias("frame_idx"),
        )
    )


BLOB_CHUNK_BYTES = 128  # demo size; production shards media in MBs


def blob_chunks(df_blob: DataFrame) -> DataFrame:
    """Byte-range sharding of a binary column — the primitive behind
    parallel processing of large media objects (multi-GB videos can't
    be one task's row): fixed-size chunks with (chunk_idx, byte count,
    content digest), all JVM-side via binary substring — bytes are
    sliced, never decoded, never shuffled whole. Downstream per-chunk
    work (upload parts, rolling hashes, scan-for-magic) parallelizes
    on (doc_id, chunk_idx).

    The digest is md5 of the chunk's lowercase hex — not of the raw
    bytes — solely so the DuckDB oracle (which cannot slice blobs,
    only their hex image) can recompute it; same information."""
    n_bytes = F.length("blob").cast("long")
    c = BLOB_CHUNK_BYTES
    chunks = F.when(
        n_bytes > 0,
        F.sequence(
            F.lit(0).cast("long"),
            F.ceil(n_bytes / F.lit(c)).cast("long") - 1,
        ),
    )
    return (
        df_blob.select("doc_id", "blob", chunks.alias("idxs"))
        .select("doc_id", "blob", F.explode("idxs").alias("chunk_idx"))
        .select(
            "doc_id",
            "chunk_idx",
            F.length(
                F.expr(f"substring(blob, chunk_idx * {c} + 1, {c})")
            )
            .cast("long")
            .alias("n_chunk_bytes"),
            F.md5(
                F.lower(
                    F.hex(
                        F.expr(f"substring(blob, chunk_idx * {c} + 1, {c})")
                    )
                )
            ).alias("chunk_digest"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


def extract_features(df_blob: DataFrame) -> DataFrame:
    """mapInPandas decode pass over the binary column, with the
    deterministic stand-in decoder (`fake_decode`). A real decoder
    keeps the batch shape, Arrow transfer and output schema."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [fake_decode(b) for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "n_channels": [f[2] for f in feats],
                    "mean_lum": [f[3] for f in feats],
                }
            )

    return df_blob.select("doc_id", "blob").mapInPandas(run, FEATURE_SCHEMA)
