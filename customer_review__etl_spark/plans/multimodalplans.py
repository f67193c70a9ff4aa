"""Multimodal plans: binary-column metadata (SQL-checked) and the
Arrow-batched decode/feature-extract pass — ALSO fully SQL-checked:
the stand-in decoder (multimodal/binary.py fake_decode) derives its
fake (width, height, channels, luminance) from md5-digest bytes with
pure integer arithmetic, so the oracle recomputes the identical values
from the hex digest and the hash gate certifies the whole mapInPandas
Arrow round-trip, not just row counts. A real decoder would plug into
the same batch path and drop mm02 back to rows-only: the oracle checks
the stand-in's contract, which is exactly the Spark-side plumbing
under test."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..multimodal import binary as B
from ..sources import tables
from . import QuerySpec
from .dedupplans import _hexdigit_to_int


def _hexpair(dg: str, p: int) -> str:
    """SQL: byte value of hex digest chars p, p+1 (1-based)."""
    hi = _hexdigit_to_int(f"substr({dg}, {p}, 1)")
    lo = _hexdigit_to_int(f"substr({dg}, {p + 1}, 1)")
    return f"(16 * {hi} + {lo})"


def _blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return B.with_blob(tables.load(spark, sf_dir, "documents"))


def _blobs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repartitioned load for the Python decode path."""
    return B.with_blob(tables.load_parallel(spark, sf_dir, "documents"))


def mm01_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata: byte length, md5 digest, magic prefix —
    all JVM-side, media bytes never shuffled."""
    return B.binary_meta(_blobs(spark, sf_dir))


def mm02_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract via mapInPandas with the deterministic
    stand-in decoder (binary.fake_decode), recomputed by the oracle."""
    return B.extract_features(_blobs_par(spark, sf_dir))


def mm03_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: metadata-derived frame count → strided
    index explode, media bytes never replicated (see binary.frame_sample)."""
    return B.frame_sample(_blobs(spark, sf_dir))


def mm04_blob_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-range blob sharding (see binary.blob_chunks): fixed-size
    chunks with exact byte counts + content digests, JVM-side."""
    return B.blob_chunks(_blobs(spark, sf_dir))


SPECS = [
    QuerySpec(
        "mm01_binary_meta",
        mm01_binary_meta,
        """
        SELECT doc_id,
               octet_length(encode(text))::BIGINT AS n_bytes,
               md5(text) AS digest,  -- == md5 of the UTF-8 bytes
               -- first 4 BYTES (not chars): slice the hex string, since
               -- DuckDB cannot slice blobs; 4 bytes == 8 hex digits
               lower(substr(hex(encode(text)), 1, 8)) AS magic_hex
        FROM documents
        """,
    ),
    QuerySpec(
        "mm02_decode_features",
        mm02_decode_features,
        f"""
        WITH h AS (SELECT doc_id, text, md5(text) AS dg FROM documents)
        SELECT doc_id,
               (CASE WHEN text IS NULL THEN 0
                     ELSE 64 + {_hexpair('dg', 1)} % 192 END)::INT AS width,
               (CASE WHEN text IS NULL THEN 0
                     ELSE 64 + {_hexpair('dg', 3)} % 192 END)::INT AS height,
               (CASE WHEN text IS NULL THEN 0
                     ELSE 1 + {_hexpair('dg', 5)} % 4 END)::INT AS n_channels,
               (CASE WHEN text IS NULL THEN 0.0
                     ELSE {_hexpair('dg', 7)} / 255.0 END)::DOUBLE AS mean_lum
        FROM h
        """,
    ),
    QuerySpec(
        "mm03_frame_sample",
        mm03_frame_sample,
        f"""
        WITH meta AS (
          SELECT doc_id,
                 octet_length(encode(text))::BIGINT % 60 + 1 AS n_frames
          FROM documents
        )
        SELECT doc_id, n_frames, CAST(_u.frame_idx AS BIGINT) AS frame_idx
        FROM meta, UNNEST(range(0, n_frames, {B.FRAME_STRIDE})) AS _u(frame_idx)
        """,
    ),
    QuerySpec(
        "mm04_blob_chunks",
        mm04_blob_chunks,
        f"""
        WITH h AS (
          SELECT doc_id, lower(hex(encode(text))) AS hx,
                 octet_length(encode(text))::BIGINT AS n_bytes
          FROM documents
        ),
        c AS (
          SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
                 substr(hx, CAST(i AS INT) * {2 * B.BLOB_CHUNK_BYTES} + 1,
                        {2 * B.BLOB_CHUNK_BYTES}) AS chunk_hex
          FROM h,
               UNNEST(range(0, CAST(ceil(n_bytes / {B.BLOB_CHUNK_BYTES}.0)
                                   AS BIGINT))) AS u(i)
          WHERE n_bytes > 0
        )
        SELECT doc_id, chunk_idx,
               (len(chunk_hex) / 2)::BIGINT AS n_chunk_bytes,
               md5(chunk_hex) AS chunk_digest
        FROM c ORDER BY doc_id, chunk_idx
        """,
    ),
]
