"""Multimodal plumbing: deterministic stub decode, Arrow batch path,
binary metadata and frame sampling."""

from __future__ import annotations

from customer_review__etl_spark.multimodal import binary as B
from customer_review__etl_spark.sources import tables

from conftest import SF_DIR


def test_fake_decode_deterministic():
    b = b"some image bytes"
    assert B.fake_decode(b) == B.fake_decode(b)
    w, h, c, lum = B.fake_decode(b)
    assert 64 <= w <= 255 and 64 <= h <= 255 and 1 <= c <= 4
    assert 0.0 <= lum <= 1.0
    assert B.fake_decode(None) == (0, 0, 0, 0.0)


def test_extract_features_schema_and_rows(spark):
    docs = B.with_blob(tables.load(spark, SF_DIR, "documents"))
    out = B.extract_features(docs)
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "width", "height", "n_channels", "mean_lum",
    ]
    rows = out.collect()
    assert len(rows) == docs.count()


def test_binary_meta_matches_text_bytes(spark):
    docs = B.with_blob(tables.load(spark, SF_DIR, "documents")).limit(5)
    for r in B.binary_meta(docs).join(
        docs.select("doc_id", "text"), "doc_id"
    ).collect():
        assert r["n_bytes"] == len(r["text"].encode("utf-8"))


def test_frame_sample_strided(spark):
    docs = B.with_blob(tables.load(spark, SF_DIR, "documents")).limit(20)
    rows = B.frame_sample(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_rows in by_doc.values():
        n_frames = doc_rows[0]["n_frames"]
        idx = sorted(r["frame_idx"] for r in doc_rows)
        assert idx == list(range(0, n_frames, B.FRAME_STRIDE))
