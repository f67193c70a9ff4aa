"""Multimodal columns: image/audio/video as opaque `binary` columns
with typed metadata (north-star extension; the reference is text-only).

No media decoder (Pillow/librosa/av) is a dependency, so the decode
pass runs a deterministic stand-in decoder whose output the DuckDB
oracle recomputes; the Spark-side plumbing (binary schema, Arrow
batch shape, mapInPandas signatures, partitioning) is real and
tested.
"""
