"""Sinks (SURVEY.md §2.1 S3/S4/S7/S8): CSV, parquet, JSON metrics,
and ML model artifacts.

The reference hand-rolls every sink through pandas buffers and boto3
puts (loader.py:74-130, 212-247); here each is the native Spark writer
— streaming-committed, directory-structured, s3a-ready (pass an
``s3a://bucket/...`` path on a cluster with hadoop-aws; bucket
creation/lifecycle stays in the control plane, not here). The
object-store key/value surface itself (put/get/list, versioned run
publish with the reference's exact key layout) lives in
``sources/objectstore.py`` over the Hadoop FileSystem API — tested
end-to-end against a ``file://`` bucket, same code path as ``s3a://``.

Scale notes: writers never funnel data through the driver; `coalesce`
is exposed but defaults to off (a 100 TB write wants many output
files); metrics JSON is O(1) driver-side by design.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S3-parity CSV sink (extract.py:117, cleaner.py:318 to_csv):
    header on, overwrite; `single_file` coalesces for tiny outputs only."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """S2 with ingest discipline: explicit schema, never inference."""
    return spark.read.schema(schema).option("header", True).csv(path)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """S4: the default inter-stage format (replaces the reference's
    CSV hand-offs; SURVEY §1.1)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_jsonl(df: DataFrame, path: str) -> None:
    """JSON-lines sink — the interchange format of training-data
    pipelines (one JSON doc per line, newline-safe via JSON string
    escaping, splittable when compressed per-file)."""
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSON-lines source with ingest discipline: explicit schema (DDL
    string or StructType) — inference over 100 TB of JSONL is a full
    extra pass."""
    return spark.read.schema(schema).json(path)


def write_orc(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """ORC sink (built into Spark like parquet): the other columnar
    interchange format, binary-exact for all primitive types."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_metrics_json(
    metrics: dict[str, Any], path: str, timestamp: str | None = None
) -> str:
    """S7: flat metrics dict → JSON file with timestamp injection
    (loader.py:227-240). O(1) data — driver-side by design."""
    doc = dict(metrics)
    if timestamp is not None:
        doc["timestamp"] = timestamp
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(doc, f, indent=2, sort_keys=True)
    return path


def save_model(model: PipelineModel, path: str) -> None:
    """S8: MLWriter directory format (replaces joblib, cleaner.py:275-286)."""
    model.write().overwrite().save(path)


def load_model(path: str) -> PipelineModel:
    return PipelineModel.load(path)
