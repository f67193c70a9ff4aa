"""S5: object-store put/list and the per-run publish — the upload
side of the reference's S3 surface (loader.py:74-130
upload_dataframe, 169-210 upload_directory, 215-247 upload_metrics)
re-expressed over Hadoop's FileSystem API instead of boto3.

Why Hadoop FS and not a Python S3 client: Spark's own readers/writers
move the DATA PLANE through this exact abstraction — one code path
serves ``file://`` (sandbox), ``s3a://`` (AWS with hadoop-aws on the
classpath), ``abfss://``, ``gs://`` …, so the tests exercising a
``file://``-backed bucket run the same calls a real deployment makes
against S3. Only bucket lifecycle (create/head) stays in the control
plane, as in the reference (ml_pipeline_dag.py:219-222).

Scale notes: the puts here are CONTROL-plane conveniences for small
artifacts (metrics JSON, model files) — O(file) driver-side, exactly
like the reference's boto3 puts. Bulk data publishes via
``df.write.…(bucket.url(key))`` so executors stream straight to the
store; ``publish_run`` below wires both correctly.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession


class ObjectBucket:
    """A bucket-rooted key/value view of any Hadoop-supported store.

    ``bucket_url`` is the bucket root (``file:///tmp/bkt`` or
    ``s3a://ml-pipeline-bucket``); keys are slash-separated object
    names exactly as in the reference's boto3 calls.
    """

    def __init__(self, spark: SparkSession, bucket_url: str):
        self._spark = spark
        self._jvm = spark._jvm
        self._root = bucket_url.rstrip("/")
        jpath = self._jvm.org.apache.hadoop.fs.Path(self._root)
        self._fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())

    # -- control plane (ml_pipeline_dag.py:219-222 head/create) ------

    def ensure(self) -> "ObjectBucket":
        self._fs.mkdirs(self._jpath(""))
        return self

    # -- object data plane -------------------------------------------

    def url(self, key: str) -> str:
        """Full store URL for a key — hand this to Spark readers and
        writers so executors talk to the store directly."""
        return f"{self._root}/{key.lstrip('/')}"

    def put_bytes(self, key: str, data: bytes) -> str:
        """put_object parity (loader.py:123-129): one object, one key."""
        out = self._fs.create(self._jpath(key), True)
        try:
            out.write(bytearray(data))
        finally:
            out.close()
        return self.url(key)

    def put_directory(self, local_dir: str, prefix: str) -> list[str]:
        """upload_directory parity (loader.py:169-210): every file under
        ``local_dir`` lands at ``prefix/<relative path>``; returns the
        keys under ``prefix``, sorted for determinism.

        One recursive Hadoop copy, not one put per file. The prefix is
        replaced, not merged: a copy into an existing directory would
        nest ``local_dir`` under it."""
        jdst = self._jpath(prefix)
        self._fs.delete(jdst, True)
        self._fs.copyFromLocalFile(
            False,
            True,
            self._jvm.org.apache.hadoop.fs.Path(
                "file://" + os.path.abspath(local_dir)
            ),
            jdst,
        )
        return self.list_keys(prefix)

    def list_keys(self, prefix: str) -> list[str]:
        """Recursive listing under a key prefix, bucket-relative."""
        jpath = self._jpath(prefix)
        if not self._fs.exists(jpath):
            return []
        keys: list[str] = []
        it = self._fs.listFiles(jpath, True)
        root_uri = self._jpath("").toUri().getPath().rstrip("/")
        while it.hasNext():
            status = it.next()
            path = status.getPath().toUri().getPath()
            keys.append(path[len(root_uri) + 1 :])
        return sorted(keys)

    def _jpath(self, key: str):
        suffix = f"/{key.lstrip('/')}" if key else ""
        return self._jvm.org.apache.hadoop.fs.Path(self._root + suffix)


def publish_run(
    bucket: ObjectBucket,
    execution_ts: str,
    processed_df: DataFrame,
    metrics: dict[str, Any],
    models_dir: str,
) -> dict[str, Any]:
    """The reference's per-run S3 publish (ml_pipeline_dag.py:225-260)
    with its exact key layout:

        data/processed_reviews_{execution_ts}.csv
        metrics/model_metrics_{execution_ts}.json
        models/{execution_ts}/{relative_path}

    Differences by design: the processed dataset is written by SPARK
    EXECUTORS directly to the store (a directory of part files under
    the ``….csv`` key — the cluster-scale shape; the reference funnels
    a pandas buffer through the driver), while metrics/models are small
    driver-side puts exactly like the reference. Returns the
    xcom-style manifest of store locations."""
    data_key = f"data/processed_reviews_{execution_ts}.csv"
    (
        processed_df.write.mode("overwrite")
        .option("header", True)
        .csv(bucket.url(data_key))
    )
    metrics_key = f"metrics/model_metrics_{execution_ts}.json"
    doc = dict(metrics)
    doc["timestamp"] = execution_ts
    bucket.put_bytes(
        metrics_key,
        json.dumps(doc, indent=2, sort_keys=True, default=str).encode(),
    )
    model_keys = bucket.put_directory(models_dir, f"models/{execution_ts}")
    return {
        "processed_data": bucket.url(data_key),
        "metrics": bucket.url(metrics_key),
        "models": [bucket.url(k) for k in model_keys],
    }
