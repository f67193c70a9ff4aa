"""Sink/source roundtrips: CSV (explicit schema), partitioned parquet,
metrics JSON."""

from __future__ import annotations

import json

from customer_review__etl_spark.sources import sinks, tables

from conftest import SF_DIR


def test_csv_roundtrip(spark, tmp_path):
    df = tables.load(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_csv")
    sinks.write_csv(df, path)
    back = sinks.read_csv(
        spark, path, "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_parquet_partitioned_roundtrip(spark, tmp_path):
    df = tables.load(spark, SF_DIR, "customer")
    path = str(tmp_path / "cust_pq")
    sinks.write_parquet(df, path, partition_by=["c_mktsegment"])
    back = spark.read.parquet(path)
    assert back.count() == df.count()
    # partition pruning: a segment filter reads only that directory
    seg = df.select("c_mktsegment").first()[0]
    pruned = back.filter(back.c_mktsegment == seg)
    assert pruned.count() == df.filter(df.c_mktsegment == seg).count()


def test_metrics_json(tmp_path):
    path = sinks.write_metrics_json(
        {"accuracy": 0.9, "rows": 10, "timestamp": "2026-01-01T00:00:00"},
        str(tmp_path / "m" / "metrics.json"),
    )
    with open(path, encoding="utf-8") as f:
        doc = json.load(f)
    assert doc == {
        "accuracy": 0.9, "rows": 10, "timestamp": "2026-01-01T00:00:00",
    }
