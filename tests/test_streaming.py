"""Structured Streaming ≡ batch equivalence on the sf0.001 events
table: tumbling windows produce identical result sets, and
within-watermark dedup keeps one row per key."""

from __future__ import annotations

from pyspark.sql import functions as F

from customer_review__etl_spark.plans import streamplans as SP
from customer_review__etl_spark.sources import tables
from customer_review__etl_spark.streaming import jobs

from conftest import SF_DIR


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_tumbling_equals_batch(spark):
    stream = SP.st04_stream_tumbling(spark, SF_DIR)
    batch = SP.st01_tumbling_window(spark, SF_DIR)
    cols = ["wstart", "event_type", "n", "sum_cents"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_dedup_within_watermark(spark, tmp_path):
    out = jobs.run_append(
        jobs.dedup_within_watermark(jobs.stream_events(spark, SF_DIR)),
        str(tmp_path),
    )
    n_keys = (
        tables.load(spark, SF_DIR, "events")
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    # With the whole (finite) file inside one watermark horizon per key
    # arrival order, streaming dedup keeps ≥ distinct-keys and ≤ input.
    assert out.select("user_id", "event_type").distinct().count() == n_keys


def test_stream_results_outlive_another_querys_call(spark):
    """st05 and st09 both exit through run_append, each into a sink dir
    of its own: building st09 leaves the files st05's DataFrame reads."""
    st05 = SP.st05_stream_dedup(spark, SF_DIR)
    n = st05.count()
    SP.st09_stream_stream_join(spark, SF_DIR).collect()
    assert n > 0
    assert st05.count() == n


def test_stateful_stats_equals_batch(spark):
    """applyInPandasWithState per-user stats == the batch groupBy."""
    out = SP.st06_stateful_stats(spark, SF_DIR)
    ev = tables.load(spark, SF_DIR, "events")
    batch = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_cents"),
            F.max(F.round(F.col("value") * 100).cast("long")).alias("max_cents"),
        )
    )
    cols = ["user_id", "n", "sum_cents", "max_cents"]
    assert _rows(out, cols) == _rows(batch, cols)
