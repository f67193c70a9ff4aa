"""Bucketed-table tests: io05's entire value is the PHYSICAL property
that a bucketed join needs no shuffle — assert it on the executed plan,
not just the (oracle-checked) results."""

from __future__ import annotations

from pyspark.sql import functions as F

from customer_review__etl_spark.plans.ioplans import (
    IO05_BUCKETS,
    io05_bucketed_tables,
)

from conftest import SF_DIR
from test_plans import _plan


def test_bucketed_join_has_no_exchange(spark):
    """The merge join of the two bucketed tables must consume bucket
    co-location directly: bucketed scans on both sides, zero Exchange
    anywhere in the plan. (The merge hint pins the join strategy —
    at test scale Spark would otherwise broadcast the small side and
    skip bucketing entirely, proving nothing.)"""
    orders, line = io05_bucketed_tables(spark, SF_DIR)
    j = orders.hint("merge").join(
        line, F.col("o_orderkey") == F.col("l_orderkey")
    )
    plan = _plan(j)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "Bucketed: true" in plan


def test_bucketed_tables_roundtrip_rowcounts(spark):
    """Bucketing is pure physical layout: row counts and key sums must
    survive the write→catalog-read roundtrip exactly."""
    from customer_review__etl_spark.sources import tables

    orders, line = io05_bucketed_tables(spark, SF_DIR)
    src_o = tables.load(spark, SF_DIR, "orders")
    src_l = tables.load(spark, SF_DIR, "lineitem")
    assert orders.count() == src_o.count()
    assert line.count() == src_l.count()
    assert (
        orders.agg(F.sum("o_orderkey")).collect()[0][0]
        == src_o.agg(F.sum("o_orderkey")).collect()[0][0]
    )
    # physical bucket layout: files carry the bucket suffix
    files = [r.filePath for r in orders.select(
        F.input_file_name().alias("filePath")
    ).distinct().collect()]
    assert files and all("_0000" in f or "bucket" in f for f in files)
