"""Prepared plans (plans._prepared): a registry query whose build has
no side effect holds its analyzed plan in the store, and each call
gets a new DataFrame over it. The store is the record of what is
held: key ("plan", name)."""

from __future__ import annotations

import os
import sys

import pytest

from customer_review__etl_spark import store
from customer_review__etl_spark.plans import all_queries

from conftest import SF_DIR
from test_source_catalog import _copy_tables, _jobs_in_group

sys.path.append(os.path.join(os.path.dirname(__file__), "..", "perfbench"))
from workloads import DASHBOARD  # noqa: E402


def _held(name: str) -> bool:
    return ("plan", name) in store._HELD


@pytest.mark.parametrize(
    "name",
    ["a01_group_count", "q5_local_supplier_volume", "w12_retention_cohorts"],
)
def test_handed_out_frame_is_not_a_result_cache(spark, name):
    """Two calls give two QueryExecutions, and the second collect runs
    as many jobs as the first. Collecting one DataFrame twice would
    reuse the first collect's shuffle output (a01: 1 job, not 4). w12
    joins two concurrent stages and AQE picks the build side by which
    finishes first, which adds or removes one job from call to call."""
    fn = all_queries()[name].fn
    fn(spark, SF_DIR).collect()
    first, second = fn(spark, SF_DIR), fn(spark, SF_DIR)
    assert _held(name)
    assert not first._jdf.queryExecution().equals(second._jdf.queryExecution())
    jobs = [
        len(_jobs_in_group(spark, f"{name}_{i}", df.collect))
        for i, df in enumerate((first, second))
    ]
    slack = 1 if name == "w12_retention_cohorts" else 0
    assert jobs[1] >= jobs[0] - slack > 1, jobs


def test_side_effect_free_builds_are_held(spark, tmp_path):
    """Over tables no query has read yet, the first query to read a
    table infers its schema with a job, and io13's first build makes
    its layout's directory, a request with no identity: neither is
    held. Every dashboard query's second build launches no job and is
    held."""
    d = str(tmp_path / "sf")
    _copy_tables(SF_DIR, d)
    registry = all_queries()
    for name in DASHBOARD:
        registry[name].fn(spark, d)
    assert not _held("a01_group_count")
    assert not _held("io13_partition_pruned_read")
    for name in DASHBOARD:
        assert _jobs_in_group(
            spark, f"{name}_second", lambda: registry[name].fn(spark, d)
        ) == [], name
    assert [n for n in DASHBOARD if not _held(n)] == []


@pytest.mark.parametrize(
    "name",
    [
        "t27_perplexity_buckets",  # a cache_slot user
        "st05_stream_dedup",  # runs a stream
        "a12_observed_metrics",  # collects an observed count
    ],
)
def test_builds_with_side_effects_are_built_on_every_call(spark, name):
    fn = all_queries()[name].fn
    for _ in range(3):
        fn(spark, SF_DIR).collect()
        assert not _held(name)
