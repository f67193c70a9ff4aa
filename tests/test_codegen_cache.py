"""Warm work compiles no generated class twice: the codegen cache that
`get_spark` sizes (`session.CODEGEN_CACHE_ENTRIES`) holds the working
set of a dashboard round and of a review pass, so once warm they stop
running Janino. Compiles are read from Spark's JVM-wide counter, which
counts cache misses only (driver and, in local mode, task compiles)."""

from __future__ import annotations

import os
import re
import sys

from customer_review__etl_spark import plans
from customer_review__etl_spark.app.pipeline import run_pipeline

from conftest import SF_DIR

sys.path.append(os.path.join(os.path.dirname(__file__), "..", "perfbench"))
from workloads import DASHBOARD  # noqa: E402


def _compiles(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _final_plan(df) -> str:
    """The executed (AQE-final) plan without what changes from call to
    call and stays out of the generated code: expression ids, lambda
    variable numbers and file locations (a query that writes lands in a
    fresh directory per call)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = re.sub(r"(lambda \w+?)_\d+", r"\1", plan)
    return re.sub(r"#\d+L?|plan_id=\d+|\[file:[^\]]*\]", "", plan)


def _dashboard_round(spark, registry, seen: set) -> dict[str, int]:
    """Run every dashboard query once; return the compiles of each query
    whose final plan this session has run before."""
    again = {}
    for name in DASHBOARD:
        before = _compiles(spark)
        df = registry[name].fn(spark, SF_DIR)
        df.collect()
        key = (name, _final_plan(df))
        if key in seen:
            again[name] = _compiles(spark) - before
        seen.add(key)
    return again


def test_warm_dashboard_round_compiles_nothing(spark):
    """A fourth round recompiles nothing. Only a plan seen before is held
    to 0: AQE numbers whole-stage codegen stages (the number is in the
    generated class name) and picks some joins' build side by which of
    two concurrent shuffle stages finishes first, so a query (q17 and
    w12 most often) now and then meets a new variant of its plan, whose
    classes are compiled for the first time."""
    registry = plans.all_queries()
    seen: set = set()
    for _ in range(3):
        _dashboard_round(spark, registry, seen)
    again = _dashboard_round(spark, registry, seen)
    assert len(again) > len(DASHBOARD) // 2
    assert {n: k for n, k in again.items() if k} == {}


def test_warm_review_pass_compiles_nothing(spark, tmp_path):
    run_pipeline(spark, SF_DIR, str(tmp_path / "warm"))
    before = _compiles(spark)
    run_pipeline(spark, SF_DIR, str(tmp_path / "next"))
    assert _compiles(spark) - before == 0
