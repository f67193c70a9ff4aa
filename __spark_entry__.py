"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``customer_review__etl_spark``; this module is
a thin adapter over ``plans.all_queries()``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from customer_review__etl_spark import plans


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001 (driver checks rows>0).

    The reference's dashboard theme-distribution semantics
    (dashboard.py:29-30 value_counts) transplanted onto the events
    table: null-guard → group-count → deterministic desc sort. It goes
    through the registry, so the engine's confs are applied to `spark`.
    """
    return plans.all_queries()["a01_group_count"].fn(
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in plans.all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """ANSI-SQL twins for DuckDB; non-SQL-expressible ops are omitted
    (driver falls back to a rows-only check for those)."""
    return {
        name: spec.oracle
        for name, spec in plans.all_queries().items()
        if spec.oracle is not None
    }
