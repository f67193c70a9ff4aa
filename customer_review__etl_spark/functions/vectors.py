"""Vector math over array<float>/array<double> embedding columns.

Built entirely from Spark higher-order functions (zip_with/aggregate) —
JVM-side, deterministic left-to-right folds, so results are bit-exact
and reproducible across engines (the DuckDB oracle uses the same
sequential order). No UDFs: at 100 TB a Python round-trip per row on a
64-dim array would dominate the query.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + aggregate (sequential double fold)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine_from_norms(
    a: Column, b: Column, nrm_a: Column, nrm_b: Column
) -> Column:
    """Cosine similarity with both L2 norms precomputed per INPUT row
    (before the candidate join), so per-pair work drops from three
    O(d) folds to one dot product — the scale path for similarity
    joins, where each vector appears in many candidate pairs.

    Zero-norm rule: 0.0, not NULL. Without the guard a zero vector
    divides by zero, which (ANSI off) silently yields NULL and drops
    rows from similarity joins; the DuckDB oracle twins mirror the
    same rule. The result is clamped to [-1, 1]: identical vectors can
    produce 1.0000000000000002 from the raw fold (float round-off),
    which is out of range and diverges from DuckDB's clamped
    list_cosine_similarity."""
    denom = nrm_a * nrm_b
    raw = F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)
    return F.greatest(F.lit(-1.0), F.least(F.lit(1.0), raw))
