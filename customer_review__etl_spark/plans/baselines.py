"""Demoted convicted-quadratic baselines (round 15, r14 VERDICT ask #4).

`s02_ann_lsh` and `s03_embedding_neardup` are the FIXED-PLANE sign-LSH
baselines: oracle-exact, but their bucket count is a constant (64 / 8
per band), so per-bucket occupancy grows linearly with the corpus and
within-bucket candidate PAIRS grow quadratically — s02 was convicted
at 472× wall for 30× data by the round-9 scale probe (0.86 s → 406 s
over a 150 K-vector corpus), and s03 shares the shape (12.8× wall at
10× data, its verify leg already the whole 63 s wall). Their
occupancy-adaptive twins are registered first-class queries
(`s09_capped_lsh_neardup`, `s10_capped_ann`) and every former
consumer has migrated (ml09 → s10 in round 10, s05 → s09
in round 15), so these two no longer spend registry slots a driver
sample could reach.

They stay HERE — spec objects included — so the baseline-vs-twin story
remains executable:

- pytest keeps the oracle-matched comparisons (tests/test_round9_ops.py
  pins s09 ⊆ s03 with a recall floor; tests/test_round10_ops.py pins
  s10 == s02 below the caps; tests/test_differential_edges.py runs both
  against their DuckDB twins on the adversarial edge corpus);
- the scale probe behind the 472× conviction is in git history.

Reference scope note: the reference repo has no ANN at all (its
similarity surface is sklearn TF-IDF vectorization, cleaner.py:176,252);
this family exists for the 100 TB training-data brief, and the
demotion is purely a scale-honesty split between baseline and shipped
path.
"""

from . import QuerySpec
from .simplans import (
    _s02_sql,
    _s03_pairs_sql,
    s02_ann_lsh,
    s03_embedding_neardup,
)

# Oracle-backed spec objects, OUTSIDE the registry by design: the
# registry must contain no convicted quadratic, but the specs keep the
# differential harness shape so tests/tools can run them verbatim.
BASELINE_SPECS: tuple[QuerySpec, ...] = (
    QuerySpec("s02_ann_lsh", s02_ann_lsh, _s02_sql()),
    QuerySpec(
        "s03_embedding_neardup",
        s03_embedding_neardup,
        _s03_pairs_sql() + "ORDER BY vec_a, vec_b\n",
    ),
)


def baseline_queries() -> dict[str, QuerySpec]:
    """Name → spec for the demoted baselines (mirror of all_queries()
    for the non-registered set)."""
    return {s.name: s for s in BASELINE_SPECS}
