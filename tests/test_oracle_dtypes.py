"""Oracle-dtype lint (round-5 VERDICT #2): every oracle_sql() entry must
produce only dtypes the driver's value hash treats identically to the
Spark result.

Failure class this pins down: DuckDB widens sum(BIGINT) to HUGEINT
(int128) while Spark emits BIGINT; the values are equal but the driver's
dtype-sensitive serialization hashes them differently (io05 in
CORRECTNESS_r05 was exactly this — the only red on an otherwise green
board). DESCRIBE plans the query without executing it, so this lint is
cheap enough to cover all oracles against the real table schemas.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from conftest import SF_DIR
from test_differential_edges import duck_views

# Types whose wire/serialized form diverges from any Spark output type:
# HUGEINT/UHUGEINT have no Spark twin; DECIMAL would pair with Spark
# DecimalType which no plan emits (money math is integer-scaled e4).
_BANNED = ("HUGEINT", "UHUGEINT", "DECIMAL")


@pytest.fixture(scope="module")
def duck():
    con = duck_views(SF_DIR)
    yield con
    con.close()


def test_no_oracle_emits_hash_unsafe_dtypes(duck):
    bad: list[str] = []
    for name, sql in entrymod.oracle_sql().items():
        desc = duck.execute(f"DESCRIBE {sql}").fetchall()
        for col, dtype, *_ in desc:
            if any(b in dtype.upper() for b in _BANNED):
                bad.append(f"{name}.{col}: {dtype}")
    assert bad == [], (
        "oracles emit dtypes the driver's hash cannot match against "
        f"Spark output — wrap aggregates in CAST(... AS BIGINT): {bad}"
    )


def test_lint_catches_bare_bigint_sum(duck):
    """The lint must actually fire on the io05 failure shape."""
    desc = duck.execute(
        "DESCRIBE SELECT sum(o_orderkey) AS s FROM orders"
    ).fetchall()
    assert any("HUGEINT" in d[1].upper() for d in desc)


def test_sql_cc_min_label_symmetrizes_internally():
    """Round-13 ADVICE #3: the CC helper owns the bidirectionality
    obligation. A deliberately adversarial orientation — every pair
    points AT the minimum (2,1),(3,1), so under the old contract node
    1 never appears in column s and the min label could not propagate
    without caller-side symmetrization — must still label the chain's
    nodes with the component minimum, and an isolated second component
    keeps its own min."""
    from customer_review__etl_spark.plans.helpers import sql_cc_min_label

    con = duckdb.connect()
    got = con.execute(
        "WITH pairs(x, y) AS (VALUES (2, 1), (3, 1), (9, 7)),\n"
        + sql_cc_min_label("x", "y")
        + "\nSELECT node, mn FROM cluster ORDER BY node"
    ).fetchall()
    assert got == [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)]
