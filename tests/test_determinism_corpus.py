"""Cross-engine determinism property corpus: the helpers contract
(plans/helpers.py) claims cents/scaled produce BIT-IDENTICAL
results on Spark and DuckDB for every representable input. The hash
gate exercises them only on benign corpus values; this module feeds
the adversarial set — exact dyadic halves (where round() semantics
across engines genuinely differ), negative halves, subnormals,
float32-boundary values, and a seeded random sweep — through both
engines in one batch and compares exactly.
"""

from __future__ import annotations

import random
import struct

import duckdb
import pytest

from pyspark.sql import functions as F

from customer_review__etl_spark.plans.helpers import (
    cents,
    scaled,
    sql_cents,
    sql_scaled,
)

# exact dyadic halves: x*10^k lands on .5 exactly — the values
# where HALF_UP vs HALF_EVEN vs away-from-zero disagree
_DYADIC = [0.125, -0.125, 1.125, -1.125, 2.375, -2.375, 0.0078125,
           -0.0078125, 0.5, -0.5, 0.25, -0.25]
# money-shaped two-decimal values incl. the classic 2.675 (whose double
# is just BELOW 2.675, so cents must be 267 on BOTH engines, not 268)
# magnitudes stay within |x| ≤ ~9.2e12, whose scaled forms fit int64
_MONEY = [2.675, -2.675, 0.005, -0.005, 0.015, 99.995, 1e9 + 0.25,
          0.01, -0.01, 123.45, -123.45, 0.0, 9e12 + 0.07]
# in-domain extremes only: the helpers' contract covers values whose
# scaled form fits int64 (money/metric magnitudes), so stay below
# 2^63/1e6; subnormals and repeating fractions stress the float path
_EXTREME = [5e-324, -5e-324, 1e-308, 9e12 + 1 / 3, -9e12 - 1 / 7,
            struct.unpack("d", struct.pack("d", 1 / 3))[0]]


def _corpus():
    rng = random.Random(31337)
    vals = _DYADIC + _MONEY + _EXTREME
    vals += [round(rng.uniform(-1e4, 1e4), 2) for _ in range(200)]
    vals += [rng.uniform(-1e6, 1e6) for _ in range(200)]
    vals += [rng.uniform(-1, 1) for _ in range(100)]
    return vals


@pytest.mark.parametrize(
    "col_fn,sql_fn",
    [
        (cents, sql_cents),
        (lambda c: scaled(c, 4), lambda e: sql_scaled(e, 4)),
    ],
    ids=["cents", "scaled4"],
)
def test_helper_bit_identical_across_engines(spark, col_fn, sql_fn):
    vals = _corpus()
    sdf = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i INT, x DOUBLE"
    )
    srows = {
        r.i: r.y for r in sdf.select("i", col_fn(F.col("x")).alias("y")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, x DOUBLE)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)", [(i, v) for i, v in enumerate(vals)]
    )
    orows = dict(con.execute(f"SELECT i, {sql_fn('x')} FROM t").fetchall())
    diffs = {
        i: (srows[i], orows[i], vals[i])
        for i in srows
        if srows[i] != orows[i]
    }
    assert not diffs, f"cross-engine drift on {len(diffs)} values: " + str(
        dict(list(diffs.items())[:5])
    )
