"""Degenerate-input differential sweep: every oracle-backed query runs
against ZERO-ROW tables (driver schemas, no data) on both engines.

Empty input is the classic silent-divergence zone — SUM over nothing,
grand-total rows of ROLLUP/CUBE, windows over empty partitions, joins
with an empty side — and at 100 TB a filter or partition that matches
nothing is an everyday event, not an edge case.
"""

from __future__ import annotations

import duckdb
import pytest

from customer_review__etl_spark.plans import all_queries
from customer_review__etl_spark.sources.tables import TABLE_NAMES

from conftest import SF_DIR
from test_differential_edges import _multiset

# Streaming queries execute jobs at build time; they get their own test.
_STREAMING = {"st04_stream_tumbling", "st05_stream_dedup",
              "st06_stateful_stats", "st07_stream_static_join"}


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_sf")
    for name in TABLE_NAMES:
        # Raw read (no ts conversion) preserves the driver's physical
        # schema, including whichever unit events.ts is stored in.
        spark.read.parquet(f"{SF_DIR}/{name}.parquet").limit(0).coalesce(
            1
        ).write.mode("overwrite").parquet(str(d / f"{name}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def oracle_con(empty_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        src = f"SELECT * FROM '{empty_dir}/{t}.parquet/*.parquet'"
        if t == "events":
            # Branch on the fixture's physical ts type (mirrors
            # sources/tables.py:47): the nanos-long rewrite applies only
            # when the file really stores a BIGINT — the driver's layout
            # has stored both units across rounds.
            (ts_type,) = [
                r[1]
                for r in con.execute(f"DESCRIBE {src}").fetchall()
                if r[0] == "ts"
            ]
            if ts_type == "BIGINT":
                src = (
                    "SELECT * REPLACE (make_timestamp(ts // 1000) AS ts) "
                    f"FROM ({src})"
                )
        con.execute(f"CREATE VIEW {t} AS {src}")
    return con


_ORACLE_QUERIES = sorted(
    name
    for name, spec in all_queries().items()
    if spec.oracle is not None and name not in _STREAMING
)


@pytest.mark.parametrize("name", _ORACLE_QUERIES)
def test_empty_input_matches_oracle(spark, empty_dir, oracle_con, name):
    spec = all_queries()[name]
    sdf = spec.fn(spark, empty_dir)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]

    cur = oracle_con.execute(spec.oracle)
    ocols = [c[0] for c in cur.description]
    orows = cur.fetchall()

    assert sorted(scols) == sorted(ocols)
    assert _multiset(scols, srows) == _multiset(ocols, orows), name


@pytest.mark.parametrize("name", sorted(_STREAMING))
def test_empty_input_streaming_rows(spark, empty_dir, name):
    """Streaming jobs over an empty source must terminate and return an
    empty (not crashing) result."""
    out = all_queries()[name].fn(spark, empty_dir)
    assert out.collect() == []
