"""Hostile relational corpus: orphan foreign keys, NULL dates and
balances, zero/negative quantities, duplicate keys — run through every
lineitem/orders/customer-family query on both engines.

The driver's synthetic tables are referentially clean; production data
never is. NULL sort keys are the headline trap: Spark orders NULLS
FIRST ascending by default, DuckDB NULLS LAST — any window or ORDER BY
over a nullable key silently diverges.
"""

from __future__ import annotations

import datetime

import duckdb
import pytest

from customer_review__etl_spark.plans import all_queries

from test_differential_edges import _multiset

_D = datetime.datetime

REGION = [(0, "AMERICA"), (1, "ASIA")]
NATION = [(0, "BRAZIL", 0), (1, "JAPAN", 1), (2, "PERU", 0)]  # 2: no customers
CUSTOMER = [
    # (custkey, name, nationkey, acctbal, mktsegment)
    (1, "alpha", 0, 100.25, "BUILDING"),
    (2, "beta", 0, -50.75, "AUTOMOBILE"),   # negative balance
    (3, "gamma", 1, None, "BUILDING"),      # NULL balance
    (4, "delta", 1, 100.25, None),          # NULL segment
]
SUPPLIER = [
    (1, "s-one", 0, 500.10),
    (2, "s-two", 1, -10.00),
]
PART = [
    # (partkey, name, brand, type, size, retailprice)
    (1, "p1", "Brand#1", "SMALL BRUSHED", 3, 10.00),
    (2, "p2", "Brand#1", "ECONOMY POLISHED", 12, 900.50),
    (3, "p3", "Brand#2", "MEDIUM BURNISHED", 8, 45.10),
    (4, "p4", "Brand#1", "SMALL ANODIZED", 3, 11.00),  # size tie in brand 1
]
ORDERS = [
    # (orderkey, custkey, status, totalprice, orderdate, priority)
    (10, 1, "O", 100.00, _D(1996, 3, 1), "1-URGENT"),
    (11, 1, "F", 250.50, _D(1996, 5, 2), "5-LOW"),
    (12, 2, "O", 0.01, _D(1997, 1, 1), "2-HIGH"),
    (13, 99, "P", 77.77, _D(1996, 7, 4), "3-MEDIUM"),   # orphan custkey
    (14, 3, "O", 300.00, None, "4-NOT SPECIFIED"),      # NULL orderdate
]
LINEITEM = [
    # (orderkey, partkey, suppkey, linenumber, qty, extprice, disc, tax,
    #  returnflag, linestatus, shipdate)
    (10, 1, 1, 1, 5.0, 50.00, 0.05, 0.02, "R", "O", _D(1996, 3, 10)),
    (10, 2, 2, 2, 0.0, 0.00, 0.0, 0.0, "N", "O", _D(1996, 3, 11)),  # zero qty
    (11, 3, 1, 1, 25.0, 1200.25, 0.07, 0.01, "R", "F", _D(1996, 6, 1)),
    (12, 1, 2, 1, 210.0, 2100.00, 0.06, 0.03, "A", "O", _D(1997, 2, 2)),
    (99, 2, 1, 1, 3.0, 30.00, 0.0, 0.0, "N", "O", _D(1996, 9, 9)),  # orphan order
    (14, 3, 2, 1, 8.0, 88.00, 0.05, 0.0, "R", "O", _D(1996, 8, 8)),
]

RELATIONAL_QUERIES = [
    "p01_project_sort", "p02_drop_columns", "p04_coerce_cast",
    "p05_lowercase_rename", "p06_ordinal", "p09_select", "p10_limit_topk",
    "a02_count_distinct", "a03_null_counts", "a04_row_count",
    "a07_summary_stats", "a08_median_disc",
    "q1_pricing_summary", "q2_min_cost_supplier", "q3_shipping_priority",
    "q4_order_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
    "q7_volume_shipping", "q10_returned_items", "q12_shipmode_priority",
    "q14_promo_revenue", "q18_large_orders", "q19_disjunctive_pred",
    "j02_inner_equi", "j03_left_semi",
    "j04_left_anti", "j05_full_outer", "j06_theta_range", "j07_right_outer",
    "j10_bucketed_range",
    "w01_row_number_topn", "w04_rank_dense", "w05_ntile_frames",
    "w06_moving_avg",
    "g01_rollup", "g03_grouping_sets", "g04_pivot",
    "f01_string_date_math", "f02_array_funcs",
    "io01_csv_roundtrip", "io02_parquet_roundtrip",
]


@pytest.fixture(scope="module")
def hostile_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("hostile_sf")
    tables = {
        "region": (REGION, "r_regionkey INT, r_name STRING"),
        "nation": (NATION, "n_nationkey INT, n_name STRING, n_regionkey INT"),
        "customer": (
            CUSTOMER,
            "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
            "c_acctbal DOUBLE, c_mktsegment STRING",
        ),
        "supplier": (
            SUPPLIER,
            "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
        ),
        "part": (
            PART,
            "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
            "p_size INT, p_retailprice DOUBLE",
        ),
        "orders": (
            ORDERS,
            "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
            "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, "
            "o_orderpriority STRING",
        ),
        "lineitem": (
            LINEITEM,
            "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
            "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
            "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
            "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
        ),
    }
    for name, (rows, schema) in tables.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"{name}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def oracle_con(hostile_dir):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS "
            f"SELECT * FROM '{hostile_dir}/{t}.parquet/*.parquet'"
        )
    return con


@pytest.mark.parametrize("name", RELATIONAL_QUERIES)
def test_hostile_relational_matches_oracle(spark, hostile_dir, oracle_con, name):
    spec = all_queries()[name]
    sdf = spec.fn(spark, hostile_dir)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]

    cur = oracle_con.execute(spec.oracle)
    ocols = [c[0] for c in cur.description]
    orows = cur.fetchall()

    assert sorted(scols) == sorted(ocols)
    assert _multiset(scols, srows) == _multiset(ocols, orows), name
