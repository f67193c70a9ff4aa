"""Physical-plan quality gates: the properties that make these plans
scale (broadcast for dims, pushdown, pruning, partial aggregation,
codegen) asserted on the actual explain output — not just eyeballed."""

from __future__ import annotations

import ast
from pathlib import Path

import __spark_entry__ as entrymod
from customer_review__etl_spark.plans import relational

from conftest import SF_DIR

PLANS_DIR = Path(relational.__file__).resolve().parent


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_contract_consistency():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 60
    assert set(oracles) <= set(qs)
    # rows-only exceptions are exactly the non-SQL-expressible ops
    # (a09 left this set in round 7: its sketches are gated by exact
    # companion columns + oracle-pinned tolerance booleans)
    assert set(qs) - set(oracles) == {
        "t02_stemmed_chain",
        "ml01_lda_themes",
        "ml02_topic_top_words",
        "ml04_classifier_metrics",
    }


def test_plan_caches_go_through_cache_slot():
    """Every in-memory cache a plan builds has an owner that releases
    it: helpers.cache_slot. A bare .cache()/.persist() is kept by
    Spark's CacheManager for the life of the session and is served,
    matched by path, after its table is rewritten in place."""
    bare = []
    for path in sorted(PLANS_DIR.glob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.name == "helpers.py":
            (slot,) = [
                f for f in tree.body
                if isinstance(f, ast.FunctionDef) and f.name == "cache_slot"
            ]
            allowed = {id(n) for n in ast.walk(slot)}
        bare += [
            f"{path.name}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr in ("cache", "persist")
            and id(n) not in allowed
        ]
    assert bare == []


def test_registry_head_covers_every_family():
    """The external verifier samples only the registry head (~50 entries);
    every query family must keep at least one representative there, or new
    additions silently push a family past the verification horizon."""
    from customer_review__etl_spark.plans import (
        HEAD_FAMILIES,
        PRIORITY,
        all_queries,
    )

    head = list(all_queries())[:50]
    assert head == list(PRIORITY[:50])
    for fam in HEAD_FAMILIES:
        assert any(n.startswith(fam) for n in head), f"family {fam} not in head"
    # the head is maximally oracle-checked: the ONLY rows-only entries
    # admitted are the four documented non-SQL-expressible ops
    # (round-11 VERDICT ask #4 / round-12 ask #1 — scheduled into the
    # r13 head so the driver's weaker rows-only check lands on record
    # and never_driver_sampled reaches 0). Any OTHER rows-only entry in
    # the head is a scheduling bug: it would spend an oracle-checkable
    # slot on a weaker check.
    from customer_review__etl_spark.plans import ROWS_ONLY_HEAD_WHITELIST

    specs = all_queries()
    rows_only_in_head = {n for n in head if specs[n].oracle is None}
    assert rows_only_in_head <= ROWS_ONLY_HEAD_WHITELIST


def test_dimension_join_is_broadcast(spark):
    plan = _plan(relational.j01_broadcast_theme_label(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_small_dims(spark):
    plan = _plan(relational.q5_local_supplier_volume(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(relational.p08_filter_eq(spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "event_type" in plan.split("PushedFilters")[1][:200]


def test_projection_prunes_scan(spark):
    plan = _plan(relational.p09_select(spark, SF_DIR))
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    assert "o_comment" not in read_schema and "o_orderdate" not in read_schema


def test_group_count_partial_aggregation(spark):
    plan = _plan(relational.a01_group_count(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_q1_shuffle_minimal(spark):
    """q1 must be scan → partial agg → one exchange → final agg (+ the
    output sort's exchange): no extra shuffles, filter at the scan."""
    plan = _plan(relational.q1_pricing_summary(spark, SF_DIR))
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]
    assert "partial_sum" in plan
    import re

    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 2


def test_entry_smoke(spark):
    rows = entrymod.entry(spark).collect()
    assert len(rows) > 0


def test_q6_all_filters_pushed(spark):
    plan = _plan(relational.q6_forecast_revenue(spark, SF_DIR))
    pushed = plan.split("PushedFilters")[1][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema  # only 5 of 11 cols read


def test_q10_broadcasts_nation_only(spark):
    plan = _plan(relational.q10_returned_items(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "l_returnflag" in plan.split("PushedFilters")[1][:300]


def test_salted_agg_two_stage(spark):
    """j09 must aggregate on (event_type, salt) before the final merge:
    two distinct groupings, each with partial+final HashAggregate."""
    plan = _plan(relational.j09_salted_skew_agg(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4
    assert "salt" in plan


def test_approx_stats_within_tolerance(spark):
    """a09's sketch verdicts must be TRUE (the oracle pins them so),
    and its exact companion columns must agree with an independent
    exact computation."""
    from pyspark.sql import functions as F

    from customer_review__etl_spark.sources import tables

    row = relational.a09_approx_stats(spark, SF_DIR).collect()[0]
    assert row["approx_customers_ok"] is True
    assert row["approx_median_ok"] is True
    assert row["approx_p99_ok"] is True
    o = tables.load(spark, SF_DIR, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    cents_sorted = sorted(
        r[0]
        for r in o.select(
            F.round(F.col("o_totalprice") * 100).cast("long")
        ).collect()
    )
    n = len(cents_sorted)
    assert row["n_orders"] == n
    assert row["exact_customers"] == o.select("o_custkey").distinct().count()
    assert row["exact_median_cents"] == cents_sorted[(n + 1) // 2 - 1]
    assert row["exact_p99_cents"] == cents_sorted[(99 * n + 99) // 100 - 1]
    # the emitted brackets must equal an independent recomputation
    slack = n // 10000 + 1
    k_med, k_p99 = (n + 1) // 2, (99 * n + 99) // 100
    assert row["med_lo_cents"] == cents_sorted[max(1, k_med - slack) - 1]
    assert row["med_hi_cents"] == cents_sorted[min(n, k_med + slack) - 1]
    assert row["p99_lo_cents"] == cents_sorted[max(1, k_p99 - slack) - 1]
    assert row["p99_hi_cents"] == cents_sorted[min(n, k_p99 + slack) - 1]
    assert row["customers_tol"] == 6 * row["exact_customers"] // 100


def test_interval_overlap_join_is_hash_join(spark):
    """j12 must co-locate overlapping intervals through a bucket hash
    join — no nested loop, no cartesian — and match the declarative
    overlap join row-for-row (pairs already deduped, no distinct)."""
    from pyspark.sql import functions as F

    df = relational.j12_interval_overlap(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    pairs = [(r["s_suppkey"], r["c_custkey"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    s = relational._t(spark, SF_DIR, "supplier")
    c = relational._t(spark, SF_DIR, "customer")
    from customer_review__etl_spark.plans.helpers import cents

    want = (
        s.select("s_suppkey", cents(F.col("s_acctbal")).alias("sl"))
        .crossJoin(c.select("c_custkey", cents(F.col("c_acctbal")).alias("cl")))
        .filter(F.abs(F.col("sl") - F.col("cl")) <= relational.J12_W)
        .count()
    )
    assert len(rows) == want


def test_bucketed_range_join_is_hash_join(spark):
    """j10 must produce j06's exact rows through a hash join, not BNLJ."""
    plan = _plan(relational.j10_bucketed_range(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    j06 = sorted(map(tuple, relational.j06_theta_range(spark, SF_DIR).collect()))
    j10 = sorted(map(tuple, relational.j10_bucketed_range(spark, SF_DIR).collect()))
    assert j06 == j10


def test_banded_neardup_joins_are_hash_joins(spark):
    """d03/s03 candidate generation must be equi-joins (hash/SMJ), never
    BroadcastNestedLoopJoin — the OR-of-bands form would be all-pairs."""
    from customer_review__etl_spark.plans import dedupplans, simplans

    for fn in (dedupplans.d03_simhash_near_dup, simplans.s03_embedding_neardup):
        plan = _plan(fn(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        spark.catalog.clearCache()


def test_q17_decorrelated_broadcast_no_bnlj(spark):
    """q17's correlated-subquery rewrite must broadcast the filtered
    part dim and stay BNLJ-free — the pre-aggregate join IS the
    decorrelation, so an all-pairs fallback would defeat it."""
    plan = _plan(relational.q17_small_qty_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EqualTo(p_brand,Brand#4)" in plan  # pushed to the part scan


def test_q21_exists_rewrite_broadcast_no_bnlj(spark):
    """q21's EXISTS/NOT-EXISTS → per-order aggregate rewrite: supplier
    dim broadcast, order-status filter pushed, no BNLJ."""
    plan = _plan(relational.q21_waiting_supplier(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EqualTo(o_orderstatus,F)" in plan  # pushed to the orders scan


def test_q22_threshold_broadcast_anti_join(spark):
    """q22: the global-aggregate threshold joins as a broadcast of ONE
    row (never a shuffle of the customer side against it), and the
    NOT-EXISTS is a genuine anti join."""
    plan = _plan(relational.q22_idle_customers(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # the 1-row threshold must arrive via broadcast
    assert "BroadcastExchange" in plan


def test_tpch_round4_family_bnlj_free(spark):
    """q8/q9/q13/q16/q20 are pure hash-join trees: no nested-loop or
    cartesian fallback anywhere, and the dim filters reach the scans."""
    for fn in (
        relational.q8_market_share,
        relational.q9_product_profit,
        relational.q13_customer_distribution,
        relational.q16_parts_supplier,
        relational.q20_potential_promotion,
    ):
        plan = _plan(fn(spark, SF_DIR))
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__


def test_q8_q20_filters_pushed(spark):
    """Selective dim/fact predicates must reach the parquet scans."""
    p8 = _plan(relational.q8_market_share(spark, SF_DIR))
    assert "EqualTo(p_type,ECONOMY)" in p8
    assert "EqualTo(r_name,ASIA)" in p8
    p20 = _plan(relational.q20_potential_promotion(spark, SF_DIR))
    assert "StringStartsWith(p_name,red)" in p20
    assert "GreaterThanOrEqual(l_shipdate," in p20


def test_q11_q15_threshold_broadcast(spark):
    """q11/q15's global scalar (total / max) must arrive as a ONE-row
    broadcast — never a shuffle of the aggregate side against it."""
    for fn in (relational.q11_important_stock, relational.q15_top_supplier):
        plan = _plan(fn(spark, SF_DIR))
        assert "BroadcastExchange" in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__


def test_j13_bloom_probe_is_mapside_and_join_is_semi(spark):
    """j13: the bloom probe (xxhash64 bit tests) must be a plain Filter
    fed by the broadcast bloom row — never a shuffle — and the
    false-positive cleanup must be a genuine LeftSemi hash join."""
    plan = _plan(relational.j13_bloom_semi_join(spark, SF_DIR))
    assert "xxhash64" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    # the bloom row arrives via broadcast; the probe filter references
    # the map lookup, which only a broadcast (not an exchange of the
    # fact side keyed on bloom) can deliver map-side
    assert "BroadcastExchange" in plan


def test_q16_anti_join_and_early_distinct(spark):
    """q16: NOT-IN is a left-anti join, and the (part, supp) bridge
    dedups BEFORE the dim join (HashAggregate below the join)."""
    plan = _plan(relational.q16_parts_supplier(spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
