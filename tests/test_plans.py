"""Physical-plan quality gates: the properties that make these plans
scale (broadcast for dims, pushdown, pruning, partial aggregation,
codegen) asserted on the actual explain output — not just eyeballed."""

from __future__ import annotations

import ast
import copy
from pathlib import Path

import __spark_entry__ as entrymod
from customer_review__etl_spark.plans import relational

from conftest import SF_DIR

PLANS_DIR = Path(relational.__file__).resolve().parent
ENGINE_DIR = PLANS_DIR.parent
REPO = ENGINE_DIR.parent


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
    it: scratch.cache_slot. A bare .cache()/.persist() is kept by
    Spark's CacheManager for the life of the session and is served,
    matched by path, after its table is rewritten in place."""
    bare = []
    for path in [*sorted(PLANS_DIR.glob("*.py")), ENGINE_DIR / "scratch.py"]:
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path.name == "scratch.py":
            (slot,) = [
                f for f in tree.body
                if isinstance(f, ast.FunctionDef) and f.name == "cache_slot"
            ]
            allowed = {id(n) for n in ast.walk(slot)}
        bare += [
            f"{path.name}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Attribute)
            and n.attr in ("cache", "persist")
            and id(n) not in allowed
        ]
    assert bare == []


# Module-level state outside store.py, each with the reason it is not
# a value kept between calls for some input.
STATE_OUTSIDE_STORE = {
    "plans/__init__.py:_REGISTRY": (
        "the query registry, built once from the code on first use; "
        "no input can supersede it"
    ),
}


def test_engine_state_lives_in_the_store():
    """Everything the engine keeps between calls is a store request
    (store.py), made for an input identity and released under the
    store's one rule. Fails on module-level state anywhere else: a
    module-level name that engine code mutates (assigns or deletes a
    subscript of, calls a mutating method on, or rebinds through
    `global`), and a module-level threading.local() or lock."""
    mutators = {
        "setdefault", "pop", "popitem", "update", "clear",
        "append", "extend", "insert", "add", "discard", "remove",
    }
    found = set()
    for path in sorted(ENGINE_DIR.rglob("*.py")):
        rel = path.relative_to(ENGINE_DIR).as_posix()
        if rel == "store.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        defs = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        top = set()
        for stmt in tree.body:
            if isinstance(stmt, defs):
                continue
            for n in ast.walk(stmt):
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                    top.add(n.id)
                if isinstance(n, ast.Call):
                    f = n.func
                    called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                    if called in ("local", "Lock", "RLock"):
                        found.add(f"{rel}:{n.lineno}")
        for n in ast.walk(tree):
            if isinstance(n, ast.Global):
                found |= {f"{rel}:{g}" for g in n.names}
                continue
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in mutators
            ):
                hit = n.func.value
            elif isinstance(n, (ast.Assign, ast.AugAssign, ast.Delete)):
                targets = getattr(n, "targets", None) or [n.target]
                hit = next(
                    (t.value for t in targets if isinstance(t, ast.Subscript)),
                    None,
                )
            else:
                continue
            if isinstance(hit, ast.Name) and hit.id in top:
                found.add(f"{rel}:{hit.id}")
    assert found == set(STATE_OUTSIDE_STORE)


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _non_test_trees() -> tuple[list[Path], dict[Path, ast.Module]]:
    """The engine's files, and the parsed trees of all non-test code:
    the engine, perfbench/ and __spark_entry__.py."""
    engine = sorted(ENGINE_DIR.rglob("*.py"))
    others = sorted((REPO / "perfbench").glob("*.py"))
    trees = {
        p: ast.parse(p.read_text(), str(p))
        for p in [*engine, *others, REPO / "__spark_entry__.py"]
    }
    return engine, trees


def _is_function(stmt) -> bool:
    return isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef))


def _class_of(expr, classes):
    """The class C when `expr` is a call chain that starts with C(...),
    such as C(a).ensure(); else None."""
    while isinstance(expr, (ast.Call, ast.Attribute)):
        called = getattr(expr, "func", None)
        if isinstance(called, ast.Name) and called.id in classes:
            return called.id
        expr = expr.func if isinstance(expr, ast.Call) else expr.value
    return None


def _method_uses(node, classes, owner=None) -> set[str]:
    """'C.m' for each attribute m taken, inside `node`, on a value of
    an engine class C: a C(...) call chain, a name bound to one, a
    parameter annotated C, or `self` inside a method of C (`owner`)."""
    typed = {"self": owner} if owner else {}
    for n in ast.walk(node):
        if isinstance(n, ast.arg) and n.annotation is not None:
            ann = n.annotation
            name = getattr(ann, "id", getattr(ann, "value", None))
            if name in classes:
                typed[n.arg] = name
        elif isinstance(n, ast.Assign) and _class_of(n.value, classes):
            for t in n.targets:
                if isinstance(t, ast.Name):
                    typed[t.id] = _class_of(n.value, classes)
    uses = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute):
            v = n.value
            if isinstance(v, ast.Name):
                cls = typed.get(v.id)
            else:
                cls = _class_of(v, classes)
            if cls:
                uses.add(f"{cls}.{n.attr}")
    return uses


def test_engine_code_is_reached_by_non_test_code():
    """Only what a user reaches stays in the engine. Every engine
    module is imported by non-test code (the engine, perfbench/,
    __spark_entry__.py), and every top-level engine def, class and
    constant (an assignment target) is used by name from a live
    top-level statement of that code, other than its own statement.
    So is every method of an engine class with no base class (Spark
    calls the methods of its subclasses): a live statement must take
    it as an attribute of a value of that class (see _method_uses);
    dunder methods come with their class.
    Liveness is a fixed point: the other module-level statements and
    all of perfbench/ and __spark_entry__.py are live; an engine name
    becomes live once a live statement names it. Imports and __all__
    entries are not uses; dunder names such as __version__ are
    exempt."""
    engine, trees = _non_test_trees()
    classes = {
        s.name
        for p in engine
        for s in trees[p].body
        if isinstance(s, ast.ClassDef) and not s.bases
    }

    imported = set()
    for path, tree in trees.items():
        pkg = _module_name(path)
        if path.name != "__init__.py":
            pkg = pkg.rpartition(".")[0]
        for n in ast.walk(tree):
            if isinstance(n, ast.Import):
                names = [a.name for a in n.names]
            elif isinstance(n, ast.ImportFrom):
                base = n.module or ""
                if n.level:
                    up = pkg.rsplit(".", n.level - 1)[0]
                    base = f"{up}.{base}" if base else up
                names = [base, *(f"{base}.{a.name}" for a in n.names)]
            else:
                continue
            for name in names:
                parts = name.split(".")
                imported.update(
                    ".".join(parts[:i]) for i in range(1, len(parts) + 1)
                )
    unimported = [
        _module_name(p) for p in engine if _module_name(p) not in imported
    ]

    def targets(stmt):
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            return [stmt.name]
        if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
            nodes = stmt.targets if isinstance(stmt, ast.Assign) else [
                stmt.target
            ]
            return [
                n.id for t in nodes for n in ast.walk(t)
                if isinstance(n, ast.Name)
            ]
        return []

    # (path, name, statement, owning class) of every engine name not
    # yet reached; a method's name is "Class.method"
    pending, live = [], []
    for path, tree in trees.items():
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            defined = targets(stmt) if path in engine else []
            if any(n.startswith("__") for n in defined):
                continue  # __all__, __version__: not engine code
            if defined and getattr(stmt, "name", None) in classes:
                methods = [
                    m for m in stmt.body
                    if _is_function(m) and not m.name.startswith("__")
                ]
                shell = copy.copy(stmt)
                shell.body = [m for m in stmt.body if m not in methods]
                pending.append((path, stmt.name, shell, stmt.name))
                pending += [
                    (path, f"{stmt.name}.{m.name}", m, stmt.name)
                    for m in methods
                ]
            elif defined:
                pending += [(path, n, stmt, None) for n in defined]
            else:
                live.append((stmt, None))

    def names(stmts):
        used = set()
        for s, owner in stmts:
            used |= _method_uses(s, classes, owner)
            used |= {
                n.id if isinstance(n, ast.Name) else n.attr
                for n in ast.walk(s)
                if isinstance(n, (ast.Name, ast.Attribute))
            }
        return used

    used = names(live)
    while reached := [d for d in pending if d[1] in used]:
        pending = [d for d in pending if d[1] not in used]
        used |= names((s, owner) for _, _, s, owner in reached)
    unreached = [
        f"{p.relative_to(REPO)}:{s.lineno} {n}" for p, n, s, _ in pending
    ]
    assert not (unimported or unreached), (
        f"modules only tests import: {unimported}; "
        f"names only tests reach: {unreached}"
    )


# Engine options that no non-test call varies, each with the reason it
# stays an option.
OPTIONS_NO_CALL_VARIES = {
    "app/pipeline.py:run_pipeline": (
        ("bucket_url", "execution_ts"),
        "deployment settings: the object store a run publishes to and "
        "the run id its keys carry are the deployment's, not the engine's",
    ),
}


def test_engine_options_are_set_by_a_user():
    """Only what a user sets stays an option. Every defaulted parameter
    of a top-level engine function or of a method of an engine class
    with no base class, and every defaulted dataclass field, takes at
    least two distinct values across the calls in non-test code (the
    engine, perfbench/, __spark_entry__.py), an omitted argument
    counting as the default, and at least one of those calls omits it.
    A value is an argument's source text; a call with *args or
    **kwargs may pass anything. Calls are matched by name: `f(...)` or
    `x.f(...)` (self bound for a method), `C(...)` for a dataclass's
    fields.

    Every parameter of a top-level engine function, and of a method of
    an engine class with no base class, is read by its body. Exempt
    are the signatures Spark or the registry fixes: registry builders
    (spark, sf_dir), and the methods of subclasses of Spark's classes
    (DataSource readers). foreachBatch sinks are nested functions,
    which neither check covers."""
    engine, trees = _non_test_trees()
    found: dict[str, str] = {}
    sigs: dict[str, list] = {}  # callee name -> [(where, params, defaults)]
    for path in engine:
        rel = path.relative_to(ENGINE_DIR).as_posix()
        for stmt in trees[path].body:
            fns = [(stmt.name, stmt, 0)] if _is_function(stmt) else []
            if isinstance(stmt, ast.ClassDef):
                fields = [
                    f for f in stmt.body
                    if isinstance(f, ast.AnnAssign) and f.simple
                ]
                sigs.setdefault(stmt.name, []).append((
                    f"{rel}:{stmt.name}",
                    [f.target.id for f in fields],
                    {f.target.id: f.value for f in fields if f.value},
                ))
                fns += [
                    (m.name, m, 1)
                    for m in stmt.body
                    if _is_function(m) and not stmt.bases
                ]
            for name, fn, bound in fns:
                qual = name if fn is stmt else f"{stmt.name}.{name}"
                where = f"{rel}:{qual}"
                a = fn.args
                positional = [x.arg for x in a.posonlyargs + a.args]
                first = len(positional) - len(a.defaults)
                defaults = dict(zip(positional[first:], a.defaults))
                defaults |= {
                    x.arg: d for x, d in zip(a.kwonlyargs, a.kw_defaults) if d
                }
                callee = stmt.name if name == "__init__" else name
                sigs.setdefault(callee, []).append(
                    (where, positional[bound:], defaults)
                )
                params = positional[bound:] + [x.arg for x in a.kwonlyargs]
                params += [x.arg for x in (a.vararg, a.kwarg) if x]
                if params == ["spark", "sf_dir"]:
                    continue  # registry builder
                read = {
                    n.id for n in ast.walk(fn)
                    if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
                }
                for x in params:
                    if x not in read:
                        found[f"{where}({x})"] = "never read by its body"

    values: dict[str, set[str]] = {}
    omitted: set[str] = set()
    calls = [n for t in trees.values() for n in ast.walk(t)
             if isinstance(n, ast.Call)]
    for call in calls:
        f = call.func
        name = getattr(f, "attr", getattr(f, "id", None))
        star = any(isinstance(x, ast.Starred) for x in call.args) or any(
            k.arg is None for k in call.keywords
        )
        for where, positional, defaults in sigs.get(name, []):
            given = {
                p: ast.unparse(x)
                for p, x in zip(positional, call.args)
                if not isinstance(x, ast.Starred)
            }
            given |= {
                k.arg: ast.unparse(k.value) for k in call.keywords if k.arg
            }
            for p, d in defaults.items():
                key = f"{where}({p})"
                if p in given or star:
                    values.setdefault(key, set()).add(given.get(p, "*"))
                else:
                    values.setdefault(key, set()).add(ast.unparse(d))
                    omitted.add(key)
    for where, _, defaults in (s for lst in sigs.values() for s in lst):
        for p in defaults:
            key = f"{where}({p})"
            vals = sorted(values.get(key, ()))
            if len(vals) < 2:
                found[key] = f"takes only {vals} across non-test calls"
            elif key not in omitted:
                found[key] = "no non-test call omits it"

    exempt = {
        f"{where}({p})"
        for where, (params, _) in OPTIONS_NO_CALL_VARIES.items()
        for p in params
    }
    assert set(found) == exempt, "\n".join(
        [f"{k}: {v}" for k, v in sorted(found.items()) if k not in exempt]
        + [f"{k}: exempt, but a user sets it"
           for k in sorted(exempt - set(found))]
    )


def test_registry_head_covers_every_family():
    """The external verifier samples only the registry head (~50 entries);
    every query family must keep at least one representative there, or new
    additions silently push a family past the verification horizon."""
    from customer_review__etl_spark.plans import PRIORITY, all_queries

    head = list(all_queries())[:50]
    assert head == list(PRIORITY[:50])
    for fam in (
        "p", "a", "q", "j", "w", "g", "f", "u",
        "t0", "d0", "s0", "st", "ml", "mm", "io",
    ):
        assert any(n.startswith(fam) for n in head), f"family {fam} not in head"
    # the head is maximally oracle-checked: the ONLY rows-only entries
    # admitted are the four documented non-SQL-expressible ops
    # (round-11 VERDICT ask #4 / round-12 ask #1 — scheduled into the
    # r13 head so the driver's weaker rows-only check lands on record
    # and never_driver_sampled reaches 0). Any OTHER rows-only entry in
    # the head is a scheduling bug: it would spend an oracle-checkable
    # slot on a weaker check.
    specs = all_queries()
    rows_only_in_head = {n for n in head if specs[n].oracle is None}
    assert rows_only_in_head <= {
        "t02_stemmed_chain",
        "ml01_lda_themes",
        "ml02_topic_top_words",
        "ml04_classifier_metrics",
    }


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
    """d03's candidate generation must be equi-joins (hash/SMJ), never
    BroadcastNestedLoopJoin — the OR-of-bands form would be all-pairs.
    (s09's banded joins are held to the same rule by the registry
    sweep's exact EXPECTED_BNLJ set.)"""
    from customer_review__etl_spark.plans import dedupplans

    plan = _plan(dedupplans.d03_simhash_near_dup(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
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
