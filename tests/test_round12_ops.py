"""Round-12 operator invariants: occupancy-gated ADAPTIVE DEPTH for
s09/s10 (round-11 VERDICT ask #3) — the pre-scan must compile only the
levels the corpus saturates, and the shallow plan must stay
hash-identical to the static depth-MAX oracle (the dormant-level
equivalence the docstrings argue)."""

from __future__ import annotations

import re
import shutil

import duckdb

from customer_review__etl_spark.plans import simplans

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _counts(df) -> tuple[int, int]:
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return (
        len(re.findall(r"\(\d+\) Exchange", plan)),
        plan.count("BroadcastHashJoin"),
    )


def test_cascade_effective_depth_unit():
    """Driver-side cascade on hand-built fine tables: dormant level 1
    → depth 1 (the floor); saturated chains count level by level; the
    restriction to saturated parents is what stops a crowded SIBLING
    from activating a deeper level."""
    caps = (2, 2)
    # fine rows carry (base..., r1..r_{max_depth-1}, n) — two r
    # columns for max_depth=3, matching the real pre-scan's grouping
    # every (band,bv) ≤ cap → level 1 dormant → floor depth 1
    fine = [(0, 1, 7, 4, 1), (0, 2, 7, 4, 1), (1, 1, 7, 4, 2)]
    assert simplans._cascade_effective_depth(fine, 2, caps, 3) == 1
    # (0,1) has 5 members (> 2) but splits into r1 sub-buckets of ≤ 2
    # → level 1 active, level 2 dormant → only level 1 compiles
    fine = [(0, 1, 0, 4, 2), (0, 1, 1, 4, 2), (0, 1, 2, 4, 1)]
    assert simplans._cascade_effective_depth(fine, 2, caps, 3) == 1
    # (0,1) saturates AND its r1=0 sub-bucket holds 3 > 2, whose
    # members then split across r2 (2/1 ≤ cap) → depth 2
    fine = [(0, 1, 0, 0, 2), (0, 1, 0, 1, 1), (0, 1, 1, 9, 1)]
    assert simplans._cascade_effective_depth(fine, 2, caps, 3) == 2
    # a crowded sub-path under an UNSATURATED parent must not count:
    # (1,2) holds 2 ≤ cap, so its r1=0 group never becomes a level-2
    # size row even though a filterless group-by would see it
    fine = [(0, 1, 0, 0, 2), (0, 1, 0, 1, 1), (1, 2, 0, 0, 2)]
    assert simplans._cascade_effective_depth(fine, 2, caps, 3) == 2
    # still-saturated members sharing every sub-key activate each
    # level in turn; depth is clamped at max_depth (the oracle's)
    fine = [(0, 1, 0, 0, 100)]
    assert simplans._cascade_effective_depth(fine, 2, caps, 3) == 3
    # empty corpus → floor
    assert simplans._cascade_effective_depth([], 2, caps, 3) == 1


def test_adaptive_depth_choice_by_scale(spark):
    """At fixture scales the pre-scan must pick shallow plans: sf0.01
    sits under every cap (depth 1 for both ops) and sf0.1 saturates
    s09's level 1 and 2 but not 3 (the corpus the r11 verdict flagged
    as paying 17 dormant exchanges)."""
    assert simplans._s09_effective_depth(spark, SF01) == 1
    assert simplans._s10_effective_depth(spark, SF01) == 1
    sf01 = "/root/testdata/sf0.1"
    assert simplans._s09_effective_depth(spark, sf01) == 2
    assert simplans._s10_effective_depth(spark, sf01) == 1


def test_adaptive_depth_shrinks_compiled_plan(spark):
    """The r11 regression in numbers: at sf0.01 the depth-3 s09 plan
    carried 17 exchanges / 34 broadcast joins of dormant machinery.
    Adaptive depth must compile the shallow plan. Pinned counts are
    the round-12 audited values AFTER the wide-broadcast pins (the
    embedding-side verify joins are sort-merge now — never broadcast
    a corpus-sized side — which trades 4 extra small-data exchanges
    at fixture scale for plans that survive any corpus size)."""
    # 9 → 8 exchanges in r16: the trailing presentation orderBy (a
    # range-partitioning Exchange) was removed under the
    # order-insensitive hash contract.
    ex, bc = _counts(simplans.s09_capped_lsh_neardup(spark, SF01))
    assert (ex, bc) == (8, 6), f"s09 sf0.01 plan changed: {ex} ex / {bc} bc"
    ex, bc = _counts(simplans.s10_capped_ann(spark, SF01))
    assert (ex, bc) == (6, 4), f"s10 sf0.01 plan changed: {ex} ex / {bc} bc"


def test_adaptive_shallow_equals_depth_max_oracle(spark):
    """The equivalence the whole feature rests on: the adaptively
    shallow Spark plan must be HASH-IDENTICAL to the static depth-MAX
    oracle (what the driver runs), not merely close."""
    sdf = simplans.s09_capped_lsh_neardup(spark, SF01)
    srows = {(r.vec_a, r.vec_b, r.cos) for r in sdf.collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{SF01}/embeddings.parquet'"
    )
    orows = set(
        con.execute(simplans._s09_sql()).fetchall()
    )
    assert srows == orows


def test_adaptive_depth_honors_stress_caps(spark, monkeypatch):
    """Monkeypatched tiny caps must drive the pre-scan to the ceiling
    (the stress tests' refined paths keep their coverage) and the
    refined result must still match the small-cap depth-MAX oracle."""
    monkeypatch.setattr(simplans, "S09_BUCKET_CAP", 2)
    monkeypatch.setattr(simplans, "S09_SUBBUCKET_CAP", 2)
    assert (
        simplans._s09_effective_depth(spark, SF001)
        == simplans.S09_MAX_DEPTH
    )
    sdf = simplans.s09_capped_lsh_neardup(spark, SF001)
    srows = {(r.vec_a, r.vec_b, r.cos) for r in sdf.collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{SF001}/embeddings.parquet'"
    )
    orows = set(con.execute(simplans._s09_sql()).fetchall())
    assert srows == orows


def test_effective_depth_memoized_per_corpus(spark, monkeypatch, tmp_path):
    """Round-12 ADVICE #2: the occupancy pre-scan must run at most once
    per (op, corpus signature, caps) — explain-only consumers and bench
    reps rebuild s09/s10 far more often than the corpus changes. A
    fresh copy of the corpus has an identity nothing has seen, so the
    first call starts cold."""
    sf = str(tmp_path)
    shutil.copyfile(f"{SF001}/embeddings.parquet", f"{sf}/embeddings.parquet")
    calls = {"n": 0}
    real = simplans._s09_effective_depth_scan

    def counting(sp, sf):
        calls["n"] += 1
        return real(sp, sf)

    monkeypatch.setattr(simplans, "_s09_effective_depth_scan", counting)
    d1 = simplans._s09_effective_depth(spark, sf)
    d2 = simplans._s09_effective_depth(spark, sf)
    assert d1 == d2
    assert calls["n"] == 1
    # a knob change is a different question — it must re-scan
    monkeypatch.setattr(simplans, "S09_BUCKET_CAP", 2)
    monkeypatch.setattr(simplans, "S09_SUBBUCKET_CAP", 2)
    assert simplans._s09_effective_depth(spark, sf) == simplans.S09_MAX_DEPTH
    assert calls["n"] == 2
