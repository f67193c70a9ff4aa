"""Round-10 operator invariants: s10 occupancy-capped ANN (the ml09
migration off s02's convicted-quadratic fixed buckets, round-9 VERDICT
ask #3) and its refined-path oracle coverage."""

from __future__ import annotations

import duckdb

from customer_review__etl_spark.plans import mlplans, simplans
from customer_review__etl_spark.plans.simplans import (
    ANN_PLANES,
    ANN_TOPK,
    _cos,
    _sql_bucket,
)

from test_differential_edges import duck_views

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


def _s02_sql() -> str:
    """s02, the fixed-bucket sign-LSH ANN that s07 and s10 refine, as
    DuckDB SQL: exact cosine top-ANN_TOPK within each query's 64-way
    bucket. The reference the s07/s10 recall tests compare against."""
    return f"""
        WITH e AS (
          SELECT vec_id, embedding, embedding::DOUBLE[] AS v,
                 {_sql_bucket(ANN_PLANES)} AS bucket
          FROM embeddings
        ),
        pairs AS (
          SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                 {_cos('q.v', 'c.v')} AS cos
          FROM e q JOIN e c
            ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
        ),
        ranked AS (
          SELECT q_id, n_id, cos,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY cos DESC, n_id) AS rn
          FROM pairs
        )
        SELECT q_id, n_id, cos, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= {ANN_TOPK}
        """


def s02_rows(sf_dir: str) -> list[tuple]:
    """(q_id, n_id, cos, rn) rows of _s02_sql over `sf_dir`."""
    return duck_views(sf_dir, ["embeddings"]).execute(_s02_sql()).fetchall()


def test_s10_equals_s02_below_cap(spark):
    """With every bucket under the shipped cap (sf0.01: ~8/bucket) the
    sentinel sub-key makes s10 bit-identical to s02 — which is exactly
    why ml09's vote semantics survive the migration unchanged at
    oracle-checked scales."""
    s02 = set(s02_rows(SF01))
    s10 = {tuple(r) for r in simplans.s10_capped_ann(spark, SF01).collect()}
    assert s10 == s02


def test_s10_refined_path_matches_oracle(spark, monkeypatch):
    """Small cap at sf0.001 forces refinement + multiprobe on the
    DataFrame side AND in the parameterized oracle — the refined path
    gets differential coverage, not just pytest invariants."""
    monkeypatch.setattr(simplans, "S10_BUCKET_CAP", 2)
    sdf = simplans.s10_capped_ann(spark, SF001)
    srows = {(r.q_id, r.n_id, r.cos, r.rn) for r in sdf.collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{SF001}/embeddings.parquet'"
    )
    orows = set(con.execute(simplans._s10_sql()).fetchall())
    assert srows, "cap must be small enough to refine yet emit pairs"
    assert srows == orows


def test_s10_depth2_level_loop_matches_oracle(spark, monkeypatch):
    """Round-11: the generalized level loop on the directed shape — at
    sf0.01 under cap 2 level 2 is genuinely ACTIVE (the depth-1 and
    depth-2 oracles disagree, verified below), and both depths stay
    bit-exact against the depth-parameterized oracle generated by the
    same loop. (No subset relation here: pruning CANDIDATES can change
    which neighbors make the top-k, unlike s09's pair set.)"""
    sf = "/root/testdata/sf0.01"
    monkeypatch.setattr(simplans, "S10_BUCKET_CAP", 2)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{sf}/embeddings.parquet'"
    )
    assert simplans.S10_MAX_DEPTH >= 2
    s2 = {(r.q_id, r.n_id, r.cos, r.rn)
          for r in simplans.s10_capped_ann(spark, sf).collect()}
    o2 = set(con.execute(simplans._s10_sql()).fetchall())
    assert s2 and s2 == o2
    monkeypatch.setattr(simplans, "S10_MAX_DEPTH", 1)
    s1 = {(r.q_id, r.n_id, r.cos, r.rn)
          for r in simplans.s10_capped_ann(spark, sf).collect()}
    o1 = set(con.execute(simplans._s10_sql()).fetchall())
    assert s1 == o1
    assert s2 != s1, "level 2 must be active (it reshapes the top-k)"


def test_s10_stress_cap_keeps_neighbor_recall(spark, monkeypatch):
    """Under a stress cap every bucket refines; multiprobe must keep a
    usable fraction of s02's exact-bucket top-3 edges. Candidates can
    only shrink (refinement splits buckets), so rank-k membership can
    only move toward worse neighbors — recall is the one number that
    matters."""
    s02 = {(q, n) for q, n, _, _ in s02_rows(SF01)}
    monkeypatch.setattr(simplans, "S10_BUCKET_CAP", 3)
    s10 = {(r.q_id, r.n_id)
           for r in simplans.s10_capped_ann(spark, SF01).collect()}
    assert len(s10 & s02) >= 0.5 * len(s02)


def test_ml09_rides_s10_generator(spark):
    """ml09's materialized kNN leg must be the s10 builder (the
    migration is structural, not cosmetic): the scratch kind is
    s10_knn and its pairs equal s10's (q_id, n_id) projection."""
    knn = {(r.q_id, r.n_id)
           for r in mlplans.s10_knn_pairs_m(spark, SF01).collect()}
    s10 = {(r.q_id, r.n_id)
           for r in simplans.s10_capped_ann(spark, SF01).collect()}
    assert knn == s10
