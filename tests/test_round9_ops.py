"""Round-9 operators: pure-Python triangulation for d08's winnowing
completeness, the st13 late-drop pin (rows genuinely dropped, windows
emitted once), and structural invariants for pl03 / t27 / gr06 / p20 /
w13 that the DuckDB oracles cannot express (they pin VALUES; these pin
the PROPERTIES the operators promise)."""

from __future__ import annotations

from pyspark.sql import functions as F

from customer_review__etl_spark.plans import (
    dedupplans,
    graphplans,
    pipelineplans,
    relational,
    streamplans,
    textplans,
)
from customer_review__etl_spark.sources import tables

from conftest import SF_DIR
from test_differential_edges import duck_views

L = dedupplans.D08_SUBSTR_LEN


def _brute_pairs(docs: list[tuple[int, str]]) -> set[tuple[int, int]]:
    """Ground truth: pairs sharing any L-gram (≡ common substring ≥ L)."""
    grams: dict[str, set[int]] = {}
    for did, txt in docs:
        for i in range(len(txt) - L + 1):
            grams.setdefault(txt[i : i + L], set()).add(did)
    pairs: set[tuple[int, int]] = set()
    for ds in grams.values():
        ds = sorted(ds)
        for i in range(len(ds)):
            for j in range(i + 1, len(ds)):
                pairs.add((ds[i], ds[j]))
    return pairs


def test_d08_matches_pure_python_brute_force(spark, tmp_path):
    """Winnowing completeness, triangulated (the t19/t21 pattern): on a
    constructed corpus with planted shared runs at, above, and just
    below the L=40 threshold — plus repeated boilerplate shared by
    THREE docs (the quadratic-output case) — d08 must return exactly
    the brute-force all-L-grams pair set."""
    lic = "x" * 20 + " this license block is shared verbatim " + "y" * 20
    assert len(lic) >= L
    run39 = "z" * 39  # one char below threshold
    docs = [
        (0, "prefix " + lic),
        (1, lic + " suffix"),
        (2, "mid " + lic + " tail"),        # boilerplate clique of 3
        (3, "a" + run39),
        (4, run39 + "b"),                   # share exactly 39 -> no pair
        (5, "unrelated content " * 5),
        (6, "short doc"),                   # below length filter
        (7, ("unrelated content " * 5) + "!"),  # shares 85-char run w/ 5
    ]
    spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in docs],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in dedupplans.d08_repeated_substrings(
            spark, str(tmp_path)
        ).collect()
    }
    want = _brute_pairs(docs)
    assert {(0, 1), (0, 2), (1, 2), (5, 7)} <= want  # the planted truths
    assert (3, 4) not in want
    assert got == want


def test_st13_late_rows_really_dropped_and_windows_emit_once(spark):
    """The audit must exercise both watermark rules: some arrival-batch
    rows are genuinely dropped (emitted counts < all on-time-input
    counts), every emitted window appears exactly once, and emitted
    totals stay consistent (0 < Σn < total non-NULL-ts events)."""
    out = streamplans.st13_late_data_audit(spark, SF_DIR).collect()
    assert out, "fixture corpus must finalize at least one window"
    starts = [r.wstart for r in out]
    assert len(starts) == len(set(starts))  # append emits once
    emitted = sum(r.n for r in out)
    total = (
        tables.load(spark, SF_DIR, "events")
        .filter(F.col("ts").isNotNull())
        .count()
    )
    assert 0 < emitted < total, (
        "no late drop / unfinalized window observed — the multi-batch "
        "replay degenerated into a single batch"
    )


def test_pl03_ranks_and_rrf_consistent(spark):
    """Per query: ranks are 1..k gapless, rrf is non-increasing along
    rank, and every rrf value equals the RRF formula applied to its own
    (r_lex, r_sem) columns."""
    from customer_review__etl_spark.plans.simplans import RRF_K

    rows = pipelineplans.pl03_retrieval_corpus(spark, SF_DIR).collect()
    assert rows
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= pipelineplans.PL03_TOPK
        prev = None
        for r in rs:
            expect = (1.0 / (RRF_K + r.r_lex) if r.r_lex is not None else 0.0) + (
                1.0 / (RRF_K + r.r_sem) if r.r_sem is not None else 0.0
            )
            assert r.rrf == expect
            assert prev is None or r.rrf <= prev
            prev = r.rrf


def test_t27_thirds_are_balanced_and_unscored_is_exactly_sub2(spark):
    """Scored docs split into thirds whose sizes differ by ≤ 1;
    'unscored' is exactly the sub-2-bigram set; bucket boundaries agree
    with the rank column."""
    rows = textplans.t27_perplexity_buckets(spark, SF_DIR).collect()
    assert rows
    scored = [r for r in rows if r.bucket != "unscored"]
    for r in rows:
        assert (r.bucket == "unscored") == (r.n_bigrams == 0)
        if r.bucket == "unscored":
            assert r.bucket_rank is None
    n = len(scored)
    sizes = {
        b: sum(1 for r in scored if r.bucket == b)
        for b in ("head", "middle", "tail")
    }
    assert sum(sizes.values()) == n
    assert max(sizes.values()) - min(sizes.values()) <= 1
    for r in scored:
        third = (
            "head"
            if 3 * r.bucket_rank <= n
            else "middle" if 3 * r.bucket_rank <= 2 * n else "tail"
        )
        assert r.bucket == third


def test_gr06_communities_are_graph_labels(spark):
    """Every community label is itself a node of the thresholded graph,
    and nodes match gr05's node set (same edge threshold)."""
    lpa = {r.node: r.community
           for r in graphplans.gr06_label_propagation(spark, SF_DIR).collect()}
    cc = {r.part
          for r in graphplans.gr05_connected_components(spark, SF_DIR).collect()}
    assert set(lpa) == cc
    assert set(lpa.values()) <= set(lpa)


def test_p20_ordinal_is_a_stage_sorted_permutation(spark):
    """Ordinals are a 1..n permutation; stage is non-decreasing along
    the ordinal; stage really is the bit length of n_tokens."""
    rows = relational.p20_length_curriculum(spark, SF_DIR).collect()
    n = len(rows)
    assert n > 0
    assert sorted(r.ordinal for r in rows) == list(range(1, n + 1))
    rows.sort(key=lambda r: r.ordinal)
    for a, b in zip(rows, rows[1:]):
        assert a.stage <= b.stage
    for r in rows:
        assert r.stage == max(r.n_tokens, 0).bit_length() or (
            r.n_tokens == 0 and r.stage == 1  # bin(0) = '0' has length 1
        )


def test_w13_fill_semantics(spark):
    """Non-NULL values pass through unchanged; once a user has observed
    a value, no later row stays NULL; rows before the first observation
    stay NULL and are not flagged."""
    rows = relational.w13_forward_fill(spark, SF_DIR).collect()
    assert rows
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for rs in by_user.values():
        rs.sort(key=lambda r: (r.ts, r.event_id))
        seen = None
        for r in rs:
            if r.value is not None:
                assert r.filled_value == r.value and r.was_filled == 0
                seen = r.value
            elif seen is None:
                assert r.filled_value is None and r.was_filled == 0
            else:
                assert r.filled_value == seen and r.was_filled == 1


def _s03_pairs_sql() -> str:
    """s03, the fixed-band sign-LSH near-dup miner that s09 refines, as
    DuckDB SQL: pairs sharing either 3-plane band bucket with exact
    cosine ≥ NEAR_COS. The reference s09's pair set is compared with."""
    from customer_review__etl_spark.plans.simplans import (
        NEAR_COS,
        _cos,
        _sql_bucket,
    )

    return f"""
        WITH e AS (
          SELECT vec_id, embedding, embedding::DOUBLE[] AS v,
                 {_sql_bucket(3, 0)} AS band0,
                 {_sql_bucket(3, 3)} AS band1
          FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_cos('a.v', 'b.v')} AS cos
        FROM e a JOIN e b
          ON (a.band0 = b.band0 OR a.band1 = b.band1)
         AND a.vec_id < b.vec_id
        WHERE {_cos('a.v', 'b.v')} >= {NEAR_COS}
    """


def test_s09_subset_of_s03_with_recall_floor(spark, monkeypatch):
    """Occupancy-adaptive LSH must only PRUNE s03's candidates (never
    invent pairs), stay lossless when no bucket exceeds the cap, and
    keep a usable recall under an aggressive stress cap thanks to the
    level-2 multiprobe (0.22 without it, measured)."""
    from customer_review__etl_spark.plans import simplans

    sf = "/root/testdata/sf0.01"
    con = duck_views(sf, ["embeddings"])
    s03 = {(a, b) for a, b, _ in con.execute(_s03_pairs_sql()).fetchall()}
    assert s03, "fixture corpus must contain near-dup pairs"
    # shipped cap: sf0.01 buckets (~60) stay below 200 -> lossless
    s09 = {(r.vec_a, r.vec_b)
           for r in simplans.s09_capped_lsh_neardup(spark, sf).collect()}
    assert s09 == s03
    # stress cap: every bucket refines; multiprobe holds the floor
    monkeypatch.setattr(simplans, "S09_BUCKET_CAP", 20)
    s09s = {(r.vec_a, r.vec_b)
            for r in simplans.s09_capped_lsh_neardup(spark, sf).collect()}
    assert s09s <= s03
    assert len(s09s) >= 0.6 * len(s03)
    # depth-2 stress (round-10): sub-bucket cap tiny too, so the
    # level-3 split + multiprobe (planes 12-14) activates; deeper
    # refinement may only prune FURTHER, and the per-level ~0.69x
    # multiprobe recall trade bounds the two-level floor at ~0.5
    monkeypatch.setattr(simplans, "S09_SUBBUCKET_CAP", 20)
    s09d = {(r.vec_a, r.vec_b)
            for r in simplans.s09_capped_lsh_neardup(spark, sf).collect()}
    assert s09d <= s09s
    assert len(s09d) >= 0.5 * len(s03)


def test_s09_depth2_refined_path_matches_oracle(spark, monkeypatch):
    """Round-9 ADVICE #4: the refined + multiprobe paths (BOTH levels)
    get differential oracle coverage under small caps — the shipped-cap
    differential only exercises the sentinel (-1) path on small SFs.
    Caps sized so at sf0.001 (~50 vecs) level-1 buckets (>5) refine and
    any sub-bucket with >=2 members depth-2 refines."""
    import duckdb

    from customer_review__etl_spark.plans import simplans

    sf = "/root/testdata/sf0.001"
    monkeypatch.setattr(simplans, "S09_BUCKET_CAP", 5)
    monkeypatch.setattr(simplans, "S09_SUBBUCKET_CAP", 1)
    sdf = simplans.s09_capped_lsh_neardup(spark, sf)
    srows = {(r.vec_a, r.vec_b, r.cos) for r in sdf.collect()}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{sf}/embeddings.parquet'"
    )
    orows = {
        (a, b, c)
        for a, b, c in con.execute(
            simplans._s09_sql()
        ).fetchall()
    }
    assert srows, "caps must be small enough to still emit pairs"
    assert srows == orows


def test_s09_depth3_level_loop_matches_oracle(spark, monkeypatch):
    """Round-11: the generalized level loop — at sf0.01 under caps
    (5, 1) level 3 is genuinely ACTIVE (it prunes the depth-2 result,
    verified below), and both depths stay bit-exact against the
    depth-parameterized oracle generated by the same loop. Deeper
    levels may only PRUNE (refinement splits, never merges)."""
    import duckdb

    from customer_review__etl_spark.plans import simplans

    sf = "/root/testdata/sf0.01"
    monkeypatch.setattr(simplans, "S09_BUCKET_CAP", 5)
    monkeypatch.setattr(simplans, "S09_SUBBUCKET_CAP", 1)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{sf}/embeddings.parquet'"
    )
    assert simplans.S09_MAX_DEPTH >= 3
    s3 = {
        (r.vec_a, r.vec_b, r.cos)
        for r in simplans.s09_capped_lsh_neardup(spark, sf).collect()
    }
    o3 = set(con.execute(simplans._s09_sql()).fetchall())
    assert s3 and s3 == o3
    monkeypatch.setattr(simplans, "S09_MAX_DEPTH", 2)
    s2 = {
        (r.vec_a, r.vec_b, r.cos)
        for r in simplans.s09_capped_lsh_neardup(spark, sf).collect()
    }
    o2 = set(
        con.execute(simplans._s09_sql()).fetchall()
    )
    assert s2 == o2
    assert s3 < s2, "level 3 must be active (strict pruning) here"
