"""Registry sweep: every queries() entry over sf0.01, checked two ways.

1. Plan shape. The formatted plan is explained BEFORE the query runs:
   after collect() it is AQE's final plan and the counts differ. A
   nested-loop join appears in exactly the EXPECTED_BNLJ queries, and
   every BroadcastExchange that carries a body/gram/vector column fits
   its EXPECTED_WIDE_BROADCAST pin. Packing queries also check their
   pre-packing subplan, which pack_sequences' localCheckpoint hides.
2. Result. The driver's correctness gate, made stricter: exact multiset
   equality with the DuckDB oracle_sql() twin instead of a value hash.
   The four rows-only queries must return at least one row.

Run one query with `pytest tests/test_registry_sweep.py -k <name>`.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from customer_review__etl_spark.plans import pipelineplans, relational

from test_differential_edges import _multiset, duck_views
from test_plans import _plan

SF_DIR = "/root/testdata/sf0.01"
QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()

# st04-st07 execute a streaming job at plan-build time; the plan check
# covers their batch twin st01 instead.
_STREAMING = {
    "st04_stream_tumbling", "st05_stream_dedup",
    "st06_stateful_stats", "st07_stream_static_join",
}

# Exactly the queries with a nested-loop join: a deliberately tiny
# broadcast side under a non-equi predicate.
EXPECTED_BNLJ = {
    "j06_theta_range",   # theta/range join is BNLJ by definition
    "s01_cosine_topk",   # 16-row broadcast query side, != predicate
    "q22_idle_customers",  # ONE-row global-aggregate threshold, broadcast
    "q11_important_stock",  # ONE-row global-total threshold, broadcast
    "s04_ivf_ann",       # 8-row broadcast centroid table, cross assignment
    "st08_gapfill_resample",  # generated bin spine × 5-value type dim
    "p14_weighted_mix",   # ONE-row (N,G) totals broadcast onto ≤#langs rates
    "t12_vocab_coverage",  # ONE-row token-total broadcast onto top-V slice
    "t13_unigram_surprisal",  # ONE-row corpus-total broadcast onto tokens
    "s06_pq_ann",  # 8-row codebook / 16-row query-LUT broadcast crosses
    "gr01_pagerank",  # ONE-row node-count broadcast onto the degree table
    "ml06_kmeans",  # k-row centroid table broadcast cross per round
    "ml07_naive_bayes",  # #classes-row class-stats broadcast cross (scoring)
    "t14_heavy_hitters",  # ONE-row corpus-total broadcast onto candidates
    "a11_scalable_median",  # ONE-row (N, k) totals broadcast onto histogram
    "t16_tfidf_terms",  # ONE-row doc-count broadcast onto the tf table
    "a09_approx_stats",  # 6-row rank-bracket broadcast onto the histogram
                         # (cum >= k AND prev < k bucket locate) + ONE-row
                         # kth/stats crosses
    "p18_temperature_mix",  # ONE-row (n_total, Σ√n) totals broadcast onto
                            # ≤#langs rates (the p14 shape)
    "ml11_confidence_calibration",  # inherits ml07's #classes-row
                                    # class-stats broadcast crosses
    "a15_revenue_concentration",  # ONE-row revenue-total broadcast onto
                                  # the ~40-row log2 bucket spine
    "j13_bloom_semi_join",  # ONE-row (16 KB bloom bitmap) broadcast cross
                            # onto the fact scan — the runtime-filter probe
    "t24_bm25_topk",  # ONE-row (N, S) corpus-totals broadcast cross onto
                      # the matching postings (the t16 doc-count shape)
    "s08_rrf_fusion",  # inherits t24's totals cross + the ONE-row anchor
                       # embedding broadcast cross (the s01 query shape)
    "pl03_retrieval_corpus",  # inherits the same two tiny crosses at
                              # query-set width: ONE-row (N, S) chunk
                              # totals + the 3-row anchor-embedding
                              # broadcast (vec_id ≠ query anchor non-equi)
    # the pl04-pl06 crosses sit in the pre-packing subplan:
    "pl04_data_recipe",  # inherits p14's ONE-row (N, G) totals broadcast
                         # cross onto the ≤#langs mix-rate table
    "pl05_data_recipe_excised",  # same two p14 totals crosses as pl04
                                 # (shared _pl04_mixed stage)
    "pl06_data_recipe_unified",  # same two p14 totals crosses
                                 # (shared _pl04_mixed, unified surv)
}


# Packing queries: pre-packing builders whose subplan is checked too.
PREPACK = {
    "p19_sequence_pack": relational._p19_packed_in,
    "pl04_data_recipe": pipelineplans._pl04_packed_in,
    "pl05_data_recipe_excised": pipelineplans._pl05_packed_in,
    "pl06_data_recipe_unified": lambda s, d: pipelineplans._pl05_packed_in(
        s, d, unified=True
    ),
}


# Wide-payload broadcasts (round 12). The dc03 catch: under a composed
# consumer's column pruning, Catalyst flipped the build side of dc03's
# anchor join and broadcast the corpus-sized train-gram stream (full
# normalized text on every gram row — 8.2 GiB at the 30× probe, over
# Spark's broadcast hard limit). Estimate-driven build choices are not
# stable across scales or consumers, so every BroadcastExchange whose
# payload includes a body/gram/vector column must be either bounded by
# construction and pinned here with the bound, or a bug. Column-name
# heuristic; `#123` suffixes and qualifiers are stripped before matching.
_WIDE_COL = re.compile(
    r"^(text|norm|ev_norm|cleaned|body|g|gram|grams|anchor_text|shingle|"
    r"shingles|embedding|emb|emb_a|emb_b|q_emb|n_emb|cent_emb|v|toks|"
    r"tokens|words|terms|line|lines|chunk|content|"
    # joined/aliased gram-array columns (r14 d08 catch: the broadcast
    # the check missed carried the arrays under these names)
    r"ga|gb|gs_a|gs_b)$"
)
# Each pin is an upper bound: the allowed wide colsets (one colset is
# "+".join(sorted wide cols of one BroadcastExchange)) and a max hit
# count. A pinned query that later acquires an ADDITIONAL wide
# broadcast — a new colset, or more hits of a known one — fails instead
# of riding the old justification. Fewer hits pass, because estimate
# flips depend on scale. Prepack subplans get their own keys
# ("<name> (prepack)").
EXPECTED_WIDE_BROADCAST: dict[str, tuple[frozenset, int, str]] = {
    # name -> (allowed colsets, max hits, the bound that makes it safe)
    "s01_cosine_topk": (
        frozenset({"q_emb"}), 1, "16-row query-vector side (vec_id < 16)"
    ),
    "s04_ivf_ann": (
        frozenset({"cent_emb"}), 2, "8-row centroid table / 16-row probe side"
    ),
    "s06_pq_ann": (
        frozenset({"cent_emb"}), 2, "8-row codebook + 16-row query LUT"
    ),
    "s08_rrf_fusion": (
        frozenset({"q_emb"}), 1, "ONE anchor embedding row"
    ),
    "pl03_retrieval_corpus": (
        frozenset({"q_emb"}), 1, "3-row anchor embedding side"
    ),
    "dc03_verbatim_decontaminate": (
        frozenset({"ev_norm"}), 1,
        "eval anchor table: one row per eval doc of a benchmark set "
        "(pinned broadcast(anchors) — the round-12 fix)"
    ),
    "ml07_naive_bayes": (
        frozenset({"v"}), 2, "class-stats vectors, ≤ #classes rows"
    ),
    "ml11_confidence_calibration": (
        frozenset({"v"}), 2, "inherits ml07's ≤ #classes-row stats"
    ),
    # r17 gram_arrays landing: the [2, cap]-df ELIGIBLE-KEY sets now
    # carry realistic parquet-scan size estimates, so the candidate/
    # coverage semi-joins broadcast them. The build side is the
    # cap-filtered KEY set — fixed-width (lang[, lbucket], g) rows
    # where `g` is the packed 63-bit BIGINT (level 1) or the 6-char
    # level-2 key, NEVER a gram array — bounded by the blocking
    # keyspace at saturation, and the scan estimate GROWS with the
    # corpus so the flip reverses to SMJ at scale (the safe
    # direction; the r14 hazard was an UNDERestimated corpus-sized
    # payload side flipping TO broadcast).
    "d04_ngram_jaccard": (
        frozenset({"g"}), 1,
        "eligible-key set (narrow fixed-width rows, DF-cap-filtered, "
        "keyspace-bounded; estimate grows with corpus → SMJ at scale)"
    ),
    "d07_containment_pairs": (
        frozenset({"g"}), 1, "same eligible-key bound as d04"
    ),
    "d10_adaptive_block_jaccard": (
        frozenset({"g"}), 3,
        "level-1 coverage + level-2 count/groups eligible-key sets "
        "(same bound as d04; level-2 keys are 6-char strings over the "
        "uncovered stream only)"
    ),
    "d11_adaptive_containment": (
        frozenset({"g"}), 3, "same three eligible-key sets as d10"
    ),
    # Prepack subplans: ONLY dc03's bounded anchor table (inlined once
    # per decontamination consumer) may broadcast wide columns there.
    # Seen at sf0.01 in rounds 13-16 (three hits each); none since the
    # r17 gram_arrays landing changed the estimates.
    "pl04_data_recipe (prepack)": (
        frozenset({"ev_norm"}), 3,
        "dc03's bounded eval-anchor table, inlined 3× "
        "(dc03 + the d05/dc01 fragments' shared scans re-plan it)"
    ),
    "pl05_data_recipe_excised (prepack)": (
        frozenset({"ev_norm"}), 3,
        "same 3 inlined dc03 anchor broadcasts as pl04 "
        "(shared _pl04_mixed stages)"
    ),
    "pl06_data_recipe_unified (prepack)": (
        frozenset({"ev_norm"}), 3,
        "same inlined dc03 anchor broadcasts as pl05 "
        "(shared _pl04_mixed stages; unified surv reads "
        "materialized pair scratch, no extra fragment re-plan)"
    ),
}


def _wide_broadcasts(plan: str) -> list[str]:
    hits = []
    for m in re.finditer(
        r"\(\d+\) BroadcastExchange\s*\nInput \[\d+\]: \[([^\]]*)\]", plan
    ):
        cols = [
            c.strip().split("#")[0].split(".")[-1]
            for c in m.group(1).split(",")
        ]
        wide = [c for c in cols if _WIDE_COL.match(c)]
        if wide:
            hits.append("+".join(sorted(set(wide))))
    return hits


def _check_plans(name: str, plans: dict[str, str]) -> None:
    """`plans` maps a pin key (the query name, or "<name> (prepack)")
    to its formatted plan."""
    n_nlj = sum(
        p.count("BroadcastNestedLoopJoin") + p.count("CartesianProduct")
        for p in plans.values()
    )
    if name in EXPECTED_BNLJ:
        assert n_nlj, f"{name}: listed in EXPECTED_BNLJ but has no BNLJ"
    else:
        assert not n_nlj, f"{name}: unexpected nested-loop join ×{n_nlj}"
    for key, plan in plans.items():
        wide = _wide_broadcasts(plan)
        colsets, max_hits, _why = EXPECTED_WIDE_BROADCAST.get(
            key, (frozenset(), 0, "")
        )
        assert len(wide) <= max_hits and set(wide) <= colsets, (
            f"{key}: wide broadcast {len(wide)}×{wide}, pinned "
            f"≤{max_hits}× of {sorted(colsets)}"
        )


@pytest.fixture(scope="module")
def oracle_con():
    con = duck_views(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_registry_query(spark, oracle_con, name):
    # each plan is built on a clean cache: a relation cached by an
    # earlier query would show up as an InMemoryTableScan
    spark.catalog.clearCache()
    sdf = QUERIES[name](spark, SF_DIR)
    if name not in _STREAMING:
        plans = {name: _plan(sdf)}
        if name in PREPACK:
            plans[f"{name} (prepack)"] = _plan(PREPACK[name](spark, SF_DIR))
        _check_plans(name, plans)

    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    oracle = ORACLES.get(name)
    if oracle is None:
        assert srows, f"{name}: rows-only query returned no rows"
        return
    cur = oracle_con.execute(oracle)
    ocols = [c[0] for c in cur.description]
    orows = cur.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert _multiset(scols, srows) == _multiset(ocols, orows), name
