"""Named query plans — the driver-facing surface of the engine.

Each QuerySpec pairs a Spark DataFrame plan with (where SQL-expressible)
an ANSI-SQL oracle twin that DuckDB runs over the same parquet tables.
Column names/aliases are kept identical on both sides (the driver's
compare sorts columns by name before value-hashing).

Determinism rules every plan follows:
- no bare LIMIT: every top-K orders by a unique tie-broken key
- no dropDuplicates for parity paths: window row_number keep-first
- float aggregates are either exact (decimal-cast sums re-cast to
  double) or deterministic sequential folds rounded on both sides
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for the DuckDB oracle; None → rows-only check
    doc: str = ""


# The external verifier samples the registry head (first ~50 entries), so
# ordering is part of the contract: every query family (projection/agg/join/
# window/function, text, dedup, similarity, streaming, ML, multimodal, IO)
# must place representatives inside the head.  PRIORITY pins that head
# explicitly; everything else follows in module order and is covered by the
# local differential harness (tools/verify_local.py) + pytest.

# Single source of truth for the head-composition gates (r14 review
# catch: tests/test_plans.py and tools/rotation_plan.py each carried a
# private copy, so a future edit to one would let the planner propose
# heads the real gate rejects). The gate test AND the planner import
# these.
HEAD_FAMILIES: tuple[str, ...] = (
    "p", "a", "q", "j", "w", "g", "f", "u",
    "t0", "d0", "s0", "st", "ml", "mm", "io",
)
# rows-only (no-oracle) entries allowed to spend a head slot: exactly
# the four documented non-SQL-expressible ops (round-11 VERDICT ask #4)
ROWS_ONLY_HEAD_WHITELIST: frozenset[str] = frozenset({
    "t02_stemmed_chain",
    "ml01_lda_themes",
    "ml02_topic_top_words",
    "ml04_classifier_metrics",
})
PRIORITY: tuple[str, ...] = (
    # ROTATION LOG (cumulative; each round swaps multiply-driver-
    # sampled, shape-covered heads for never-sampled entries so every
    # registry query eventually earns a driver row — round-6 VERDICT
    # "Next round" #2):
    #   r3-r6: see git history for the per-slot rationale comments.
    #   r7 (13 swaps, every incoming entry never driver-sampled in
    #   r1-r6 and oracle-backed):
    #     p01→gr02  (scan+sort shape inside q1/q3/p17, sampled 5×)
    #     a01→io11  (group-count shape inside a08/a10; a01 still runs
    #                every round as the entry() smoke flagship)
    #     q5→q8     (q8's 6-table join strictly supersedes q5's 5)
    #     j01→q9    (broadcast-dim shape inside q8/q9/j11, sampled 5×)
    #     j08→u03   (as-of join sampled 5×; u03 = the genuinely
    #                sequential applyInPandas recurrence)
    #     w05→t15   (frame surface covered by w07+w09-local; t15 =
    #                two-pass bigram LM)
    #     t01→t16   (normalize chain inside t08/t11/t13; t16 = exact
    #                TF-IDF top terms)
    #     s01→u05   (brute-force cosine inside s06's rerank and ml09;
    #                u05 = GROUPED_AGG pandas UDF)
    #     st01→a11  (batch tumbling inside st04's real readStream twin;
    #                a11 = two-pass exact median)
    #     st04→st11 (same readStream surface plus checkpointed resume)
    #     ml03→gr04 (md5 split inside ml05's exact stratified split;
    #                gr04 = item-item CF cosine)
    #     mm01→mm02 (metadata projection inside mm02's decode path)
    #     io01→io09 (csv roundtrip sampled 4×; io09 = full-outer
    #                table diff)
    #   r7 late swaps (same-round additions, all oracle-backed, taking
    #   slots of multiply-sampled shape-covered heads):
    #     a08→pl01  (median machinery superseded by a11's rank table;
    #                pl01 = the composed dedup→quality→decontam→split
    #                flagship)
    #     g04→j12   (pivot sampled r6; gr01/gr02/gr04 keep the g head;
    #                j12 = both-sides interval-overlap join)
    #     d02→t18   (MinHash LSH driver-sampled 5× and transitively in
    #                d06/dc02; t18 = sliding-window chunking)
    #     t11→a12   (chunk shape now also inside t18; a12 = observe()/
    #                CollectMetrics health accounting)
    #     io10→io13 (z-order sampled r6; io13 = Hive partition-pruned
    #                read)
    #   r7 final swaps (late same-round additions, all oracle-backed):
    #     st03→w10  (batch session_window's gap semantics now ALSO
    #                inside w10's lag+running-sum sessionize; streaming
    #                family keeps st06/st07/st09/st11 in the head)
    #     t13→t19   (unigram LM shape inside t15's two-pass bigram;
    #                t19 = content-defined chunking, the novel shape)
    #     io06→io14 (mergeSchema sampled r6; io14 = batch MERGE apply,
    #                the lakehouse mutation primitive)
    #   r7 continuation swaps (same-session additions, all oracle-
    #   backed, taking slots of driver-sampled shape-covered heads):
    #     q13→pl02  (distribution-of-counts sampled r6; pl02 =
    #                incremental refresh ≡ full recompute)
    #     j09→d07   (salted-agg sampled r2-r5; d07 = containment
    #                pairs, the cross-length-class dedup signal)
    #     t14→io15  (heavy hitters sampled r6; io15 = manifest
    #                snapshot reads / time travel)
    #     u02→ml11  (sequence packing sampled r2-r5; ml11 =
    #                integer-exact confidence calibration)
    #     a10→a13   (funnel sampled r6; a13 = exact per-group
    #                quantile matrix)
    #     gr04→p18  (item-item CF sampled r7-head this round already
    #                via local+edge gates; p18 = temperature mixing —
    #                gr01/gr02 keep the graph head)
    #     d01→t21   (exact dedup driver-sampled r6 and transitively
    #                inside pl01's stage 1; t21 = distributed BPE
    #                tokenizer training, the flagship novel operator —
    #                d04/d06/d07 keep the dedup head)
    #   r8 (wholesale rotation, round-7 VERDICT ask #1): after r7 every
    #   r7-head entry has a green driver row, and 48 oracle-backed
    #   queries still had NONE. This head clears that backlog in one
    #   round: 47 never-driver-sampled entries (tools/coverage_report.py
    #   emits the list) + the new p19, keeping exactly three sampled
    #   veterans for family coverage the backlog cannot provide —
    #   j12 (join family: no j query is unsampled), d04 (d0 family +
    #   the perf-watched dedup), f01 (function family, stale since r2).
    #   Deliberately deferred to r9: p13/p14 (sampler shapes adjacent
    #   to p12/p16/p18) and the late-r8 additions t23/t24/t25/t26/s08
    #   (inverted index, BM25, quality rules, line dedup, RRF fusion —
    #   each local+edge+empty gated this round) — after which only the
    #   four rows-only-by-design entries (t02/ml01/ml02/ml04) remain
    #   outside driver history. Late r8 swap: j12→j13 (j12 sampled r7;
    #   j13 = the new bloom-prefiltered semi join, never sampled,
    #   keeps the join family in the head).
    #   r9 (wholesale stale-veteran rotation, round-8 VERDICT asks #1
    #   and #7): every r8-head entry earned its driver row, so the
    #   head flips to (a) the final 8 never-driver-sampled
    #   oracle-backed queries — after this round ALL 188 oracle-backed
    #   queries have driver history; (b) the two new round-9 operators
    #   d08 (cross-doc repeated substrings) + pl03 (retrieval-corpus
    #   pipeline); (c) 40 stale veterans, OLDEST-FIRST: all 35 entries
    #   last sampled in r2/r3, plus the family representatives the
    #   r2/r3 cohort lacks (u01/t04 from r4, mm03 from r5, ml03 from
    #   r6, io02 from r4). The 50-slot arithmetic leaves five r4
    #   veterans out (d03/q12/s04/st08/w01, staleness 4 → 5 next
    #   round); the tripwire's hard gate (coverage_report
    #   "overdue_hard": staleness ≥ 5 AND not head-scheduled) will
    #   FAIL pytest at round-10 start until they rotate in — the
    #   forcing function round-8 VERDICT ask #7 requested (threshold 5
    #   not 4: a 50-slot head cannot hold 8 never-sampled + all 43
    #   entries at staleness ≥ 4 = 51 slots; 5 is the tightest
    #   satisfiable bound and still forces next-round rotation).
    #   r10 (round-9 VERDICT ask #1): the five overdue-hard veterans the
    #   staleness tripwire named at r9-end (last sampled r4, staleness 5
    #   — the intended forcing function), the six never-driver-sampled
    #   oracle-backed r9 adds (completes cumulative driver coverage at
    #   196/196 oracle-backed), then oldest-first: the ENTIRE r5 cohort
    #   (staleness hits 5 the moment CORRECTNESS_r10 lands, so skipping
    #   any would re-arm the tripwire immediately) and the entire r6
    #   cohort, topped up from r7 with the family reps the head
    #   would otherwise lack (f03, ml05) and the new round-10
    #   operator s10_capped_ann (never sampled, the ml09 ANN-leg
    #   migration target).
    #   r11 (round-10 VERDICT ask #6, oldest-first from the 97-query
    #   stale backlog): the ENTIRE r7 cohort — all 47 queries whose
    #   last driver row is CORRECTNESS_r07 (staleness hits 4 the moment
    #   r11 lands, so any skipped entry re-arms the HARD_STALE=5
    #   tripwire at round-12 start) — plus the family representatives
    #   that cohort lacks (f01 from r8 for the f family, g01 from r9
    #   for the g family: the oldest unsampled member of each) and the
    #   new round-11 composed operator pl04_data_recipe (never
    #   sampled). Deferred to r12: the rest of the r8 cohort
    #   (staleness 3 after r11; they age to hard at r13, forcing the
    #   r12 rotation exactly as designed).
    #   r12 (round-11 VERDICT ask #1, the scheduled forcing function):
    #   the ENTIRE r8 cohort — all 49 queries whose last driver row is
    #   CORRECTNESS_r08 (staleness hits 4 the moment r12 lands; any
    #   skipped entry re-arms the HARD_STALE=5 tripwire at round-13
    #   start) — plus d09_substring_excision, the only oracle-backed
    #   query with no driver row (added after the r11 rotation was
    #   pinned; round-11 ADVICE item #3). That fills all 50 slots.
    #   Pinned for r13 (round-11 VERDICT ask #4): one head slot each
    #   for the four rows-only-by-design entries t02_stemmed_chain /
    #   ml01_lda_themes / ml02_topic_top_words / ml04_classifier_metrics
    #   so the driver's weaker rows-only check is on record at least
    #   once and never_driver_sampled reaches 0 — they did not fit at
    #   r12 without dropping r8-cohort entries into the hard gate.
    #   ALSO pinned for r13: pl05_data_recipe_excised (new round-12
    #   composed operator, added after this head was pinned — the d09
    #   excision stage wired into the pl04 recipe) and q15_top_supplier
    #   (the documented family swap below; hard-stale at r13).
    #   One documented exception to "full r8 cohort": the cohort has
    #   NO f-family query and the head-coverage gate requires one, so
    #   q15_top_supplier (one of the cohort's NINE q-family entries,
    #   its agg+join+scalar-subquery shape also inside q2/q18/q20)
    #   defers to r13 — it hits HARD_STALE=5 there, so the r13 head
    #   MUST include it alongside the four rows-only entries — and
    #   f02_array_funcs (oldest unsampled f, last row r9) takes the
    #   slot.
    #   r13 (round-12 VERDICT ask #1): six pinned slots first —
    #   q15_top_supplier (the documented r12 q15→f02 family swap,
    #   last sampled r8, hard-stale the moment CORRECTNESS_r13 lands),
    #   pl05_data_recipe_excised (new round-12 composed operator,
    #   never driver-sampled), and the FOUR rows-only-by-design
    #   entries t02_stemmed_chain / ml01_lda_themes /
    #   ml02_topic_top_words / ml04_classifier_metrics (round-11
    #   VERDICT ask #4, deferred twice) so the driver's weaker
    #   rows-only check is on record and never_driver_sampled hits 0 —
    #   admitting them required relaxing the oracle-only-head gate
    #   (tests/test_plans.py) to an explicit whitelist of exactly
    #   these four. Then the r9 cohort (48 queries whose last driver
    #   row is CORRECTNESS_r09; staleness 4 once r13 lands → hard at
    #   r14): it has NO f-family entry, so f03_json_map_funcs (oldest-
    #   sampled f, r10) takes the family-coverage slot, leaving 43
    #   cohort slots. FIVE cohort entries defer to r14 (hard-stale
    #   there — the same forcing function as r12's design), chosen for
    #   maximal shape redundancy inside this head: a04_row_count
    #   (count-star inside a02/a03/a07), p06_ordinal (ordinal shape
    #   sampled r12 via p16), j07_right_outer (outer-join shape kept
    #   by j05_full_outer), set02_intersect + set03_except_all
    #   (set-op shape kept by set01_union_all; `set` is not a gated
    #   family). r14 head MUST open with those five.
    #   ALSO pinned for r14: pl06_data_recipe_unified (new round-13
    #   composed operator — pl05 with d06's union-of-evidence survivor
    #   map as stage 1; oracle-backed, added after this head was
    #   pinned, never driver-sampled).
    #   r14 (round-13 VERDICT ask #1): six pinned slots first —
    #   pl06_data_recipe_unified (the ONLY never-driver-sampled entry,
    #   added after the r13 head was pinned) and the FIVE documented
    #   r13 deferrals, all last sampled r9 and hard-stale the moment
    #   CORRECTNESS_r14 lands: p06_ordinal, a04_row_count,
    #   j07_right_outer, set02_intersect, set03_except_all. Then the
    #   r10 cohort (49 queries whose last driver row is
    #   CORRECTNESS_r10; staleness 4 once r14 lands → hard at r15): it
    #   has NO f-family entry, so f01_string_date_math (oldest-sampled
    #   f, r11) takes the family-coverage slot, leaving 43 cohort
    #   slots. SIX cohort entries defer to r15 (hard-stale there — the
    #   same forcing function as r12/r13's design), chosen for maximal
    #   shape redundancy inside this head: a01_group_count (runs as
    #   the entry() smoke EVERY round, so its driver coverage never
    #   actually lapses), st01_tumbling_window (batch tumbling shape
    #   inside st04_stream_tumbling's readStream twin, in head),
    #   t01_text_chain (normalize chain inside t11_chunk_dedup +
    #   t13_unigram_surprisal, both in head; t03/t05 keep the t0
    #   prefix), w01_row_number_topn (row_number shape inside
    #   w05_ntile_frames, in head, and p10_limit_topk, sampled r13),
    #   j01_broadcast_theme_label (broadcast-dim shape inside
    #   j02_inner_equi and q5_local_supplier_volume, both in head,
    #   both broadcast-asserted in pytest), d01_exact_dedup
    #   (keep-first exact-dedup shape inside p03_dedup_keep_first, in
    #   head; d02/d03/d05 keep the d0 family). r15 head MUST open
    #   with those six, then take the r11 cohort (50 entries —
    #   overflow of ~6 defers again by the same redundancy rule).
    #   r15 (round-14 VERDICT ask #1, head taken VERBATIM from
    #   tools/rotation_plan.py — the mechanical planner the r14 log
    #   demanded be obeyed, not re-derived): the SIX documented r14
    #   deferrals first (a01_group_count, j01_broadcast_theme_label,
    #   w01_row_number_topn, t01_text_chain, d01_exact_dedup,
    #   st01_tumbling_window — all last sampled r10, hard-stale the
    #   moment CORRECTNESS_r15 lands), then the r11 cohort
    #   oldest-first under the family gate. s02_ann_lsh, which the
    #   pre-demotion planner run had slotted, left the registry this
    #   round (demoted to plans/baselines.py with s03, r14 VERDICT
    #   ask #4 — convicted quadratics; s09/s10 are the registered
    #   twins and s05 now rides s09's pair miner), so its slot fell
    #   to gr01_pagerank by the planner's own oldest-first rule.
    #   FIVE r11-cohort entries defer to r16 (hard-stale there — the
    #   planner prints them and the r16 head MUST open with them):
    #   io13_partition_pruned_read, gr02_triangle_count,
    #   pl01_training_pipeline, pl02_incremental_refresh,
    #   pl04_data_recipe. ALSO pinned for r16:
    #   d10_adaptive_block_jaccard (new round-15 operator — d04 with
    #   occupancy-adaptive blocking-key length; oracle-backed, added
    #   after this head was pinned, never driver-sampled — the
    #   planner's never-sampled-first rule slots it automatically).
    #   r16 (round-15 VERDICT ask #4, head taken VERBATIM from
    #   tools/rotation_plan.py): d10_adaptive_block_jaccard first (the
    #   one never-driver-sampled registry entry, added after the r15
    #   head was pinned), then the FIVE documented r15 deferrals
    #   (io13/gr02/pl01/pl02/pl04 — all last sampled r11, hard-stale
    #   the moment CORRECTNESS_r16 lands), then the r11/r12 cohort
    #   oldest-first under the family gate. SIX entries defer to r17
    #   (hard-stale there — the planner prints them and the r17 head
    #   MUST open with them): io08_dynamic_partition_overwrite,
    #   io12_nested_projection, io16_quarantine_write,
    #   gr05_connected_components, gr03_khop_reachability,
    #   gr04_item_similarity. ALSO pinned for r17:
    #   d11_adaptive_containment (new round-16 operator — d07 with
    #   occupancy-adaptive anchor-gram re-keying; oracle-backed, added
    #   after this head was pinned, never driver-sampled — the
    #   planner's never-sampled-first rule slots it automatically).
    #   r18 (head taken VERBATIM from tools/rotation_plan.py; the
    #   registry has no driver round after r17, so these are the
    #   planner's r18 proposal): d11_adaptive_containment (the one
    #   never-driver-sampled entry), the six pinned r17 deferrals
    #   (io08/io12/io16/gr05/gr03/gr04, last sampled r12), then the
    #   r13 cohort oldest-first, with f01_string_date_math for the f
    #   family. The plan is infeasible by arithmetic: 55 entries are
    #   hard-stale at r18 (6 from r12, 49 from r13) for 50 slots, so
    #   seven r13 entries stay out (t26, ml02, ml03, ml04, io02, pl03,
    #   pl05) and tests/test_plans.py's planner gate stays red.
    "d11_adaptive_containment",
    "io08_dynamic_partition_overwrite",
    "io12_nested_projection",
    "io16_quarantine_write",
    "gr05_connected_components",
    "gr03_khop_reachability",
    "gr04_item_similarity",
    "p02_drop_columns",
    "p05_lowercase_rename",
    "p07_filter_nonempty",
    "p08_filter_eq",
    "p09_select",
    "p10_limit_topk",
    "p11_derived_json",
    "p13_group_quota_sample",
    "p14_weighted_mix",
    "a02_count_distinct",
    "a03_null_counts",
    "a05_distinct_sort",
    "a07_summary_stats",
    "q15_top_supplier",
    "j03_left_semi",
    "j04_left_anti",
    "j05_full_outer",
    "j06_theta_range",
    "q7_volume_shipping",
    "q19_disjunctive_pred",
    "w02_lag_lead",
    "w04_rank_dense",
    "set01_union_all",
    "g02_cube",
    "g03_grouping_sets",
    "w06_moving_avg",
    "w12_retention_cohorts",
    "a09_approx_stats",
    "u01_grouped_minmax",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q2_min_cost_supplier",
    "t02_stemmed_chain",
    "t04_quality_scores",
    "t23_inverted_index",
    "t24_bm25_topk",
    "t25_quality_rules",
    "mm03_frame_sample",
    "d08_repeated_substrings",
    "s08_rrf_fusion",
    "st02_sliding_window",
    "ml01_lda_themes",
    "f01_string_date_math",
)


def build_registry() -> dict[str, QuerySpec]:
    from . import (
        dedupplans,
        graphplans,
        ioplans,
        mlplans,
        multimodalplans,
        pipelineplans,
        relational,
        simplans,
        streamplans,
        textplans,
    )

    by_name: dict[str, QuerySpec] = {}
    for mod in (
        relational,
        textplans,
        dedupplans,
        simplans,
        streamplans,
        mlplans,
        multimodalplans,
        ioplans,
        graphplans,
        pipelineplans,
    ):
        for spec in mod.SPECS:
            if spec.name in by_name:
                raise ValueError(f"duplicate query name: {spec.name}")
            by_name[spec.name] = spec

    missing = [n for n in PRIORITY if n not in by_name]
    if missing:
        raise ValueError(f"PRIORITY names not registered: {missing}")

    registry: dict[str, QuerySpec] = {n: by_name[n] for n in PRIORITY}
    for name, spec in by_name.items():
        if name not in registry:
            registry[name] = spec
    return registry


def shared_intermediates() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every cross-query run-scratch materialization, by kind label —
    the warm set bench.py's `scratch_build` row pays up front (and
    times PER KIND, round-8 VERDICT ask #4). Each callable forces the
    parquet landing on first touch and returns the lazy scan.

    Dependency note: "d02_pairs" consumes "shingles" inside its
    builder, so bench builds "shingles" first and may run the rest
    concurrently (independent Spark jobs from separate threads).
    "d06_survivors" consumes the d02/d03/d04 pair landings and
    "pl06_packed_in" consumes "d06_survivors" + "d08_pairs" —
    materialized_df's per-kind locks serialize those chains correctly
    while unrelated kinds keep building."""
    from . import dedupplans, graphplans, mlplans, pipelineplans, simplans

    return {
        "shingles": dedupplans.shingles_m,            # d02 builder + dc02
        "gram_arrays": dedupplans.gram_arrays_m,      # d04/d07/d10/d11
        "d02_pairs": dedupplans.d02_pairs_m,          # d05, d06
        "d03_pairs": dedupplans.d03_pairs_m,          # d06
        "d04_pairs": dedupplans.d04_pairs_m,          # d06, d10 level 1
        "d07_pairs": dedupplans.d07_pairs_m,          # d11 level 1
        "d08_pairs": dedupplans.d08_pairs_m,          # d09
        "s09_pairs": simplans.s09_pairs_m,            # s05
        "s10_knn": mlplans.s10_knn_pairs_m,           # ml09
        "copurchase": graphplans._copurchase_edges,   # gr01, gr02
        "copurchase_thresholded": graphplans._copurchase_thresholded_m,  # gr05
        "d06_survivors": pipelineplans.d06_survivors_m,   # pl06 (both uses)
        "dc01_ids": pipelineplans.dc01_ids_m,          # pl04/pl05/pl06 stage 2
        "dc03_ids": pipelineplans.dc03_ids_m,          # pl04/pl05/pl06 stage 2
        "t25_keep": pipelineplans.t25_keep_ids_m,      # pl04/pl05/pl06 stage 3
        "pl06_packed_in": pipelineplans._pl06_packed_in_m,  # pl06 branches
    }


_REGISTRY: dict[str, QuerySpec] | None = None


def all_queries() -> dict[str, QuerySpec]:
    global _REGISTRY
    if _REGISTRY is None:
        _REGISTRY = build_registry()
    return _REGISTRY
