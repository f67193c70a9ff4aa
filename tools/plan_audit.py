"""Physical-plan audit: one row per registered query summarizing the
plan properties that matter at 100 TB — shuffle (Exchange) count,
broadcast joins, nested-loop joins, whether scan pushdown/pruning is
active, and whether any Python (Arrow) stage is in the plan.

Writes PLANS.md. Run: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from customer_review__etl_spark.session import get_spark  # noqa: E402

# Queries that legitimately contain a nested-loop join: a deliberately
# tiny broadcast side with a non-equi predicate.
EXPECTED_BNLJ = {
    "j06_theta_range",   # theta/range join is BNLJ by definition
    "s01_cosine_topk",   # 16-row broadcast query side, != predicate
    "q22_idle_customers",  # ONE-row global-aggregate threshold, broadcast
    "q11_important_stock",  # ONE-row global-total threshold, broadcast
    "q15_top_supplier",  # ONE-row global-max threshold, broadcast
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
    "pl04_data_recipe",  # inherits p14's ONE-row (N, G) totals broadcast
                         # cross onto the ≤#langs mix-rate table
    "pl05_data_recipe_excised",  # same two p14 totals crosses as pl04
                                 # (shared _pl04_mixed stage)
    "pl06_data_recipe_unified",  # same two p14 totals crosses
                                 # (shared _pl04_mixed, unified surv)
}


# Packing queries run pack_sequences, whose localCheckpoint+collect
# truncates the registered query's explain output to the post-
# checkpoint tail — the (much larger) upstream subplan would be
# invisible to this audit (round-11 ADVICE #2: exactly the class of
# bug the d09 79-exchange catch proved this gate exists for). For
# each, additionally audit the exposed pre-packing DataFrame and fold
# its counts into the row's notes.
def _prepack_builders():
    from customer_review__etl_spark.plans import pipelineplans, relational

    return {
        "p19_sequence_pack": relational._p19_packed_in,
        "pl04_data_recipe": pipelineplans._pl04_packed_in,
        "pl05_data_recipe_excised": pipelineplans._pl05_packed_in,
        "pl06_data_recipe_unified": pipelineplans._pl06_packed_in,
    }


# Wide-payload broadcast audit (round 12). The dc03 catch: under a
# composed consumer's column pruning, Catalyst flipped the build side
# of dc03's anchor join and broadcast the corpus-sized train-gram
# stream (full normalized text on every gram row — 8.2 GiB at the 30×
# probe, over Spark's broadcast hard limit). Estimate-driven build
# choices are not stable across scales or consumers, so every
# BroadcastExchange whose payload includes a body/gram/vector column
# must be either (a) bounded by construction and whitelisted here
# with the bound, or (b) a bug. Column-name heuristic; suffixes like
# `#123` and qualifiers are stripped before matching.
_WIDE_COL = re.compile(
    r"^(text|norm|ev_norm|cleaned|body|g|gram|grams|anchor_text|shingle|"
    r"shingles|embedding|emb|emb_a|emb_b|q_emb|n_emb|cent_emb|v|toks|"
    r"tokens|words|terms|line|lines|chunk|content|"
    # joined/aliased gram-array columns (r14 d08 catch: the broadcast
    # the audit missed carried the arrays under these names)
    r"ga|gb|gs_a|gs_b)$"
)
# Round-13 (round-12 ADVICE #3): each whitelist entry now PINS the
# allowed wide-payload colsets and a max hit count. A whitelisted
# query that later acquires an ADDITIONAL wide broadcast — a new
# colset, or more hits of a known one — fails the gate instead of
# riding the old justification. Prepack subplans get their own keys
# ("<name> (prepack)"); the round-12 blanket "inherited fragment
# bounds" exemption is GONE — its first pinned sweep caught pl04's
# prepack broadcasting the decontaminated corpus (doc_id, lang, text)
# under sf0.01 estimates, exactly the dc03 class the blanket hid
# (fixed with merge pins on _pl04_mixed's stage-1-4 join sides).
# Colset syntax: "+".join(sorted wide cols of one BroadcastExchange).
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
    "s05_semantic_clusters": (
        frozenset({"cent_emb"}), 2, "k-row centroid table per round"
    ),
    "ml06_kmeans": (
        frozenset({"cent_emb"}), 2, "k-row centroid table per round"
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
    "t12_vocab_coverage": (
        frozenset({"v", "terms", "words"}), 2,
        "top-V vocabulary slice (V fixed)"
    ),
    "t24_bm25_topk": (
        frozenset({"terms", "words"}), 2, "query-term list (fixed, tiny)"
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
    # prepack subplans: ONLY dc03's bounded anchor table (inlined once
    # per decontamination consumer) may broadcast wide columns there
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


def _wide_expected(key: str, wide: list[str]) -> tuple[bool, str]:
    """True + justification if every observed wide-broadcast hit fits
    the pinned (colsets, count) bound for this key."""
    exp = EXPECTED_WIDE_BROADCAST.get(key)
    if exp is None:
        return False, ""
    colsets, max_hits, why = exp
    if len(wide) <= max_hits and set(wide) <= colsets:
        return True, why
    return False, (
        f"outside pin: saw {len(wide)}×[{' '.join(wide)}], pinned "
        f"≤{max_hits}× of {sorted(colsets)}"
    )


# Strategy-pinned queries (round-12 VERDICT "What's wrong" #3): these
# rows trade small-corpus broadcast speed for scale safety — their
# local bench regressions are BY DESIGN, and re-"optimizing" them back
# to estimate-driven broadcasts reintroduces the dc03-class hazard
# (an unbounded BroadcastExchange compiled under some consumer/scale).
# The note lands in every PLANS.md row so a future perf round sees the
# pin before chasing the old number.
PINNED_PLAN: dict[str, str] = {
    "t11_chunk_dedup": "merge-pinned: chunk-freq + rebuilt-text aggs "
                      "are corpus-sized (wide-audit r12)",
    "t20_novelty_ratio": "merge-pinned: first-touch gram table is "
                         "corpus-sized (wide-audit r12)",
    "dc01_decontaminate": "merge-pinned: eval-gram set joins a "
                          "corpus-sized gram stream (wide-audit r12)",
    "pl01_training_pipeline": "merge-pinned: inlines dc01's eval-gram "
                              "join (wide-audit r12)",
    "dc03_verbatim_decontaminate": "broadcast(anchors) pinned: build "
                                   "side flipped under pl05's pruning "
                                   "at 30× (r12 probe catch)",
    "d09_substring_excision": "merge-pinned gram⋈gmin: both sides "
                              "corpus-sized (r12)",
    "d04_ngram_jaccard": "merge-pinned gram-array verify sides: "
                         "corpus-sized, size-underestimated "
                         "(transform() stats inherit scan bytes; "
                         "r14 d08 catch)",
    "d07_containment_pairs": "merge-pinned gram-array verify sides "
                             "(same class; r14)",
    "d10_adaptive_block_jaccard": "merge-pinned gram-array verify sides "
                                  "(d04's verify shape verbatim; r15)",
    "d08_repeated_substrings": "merge-pinned body-gram verify sides: "
                               "a borderline estimate flipped one to "
                               "broadcast at 30× and blew the build "
                               "(measured r14)",
    # s02/s03 demoted to plans/baselines.py r15 — they no longer
    # appear in queries(), but keep the rationale rows so auditing the
    # baseline specs (SCALING.md's scale probes measured them) stays
    # documented
    "s02_ann_lsh": "merge-pinned corpus embedding side "
                          "(wide-audit r12; baseline, demoted r15)",
    "s03_embedding_neardup": "merge-pinned corpus embedding side "
                       "(wide-audit r12; baseline, demoted r15)",
    "s07_multiprobe_ann": "merge-pinned corpus embedding side "
                          "(wide-audit r12; local 2.8× cost accepted)",
    "s09_capped_lsh_neardup": "merge-pinned corpus embedding side "
                              "(wide-audit r12)",
    "s10_capped_ann": "merge-pinned corpus embedding side "
                      "(wide-audit r12)",
    "ml09_knn_label": "inherits s10's merge-pinned embedding side",
    "pl04_data_recipe": "merge-pinned stage-1-4 sides: sf0.01 "
                        "estimates broadcast the decontaminated "
                        "corpus WITH text (r13 pinned-audit catch); "
                        "pin cost A/B'd r14 same-host at sf0.1 "
                        "(SPARK_GRAFT_UNPIN_RECIPE valve): pinned "
                        "7.6s vs unpinned 6.9s — inside the ±10% "
                        "noise band, the r13 bench inflation was "
                        "ambient",
    "pl05_data_recipe_excised": "merge-pinned stage-1-4 sides "
                                "(shared _pl04_mixed; r13 catch); "
                                "r14 A/B: pinned 9.0s vs unpinned "
                                "9.3s — pin cost ~0 at sf0.1; "
                                "r15 (the r14 +1.0s clean drift, "
                                "VERDICT ask #5): three subset runs "
                                "×3 reps, ALL with green CPU+jobs "
                                "canaries, read pl05 9.21s (r14 warm "
                                "shape) / 8.38s (r13 shape) / 12.07s "
                                "(r14 shape again) — and the shingles "
                                "landing build varied 0.8s→8.0s for "
                                "identical code. The drift is HOST "
                                "DISK-THROUGHPUT variance, invisible "
                                "to the CPU and scheduler canaries; "
                                "r15 adds a third IO canary "
                                "(64 MiB write+fsync+read on the "
                                "scratch filesystem, "
                                "io_throughput_warning) so artifacts "
                                "confess this dimension. pl05's plan "
                                "is unchanged and not the cause; the "
                                "post-warm GC stays as cheap hygiene "
                                "(0.19s pause, effect within noise)",
    "pl06_data_recipe_unified": "merge-pinned stage-1-4 sides "
                                "(shared _pl04_mixed; r13 catch); "
                                "r14 A/B: pinned 9.0s vs unpinned "
                                "8.8s — pin cost ~0 at sf0.1",
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


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df.queryExecution() if hasattr(df, "queryExecution") else df._jdf.queryExecution(),
        "formatted",
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit")
    rows = []
    unexpected_bnlj = []
    unexpected_wide = []
    for name, fn in sorted(entrymod.queries().items()):
        if name in (
            "st04_stream_tumbling", "st05_stream_dedup",
            "st06_stateful_stats", "st07_stream_static_join",
        ):
            # st04-06 execute a streaming job at plan-build time; audit
            # their batch twins (st01) instead of running the stream.
            rows.append((name, "—", "—", "—", "streaming (see st01 twin / jobs.py)"))
            continue
        try:
            df = fn(spark, sf_dir)
            plan = _plan(df)
        except Exception as e:  # noqa: BLE001
            rows.append((name, "?", "?", "?", f"explain failed: {type(e).__name__}"))
            continue
        n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
        n_bc = plan.count("BroadcastHashJoin")
        n_bnlj = plan.count("BroadcastNestedLoopJoin") + plan.count(
            "CartesianProduct"
        )
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "-"
        python = "arrow" if ("ArrowEvalPython" in plan or "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan) else "-"
        notes = []
        if n_bnlj:
            notes.append(f"BNLJ×{n_bnlj}" + (" (expected: tiny broadcast side, non-equi)" if name in EXPECTED_BNLJ else " (UNEXPECTED)"))
            if name not in EXPECTED_BNLJ:
                unexpected_bnlj.append(name)
        if python != "-":
            notes.append("python stage (documented UDF path)")
        wide = _wide_broadcasts(plan)
        if wide:
            ok, why = _wide_expected(name, wide)
            if ok:
                notes.append(
                    f"wide bcast [{' '.join(wide)}] (expected: {why})"
                )
            else:
                notes.append(
                    f"wide bcast [{' '.join(wide)}] (UNEXPECTED"
                    + (f" — {why}" if why else "") + ")"
                )
                unexpected_wide.append(name)
        prepack = _prepack_builders().get(name)
        if prepack is not None:
            pplan = _plan(prepack(spark, sf_dir))
            p_ex = len(re.findall(r"\(\d+\) Exchange", pplan))
            p_bc = pplan.count("BroadcastHashJoin")
            p_bnlj = pplan.count("BroadcastNestedLoopJoin") + pplan.count(
                "CartesianProduct"
            )
            note = (
                f"checkpoint-truncated row; prepack subplan: {p_ex} ex, "
                f"{p_bc} bcast"
            )
            if p_bnlj:
                note += f", BNLJ×{p_bnlj}" + (
                    " (expected)" if name in EXPECTED_BNLJ else " (UNEXPECTED)"
                )
                if name not in EXPECTED_BNLJ:
                    unexpected_bnlj.append(name + " (prepack)")
            pwide = _wide_broadcasts(pplan)
            if pwide:
                ok, why = _wide_expected(name + " (prepack)", pwide)
                note += f", wide bcast [{' '.join(pwide)}]" + (
                    f" (expected: {why})"
                    if ok
                    else " (UNEXPECTED" + (f" — {why}" if why else "") + ")"
                )
                if not ok:
                    unexpected_wide.append(name + " (prepack)")
            notes.append(note)
        if name in PINNED_PLAN:
            notes.append(f"PINNED: {PINNED_PLAN[name]}")
        rows.append((name, str(n_ex), str(n_bc), pushed, "; ".join(notes)))
        spark.catalog.clearCache()

    out = Path(__file__).resolve().parent.parent / "PLANS.md"
    with out.open("w", encoding="utf-8") as f:
        f.write(
            "# PLANS — physical-plan audit\n\n"
            f"Generated by `tools/plan_audit.py` at `{sf_dir}`.\n"
            "Columns: shuffles = `Exchange` operators in the formatted plan "
            "(includes the final output sort where one exists); bcast = "
            "BroadcastHashJoin count; pushdown = non-empty `PushedFilters` "
            "on a scan.\n\n"
            "Checkpoint truncation: queries that run pack_sequences "
            "(p19/pl04/pl05) or an iterative fixpoint (d05/d06/gr05, BPE) "
            "materialize via localCheckpoint, so their registered row shows "
            "only the post-checkpoint tail. For the packers the hidden "
            "upstream is audited separately and reported in notes as the "
            "`prepack subplan`; the fixpoint ops' per-round subplans are "
            "bounded by design (scalar-only collects, pointer-jumping)."
            "\n\n"
            "| query | shuffles | bcast joins | pushdown | notes |\n"
            "|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(r) + " |\n")
    print(f"wrote {out} ({len(rows)} queries)")
    rc = 0
    if unexpected_bnlj:
        print("UNEXPECTED nested-loop joins:", unexpected_bnlj)
        rc = 1
    if unexpected_wide:
        print("UNEXPECTED wide-payload broadcasts:", unexpected_wide)
        rc = 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
