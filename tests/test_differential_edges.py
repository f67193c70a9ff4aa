"""Differential edge-case harness: every documents-only QuerySpec runs
on an adversarial corpus (empty/whitespace/punct/digit/unicode/CJK
rows) through BOTH the Spark plan and its DuckDB oracle twin — the
same comparison the driver does, but on data chosen to break
cross-engine string semantics rather than the driver's benign corpus.
"""

from __future__ import annotations

import datetime
import math

import duckdb
import pytest

from customer_review__etl_spark.plans import all_queries

EDGE_DOCS = [
    (0, "plain lowercase words here", "en", "web", 26),
    (1, "", "en", "web", 0),
    (2, "   ", "en", "web", 3),
    (3, "\t\ttabs\tand\nnewlines\n", "en", "web", 20),
    (4, "repeated  double   spaces", "en", "web", 25),
    (5, "PUNCT!!! ... ??? ,,, ;;;", "en", "web", 24),
    (6, "digits 123 456789 0", "en", "web", 19),
    (7, "MiXeD CaSe WoRdS", "en", "web", 16),
    (8, "café naïve résumé über", "fr", "web", 22),
    (9, "这是中文文本没有空格", "zh", "web", 10),
    (10, "the the the the the", "en", "web", 19),  # all stopwords
    (11, "supercalifragilisticexpialidocious", "en", "web", 34),
    (12, "a b c d e f g h i j k l m", "en", "web", 25),  # all len<=2
    (13, "plain lowercase words here", "en", "mirror", 26),  # exact dup of 0
    (14, "plain lowercase words there", "en", "web", 27),  # near dup of 0
    (15, None, "en", "web", 0),  # NULL text
    # t09 scrub edges: plain email, email embedded in a URL (the URL
    # pass must consume it first), bare-scheme junk, trailing-punct URL
    (16, "mail me at jo.doe+x@ex-ample.co.uk or visit", "en", "web", 43),
    (17, "see https://a.b/c?u=jo@ex.com&v=1 and http://x.io.", "en", "web", 50),
    (18, "not-an-email @ nor http:// alone [at] a.b", "en", "web", 41),
    # d08 repeated-substring edges: docs 19/20 share a 45-char license
    # line verbatim (must pair); docs 21/22 share EXACTLY 39 chars with
    # different neighbors on both ends (one char below the L=40
    # threshold: must NOT pair, though both pass the length filter)
    (19, "alpha copyright license all rights reserved forever", "en",
     "web", 51),
    (20, "copyright license all rights reserved forever omega", "en",
     "mirror", 51),
    (21, "this shared run is exactly 39 chars ok!x tail padding",
     "en", "web", 53),
    (22, "y this shared run is exactly 39 chars ok! other padding",
     "en", "web", 55),
    # pl05 excision-reaches-the-packer pair (round 12): docs 23/24
    # share a 73-char license run but are NOT near-dups (their
    # non-shared content dominates the shingle sets), BOTH pass the
    # t25 gate and the p14 mix, and 24 (the higher id) must reach the
    # packer with exactly the run cut out — the composed pl05 path is
    # vacuous on the benign corpora (near-dup removal drops every
    # substring-sharer first), so THIS corpus is where its oracle
    # check has teeth. Doc 23 (the owner) must pack at FULL length.
    (23, "governing preamble for archive copies. standard license text"
         " which is shared verbatim between corpus documents owner"
         " clause ends here.", "en", "web", 135),
    (24, "completely different narrative about training data quality"
         " and mixing follows now. standard license text which is"
         " shared verbatim between corpus documents and some other"
         " closing words appear in this document tail.", "en", "web",
     218),
    # pl06 unified-survivor pair (round 13): docs 28/30 carry the SAME
    # distinct-token set in scrambled order — d03's SimHash (majority
    # vote over DISTINCT tokens, order-insensitive) gives hamming 0 and
    # pairs them, while d02's 3-token-shingle MinHash sees near-zero
    # shingle overlap and does NOT. So d05 keeps both, d06 collapses
    # them (30 loses to keep-first), and pl06 is the only recipe that
    # drops 30 — the corpus where the d05→d06 stage swap has teeth.
    # Ids chosen so BOTH pass the p14 content-addressed mix
    # (frac16(md5(id)) < 0.4·65536: 28→13287, 30→13335 — e.g. 25/27
    # would lose the owner at the mix, 26 sits in the eval slice).
    (28, "the quick brown fox jumps over a lazy dog while training"
         " corpus mixing helps everyone", "en", "web", 89),
    (30, "mixing corpus training while dog lazy a over jumps fox brown"
         " quick the helps everyone", "en", "web", 89),
]

DOCS_ONLY_QUERIES = [
    "t01_text_chain", "t03_topk_words", "t04_quality_scores",
    "t05_lang_id", "t06_fingerprint", "t07_positional_hash",
    "t08_bpe_token_count", "t09_pii_scrub", "t10_repetition_score",
    "d01_exact_dedup", "d02_minhash_near_dup", "d03_simhash_near_dup",
    "d04_ngram_jaccard", "d05_neardup_clusters", "d06_unified_clusters",
    "d10_adaptive_block_jaccard",
    "dc01_decontaminate", "dc02_neardup_decontaminate",
    "t11_chunk_dedup", "p14_weighted_mix",
    "u02_sequence_pack", "t12_vocab_coverage", "t13_unigram_surprisal",
    "mm01_binary_meta", "mm02_decode_features", "mm03_frame_sample",
    "mm04_blob_chunks",
    "ml05_stratified_split", "io03_jsonl_roundtrip",
    # round-6 additions over the documents corpus
    "t14_heavy_hitters", "t15_bigram_surprisal", "j11_fuzzy_blocked_join",
    "ml07_naive_bayes", "p17_oversample_mix", "u04_sentence_udtf",
    "io07_compaction", "t16_tfidf_terms", "t17_reading_ease",
    # round-7 additions over the documents corpus
    "t18_sliding_chunks", "pl01_training_pipeline",
    # round-7: content-defined chunking (NULL text, dup/near-dup docs,
    # sub-K-length docs exercise the single-trailing-cut branch)
    "t19_cdc_chunks",
    # round-7: containment pairs (exact dup + near-dup docs must pair;
    # NULL text drops out) and temperature mixing (rates re-derived
    # from the tiny edge histogram, incl. single-doc groups at rate 1)
    "d07_containment_pairs", "p18_temperature_mix",
    # round-7: verbatim decontamination — doc 13 duplicates eval doc 0
    # and MUST be flagged; short/NULL eval texts fall under the anchor
    # guard on both engines
    "dc03_verbatim_decontaminate",
    # round-7: incremental refresh must equal full recompute on the
    # edge corpus too (NULL text fingerprints ride through as NULL)
    "pl02_incremental_refresh",
    # round-7: NB margin calibration (exact-dup docs share identical
    # margins; the single-doc langs exercise tiny class priors)
    "ml11_confidence_calibration",
    # round-7: hashing-trick vectorizer (unicode/CJK tokens hash like
    # any bytes; NULL/empty text yields no buckets)
    "ml12_hashed_features",
    # round-7: novelty — the exact-dup doc must score 0 novelty, the
    # sub-3-token docs NULL; first-touch ties on shared boilerplate
    "t20_novelty_ratio",
    # round-7: BPE training — punctuation/URL tokens fall outside the
    # [a-z0-9]+ scope on BOTH engines; runs + ties pinned by pytest
    "t21_bpe_merges",
    # round-7: BPE encoding — all-out-of-scope docs report 0/0; the
    # trained-then-applied replace chains must agree end to end
    "t22_bpe_encode",
    # round-8: declarative concat-and-chunk packing — zero-token and
    # NULL-text docs contribute no slice; docs longer than the budget
    # must span sequences with offsets/lengths exact on both engines
    "p19_sequence_pack",
    # round-8 coverage sweep: whitespace/NULL-text docs must drop in
    # the non-empty filter exactly like the oracle's trim test
    "p07_filter_nonempty",
    # round-8: inverted index — empty/NULL/stopword-only docs emit no
    # postings; CJK/unicode terms index like any token; duplicate docs
    # exercise tf > df
    "t23_inverted_index",
    # round-8: BM25 top-k — the tiny edge vocabulary re-derives its own
    # query terms; float scores must stay bit-identical through the
    # integer-input division + fixed-order sum on both engines
    "t24_bm25_topk",
    # round-8: quality rules — NULL/empty/whitespace/CJK docs pin the
    # zero-token guards in the integer cross-multiplied thresholds
    "t25_quality_rules",
    # round-8: line dedup — NULL ≡ '' (one empty line), repeated blank
    # lines collapse to the first, unicode lines compare exactly
    "t26_line_dedup",
    # round-9: cross-doc repeated substrings — the 45-char shared
    # license line (docs 19/20) must pair; the 39-char share (21/22)
    # must NOT (below L=40); sub-L and NULL docs drop in the length
    # filter on both engines
    "d08_repeated_substrings",
    # round-9: perplexity buckets — sub-2-token and NULL docs land in
    # 'unscored'; the tiny scored set pins the 3·rank ≤ n third edges
    # (n not divisible by 3) and exact-dup docs tie on mean_bits
    "t27_perplexity_buckets",
    # round-9: length curriculum — zero-token/NULL docs land in stage
    # 1 (bitlen(0)); exact-dup docs get distinct ordinals via the
    # doc_id tie-break; stages are sparse on the tiny corpus
    "p20_length_curriculum",
    # round-11 coverage sweep (the 8 never-edge-tested):
    # md5 split — NULL-text docs still split (content-addressed on
    # doc_id, not text); the tiny corpus pins the threshold compare
    "ml03_train_test_split",
    # classifier gate — single-doc langs give 1-row test strata; the
    # oracle-pinned integer claims (n_test/n_majority/coverage) must
    # reproduce from the ml05 split formula even at degenerate size
    "ml10_classifier_gate",
    # round-11: the composed data recipe — the exact-dup pair (0,13)
    # collapses to one survivor, doc 13 is ALSO dc03-flagged (contains
    # eval doc 0 verbatim), NULL/short docs fall at the t25 gate, and
    # the packing must agree on the handful of survivors
    "pl04_data_recipe",
    # round-11: repeated-substring excision — doc 20 must lose exactly
    # its 45-char shared license run (doc 19, the lower id, keeps it);
    # the 39-char share (21/22) is below L=40 and must pass through;
    # NULL/short docs pass through byte-identical
    "d09_substring_excision",
    # round-12: the excised data recipe — doc 24 must pack at its
    # CLEANED token count (73-char run owned by doc 23 cut), doc 23 at
    # full length; every other stage identical to pl04's edge coverage
    "pl05_data_recipe_excised",
    # round-13: the unified-survivor recipe — the scrambled pair 28/30
    # collapses ONLY under d06 (SimHash edge), so pl06 must drop 30
    # where pl05 packs it; stages 2-6 identical to pl05's coverage
    "pl06_data_recipe_unified",
]


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_sf")
    spark.createDataFrame(
        EDGE_DOCS, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def _multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(str(x) for x in t),
    )


_TS = datetime.datetime(2024, 1, 1, 0, 0, 0)


def _ts(minutes):
    return _TS + datetime.timedelta(minutes=minutes)


EDGE_EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    (0, _ts(0), 1, "purchase", 10.25, '{"k": 1}'),
    (1, _ts(1), 1, "purchase", -3.75, '{"k": 22}'),     # negative money
    (2, _ts(2), 1, None, 0.0, '{"k": 3}'),              # NULL type
    (3, _ts(2), 1, "view", 0.01, "not json at all"),    # invalid JSON
    (4, _ts(2), 2, "view", 1000000000.25, None),        # NULL props, big value
    (5, _ts(2), 2, "view", 1000000000.25, "{}"),        # missing key
    (6, _ts(200), 2, "view", 5.5, '{"k": 0}'),          # second session
    (7, _ts(200), 2, "view", 5.5, '{"k": -9}'),         # dup ts+key
    (8, _ts(65), 3, "refund", 0.07, '{"k": 007}'),      # leading-zero int
    # f03 typed-vs-string JSON parse semantics (round-3 ADVICE): quoted
    # numerics coerce on the get_json_object path but NOT via from_json
    (9, _ts(66), 3, "refund", 0.08, '{"k": "123"}'),    # quoted int
    (10, _ts(67), 3, "refund", 0.09, '{"k": 1.5}'),     # double (trunc)
    (11, _ts(68), 3, "refund", 0.10, '{"k": "abc"}'),   # non-numeric str
    (12, _ts(69), 3, "refund", 0.11, '{"k": true}'),    # bool
    (13, _ts(70), 3, "refund", 0.12,
     '{"k": 12345678901234567890}'),                    # > int64 max
    # st09 view→purchase pairs: user 1's purchase 43 min after their
    # view (in-horizon); user 2's purchase pairs with the two t=2 views
    # but NOT the later t=200 views (purchase precedes them); user 3
    # has refunds only — the join must stay empty there
    (14, _ts(45), 1, "purchase", 7.50, None),
    (15, _ts(30), 2, "purchase", 12.00, '{"k": 4}'),
]

EVENTS_ONLY_QUERIES = [
    "p03_dedup_keep_first", "p08_filter_eq", "p11_derived_json",
    "p16_scalable_ordinal",
    # (p13 is customer-based: covered in TPCH_ONLY_QUERIES)
    "a01_group_count", "a05_distinct_sort", "f03_json_map_funcs",
    "j09_salted_skew_agg", "u01_grouped_minmax", "u03_ewma_smooth",
    "u06_ewma_partitioned",
    "st01_tumbling_window", "st02_sliding_window", "st03_session_window",
    "st07_stream_static_join", "st08_gapfill_resample",
    "st09_stream_stream_join",
    "j01_broadcast_theme_label", "w02_lag_lead", "w03_running_sum",
    "w07_scd2_intervals",
    "set01_union_all", "set02_intersect", "set03_except_all",
    # round-6 additions over the events corpus
    "a10_funnel_stages", "u05_grouped_agg_udf", "ml08_linreg",
    "st10_keyed_upsert", "st11_incremental_resume",
    # w09's RANGE frame: the duplicate-timestamp rows (edge) and the
    # coarse-minute collision grid (fuzz) pin the frame-peer semantics
    "w09_range_frame", "w08_rolling_median",
    # round-7: Hive partition-pruned read over the events corpus
    "io13_partition_pruned_read",
    # round-7: gap sessionization — the t=2 vs t=200 burst crosses the
    # 30-min gap; duplicate (ts, user) rows pin the boundary tie-break
    "w10_sessionize",
    # round-7: growth accounting — multi-day spread with single-day
    # users pins first-touch attribution + the running spine join
    "a14_running_distinct",
    # round-7: OHLC bars — duplicate timestamps force the structural
    # open/close tie-break; negative values pin low_cents
    "w11_ohlc_bars",
    # round-7: streaming quarantine — NULL value/type rows must land
    # in the dead-letter partition through the stream path too
    "st12_stream_quarantine",
    # round-7: quarantine write — NULL value/type rows must land in
    # the dead-letter set, never vanish; negative money quarantined
    "io16_quarantine_write",
    # round-7: mapInArrow clip — NULL values filtered identically,
    # negative/huge values pin the clamp arithmetic
    "u07_arrow_batch_clip",
    # round-7: MAD outliers — the 1e9 value is the outlier the MEAN
    # screen would hide behind its own inflation; 1-row groups → MAD 0
    "a16_mad_outliers",
    # round-8 coverage sweep: as-of join against duplicate/NULL
    # timestamps; cube over the NULL-heavy (type, user) grid
    "j08_asof_join", "g02_cube",
    # round-8: weekly retention — NULL users/ts drop; single-event
    # users pin week_no = 0; duplicate (user, week) rows collapse in
    # the distinct on both engines
    "w12_retention_cohorts",
    # round-9: forward fill — NULL values before a user's first
    # observation must STAY NULL; duplicate (ts) rows pin the
    # event_id tie-break; NULL user_id rows form one partition
    "w13_forward_fill",
    # round-9: late-data audit — the t=2 vs t=200 bursts split across
    # the even/odd arrival batches make real late drops; windows past
    # the final watermark must not emit
    "st13_late_data_audit",
    # round-11 coverage sweep (the 8 never-edge-tested):
    # real readStream tumbling — NULL-type rows form their own group,
    # negative/huge values ride the exact cents sums through the
    # stream ≡ batch hash gate
    "st04_stream_tumbling",
    # streaming dedup — the duplicate (ts, user, type) rows at t=200
    # must collapse once within the single micro-batch horizon
    "st05_stream_dedup",
    # applyInPandasWithState stats — per-user exact cents sums over
    # NULL-type/negative-value rows, keep-latest collapse ≡ batch
    "st06_stateful_stats",
]


def _zeros(n=64):
    return [0.0] * n


def _unit(i, n=64):
    v = [0.0] * n
    v[i % n] = 1.0
    return v


def _ramp(seed, n=64):
    return [((seed * 31 + d * 7) % 13 - 6) / 3.0 for d in range(n)]


EDGE_EMBEDDINGS = (
    [(0, _zeros(), 0)]                                   # zero vector
    + [(i, _unit(i), i % 3) for i in range(1, 6)]        # axis units
    + [(6, _ramp(6), 0), (7, _ramp(6), 1)]               # exact duplicates
    + [(i, _ramp(i), i % 3) for i in range(8, 40)]
)

EMB_ONLY_QUERIES = ["s01_cosine_topk", "s02_ann_lsh", "s03_embedding_neardup",
                    "s04_ivf_ann", "s05_semantic_clusters", "s06_pq_ann",
                    "s07_multiprobe_ann", "ml06_kmeans", "ml09_knn_label",
                    # round-9: occupancy-adaptive LSH — zero vector and
                    # exact-duplicate embeddings pin the sentinel /
                    # refinement key paths (tiny buckets: must equal s03)
                    "s09_capped_lsh_neardup",
                    # round-10: occupancy-capped ANN (dormant caps must
                    # make it s02 exactly on the tiny edge corpus)
                    "s10_capped_ann"]


@pytest.fixture(scope="module")
def edge_events_dir(spark, tmp_path_factory):
    """Writes events.ts as epoch NANOS (long) — the driver's physical
    layout (TIMESTAMP(NANOS) read under nanosAsLong) — so both the
    batch loader's conversion and the streaming source's BIGINT schema
    take the same path they take on the real corpus."""
    d = tmp_path_factory.mktemp("edge_ev")
    epoch = datetime.datetime(1970, 1, 1)

    def nanos(ts):
        delta = ts - epoch
        return (
            (delta.days * 86400 + delta.seconds) * 1_000_000_000
            + delta.microseconds * 1_000
        )

    rows = [
        (eid, nanos(ts), uid, et, v, props)
        for (eid, ts, uid, et, v, props) in EDGE_EVENTS
    ]
    spark.createDataFrame(
        rows,
        "event_id BIGINT, ts BIGINT, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def edge_emb_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_emb")
    spark.createDataFrame(
        EDGE_EMBEDDINGS, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d)


# round-8: s08 fuses a documents-side ranking with an embeddings-side
# ranking, so it needs BOTH tables in one fixture — the adversarial doc
# set (NULL/empty/CJK texts) against the adversarial embedding set
# (zero vector = the anchor, exact duplicates, NULL-free ids).
HYBRID_QUERIES = ["s08_rrf_fusion", "pl03_retrieval_corpus"]


@pytest.fixture(scope="module")
def edge_hybrid_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_hybrid")
    spark.createDataFrame(
        EDGE_DOCS,
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    spark.createDataFrame(
        EDGE_EMBEDDINGS, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d)


def _compare(spark, sf_dir, name, view):
    """Assert the query matches its oracle; return the oracle's rows
    as a multiset."""
    # demoted baselines (s02/s03, plans/baselines.py) keep their edge
    # differential coverage even though they left the registry (r15)
    from customer_review__etl_spark.plans.baselines import baseline_queries

    spec = {**all_queries(), **baseline_queries()}[name]
    sdf = spec.fn(spark, sf_dir)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    views = [view] if isinstance(view, str) else view
    for v in views:
        src = f"SELECT * FROM '{sf_dir}/{v}.parquet/*.parquet'"
        if v == "events":
            # The driver has shipped both physical ts layouts (epoch
            # nanos-long and timestamp[us]); fixtures deliberately use
            # both, so branch on the observed type exactly like
            # sources/tables.py:47 before applying the nanos rewrite.
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
        con.execute(f"CREATE VIEW {v} AS {src}")
    cur = con.execute(spec.oracle)
    ocols = [c[0] for c in cur.description]
    orows = cur.fetchall()

    assert sorted(scols) == sorted(ocols)
    expected = _multiset(ocols, orows)
    assert _multiset(scols, srows) == expected, name
    return expected


@pytest.mark.parametrize("name", DOCS_ONLY_QUERIES)
def test_edge_corpus_matches_oracle(spark, edge_dir, name):
    _compare(spark, edge_dir, name, "documents")


def test_pl05_excision_reaches_the_packer(spark, edge_dir):
    """Non-vacuousness pin for the composed excision stage: on the
    benign corpora pl05 ≡ pl04 (d05 drops every substring-sharer
    before the excision can matter), so the doc-23/24 pair exists to
    keep the stage LIVE here — doc 24 must pack strictly fewer tokens
    under pl05, doc 23 (the run's owner) identically many. If this
    fails with equal outputs, the edge corpus regressed to vacuous and
    pl05's oracle check no longer exercises the excision join."""
    qs = all_queries()
    pl04 = {
        (r.seq_id, r.doc_id): r.slice_len
        for r in qs["pl04_data_recipe"].fn(spark, edge_dir).collect()
    }
    pl05 = {
        (r.seq_id, r.doc_id): r.slice_len
        for r in qs["pl05_data_recipe_excised"].fn(spark, edge_dir).collect()
    }
    k23 = [k for k in pl04 if k[1] == 23]
    k24 = [k for k in pl04 if k[1] == 24]
    assert k23 and k24, "the engineered pair must survive to packing"
    assert all(pl04[k] == pl05[k] for k in k23), "owner must keep its run"
    assert sum(pl05[k] for k in k24 if k in pl05) < sum(
        pl04[k] for k in k24
    ), "doc 24 must pack fewer tokens once its run is excised"


def test_pl06_unified_survivors_reach_the_packer(spark, edge_dir):
    """Non-vacuousness pin for the d05→d06 stage swap, plus the
    survivor-monotonicity invariant that makes pl06 a refinement:

    1. d06's edge set ⊇ d05's, so components only merge and any d06
       survivor is the min of its d05 sub-component too —
       survivors(d06) ⊆ survivors(d05), hence pl06's packed doc set
       ⊆ pl05's (never a different selection);
    2. the scrambled pair 28/30 (same distinct tokens, SimHash
       hamming 0, near-zero shingle overlap) is live: 30 packs under
       pl05 but NOT under pl06, and 28 (keep-first owner) packs under
       both. If 30 vanishes from pl05 too, the edge corpus regressed
       to vacuous and pl06's oracle no longer exercises the swap."""
    qs = all_queries()
    d05_surv = {
        r.doc_id
        for r in qs["d05_neardup_clusters"].fn(spark, edge_dir).collect()
        if r.survivor == 1
    }
    d06_surv = {
        r.doc_id
        for r in qs["d06_unified_clusters"].fn(spark, edge_dir).collect()
        if r.survivor == 1
    }
    assert d06_surv <= d05_surv, "unified survivors must be a refinement"
    pl05_docs = {
        r.doc_id
        for r in qs["pl05_data_recipe_excised"].fn(spark, edge_dir).collect()
    }
    # pl06's driver-facing result is the staged audit union (round-13
    # VERDICT ask #5) — the packed corpus is the stage == 'packed' slice
    pl06_docs = {
        r.doc_id
        for r in qs["pl06_data_recipe_unified"].fn(spark, edge_dir).collect()
        if r.stage == "packed"
    }
    assert pl06_docs <= pl05_docs, "pl06 corpus must be a subset of pl05's"
    assert 30 in pl05_docs, "scrambled twin must survive the MinHash recipe"
    assert 30 not in pl06_docs, "unified recipe must drop the SimHash twin"
    assert 28 in pl06_docs, "keep-first owner must survive both"


# ---------------------------------------------------------------------------
# Seeded fuzz corpus: 300 random documents over a hostile alphabet
# (whitespace runs, punctuation, digits, accents, CJK, long tokens).
# Deterministic (fixed seed) so failures reproduce exactly.
# ---------------------------------------------------------------------------

_FUZZ_ALPHABET = (
    ["the", "and", "cat", "dog", "a", "ab", "xyz", "stemming", "relational",
     "caresses", "ponies", "running", "flies", "denied", "agreed"]
    + ["123", "0", "007", "x9y", "3.14"]
    + ["!!!", "...", "?!", ",", ";", "#tag", "(par)", "[br]"]
    + ["café", "über", "naïve", "中文", "文本", "ññ"]
    + [" ", "  ", "\t", "\n"]
    + ["w" * 40]
)


def _fuzz_doc(rng):
    n = rng.randint(0, 30)
    return "".join(
        rng.choice(_FUZZ_ALPHABET) + rng.choice([" ", " ", "  ", "\t", ""])
        for _ in range(n)
    )


@pytest.fixture(scope="module")
def fuzz_dir(spark, tmp_path_factory):
    import random

    rng = random.Random(42)
    rows = [
        (i, _fuzz_doc(rng), rng.choice(["en", "es", "zh"]), "fuzz", 0)
        for i in range(300)
    ]
    d = tmp_path_factory.mktemp("fuzz_sf")
    spark.createDataFrame(
        rows,
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize("name", DOCS_ONLY_QUERIES)
def test_fuzz_corpus_matches_oracle(spark, fuzz_dir, name):
    _compare(spark, fuzz_dir, name, "documents")


@pytest.mark.parametrize("name", EVENTS_ONLY_QUERIES)
def test_edge_events_match_oracle(spark, edge_events_dir, name):
    _compare(spark, edge_events_dir, name, "events")


# ---------------------------------------------------------------------------
# Seeded fuzz EVENTS corpus (round 5): 400 random events stored in the
# CURRENT driver layout (timestamp[us] — the edge fixture keeps the
# legacy nanos-long layout, so both physical paths stay exercised).
# Hostile content: skewed users, duplicate (ts, user) pairs, ties at
# identical timestamps, exact-half cent values (1.125 → both engines
# must round away from zero), NULL types/values/props, malformed and
# extreme JSON. ts itself is never NULL (event time is mandatory in
# the data model, as in the driver corpus).
# ---------------------------------------------------------------------------

_FUZZ_TYPES = ["view", "view", "view", "click", "purchase", "refund",
               "signup", "weird", None]
_FUZZ_VALUES = [None, 0.0, 0.005, 1.125, -1.125, 2.675, -3.75, 10.25,
                1e9 + 0.25, -0.01, 99.995]
_FUZZ_PROPS = [None, "{}", "not json", '{"k": 1}', '{"k": -7}',
               '{"k": "123"}', '{"k": 2.5}', '{"k": "abc"}', '{"k": true}',
               '{"k": 12345678901234567890}', '{"other": 1}', "[]", ""]


@pytest.fixture(scope="module")
def fuzz_events_dir(spark, tmp_path_factory):
    import random

    rng = random.Random(4242)
    base = datetime.datetime(2024, 3, 1)
    # skewed user pool: user 1 dominates (the salted-agg j09 shape),
    # plus a tail of one-event users
    users = [1] * 8 + [2] * 4 + [3, 4, 5, 6, 7, 8, 9, 10]
    # coarse minute grid → frequent exact-timestamp collisions
    minutes = [rng.randrange(0, 7 * 24 * 60) for _ in range(60)]
    rows = []
    for eid in range(400):
        ts = base + datetime.timedelta(minutes=rng.choice(minutes))
        rows.append(
            (
                eid,
                ts,
                rng.choice(users),
                rng.choice(_FUZZ_TYPES),
                rng.choice(_FUZZ_VALUES),
                rng.choice(_FUZZ_PROPS),
            )
        )
    d = tmp_path_factory.mktemp("fuzz_ev")
    spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


@pytest.mark.parametrize("name", EVENTS_ONLY_QUERIES)
def test_fuzz_events_match_oracle(spark, fuzz_events_dir, name):
    _compare(spark, fuzz_events_dir, name, "events")


# ---------------------------------------------------------------------------
# Hostile TPC-H mini-fixture for the correlated-aggregate family
# (q17/q21/q22): NULL keys/quantities, single-supplier orders, orders
# where EVERY supplier is bad, non-F orders, NULL balances — the rows
# where correlated EXISTS/aggregate semantics and their decorrelated
# rewrites can drift apart.
# ---------------------------------------------------------------------------

_D95 = datetime.datetime(1995, 1, 15)
_D96 = datetime.datetime(1996, 2, 1)   # inside q15's 1996-Q1 window
_D97 = datetime.datetime(1997, 6, 1)   # inside q20's 1997 window
_L = "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " \
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " \
    "l_shipdate TIMESTAMP_NTZ, l_returnflag STRING, l_linenumber BIGINT"
EDGE_LINEITEM = [
    # part 1 (Brand#4, 'red widget'): non-null quantities 1,10,10,10,1
    # → only the qty-1 rows qualify for q17. 1997 rows drive q20:
    # s2 ships 10 of part 1's 12 total → dominant (2·10 > 12)
    # l_linenumber (trailing, round-11 for io10): duplicate (1,1) on
    # orderkey 100's first two rows pins io10's zval/orderkey/linenumber
    # sort tie-break; one NULL linenumber must order identically
    (100, 1, 1, 1.0, 11.11, 0.1, _D97, "R", 1),
    (100, 1, 2, 10.0, 22.22, 0.0, _D97, "N", 1),
    (101, 1, 1, 10.0, 33.33, 0.05, _D96, "R", 2),
    (101, 1, 2, 10.0, 44.44, None, _D96, "R", 3),   # NULL discount → NULL vol
    # part 3 (Brand#4): quantities 5,2 — none under 20% of the avg
    (102, 3, 1, 5.0, 55.55, 0.2, _D95, "R", 1),
    # s3's 1996-Q1 revenue EXACTLY ties s1's (same price × discount):
    # q15 must keep both tied suppliers
    (106, 3, 3, 2.0, 33.33, 0.05, _D96, "N", 1),
    # part 2 (other brand): ignored by q17 regardless of quantity
    (103, 2, 1, 0.01, 66.66, 0.0, None, "R", None),  # NULL shipdate+linenum
    # NULL partkey / NULL suppkey / NULL quantity rows
    (104, None, 1, 1.0, 10.0, 0.0, _D97, "R", 2),
    (100, 1, None, 1.0, 10.0, 0.0, _D97, "R", 3),
    (105, 1, 2, None, 10.0, 0.1, _D97, "N", 4),
    # NULL-partkey row from the one EUROPE supplier: q11 must emit a
    # NULL part group in BOTH engines; orderkey 107 matches no order
    (107, None, 2, 1.0, 5.0, 0.0, _D97, "N", 1),
]
_O = "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " \
    "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING, o_totalprice DOUBLE"
EDGE_ORDERS = [
    (100, 1, "F", datetime.datetime(1997, 3, 1), "1-URGENT", 1000.01),
    # q13 excludes; negative money (a09 cents domain must stay exact)
    (101, 2, "F", datetime.datetime(1996, 6, 1), "5-LOW", -3.75),
    (102, 3, "F", datetime.datetime(1995, 2, 1), "3-MEDIUM", 0.0),
    # NULL orderdate; huge price (p99 lands here)
    (103, 4, "O", None, "2-HIGH", 987654.32),
    # NULL priority; NULL price — a09 must exclude it from n/percentiles
    (104, 1, "F", datetime.datetime(1997, 8, 1), None, None),
    (105, 5, "F", datetime.datetime(1996, 9, 1), "4-NOT SPECIFIED", 1000.01),
    (106, None, "F", datetime.datetime(1995, 12, 31), "1-URGENT", 0.005),
]
_P = "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " \
    "p_size BIGINT, p_retailprice DOUBLE"
EDGE_PART = [
    (1, "red widget", "Brand#4", "ECONOMY", 4, 100.0),
    (2, "blue bolt", "Brand#9", "PROMO", 9, 50.0),   # q16 excludes PROMO
    (3, "small gear", "Brand#4", "LARGE", 19, None),  # NULL retail → q9 NULL
]
_S = "s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT, s_acctbal DOUBLE"
EDGE_SUPPLIER = [
    (1, "S1", 10, 100.0),
    (2, "S2", 20, -5.0),   # negative balance: q16's bad list; EUROPE (q11)
    (3, "S3", 40, None),   # NULL balance: NOT in the bad list (NULL < 0)
]
EDGE_NATION = [
    (10, "NATION_1", 0), (20, "NATION_2", 1), (30, "NATION_3", 0),
    (40, "NATION_4", None),  # NULL region: drops from region chains
]
EDGE_REGION = [(0, "ASIA"), (1, "EUROPE")]
_C = "c_custkey BIGINT, c_nationkey BIGINT, c_acctbal DOUBLE, " \
    "c_mktsegment STRING, c_name STRING"
EDGE_CUSTOMER = [
    # avg positive balance = (100+300+200)/3 = 200. mktsegment: 5 in
    # BUILDING (p13 keeps exactly 3), 2 in AUTO (quota underfilled),
    # one NULL segment (its own group in BOTH engines)
    (1, 10, 100.0, "BUILDING", "Customer#1"),    # below avg → out of q22
    (2, 10, 300.0, "BUILDING", "Customer#2"),    # above avg, has F orders → anti-joined
    (3, 20, 200.0, "BUILDING", "Customer#3"),    # equal to avg (strict >) → out
    (4, 20, 250.0, "BUILDING", "Customer#4"),    # above avg (250*3 > 600), 'O' only → kept
    (5, None, 300.0, "BUILDING", None),  # above avg, F order 105 → out; NULL nation
    (6, 30, -50.0, "AUTO", "Customer#6"),        # negative: excluded from avg AND below
    (7, 30, 299.99, "AUTO", "Customer#7"),       # above avg, never ordered → kept
    (8, 40, None, None, "Customer#8"),  # NULL balance; NULL segment
]

TPCH_VIEWS = [
    "lineitem", "orders", "part", "supplier", "customer", "nation", "region",
]
TPCH_ONLY_QUERIES = [
    "q17_small_qty_revenue", "q21_waiting_supplier", "q22_idle_customers",
    # round-4 additions: the rest of the TPC-H family that reads only
    # these seven tables, pinned on NULL keys/dates/prices/priorities
    "q4_order_priority", "q8_market_share", "q9_product_profit",
    "q11_important_stock", "q12_shipmode_priority",
    "q13_customer_distribution", "q14_promo_revenue", "q15_top_supplier",
    "q18_large_orders",
    "q16_parts_supplier", "q20_potential_promotion",
    "p13_group_quota_sample", "io05_bucketed_join", "gr01_pagerank",
    # round-6 additions over the TPC-H edge tables (io10 needs
    # l_linenumber, absent from this fixture — covered by the main gate)
    "gr02_triangle_count", "gr03_khop_reachability",
    "gr04_item_similarity",
    "io08_dynamic_partition_overwrite", "io09_table_diff",
    "io12_nested_projection",
    # round-7: both-sides interval overlap on the acctbal bands
    "j12_interval_overlap",
    # round-7: sketch stats w/ exact companions + tolerance verdicts,
    # pinned on NULL/negative/duplicate/huge prices
    "a09_approx_stats",
    # round-7: batch MERGE apply — NULL merge keys must vanish from
    # both snapshots, NULL prices ride through the cents bump as NULL
    "io14_merge_upsert",
    # round-7: Pareto buckets — the NEGATIVE-revenue customer lands in
    # bucket 0; NULL prices excluded; div-guard if totals go ≤ 0
    "a15_revenue_concentration",
    # round-7: thresholded-graph CC — NULL part keys drop before
    # pairing; the tiny fixture exercises the empty-edge fixpoint
    "gr05_connected_components",
    # round-7: quantile matrix — NULL priority is its own group, NULL
    # prices are excluded, 1-row groups pin the ceil-rank edge
    "a13_grouped_quantiles",
    # round-7: manifest snapshots — NULL keys land in NO data file, so
    # every version's aggregate must exclude them like the oracle does
    "io15_snapshot_read",
    # round-8: bloom-prefiltered semi join — NULL o_custkey must vanish
    # (bloom probe + semi join both drop it, like the oracle's IN);
    # the tiny dim set exercises a near-empty bloom
    "j13_bloom_semi_join",
    # round-8 coverage sweep (entries the edge corpus had never run):
    # md5 sampling over NULL/dup keys, the two-pass exact median and the
    # observe() accounting on the adversarial lineitem, ORC roundtrip
    # of the edge part table
    "p12_deterministic_sample", "a11_scalable_median",
    "a12_observed_metrics", "io04_orc_roundtrip",
    # round-9: synchronous label propagation — NULL part keys drop
    # before pairing; ties in neighbor-label frequency must break to
    # the SMALLEST label identically across engines on the tiny graph
    "gr06_label_propagation",
    # round-11 coverage sweep (the 8 never-edge-tested):
    # schema evolution — the NULL-region nation row lands in the v2
    # (wide) file set, old v1 files null-fill n_regionkey on read
    "io06_schema_evolution",
    # z-order clustering — NULL part/supp keys give NULL zvals, which
    # must survive the range partition and drop in the rectangle
    # filter; duplicate (zval, orderkey) rows pin the linenumber
    # tie-break (the fixture gained l_linenumber for this)
    "io10_zorder_cluster",
    # Python DataSource — sf_dir-agnostic by design; running it here
    # pins the registration + Arrow scan path inside the edge session
    "io11_python_datasource",
]


@pytest.fixture(scope="module")
def edge_tpch_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_tpch")
    for name, rows, schema in (
        ("lineitem", EDGE_LINEITEM, _L),
        ("orders", EDGE_ORDERS, _O),
        ("part", EDGE_PART, _P),
        ("supplier", EDGE_SUPPLIER, _S),
        ("customer", EDGE_CUSTOMER, _C),
        ("nation", EDGE_NATION, "n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"),
        ("region", EDGE_REGION, "r_regionkey BIGINT, r_name STRING"),
    ):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"{name}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", TPCH_ONLY_QUERIES)
def test_edge_tpch_match_oracle(spark, edge_tpch_dir, name):
    _compare(spark, edge_tpch_dir, name, TPCH_VIEWS)


@pytest.mark.parametrize("name", EMB_ONLY_QUERIES)
def test_edge_embeddings_match_oracle(spark, edge_emb_dir, name):
    _compare(spark, edge_emb_dir, name, "embeddings")


@pytest.mark.parametrize("name", HYBRID_QUERIES)
def test_edge_hybrid_match_oracle(spark, edge_hybrid_dir, name):
    _compare(spark, edge_hybrid_dir, name, ["documents", "embeddings"])
