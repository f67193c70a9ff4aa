"""Deduplication plans over `documents` — the LLM-training-pipeline
headline operators: exact (fingerprint group), MinHash+LSH near-dup,
SimHash near-dup, and character-n-gram Jaccard.

Everything here — including the LSH banding — is expressed with
deterministic md5-based hashing and pure integer/double arithmetic, so
each operator has a full DuckDB oracle twin (not just a rows-only
check): both engines compute bit-identical signatures, candidate sets,
and similarity values.

Scale notes (100 TB manners):
- group/join keys are 128-bit digests or integer chunks — full document
  bodies are never shuffled (d01 groups on md5, d02/d03 band buckets
  shuffle ≤32-byte keys).
- candidate generation is LSH-banded (d02: 16 minhashes × 4 bands;
  d03: 4×16-bit SimHash chunks), so the pair space is the union of
  small per-bucket cliques, never all-pairs. Exact Jaccard runs only on
  candidates, via an equi-join on shingle — no array broadcast.
- d04's candidate join is blocked by (lang, length bucket) AND a
  rare-gram prefilter (grams with within-block doc-frequency above
  NGRAM_DF_CAP never generate candidates — a deterministic shrink,
  mirrored in the oracle); exact Jaccard then runs on candidates from
  each doc's full gram set.

Reference tie-in: the reference dedups reviews exactly once
(cleaner.py:99-101, 128→13 rows, the P3 keep-first path — see
relational.p03/d01); near-dup dedup generalizes it for training-data
pipelines per the north star in BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..scratch import cache_slot, materialized_df
from ..sources import tables
from . import QuerySpec
from .helpers import (
    shuffle_width,
    sql_cc_min_label,
    sql_normalize,
    sql_raw_tokens,
)

N_HASHES = 16      # minhash signature length
N_BANDS = 4        # LSH bands (4 rows per band)
JACCARD_MIN = 0.5  # near-dup verification threshold (d02)
NGRAM_JACCARD_MIN = 0.4
HAMMING_MAX = 3    # simhash near-dup threshold (of 64 bits)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "documents")


# --------------------------------------------------------------------------
# shared edge-set materialization
# --------------------------------------------------------------------------

# Shared intermediates landed once per corpus. Two classes use this:
# - candidate PAIR sets (d02/d03/d04 edges): cluster-collapse consumers
#   (d05, d06, s05) each need a pair set that is ALSO a standalone
#   registry query; without the landing every consumer re-runs the full
#   upstream mining pipeline (shingle → signature → band join →
#   verify), ~7 s of recompute per consumer at sf0.1 (round-4 VERDICT
#   "Next round" #5).
# - TOKEN-STREAM intermediates (the per-doc shingle stream feeding
#   d02+dc02) — the CPU-heavy normalize/tokenize/explode pass,
#   recomputed by every consumer before round 6 (round-5 VERDICT
#   "Next round" #5). The per-doc gram arrays are landed the same way
#   since r17: d04, d07, d10 and d11 all read them (gram_arrays_m).
# Each entry lands in run-scratch parquet (scratch.materialized_df: the
# dir lives as long as the corpus identity it was built from), and every
# consumer reads the lazy file scan. At cluster scale this is the standard
# "materialize shared intermediate to the object store" move; pair sets
# are (long, long) rows and token streams are bounded by corpus token
# count, both tiny relative to the raw corpus.


def shingles_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized (doc_id, sh) shingle stream — ONE tokenize +
    shingle pass per process per corpus, shared by d02 (within-corpus
    pairs), dc02 (cross train/eval pairs), and transitively d05/d06."""
    return materialized_df(
        spark, sf_dir, "shingles", _shingles, ["doc_id", "sh"]
    )


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repartitioned load for the CPU-heavy shingle/bit-sum paths."""
    return tables.load_parallel(spark, sf_dir, "documents")


# --------------------------------------------------------------------------
# d01: exact dedup (fingerprint keep-first)
# --------------------------------------------------------------------------


def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on the md5 content fingerprint, keep the
    lowest doc_id (deterministic keep-first, cleaner.py:99-101)."""
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", T.doc_fingerprint(F.col("text")).alias("fingerprint"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fingerprint")
    )


# --------------------------------------------------------------------------
# d02: MinHash + LSH near-dup
# --------------------------------------------------------------------------


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-token shingles per doc: (doc_id, sh). Docs with <3
    tokens have no shingles and exit the near-dup path."""
    tk = T.raw_tokens(T.normalize_text(F.col("text")))
    return (
        _docs_par(spark, sf_dir)
        .select("doc_id", tk.alias("tk"))
        .filter(F.size("tk") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(tk) - 2), "
                        "i -> concat_ws(' ', tk[i-1], tk[i], tk[i+1]))"
                    )
                )
            ).alias("sh"),
        )
    )


# Universal-hash family for the minhash signatures: one md5 per shingle
# decoded to two 32-bit ints (a, b), then h_s = (a * P_s + b) mod M — 16
# integer mixes instead of 16 md5 calls per shingle row (~4× cheaper on
# the signature stage). M = 2^32-5 (prime); P_s < 2^30 keeps a*P_s+b
# under 2^62: exact wrap-free int64 in both engines.
MINHASH_M = 4294967291
MINHASH_PS = [(2654435761 + 40503 * s) % (2 ** 30) | 1 for s in range(N_HASHES)]


def _hex32(expr_digest: str, offset: int) -> str:
    """Engine-neutral SQL: decode 8 hex digits of `expr_digest` starting
    at 1-based `offset` into a non-negative int64 (ASCII arithmetic, no
    conv()/unhex() — identical text runs on Spark and DuckDB)."""
    terms = " + ".join(
        f"({_hexdigit_to_int(f'substr({expr_digest}, {offset + i}, 1)')}"
        f" * CAST({16 ** (7 - i)} AS BIGINT))"  # INT32 literal would overflow
        for i in range(8)
    )
    return f"(CAST({terms} AS BIGINT))"


def _minhash_sigs(sh: DataFrame) -> DataFrame:
    """16 deterministic minhashes per doc: min over shingles of the
    universal hash (a·P_s + b) mod M of the shingle's md5."""
    with_ab = sh.withColumn("dg", F.md5("sh")).select(
        "doc_id",
        F.expr(_hex32("dg", 1)).alias("ha"),
        F.expr(_hex32("dg", 9)).alias("hb"),
    )
    aggs = [
        F.min(F.expr(f"(ha * {p} + hb) % {MINHASH_M}")).alias(f"h{s}")
        for s, p in enumerate(MINHASH_PS)
    ]
    return with_ab.groupBy("doc_id").agg(*aggs)


BAND_K = 1000003  # chain multiplier; x*K < 2^32 * 2^20 — wrap-free int64


def _band_hash_expr(b: int) -> str:
    """Engine-neutral SQL: fold band b's 4 signature ints into one
    bucket key via x -> (x*K + h) mod M."""
    rows_per_band = N_HASHES // N_BANDS
    x = f"h{b * rows_per_band}"
    for r in range(1, rows_per_band):
        x = f"(({x} * {BAND_K} + h{b * rows_per_band + r}) % {MINHASH_M})"
    return x


def _bands(sigs: DataFrame) -> DataFrame:
    """4 bands of 4 signature ints each, folded to one integer key —
    the LSH shuffle moves (long, long) pairs, nothing wider."""
    entries: list[Column] = []
    for b in range(N_BANDS):
        entries.append(
            F.struct(
                F.lit(b).alias("band"),
                F.expr(_band_hash_expr(b)).alias("bh"),
            )
        )
    return sigs.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "e.band", "e.bh")


def _verify_jaccard(sh: DataFrame, cand: DataFrame, a: str, b: str) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair set against the
    shingle stream: |A∩B| via an equi-join on shingle digests, |A∪B|
    from the per-doc set sizes, keep ≥ JACCARD_MIN. ONE definition
    shared by d02 (within-corpus pairs) and dc02 (train×eval pairs) so
    the threshold semantics can never drift between them."""
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ea = sh.select(F.col("doc_id").alias(a), F.col("sh").alias("sh_a"))
    eb = sh.select(F.col("doc_id").alias("_vb"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(ea, a)
        .join(
            eb,
            (F.col(b) == F.col("_vb")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = n.select(F.col("doc_id").alias(a), F.col("n").alias("n_a"))
    nb = n.select(F.col("doc_id").alias(b), F.col("n").alias("n_b"))
    return (
        inter.join(na, a)
        .join(nb, b)
        .select(
            a,
            b,
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_MIN)
    )


def d02_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    shingle → 16 minhashes → 4 LSH bands → candidate pairs sharing any
    band bucket → exact Jaccard via shingle equi-join → keep ≥ 0.5.
    The shingle stream comes from the once-per-process materialization
    (shingles_m), so repeat consumers skip the tokenize pass.

    SCALE ORDERING (the one adversarial regime LSH cannot bound):
    banding bounds candidates when near-dup cliques are SMALL; a
    corpus with k EXACT copies of one document puts all k in the same
    bucket of every band → C(k,2) candidate pairs. The cure is not a
    cap inside d02 (any bucket-size cutoff silently drops true pairs)
    but pipeline ordering: run exact dedup (d01, hash-linear) FIRST so
    identical bodies collapse to one representative, leaving residual
    cliques genuinely-near-dup and small. pl01_training_pipeline
    encodes exactly that order; d02 standalone states the pure
    operator semantics.
    """
    sh = shingles_m(spark, sf_dir)
    bands = _bands(_minhash_sigs(sh))
    b2 = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band").alias("band_b"),
        F.col("bh").alias("bh_b"),
    )
    cand = (
        bands.join(
            b2,
            (F.col("band") == F.col("band_b"))
            & (F.col("bh") == F.col("bh_b"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    # No trailing presentation sort (r16): the driver's correctness
    # check is an order-insensitive value hash, and a global sort of
    # the result costs a range exchange whose boundary sampling
    # re-executes the expensive verify stage a second time. Applies to
    # every query in this family.
    return _verify_jaccard(sh, cand, "doc_a", "doc_b")


# --------------------------------------------------------------------------
# d03: SimHash near-dup
# --------------------------------------------------------------------------


def _hexdigit_to_int(char_expr: str) -> str:
    """ASCII arithmetic hex-digit decode, identical in both engines."""
    return (
        f"(CASE WHEN ascii({char_expr}) >= 97 THEN ascii({char_expr}) - 87 "
        f"ELSE ascii({char_expr}) - 48 END)"
    )


def _bit_expr(engine: str, k: int) -> str:
    """Bit k (0-63) of md5(tok): nibble k//4 of the hex digest, bit
    3-(k%4) within the nibble. `engine` picks the integer-div spelling."""
    nib = _hexdigit_to_int(f"substr(md5(tok), {k // 4 + 1}, 1)")
    shift = 2 ** (3 - k % 4)
    div = "div" if engine == "spark" else "//"
    return f"(({nib} {div} {shift}) % 2)"


def _simhash_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 64-bit SimHash as 4×16-bit integer chunks.

    Majority vote per bit over the doc's distinct normalized tokens
    (+1 if the token's md5 bit is set, −1 otherwise); chunk c packs
    bits 16c..16c+15 little-endian. Pure integer arithmetic.

    The digest and its 16 nibbles are materialized once per token row
    before aggregation — the 64 per-bit sums then read precomputed
    nibble columns instead of re-hashing the token 64 times."""
    toks = (
        _docs_par(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(T.raw_tokens(T.normalize_text(F.col("text"))))
            ).alias("tok"),
        )
        .withColumn("dg", F.md5("tok"))
        .select(
            "doc_id",
            *[
                F.expr(_hexdigit_to_int(f"substr(dg, {j + 1}, 1)"))
                .alias(f"nib{j}")
                for j in range(16)
            ],
        )
    )
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(
                    f"2 * ((nib{k // 4} div {2 ** (3 - k % 4)}) % 2) - 1"
                )
            ).alias(f"s{k}")
            for k in range(64)
        ]
    )
    chunk_cols = []
    for c in range(4):
        expr = " + ".join(
            f"(CASE WHEN s{16 * c + k} > 0 THEN {2 ** k} ELSE 0 END)"
            for k in range(16)
        )
        chunk_cols.append(F.expr(expr).cast("long").alias(f"c{c}"))
    return sums.select("doc_id", *chunk_cols)


def d03_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: candidates share ≥1 exact 16-bit
    chunk (pigeonhole: hamming ≤ 3 over 4 chunks ⇒ at least one chunk
    is identical, so the prefilter is exact, not just a recall trade),
    verified by full 64-bit hamming ≤ HAMMING_MAX.

    Candidate generation is a hash equi-join on the exploded
    (chunk_idx, chunk_value) key — never an OR-of-equalities join
    condition, which Spark can only execute as an all-pairs nested
    loop. Each chunk bucket is a small clique; the pair space is the
    union of bucket cliques, shuffled on ≤16-byte keys."""
    ch = cache_slot("d03_chunks", _simhash_chunks(spark, sf_dir))
    bands = ch.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("band"), F.col(f"c{c}").alias("bv")
                    )
                    for c in range(4)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.band", "e.bv")
    b2 = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("band").alias("band_b"),
        F.col("bv").alias("bv_b"),
    )
    cand = (
        bands.join(
            b2,
            (F.col("band") == F.col("band_b"))
            & (F.col("bv") == F.col("bv_b"))
            & (F.col("doc_id") < F.col("doc_b")),
        )
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )
    ca = ch.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"c{c}").alias(f"a{c}") for c in range(4)],
    )
    cb = ch.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"c{c}").alias(f"b{c}") for c in range(4)],
    )
    hamming = None
    for c in range(4):
        h = F.bit_count(F.col(f"a{c}").bitwiseXOR(F.col(f"b{c}")))
        hamming = h if hamming is None else (hamming + h)
    return (
        cand.join(ca, "doc_a")
        .join(cb, "doc_b")
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


# --------------------------------------------------------------------------
# d04: character n-gram Jaccard
# --------------------------------------------------------------------------


# Max docs per (lang, lbucket, gram) usable as candidates; the oracle SQL
# uses the same value. A larger cap raises recall on larger corpora and
# blocks, at quadratic candidate cost per gram: fan-out per block per
# gram is ≤ C(cap, 2).
NGRAM_DF_CAP = 64


def _d04_gram_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc distinct char-3-gram ARRAY with the (lang, length/100)
    block keys and the set size: (doc_id, lang, lbucket, grams, n).
    One array row per doc — the compact form to cache (the exploded
    stream is ~n× larger) and the free source of the per-doc gram
    count the Jaccard denominator needs (no extra shuffle).

    Grams are INTEGER-PACKED, not strings (round-8 d04 perf): each
    3-gram is the injective 63-bit pack cp0<<42 | cp1<<21 | cp2 of its
    codepoints (codepoints ≤ 0x10FFFF < 2^21; split('')+ascii() is
    codepoint-exact incl. astral planes). Injective ⇒ gram-set
    intersections/DF-groups are IDENTICAL to the string form — the
    jaccard output and the oracle are unchanged — while the verify's
    array_intersect compares 8-byte longs instead of hashing strings
    and the candidate shuffle keys shrink to fixed width. Measured at
    sf0.1: the d04 verify+candidate stages drop ~2.5× in CPU."""
    base = _docs_par(spark, sf_dir).select(
        "doc_id",
        "lang",
        T.normalize_text(F.col("text")).alias("norm"),
    ).withColumn("lbucket", F.floor(F.length("norm") / 100))
    return (
        base.filter(F.length("norm") >= 3)
        .select(
            "doc_id",
            "lang",
            "lbucket",
            F.expr("transform(split(norm, ''), c -> ascii(c))").alias("cp"),
        )
        .select(
            "doc_id",
            "lang",
            "lbucket",
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, size(cp) - 3), i -> "
                    "(cast(cp[i] as bigint) << 42)"
                    " + (cast(cp[i+1] as bigint) << 21)"
                    " + cast(cp[i+2] as bigint))"
                )
            ).alias("grams"),
        )
        .withColumn("n", F.size("grams").cast("long"))
    )


def gram_arrays_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-doc packed-3-gram array table as a once-per-process
    parquet landing (r17). The r7 A/B that kept this in-memory-only
    ("d04 is their only direct consumer") is stale: d07, d10 and d11
    now derive candidates/coverage from the same table, so a bench
    pass re-ran the normalize→codepoint-pack→array_distinct build
    8-10× (4 queries × 2 reps + the d04/d07 pair landings). One
    landing; consumers read the scan and cache it for their own
    multi-branch use in one shared slot ("gram_arrays"), since they
    all cache the same plan."""
    return materialized_df(
        spark, sf_dir, "gram_arrays", _d04_gram_arrays,
        ["doc_id", "lang", "lbucket", "grams", "n"],
    )


def _capped_gram_groups(
    grams: DataFrame,
    df_cap: int | None,
    keys: tuple[str, ...] = ("lang", "lbucket", "g"),
) -> DataFrame:
    """Eligible (lang, lbucket, g) groups — doc frequency in
    [2, df_cap] — as sorted doc-id arrays, built TWO-PASS (round-15
    VERDICT ask #1): pass 1 aggregates only a COUNT per gram group and
    the [2, cap] eligibility filter runs on that count; pass 2
    semi-joins the gram stream against the surviving keys and
    collect_lists doc-ids ONLY for eligible grams. The aggregation
    buffer is therefore bounded by cap × id-width (~512 B at cap=64)
    per group. The previous one-pass form (collect_list THEN filter
    size ≤ cap) materialized every group's FULL doc-id array before
    discarding it — and at saturation (the r15 30×-replication probe:
    EVERY gram over-cap) that collects the entire corpus-sized gram
    stream into aggregation buffers only to throw it away, a
    straggler/spill hazard exactly where the corpus is biggest. The
    extra shuffle of the gram stream is the price of the bound; the
    count pass itself is a cheap partial-aggregating count.
    df_cap=None keeps the single-pass shape (no cap → no filter to
    hoist; callers use it only on bounded fixtures). `keys` is the
    blocking key set — d04/d10 block on (lang, lbucket, g), d07/d11 on
    (lang, g) because containment must cross length classes."""
    keys = list(keys)
    if df_cap is None:
        return (
            grams.groupBy(*keys)
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
            .filter(F.size("ds") >= 2)
        )
    # grams carry one row per (doc, distinct gram) — upstream
    # array_distinct — so count(*) == the group's doc frequency
    elig = (
        grams.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= df_cap))
        .select(*keys)
    )
    return (
        grams.join(elig, keys, "left_semi")
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
    )


def _expand_group_pairs(groups: DataFrame) -> DataFrame:
    """C(n,2) ordered candidate pairs from each group's sorted doc-id
    array, JVM-side — bounded by C(df_cap, 2) per group."""
    return groups.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(ds) - 2), "
                "i -> transform(sequence(i + 1, size(ds) - 1), "
                "j -> struct(ds[i] AS doc_a, ds[j] AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")


def _d04_candidates(grams: DataFrame, df_cap: int | None) -> DataFrame:
    """Candidate pairs: docs sharing ≥1 RARE gram within a block.

    The df ∈ [2, cap] eligibility filter is the rare-gram prefilter —
    high-DF grams (`the`, `ing`) otherwise make per-block candidates
    quadratic in block size (the round-2 scale-killer); the shrink is
    deterministic (a pure predicate on gram doc-frequency), mirrored
    exactly in the oracle SQL, and the per-group expansion is bounded
    by C(df_cap, 2). Built via the two-pass count→filter→semi-join→
    collect_list shape (see _capped_gram_groups) so no over-cap group
    ever materializes its doc-id array.
    Recall trade (documented): a pair sharing ONLY common grams is not
    found — near-dups at jaccard ≥ 0.4 share many grams, so in
    practice some rare gram survives (pinned by the edge test)."""
    return _expand_group_pairs(_capped_gram_groups(grams, df_cap)).distinct()


def _pair_gram_intersections(spark, arrays: DataFrame, cand: DataFrame) -> DataFrame:
    """Shared exact-verify join for the gram-blocked dedup family
    (d04/d07/d10/d11): candidate pairs joined to the per-doc gram
    ARRAYS, intersection sized JVM-side — one array_intersect per
    pair, no exploded pair-stream shuffle, no giant groupBy. Returns
    (doc_a, doc_b, inter, n_a, n_b, _pd_barrier).

    - explicit repartition on doc_a: the pair set is tiny on disk, so
      AQE would coalesce it to 1-2 partitions and run ALL the
      array_intersect CPU in straggler tasks (round-7 lesson);
    - gram-array sides merge-pinned: they are corpus-sized and
      size-underestimated (transform() stats inherit scan bytes), so
      an estimate flip must never broadcast them (the r14 d08 catch);
    - `_pd_barrier` (nondeterministic) blocks Catalyst from pushing
      the downstream score filter into the join condition, which would
      evaluate array_intersect twice per pair."""
    cand = cand.repartition(shuffle_width(spark), "doc_a")
    ga = arrays.select(
        F.col("doc_id").alias("doc_a"),
        F.col("grams").alias("gs_a"),
        F.col("n").alias("n_a"),
    )
    gb = arrays.select(
        F.col("doc_id").alias("doc_b"),
        F.col("grams").alias("gs_b"),
        F.col("n").alias("n_b"),
    )
    return (
        cand.join(ga.hint("merge"), "doc_a")
        .join(gb.hint("merge"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("gs_a", "gs_b")).cast("long").alias(
                "inter"
            ),
            "n_a",
            "n_b",
            F.monotonically_increasing_id().alias("_pd_barrier"),
        )
    )


def d04_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-3-gram Jaccard pairs, blocked by (lang, length/100
    bucket): candidates come from a RARE-gram equi-join inside each
    block (within-block doc frequency ≤ NGRAM_DF_CAP, see
    _d04_candidates), then exact Jaccard is verified from the FULL
    distinct-gram sets of each candidate pair, keep ≥ 0.4 — the d02
    shape: cheap blocked candidates, exact verification on candidates
    only.

    RECALL CAVEAT (by design, mirrored in the oracle): a true pair at
    jaccard ≥ 0.4 that shares ONLY grams commoner than NGRAM_DF_CAP in
    its block is never considered — the cap trades unbounded worst-case
    recall for bounded candidate fan-out. In practice near-dups share
    rare grams (typos, names, numbers). MEASURED (round 7): recall vs the
    uncapped candidate join at cap=64 on the sf0.01 corpus is 1.0
    (4579/4579 pairs at jaccard ≥ 0.4);
    tests/test_dedup.py::test_d04_cap_recall_floor_on_corpus pins a
    0.95 floor as the tripwire for future cap/corpus changes.

    The gram arrays are a shared parquet landing since r17
    (gram_arrays_m): the r7 single-consumer measurement that kept them
    in-memory-only predates d07/d10/d11, which now all derive
    candidates/coverage from the same table — one landing replaces
    8-10 rebuilds of the normalize→pack→distinct chain per bench pass.

    PERF (round-7 root-cause of the r6 17 s bench anomaly): the
    candidate pair set is tiny on disk (~16 B/row), so AQE's
    post-shuffle coalescing collapsed the distinct's exchange to 1-2
    partitions — and ALL the array_intersect CPU (the dominant cost of
    the query, ~125 CPU-s at sf0.1) then ran in 1-2 straggler tasks
    (wall 7.8 s vs 17.5 s rep-to-rep in one process, JVM CPU constant).
    The explicit repartition below spreads the verify across the
    cluster; per-row verify cost is what matters, not pair-set bytes.
    Catalyst also pushed the jaccard filter INTO the join condition,
    evaluating array_intersect twice per pair (condition + projection);
    the nondeterministic `_pd_barrier` column blocks that pushdown
    (PushPredicateThroughNonJoin requires an all-deterministic
    projection), halving intersect work. Same rows either way."""
    arrays = cache_slot("gram_arrays", gram_arrays_m(spark, sf_dir))
    grams = arrays.select(
        "doc_id", "lang", "lbucket", F.explode("grams").alias("g")
    )
    # Exact-verify against per-doc gram ARRAYS, not the exploded gram
    # stream: the candidate⋈gram⋈gram form shuffles |cand|·|grams per
    # doc| rows (~65M at sf0.1) into a pair-count aggregate, which was
    # the dominant cost of the whole query; joining candidates to the
    # O(#docs) array table instead computes the intersection JVM-side
    # with one array_intersect per pair — same exact counts, no
    # exploded shuffle, no giant groupBy. Array payloads are bounded by
    # doc length (distinct 3-grams ≤ chars), so candidate rows stay
    # small at any corpus scale.
    inter = _pair_gram_intersections(
        spark, arrays, _d04_candidates(grams, NGRAM_DF_CAP)
    )
    return (
        inter.select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
            "_pd_barrier",
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_MIN)
        .drop("_pd_barrier")
    )


D10_L2_LEN = 6  # level-2 blocking-gram length (2× the level-1 3-gram)


def _covered_docs(grams: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """Distinct doc ids holding ≥1 gram whose `keys` group has df in
    [2, NGRAM_DF_CAP] — d10/d11's coverage test WITHOUT building the
    eligible groups' doc-id arrays (r17): the main queries now read
    their level-1 pairs from the shared d04/d07 landings, so they need
    only the covered-doc SET, and count→filter→semi-join→distinct is
    strictly cheaper than the collect_list+array_sort+explode pass the
    candidate generator pays (which only the probes still need)."""
    elig = (
        grams.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= NGRAM_DF_CAP))
        .select(*keys)
    )
    return (
        grams.join(elig, list(keys), "left_semi")
        .select("doc_id")
        .distinct()
    )


def _d10_cand2(uncovered):
    """d10's level-2 recovery candidates: (lang, lbucket, 6-gram)
    groups over the uncovered stream under the same DF cap."""
    L = D10_L2_LEN
    g2 = uncovered.select(
        "doc_id",
        "lang",
        "lbucket",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(norm) - {L - 1}), "
                    f"i -> substring(norm, i, {L}))"
                )
            )
        ).alias("g"),
    )
    return _expand_group_pairs(_capped_gram_groups(g2, NGRAM_DF_CAP))


def d10_adaptive_block_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d04 with OCCUPANCY-ADAPTIVE blocking-key LENGTH — the s09 depth
    idea applied to gram blocking, built as the engineered answer to a
    measured failure mode (round 15): the 3-gram key space (~36³)
    SATURATES as a corpus grows — the 100× organic probe counted d07's
    candidates falling BELOW base and 30× replication at sf0.1 pushing
    every gram past the DF cap (candidates = 0), i.e. past saturation
    a fixed-length blocking key silently loses ALL recall while the
    wall stays flat.

    Rule (mirrored exactly in the oracle): level 1 is d04 verbatim —
    (lang, lbucket, 3-gram) groups with df ∈ [2, cap] emit candidate
    pairs. A doc is COVERED iff ≥1 of its grams sits in such an
    eligible group; every other doc lost its entire candidate
    potential to the cap (all shared grams crowded) or has none
    (all grams unique). UNCOVERED docs are re-keyed on 6-grams —
    doubling the key length squares the key space, so what was too
    common to block on becomes blockable — and level-2 groups
    (lang, lbucket, 6-gram) with df ∈ [2, cap] over the uncovered
    stream emit recovery candidates. Verification is d04's exact
    3-gram-set Jaccard on the union of both candidate sets, so the
    OUTPUT contract is d04's (pairs at jaccard ≥ 0.4); only candidate
    completeness changes.

    Recall contract: level 2 recovers uncovered↔uncovered pairs; an
    uncovered↔covered pair stays missed (the covered side had its
    chance at level 1) — documented, like d04's cap trade. Further
    decades stack the same move (12-gram level 3) exactly as s09
    stacks refinement levels.

    Scale: the level-2 stream is built ONLY from uncovered docs (a
    corpus far from saturation pays one cheap anti-join and nothing
    else: at sf0.01/sf0.1 the uncovered set is a few short docs), and
    its per-group fan-out is capped by the same C(cap, 2) bound as
    level 1. Level-2 keys are the raw 6-char substrings (DuckDB-exact;
    no 126-bit pack exists for 6 codepoints and hashing would make
    candidates engine-dependent); the stream they key is
    |uncovered| × doc-length, not corpus-sized. The verify join reads
    the same merge-pinned gram-array sides as d04 (r14 d08 catch)."""
    arrays = cache_slot("gram_arrays", gram_arrays_m(spark, sf_dir))
    g1 = arrays.select(
        "doc_id", "lang", "lbucket", F.explode("grams").alias("g")
    )
    covered = _covered_docs(g1, ("lang", "lbucket", "g"))
    L = D10_L2_LEN
    uncovered = (
        _docs_par(spark, sf_dir)
        .select("doc_id", "lang", "text")
        .join(covered, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            T.normalize_text(F.col("text")).alias("norm"),
        )
        .withColumn("lbucket", F.floor(F.length("norm") / 100))
        .filter(F.length("norm") >= L)
    )
    # Level 1 is d04 VERBATIM (same groups, same cap, same threshold,
    # same jaccard), so its verified pairs ARE the shared d04 landing
    # — read it instead of re-expanding and re-intersecting the same
    # ~457K candidate pairs the d04 row already verifies (r17; guide
    # §1.2 "don't compute things you already have"). The two levels
    # are DISJOINT by construction — every level-1 pair joins two
    # COVERED docs, every level-2 candidate joins two UNCOVERED docs —
    # so the union needs no cross-level dedup; cand2 dedups itself.
    lvl1 = d04_pairs_m(spark, sf_dir)
    cand2 = _d10_cand2(uncovered).distinct()
    inter2 = _pair_gram_intersections(spark, arrays, cand2)
    lvl2 = (
        inter2.select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
            "_pd_barrier",
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_MIN)
        .drop("_pd_barrier")
    )
    return lvl1.unionByName(lvl2)


# --------------------------------------------------------------------------
# d05: near-dup cluster collapse (connected components + keep-first)
# --------------------------------------------------------------------------

CC_MAX_ITERS = 50  # with pointer-jumping, covers diameters up to ~2**50


def connected_components(edges: DataFrame) -> DataFrame:
    """Min-label propagation with pointer jumping to fixpoint over an
    undirected edge list (src, dst): returns (node, lbl) where lbl is
    the smallest node id in the node's connected component.

    Each round does (1) one edge-propagation join + min-aggregate, and
    (2) one pointer-jump join — every node shortcuts to the label of
    its current label (the label is always itself a node id, so it is
    always resolvable). The jump makes label paths halve each round,
    so convergence is O(log diameter) rounds rather than O(diameter):
    CC_MAX_ITERS=50 therefore covers chains of length ~2**50 — no real
    corpus, however adversarial, can exhaust it (the hostile-chain
    crash mode flagged in round-3 ADVICE is gone; `tests/test_dedup.py`
    pins a chain longer than the old 25-round cap). Labels are
    monotonically non-increasing, so the total label sum is a fixpoint
    certificate (unchanged sum ⟺ no label moved — one O(1) scalar read
    per iteration, not a row-level diff). localCheckpoint truncates the
    growing lineage each round. GraphX/GraphFrames large-star/small-star
    remains the named alternative for graphs too big for this loop."""
    # Materialize the edge list ONCE: every propagation round joins
    # against `both`, and without this the full upstream candidate
    # pipeline (shingle/signature/band joins) would re-execute per
    # round — ~10x the whole query's cost for a multi-round graph.
    # NOT src-repartitioned before the checkpoint (r17): A/B'd twice
    # in both orderings on gr05 and measured ~1 s WORSE (4.2 s vs
    # 3.1 s means) — the up-front full-edge shuffle plus the wider
    # checkpoint write cost more than the per-round propagation joins
    # save on corpora whose label table is tiny next to the edges.
    both = (
        edges.union(edges.select(F.col("dst"), F.col("src")))
        .toDF("src", "dst")
        .localCheckpoint()
    )
    labels = (
        both.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
        .localCheckpoint()
    )
    prev = labels.agg(F.sum("lbl")).collect()[0][0]  # O(1) scalar read
    if prev is None:  # no edges at all — nothing to propagate
        return labels
    for _ in range(CC_MAX_ITERS):
        prop = both.join(labels, both["src"] == labels["node"]).select(
            F.col("dst").alias("node"), F.col("lbl")
        )
        labels = (
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
        # pointer jump: shortcut each node to its label's own label
        jump = labels.select(
            F.col("node").alias("j_node"), F.col("lbl").alias("j_lbl")
        )
        labels = (
            labels.join(jump, labels["lbl"] == jump["j_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("j_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .localCheckpoint()
        )
        cur = labels.agg(F.sum("lbl")).collect()[0][0]
        if cur == prev:
            return labels
        prev = cur
    raise RuntimeError(
        f"connected_components did not converge in {CC_MAX_ITERS} rounds"
    )


D07_CONT_MIN = 0.8  # keep pairs where |A∩B| / min(|A|,|B|) ≥ this


def _d07_elig_groups(arrays: DataFrame) -> DataFrame:
    """d07/d11's eligible (lang, rare gram) groups — NO length bucket,
    containment must cross them — built via the buffer-bounded
    two-pass _capped_gram_groups (r15 VERDICT ask #1: d07's generator
    had the same collect-then-filter hazard as d04's)."""
    grams = arrays.select("doc_id", "lang", F.explode("grams").alias("g"))
    return _capped_gram_groups(grams, NGRAM_DF_CAP, keys=("lang", "g"))


def _d07_candidates(arrays: DataFrame) -> DataFrame:
    """d07's blocked candidate pair set: (lang, rare gram) groups
    expanded to C(n,2) ordered pairs JVM-side, capped at NGRAM_DF_CAP
    docs per gram."""
    return _expand_group_pairs(_d07_elig_groups(arrays)).distinct()


def d07_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT dedup — |A∩B| / min(|A|, |B|): catches a
    short document quoted inside a long one, which symmetric Jaccard
    (d04) structurally misses (a 10× length gap caps jaccard at ~0.1
    however perfect the inclusion). This is the signal a training
    pipeline needs for boilerplate wrappers, quote-inclusion, and
    partial mirrors.

    Same shape as d04 — blocked candidates, exact verify on candidates
    only — but candidates must CROSS length buckets (the whole point),
    so blocking is (lang, rare gram) without d04's length bucket: the
    contained short doc's rare grams are present verbatim in its
    container. The DF cap bounds per-gram fan-out at C(cap, 2); the
    recall trade (a contained pair sharing only common grams is
    missed) mirrors d04's and is pinned by a planted-pair test.

    Scale: one shuffle groups the gram stream per (lang, g); pairs
    expand JVM-side from sorted doc lists; verify joins candidates to
    the per-doc gram ARRAYS (array_intersect per pair, no exploded
    pair-stream join), explicitly repartitioned so AQE cannot collapse
    the CPU-heavy verify into straggler tasks (the round-7 lesson);
    `_pd_barrier` keeps Catalyst from double-evaluating the
    containment filter inside the join."""
    arrays = cache_slot("gram_arrays", gram_arrays_m(spark, sf_dir))
    inter = _pair_gram_intersections(spark, arrays, _d07_candidates(arrays))
    return (
        inter.select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
            "_pd_barrier",
        )
        .filter(F.col("containment") >= D07_CONT_MIN)
        .drop("_pd_barrier")
    )


_D07_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, {sql_normalize('text')} AS norm FROM documents
),
g AS (
  SELECT doc_id, lang, _u.g
  FROM (SELECT doc_id, lang,
               list_distinct(list_transform(range(1, length(norm) - 1),
                 i -> substr(norm, i, 3))) AS grams
        FROM base WHERE length(norm) >= 3),
       UNNEST(grams) AS _u(g)
),
gdf AS (SELECT lang, g, count(*) AS df FROM g GROUP BY 1, 2),
rare AS (SELECT g.doc_id, g.lang, g.g
         FROM g JOIN gdf ON g.lang = gdf.lang AND g.g = gdf.g
         WHERE gdf.df <= {NGRAM_DF_CAP}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM rare a JOIN rare b
           ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id),
n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
          FROM cand c
          JOIN g ga ON ga.doc_id = c.doc_a
          JOIN g gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
          GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b,
       i.inter::DOUBLE / least(na.n, nb.n)::DOUBLE AS containment
FROM inter i
JOIN n na ON na.doc_id = i.doc_a
JOIN n nb ON nb.doc_id = i.doc_b
WHERE i.inter::DOUBLE / least(na.n, nb.n)::DOUBLE >= {D07_CONT_MIN}
ORDER BY doc_a, doc_b
"""


def _d11_cand2(uncovered):
    """d11's level-2 recovery candidates: (lang, 6-gram) groups over
    the uncovered stream under the same DF cap — still NO length
    bucket, the recovered pairs must cross length classes exactly as
    d07's level-1 pairs do."""
    L = D10_L2_LEN
    g2 = uncovered.select(
        "doc_id",
        "lang",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, length(norm) - {L - 1}), "
                    f"i -> substring(norm, i, {L}))"
                )
            )
        ).alias("g"),
    )
    return _expand_group_pairs(
        _capped_gram_groups(g2, NGRAM_DF_CAP, keys=("lang", "g"))
    )


def d11_adaptive_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d07 with OCCUPANCY-ADAPTIVE blocking-key LENGTH — d10's move
    applied to the containment operator, closing the round-15 probe
    finding that convicted d07 at scale: its organic 100× candidates
    fell BELOW base (163,054 at sf0.1 → 135,720 at 100×, while d04's
    grew 457,507 → 4,989,720) because the
    (lang, 3-gram) key space saturates — past saturation the fixed-
    length key silently loses recall while wall-clock stays flat.

    Rule (mirrored exactly in the oracle): level 1 is d07 verbatim —
    (lang, 3-gram) groups with df ∈ [2, cap], no length bucket
    (containment must cross length classes) — and a doc is COVERED iff
    ≥1 of its grams sits in an eligible group. UNCOVERED docs are
    re-keyed on 6-grams, squaring the key space so what was too common
    to block on becomes blockable; level-2 (lang, 6-gram) groups with
    df ∈ [2, cap] over the uncovered stream emit recovery candidates.
    Verification is d07's exact 3-gram-set containment
    |A∩B| / min(|A|, |B|) on the union of both candidate sets, keep
    ≥ 0.8 — the OUTPUT contract is d07's; only candidate completeness
    changes. A contained short doc inside a crowded corpus is exactly
    the doc this recovers: its rare 6-grams are present verbatim in
    its container, and 6-gram blocking preserves the cross-length
    property because there is still no length bucket in the key.

    Recall contract: level 2 recovers uncovered↔uncovered pairs; an
    uncovered↔covered pair stays missed (the covered side had its
    chance at level 1) — documented, like d04/d07's cap trade.
    Further decades stack the same move (12-gram level 3).

    Scale: the level-2 stream is built ONLY from uncovered docs (far
    from saturation it is a cheap anti-join and nothing else); both
    levels' group buffers are bounded by the two-pass
    count→filter→semi-join→collect_list shape; per-group fan-out is
    capped at C(cap, 2); the verify join is the shared merge-pinned
    gram-array shape (_pair_gram_intersections)."""
    arrays = cache_slot("gram_arrays", gram_arrays_m(spark, sf_dir))
    g1 = arrays.select("doc_id", "lang", F.explode("grams").alias("g"))
    covered = _covered_docs(g1, ("lang", "g"))
    uncovered = (
        _docs_par(spark, sf_dir)
        .select("doc_id", "lang", "text")
        .join(covered, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            T.normalize_text(F.col("text")).alias("norm"),
        )
        .filter(F.length("norm") >= D10_L2_LEN)
    )
    # Level 1 is d07 VERBATIM — its verified pairs are the shared d07
    # landing; levels are disjoint (covered vs uncovered endpoints),
    # the d10 move applied to the containment operator (r17).
    lvl1 = d07_pairs_m(spark, sf_dir)
    cand2 = _d11_cand2(uncovered).distinct()
    inter2 = _pair_gram_intersections(spark, arrays, cand2)
    lvl2 = (
        inter2.select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / F.least("n_a", "n_b").cast("double")
            ).alias("containment"),
            "_pd_barrier",
        )
        .filter(F.col("containment") >= D07_CONT_MIN)
        .drop("_pd_barrier")
    )
    return lvl1.unionByName(lvl2)


_D11_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, {sql_normalize('text')} AS norm FROM documents
),
g AS (
  SELECT doc_id, lang, _u.g
  FROM (SELECT doc_id, lang, norm,
               list_distinct(list_transform(range(1, length(norm) - 1),
                 i -> substr(norm, i, 3))) AS grams
        FROM base WHERE length(norm) >= 3),
       UNNEST(grams) AS _u(g)
),
gdf AS (SELECT lang, g, count(*) AS df FROM g GROUP BY 1, 2),
elig AS (SELECT g.doc_id, g.lang, g.g
         FROM g JOIN gdf ON g.lang = gdf.lang AND g.g = gdf.g
         WHERE gdf.df >= 2 AND gdf.df <= {NGRAM_DF_CAP}),
cand1 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM elig a JOIN elig b
            ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id),
covered AS (SELECT DISTINCT doc_id FROM elig),
unc AS (SELECT doc_id, lang, norm FROM base
        WHERE length(norm) >= {D10_L2_LEN}
          AND doc_id NOT IN (SELECT doc_id FROM covered)),
g2 AS (
  SELECT doc_id, lang, _u2.g
  FROM (SELECT doc_id, lang,
               list_distinct(list_transform(
                 range(1, length(norm) - {D10_L2_LEN - 2}),
                 i -> substr(norm, i, {D10_L2_LEN}))) AS grams
        FROM unc),
       UNNEST(grams) AS _u2(g)
),
g2df AS (SELECT lang, g, count(*) AS df FROM g2 GROUP BY 1, 2),
cand2 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM g2 a JOIN g2 b
            ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
          JOIN g2df d ON d.lang = a.lang AND d.g = a.g
          WHERE d.df <= {NGRAM_DF_CAP}),
cand AS (SELECT doc_a, doc_b FROM cand1
         UNION
         SELECT doc_a, doc_b FROM cand2),
n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
          FROM cand c
          JOIN g ga ON ga.doc_id = c.doc_a
          JOIN g gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
          GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b,
       i.inter::DOUBLE / least(na.n, nb.n)::DOUBLE AS containment
FROM inter i
JOIN n na ON na.doc_id = i.doc_a
JOIN n nb ON nb.doc_id = i.doc_b
WHERE i.inter::DOUBLE / least(na.n, nb.n)::DOUBLE >= {D07_CONT_MIN}
ORDER BY doc_a, doc_b
"""


def d02_pairs_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized d02 MinHash near-dup pair set — one mining pass
    per process per corpus, shared by d05 + d06."""
    return materialized_df(
        spark, sf_dir, "d02", d02_minhash_near_dup, ["doc_a", "doc_b"]
    )


def d03_pairs_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized d03 SimHash pair set (consumer: d06 + its reps)."""
    return materialized_df(
        spark, sf_dir, "d03", d03_simhash_near_dup, ["doc_a", "doc_b"]
    )


def d04_pairs_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized d04 n-gram Jaccard pair set (consumers: d06 and
    d10's level 1 — which is d04 verbatim, so its verified pairs ARE
    this landing; jaccard is carried so d10 never re-intersects the
    same candidate set)."""
    return materialized_df(
        spark, sf_dir, "d04", d04_ngram_jaccard,
        ["doc_a", "doc_b", "jaccard"],
    )


def d07_pairs_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized d07 containment pair set (consumer: d11's level 1,
    which is d07 verbatim — same groups, same cap, same threshold)."""
    return materialized_df(
        spark, sf_dir, "d07", d07_containment_pairs,
        ["doc_a", "doc_b", "containment"],
    )


def d08_pairs_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized d08 repeated-substring pair set (consumer: d09,
    which reads both endpoints + derives `starts` from the involved
    docs — four consumption paths that would otherwise each inline
    the full d08 subplan into the plan tree)."""
    return materialized_df(
        spark, sf_dir, "d08", d08_repeated_substrings, ["doc_a", "doc_b"]
    )


def d05_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collapse d02's near-dup PAIRS into clusters and pick each
    cluster's keep-first survivor — the step that turns pair mining
    into an actual dedup decision, mirroring the reference's exact
    keep-first (cleaner.py:99-101) at near-dup level.

    Output is the full dedup map: every document with the id of its
    cluster representative (lowest doc_id in its connected component;
    singletons map to themselves) and a survivor flag. Downstream, a
    semi-join on survivor=1 IS the deduplicated corpus."""
    pairs = d02_pairs_m(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(pairs)
    docs = _docs(spark, sf_dir).select("doc_id")
    return (
        docs.join(labels, docs["doc_id"] == labels["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("lbl"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn(
            "survivor",
            (F.col("doc_id") == F.col("cluster_id")).cast("int"),
        )
    )


def d06_unified_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION a real 100 TB pipeline ships: one survivor
    map reflecting EVERY near-dup signal. The d02 (MinHash/shingle),
    d03 (SimHash/token), and d04 (char-n-gram Jaccard) edge sets union
    into a single connected-components pass, so a cluster can form
    through mixed-signal chains (A~B by minhash, B~C by simhash — e.g.
    a light edit chained to a word-order scramble) that any single
    signal would leave split. Keep-first semantics as in d05: lowest
    doc_id per component survives (cleaner.py:99-101 generalized).

    Scale: the three candidate pipelines are independent (no barrier
    between them until the tiny edge-list union); edges are (long,
    long) pairs — document bodies never reach the CC join. CC cost is
    bounded by the pointer-jumping loop (O(log diameter) rounds)."""
    e2 = d02_pairs_m(spark, sf_dir)
    e3 = d03_pairs_m(spark, sf_dir)
    # positional union below: keep the 2-col shape (the landing also
    # carries jaccard for d10's level-1 reuse)
    e4 = d04_pairs_m(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        e2.union(e3)
        .union(e4)
        .distinct()
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    labels = connected_components(edges)
    docs = _docs(spark, sf_dir).select("doc_id")
    return (
        docs.join(labels, docs["doc_id"] == labels["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("lbl"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn(
            "survivor",
            (F.col("doc_id") == F.col("cluster_id")).cast("int"),
        )
    )


# --------------------------------------------------------------------------
# DuckDB oracle twins
# --------------------------------------------------------------------------

_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {sql_raw_tokens(sql_normalize('text'))} AS tk
         FROM documents),
shl AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(tk) - 1),
                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingles
        FROM toks WHERE len(tk) >= 3),
e AS (SELECT doc_id, _u.sh FROM shl, UNNEST(shingles) AS _u(sh))
"""

_SIG_COLS = ", ".join(
    f"min((ha * {p} + hb) % {MINHASH_M}) AS h{s}"
    for s, p in enumerate(MINHASH_PS)
)
_BAND_ROWS = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, {_band_hash_expr(b)} AS bh FROM sigs"
    for b in range(N_BANDS)
)

# CTE chain shared by d02 (pairs + jaccard) and d05 (recursive closure
# over the same pairs).
_D02_CTES = f"""{_SHINGLES_CTE},
eab AS (SELECT doc_id, sh, {_hex32('md5(sh)', 1)} AS ha,
               {_hex32('md5(sh)', 9)} AS hb FROM e),
sigs AS (SELECT doc_id, {_SIG_COLS} FROM eab GROUP BY doc_id),
bands AS ({_BAND_ROWS}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
n AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
          FROM cand c
          JOIN e ea ON ea.doc_id = c.doc_a
          JOIN e eb ON eb.doc_id = c.doc_b AND eb.sh = ea.sh
          GROUP BY c.doc_a, c.doc_b)"""

_D02_BODY = f"""
SELECT i.doc_a, i.doc_b,
       i.inter::DOUBLE / (na.n + nb.n - i.inter)::DOUBLE AS jaccard
FROM inter i
JOIN n na ON na.doc_id = i.doc_a
JOIN n nb ON nb.doc_id = i.doc_b
WHERE i.inter::DOUBLE / (na.n + nb.n - i.inter)::DOUBLE >= {JACCARD_MIN}"""

_D02_SQL = f"""
WITH {_D02_CTES}
{_D02_BODY}
ORDER BY doc_a, doc_b
"""

# d05 oracle: min-label CC over the d02 pairs — unrolled label
# rounds (helpers.sql_cc_min_label), NOT an all-pairs recursive
# closure; the cluster id is the smallest reachable doc_id (or the
# doc's own, whichever is lower).
_D05_SQL = f"""
WITH {_D02_CTES},
pairs AS ({_D02_BODY}),
{sql_cc_min_label("doc_a", "doc_b")}
SELECT doc.doc_id,
       least(doc.doc_id, coalesce(c.mn, doc.doc_id)) AS cluster_id,
       CAST(doc.doc_id = least(doc.doc_id, coalesce(c.mn, doc.doc_id))
            AS INTEGER) AS survivor
FROM documents doc LEFT JOIN cluster c ON c.node = doc.doc_id
ORDER BY doc.doc_id
"""

_SUM_COLS = ", ".join(
    f"sum(2 * {_bit_expr('duckdb', k)} - 1) AS s{k}" for k in range(64)
)
_CHUNK_COLS = ", ".join(
    "CAST("
    + " + ".join(
        f"(CASE WHEN s{16 * c + k} > 0 THEN {2 ** k} ELSE 0 END)"
        for k in range(16)
    )
    + f" AS BIGINT) AS c{c}"
    for c in range(4)
)

_D03_BODY = f"""
WITH toks AS (
  SELECT doc_id, _u.tok
  FROM (SELECT doc_id,
               list_distinct({sql_raw_tokens(sql_normalize('text'))}) AS tk
        FROM documents),
       UNNEST(tk) AS _u(tok)
),
sums AS (SELECT doc_id, {_SUM_COLS} FROM toks GROUP BY doc_id),
ch AS (SELECT doc_id, {_CHUNK_COLS} FROM sums)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
          + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3))
          AS BIGINT) AS hamming
FROM ch a JOIN ch b
  ON (a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2 OR a.c3 = b.c3)
 AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.c0, b.c0)) + bit_count(xor(a.c1, b.c1))
    + bit_count(xor(a.c2, b.c2)) + bit_count(xor(a.c3, b.c3)) <= {HAMMING_MAX}
"""

_D03_SQL = _D03_BODY + "ORDER BY doc_a, doc_b\n"

_D04_BODY = f"""
WITH base AS (
  SELECT doc_id, lang, {sql_normalize('text')} AS norm FROM documents
),
g AS (
  SELECT doc_id, lang, CAST(floor(length(norm) / 100) AS BIGINT) AS lbucket,
         _u.g
  FROM (SELECT doc_id, lang, norm,
               list_distinct(list_transform(range(1, length(norm) - 1),
                 i -> substr(norm, i, 3))) AS grams
        FROM base WHERE length(norm) >= 3),
       UNNEST(grams) AS _u(g)
),
gdf AS (SELECT lang, lbucket, g, count(*) AS df FROM g GROUP BY 1, 2, 3),
rare AS (SELECT g.doc_id, g.lang, g.lbucket, g.g
         FROM g JOIN gdf ON g.lang = gdf.lang AND g.lbucket = gdf.lbucket
                        AND g.g = gdf.g
         WHERE gdf.df <= {NGRAM_DF_CAP}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM rare a JOIN rare b
           ON a.g = b.g AND a.lang = b.lang AND a.lbucket = b.lbucket
          AND a.doc_id < b.doc_id),
n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
          FROM cand c
          JOIN g ga ON ga.doc_id = c.doc_a
          JOIN g gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
          GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b,
       i.inter::DOUBLE / (na.n + nb.n - i.inter)::DOUBLE AS jaccard
FROM inter i
JOIN n na ON na.doc_id = i.doc_a
JOIN n nb ON nb.doc_id = i.doc_b
WHERE i.inter::DOUBLE / (na.n + nb.n - i.inter)::DOUBLE >= {NGRAM_JACCARD_MIN}
"""

_D04_SQL = _D04_BODY + "ORDER BY doc_a, doc_b\n"

# d10 oracle: d04's level-1 candidates + the 6-gram recovery pass over
# docs with no [2, cap]-df gram, same exact-Jaccard verify (string
# grams; the Spark side's integer pack is injective so DF groups and
# intersection counts are identical)
_D10_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, {sql_normalize('text')} AS norm FROM documents
),
g AS (
  SELECT doc_id, lang, CAST(floor(length(norm) / 100) AS BIGINT) AS lbucket,
         _u.g
  FROM (SELECT doc_id, lang, norm,
               list_distinct(list_transform(range(1, length(norm) - 1),
                 i -> substr(norm, i, 3))) AS grams
        FROM base WHERE length(norm) >= 3),
       UNNEST(grams) AS _u(g)
),
gdf AS (SELECT lang, lbucket, g, count(*) AS df FROM g GROUP BY 1, 2, 3),
elig AS (SELECT g.doc_id, g.lang, g.lbucket, g.g
         FROM g JOIN gdf ON g.lang = gdf.lang AND g.lbucket = gdf.lbucket
                        AND g.g = gdf.g
         WHERE gdf.df >= 2 AND gdf.df <= {NGRAM_DF_CAP}),
cand1 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM elig a JOIN elig b
            ON a.g = b.g AND a.lang = b.lang AND a.lbucket = b.lbucket
           AND a.doc_id < b.doc_id),
covered AS (SELECT DISTINCT doc_id FROM elig),
unc AS (SELECT doc_id, lang,
               CAST(floor(length(norm) / 100) AS BIGINT) AS lbucket, norm
        FROM base
        WHERE length(norm) >= {D10_L2_LEN}
          AND doc_id NOT IN (SELECT doc_id FROM covered)),
g2 AS (
  SELECT doc_id, lang, lbucket, _u2.g
  FROM (SELECT doc_id, lang, lbucket,
               list_distinct(list_transform(
                 range(1, length(norm) - {D10_L2_LEN - 2}),
                 i -> substr(norm, i, {D10_L2_LEN}))) AS grams
        FROM unc),
       UNNEST(grams) AS _u2(g)
),
g2df AS (SELECT lang, lbucket, g, count(*) AS df FROM g2 GROUP BY 1, 2, 3),
cand2 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM g2 a JOIN g2 b
            ON a.g = b.g AND a.lang = b.lang AND a.lbucket = b.lbucket
           AND a.doc_id < b.doc_id
          JOIN g2df d ON d.lang = a.lang AND d.lbucket = a.lbucket
                     AND d.g = a.g
          WHERE d.df <= {NGRAM_DF_CAP}),
cand AS (SELECT doc_a, doc_b FROM cand1
         UNION
         SELECT doc_a, doc_b FROM cand2),
n AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, count(*) AS inter
          FROM cand c
          JOIN g ga ON ga.doc_id = c.doc_a
          JOIN g gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
          GROUP BY 1, 2)
SELECT i.doc_a, i.doc_b,
       i.inter::DOUBLE / (na.n + nb.n - i.inter)::DOUBLE AS jaccard
FROM inter i
JOIN n na ON na.doc_id = i.doc_a
JOIN n nb ON nb.doc_id = i.doc_b
WHERE i.inter::DOUBLE / (na.n + nb.n - i.inter)::DOUBLE >= {NGRAM_JACCARD_MIN}
ORDER BY doc_a, doc_b
"""

# d06 oracle: the same unrolled min-label CC as d05, but over the
# UNION of all three near-dup pair sets (each signal's full pipeline as
# a parenthesized WITH-subquery — DuckDB scopes the inner CTE names, so
# the colliding `toks` names don't clash). The unrolled form replaced
# the all-pairs recursive closure in round 13: with the templated
# corpus chaining most docs into ONE component, `reach` was n² rows
# and this single oracle (and pl06's embedded copy) ran for 40–65
# minutes at sf0.1.
_D06_SQL = f"""
WITH pairs AS (
  SELECT doc_a, doc_b FROM (WITH {_D02_CTES} {_D02_BODY})
  UNION
  SELECT doc_a, doc_b FROM ({_D03_BODY})
  UNION
  SELECT doc_a, doc_b FROM ({_D04_BODY})
),
{sql_cc_min_label("doc_a", "doc_b")}
SELECT doc.doc_id,
       least(doc.doc_id, coalesce(c.mn, doc.doc_id)) AS cluster_id,
       CAST(doc.doc_id = least(doc.doc_id, coalesce(c.mn, doc.doc_id))
            AS INTEGER) AS survivor
FROM documents doc LEFT JOIN cluster c ON c.node = doc.doc_id
ORDER BY doc.doc_id
"""

# --------------------------------------------------------------------------
# dc01: benchmark decontamination (train/eval n-gram overlap)
# --------------------------------------------------------------------------

DECON_NGRAM = 5     # token n-gram width for overlap detection
DECON_EVAL_MOD = 13  # doc_id % 13 == 0 → held-out eval slice (~7.7%)


DC03_MIN_CHARS = 20  # eval texts shorter than this are too generic to anchor


def dc03_verbatim_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STRICTEST rung of the decontamination ladder (dc01 = 5-gram
    overlap, dc02 = near-dup, dc03 = verbatim): flag every (train,
    eval) pair where the eval document's normalized text appears as a
    LITERAL SUBSTRING of the train document's — the "exact match"
    filter of LLM decontamination practice, catching benchmark items
    quoted wholesale inside web pages.

    Candidate generation is COMPLETE, not heuristic: if train contains
    eval verbatim, train's char-3-gram set is a superset of eval's, so
    joining on ONE gram of the eval text — its lexicographic minimum,
    the "anchor" — can never miss a true pair (unlike d04/d07's
    DF-capped recall trade). Worst case the anchor is common and the
    candidate set large; the exact `contains` verify then prunes
    JVM-side. Sub-DC03_MIN_CHARS eval texts are excluded — a
    20-char-minimum anchor guard, since a tiny/empty eval string would
    substring-match everything and mean nothing.

    Scale: eval anchors are O(#eval docs) rows; the join key is a
    40-byte gram; train bodies are scanned once and shuffled only for
    matching anchor grams; verification is one `contains` per
    candidate. Output: the flagged (train, eval) pairs."""
    base = _docs_par(spark, sf_dir).select(
        "doc_id", T.normalize_text(F.col("text")).alias("norm")
    )
    ev = base.filter(
        (F.col("doc_id") % DECON_EVAL_MOD == 0)
        & (F.length("norm") >= DC03_MIN_CHARS)
    ).select(
        F.col("doc_id").alias("eval_doc"), F.col("norm").alias("ev_norm")
    )
    anchors = ev.select(
        "eval_doc",
        "ev_norm",
        F.expr(
            "array_min(transform(sequence(1, length(ev_norm) - 2), "
            "i -> substr(ev_norm, i, 3)))"
        ).alias("anchor"),
    )
    train_grams = (
        base.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
        .filter(F.length("norm") >= 3)
        .select(
            F.col("doc_id").alias("train_doc"),
            "norm",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, length(norm) - 2), "
                        "i -> substr(norm, i, 3))"
                    )
                )
            ).alias("g"),
        )
    )
    # The BUILD side is pinned: anchors is one row per eval doc (a
    # benchmark set — small by nature) while train_grams carries the
    # full normalized text on EVERY gram row, corpus-sized times gram
    # fan-out. Left to estimates, a composed consumer's column pruning
    # (pl05) flipped Catalyst's choice to broadcasting train_grams —
    # 8.2 GiB at the 30× probe, over Spark's broadcast hard limit, and
    # wrong at any scale. Explicit broadcast(anchors) restores the
    # documented plan: train grams stream map-side, no shuffle of norm.
    return (
        train_grams.join(
            F.broadcast(anchors), train_grams["g"] == anchors["anchor"]
        )
        .filter(F.expr("contains(norm, ev_norm)"))
        .select("train_doc", "eval_doc")
    )


_DC03_SQL = f"""
WITH base AS (
  SELECT doc_id, {sql_normalize('text')} AS norm FROM documents
),
ev AS (
  SELECT doc_id AS eval_doc, norm AS ev_norm,
         list_min(list_transform(range(1, length(norm) - 1),
                                 i -> substr(norm, i, 3))) AS anchor
  FROM base
  WHERE doc_id % {DECON_EVAL_MOD} = 0 AND length(norm) >= {DC03_MIN_CHARS}
),
tg AS (
  SELECT doc_id AS train_doc, norm, _u.g
  FROM (SELECT doc_id, norm,
               list_distinct(list_transform(range(1, length(norm) - 1),
                                            i -> substr(norm, i, 3))) AS gs
        FROM base
        WHERE doc_id % {DECON_EVAL_MOD} != 0 AND length(norm) >= 3),
       UNNEST(gs) AS _u(g)
)
SELECT t.train_doc, e.eval_doc
FROM tg t JOIN ev e ON t.g = e.anchor
WHERE contains(t.norm, e.ev_norm)
ORDER BY train_doc, eval_doc
"""


def dc01_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the pass a training pipeline runs
    before fine-tuning/eval: flag every training document that shares
    at least one 5-token n-gram with the held-out eval slice (here the
    deterministic doc_id % 13 == 0 subset standing in for an external
    benchmark set). Output per train doc: distinct-gram count, number
    of grams also present anywhere in the eval set, and the
    contaminated flag.

    Scale: grams, not documents, are the join unit — the eval gram set
    is DISTINCT-ed and equi-joined (no broadcast assumption: at 100 TB
    the eval grams of a big benchmark suite may themselves be huge);
    per-doc gram arrays are built once in a single narrow pass and
    cached, so eval and train derivations share the scan."""
    toks = T.raw_tokens(F.lower(F.col("text")))
    w = DECON_NGRAM
    base = cache_slot(
        "dc01_grams",
        _docs_par(spark, sf_dir)
        .select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            (F.col("doc_id") % DECON_EVAL_MOD == 0).alias("is_eval"),
            F.expr(
                f"CASE WHEN size(toks) >= {w} THEN "
                f"array_distinct(transform(sequence(1, size(toks) - {w - 1}), "
                f"i -> concat_ws(' ', slice(toks, i, {w})))) "
                f"ELSE CAST(array() AS array<string>) END"
            ).alias("grams"),
        ),
    )
    eval_grams = (
        base.filter("is_eval").select(F.explode("grams").alias("g")).distinct()
    )
    train = base.filter(~F.col("is_eval"))
    # the docstring's "no broadcast assumption" made physical (round-12
    # dc03 lesson): eval_grams is a distinct-aggregate whose estimate
    # undershoots, and a huge benchmark suite would blow an
    # estimate-flipped broadcast — pinned to the documented gram-key
    # shuffle. A deployment with a known-small eval set may trade this
    # pin for broadcast(eval_grams) to keep the train stream map-side.
    hits = (
        train.select("doc_id", F.explode("grams").alias("g"))
        .join(eval_grams.hint("merge"), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        train.select("doc_id", F.size("grams").cast("long").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def dc02_neardup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP decontamination — dc01's contiguous-5-gram overlap
    misses an eval doc that was lightly paraphrased into the training
    set; this pass flags every train doc whose MinHash-LSH candidates
    include an eval doc at exact Jaccard ≥ 0.5 (the d02 machinery run
    ACROSS the train/eval boundary instead of within the corpus).
    Output per train doc: contaminated flag + best-matching eval doc
    (highest jaccard, ties to lowest eval id) + its jaccard.

    Scale: identical manners to d02 — band buckets bound the candidate
    space, the cross-side join prunes to train×eval pairs before any
    verification, and exact Jaccard joins on ≤32-byte shingle digests,
    never document bodies. The eval side is NOT assumed broadcastable."""
    mod = F.col("doc_id") % DECON_EVAL_MOD
    sh = shingles_m(spark, sf_dir)
    bands = _bands(_minhash_sigs(sh))
    tb = bands.filter(mod != 0)
    ev = bands.filter(mod == 0).select(
        F.col("doc_id").alias("e_id"),
        F.col("band").alias("band_e"),
        F.col("bh").alias("bh_e"),
    )
    cand = (
        tb.join(
            ev,
            (F.col("band") == F.col("band_e"))
            & (F.col("bh") == F.col("bh_e")),
        )
        .select(F.col("doc_id").alias("t_id"), "e_id")
        .distinct()
    )
    jac = _verify_jaccard(sh, cand, "t_id", "e_id")
    wbest = Window.partitionBy("t_id").orderBy(F.desc("jaccard"), "e_id")
    best = (
        jac.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select("t_id", "e_id", "jaccard")
    )
    train = _docs(spark, sf_dir).filter(mod != 0).select("doc_id")
    return (
        train.join(best, train["doc_id"] == best["t_id"], "left")
        .select(
            "doc_id",
            F.col("e_id").isNotNull().alias("contaminated"),
            F.col("e_id").alias("eval_match"),
            "jaccard",
        )
    )


_DC02_SQL = f"""
WITH {_SHINGLES_CTE},
eab AS (SELECT doc_id, sh, {_hex32('md5(sh)', 1)} AS ha,
               {_hex32('md5(sh)', 9)} AS hb FROM e),
sigs AS (SELECT doc_id, {_SIG_COLS} FROM eab GROUP BY doc_id),
bands AS ({_BAND_ROWS}),
cand AS (SELECT DISTINCT t.doc_id AS t_id, v.doc_id AS e_id
         FROM bands t JOIN bands v
           ON t.band = v.band AND t.bh = v.bh
          AND t.doc_id % {DECON_EVAL_MOD} <> 0
          AND v.doc_id % {DECON_EVAL_MOD} = 0),
n AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
inter AS (SELECT c.t_id, c.e_id, count(*) AS inter
          FROM cand c
          JOIN e ea ON ea.doc_id = c.t_id
          JOIN e eb ON eb.doc_id = c.e_id AND eb.sh = ea.sh
          GROUP BY c.t_id, c.e_id),
jac AS (SELECT i.t_id, i.e_id,
               i.inter::DOUBLE / (nt.n + ne.n - i.inter)::DOUBLE AS jaccard
        FROM inter i
        JOIN n nt ON nt.doc_id = i.t_id
        JOIN n ne ON ne.doc_id = i.e_id
        WHERE i.inter::DOUBLE / (nt.n + ne.n - i.inter)::DOUBLE
              >= {JACCARD_MIN}),
best AS (SELECT t_id, e_id, jaccard FROM (
           SELECT t_id, e_id, jaccard,
                  row_number() OVER (PARTITION BY t_id
                                     ORDER BY jaccard DESC, e_id) AS rn
           FROM jac) WHERE rn = 1)
SELECT d.doc_id,
       (b.t_id IS NOT NULL) AS contaminated,
       b.e_id AS eval_match,
       b.jaccard
FROM documents d LEFT JOIN best b ON b.t_id = d.doc_id
WHERE d.doc_id % {DECON_EVAL_MOD} <> 0
ORDER BY d.doc_id
"""


_DC01_SQL = f"""
WITH b AS (SELECT doc_id, {sql_raw_tokens("lower(text)")} AS toks
           FROM documents),
g AS (SELECT doc_id, (doc_id % {DECON_EVAL_MOD} = 0) AS is_eval,
        CASE WHEN len(toks) >= {DECON_NGRAM} THEN
          list_distinct(list_transform(
            range(1, len(toks) - {DECON_NGRAM - 2}),
            i -> array_to_string(
              list_slice(toks, i, i + {DECON_NGRAM - 1}), ' ')))
        ELSE [] END AS grams
      FROM b),
eg AS (SELECT DISTINCT _g AS g FROM g, UNNEST(grams) AS u(_g)
       WHERE is_eval),
tg AS (SELECT doc_id, _g AS g FROM g, UNNEST(grams) AS u(_g)
       WHERE NOT is_eval),
hits AS (SELECT doc_id, count(*)::BIGINT AS n_overlap
         FROM tg JOIN eg USING (g) GROUP BY doc_id)
SELECT g.doc_id,
       len(grams)::BIGINT AS n_grams,
       coalesce(h.n_overlap, 0)::BIGINT AS n_overlap,
       coalesce(h.n_overlap, 0) > 0 AS contaminated
FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
WHERE NOT is_eval
"""

# --------------------------------------------------------------------------
# d08: cross-document repeated-substring dedup (winnowed anchors)
# --------------------------------------------------------------------------

D08_SUBSTR_LEN = 40  # minimum repeated-substring length L (chars)
D08_WINDOW = 8       # winnowing window w (consecutive k-grams)
D08_GRAM = D08_SUBSTR_LEN - D08_WINDOW + 1  # k: anchor gram width


def d08_doc_anchors(base: DataFrame) -> DataFrame:
    """The (doc_id, anchor) winnowing stream d08's candidate join runs
    on — exposed for the scale probe, which reports the anchor-stream
    size alongside wall time (the candidate stage is the part that
    must stay sublinear; the true-output stage is allowed to grow).

    hs: xxhash64 of each k-gram; anchors: distinct rolling-window
    minima. The trailing empty-slice rand() no-op marks the anchor
    expression nondeterministic so InferFiltersFromGenerate's
    size()-filter keeps referencing the ATTRIBUTE instead of cloning
    the whole O(n·w) scan below the exchange (the t19/d04 lesson)."""
    L, w, k = D08_SUBSTR_LEN, D08_WINDOW, D08_GRAM
    anchors_expr = (
        f"concat(array_distinct(transform("
        f"sequence(1, length(text) - {L} + 1), "
        f"j -> array_min(transform(sequence(j, j + {w} - 1), "
        f"i -> xxhash64(substr(text, i, {k})))))), "
        f"slice(array(cast(rand(42) AS bigint)), 1, 0))"
    )
    return base.select(
        "doc_id", F.explode(F.expr(anchors_expr)).alias("anchor")
    )


def d08_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring dedup — the corpus-level
    signal t26 (within-doc line dedup) cannot see: every pair of
    documents sharing an exact substring of ≥ D08_SUBSTR_LEN chars,
    the suffix-array/winnowing dedup family of the training-data
    literature (a ≥L common run is boilerplate, license text, or a
    verbatim quote — removal candidates all). "Common substring ≥ L"
    is EXACTLY "the L-gram sets intersect" (any ≥L run contains its
    own L-prefix), which is what the oracle computes by brute force.

    Candidate generation is winnowing (Schleimer et al., SIGMOD'03)
    made deterministic: per doc, hash every k-gram (k = L - w + 1)
    with xxhash64, take the minimum hash of each window of w
    CONSECUTIVE gram positions, and keep the distinct window-minima as
    the doc's anchors. Completeness: a shared substring of length
    ≥ L = k + w - 1 spans ≥ w consecutive k-grams identical in both
    docs, so one full window lies inside the shared run in each — and
    the min of the same w hashes is the same value, hence a shared
    anchor (min-by-value has no position/tie dependence). No DF cap:
    unlike d04's recall-floor trade this stays complete; a hot anchor
    (shared boilerplate) fans out quadratically, but those pairs are
    TRUE OUTPUT rows (every pair sharing the run belongs in the
    result) — at 100 TB you collapse this pair stream with d05's
    connected components rather than enumerate it, and the anchor
    stream itself is ~2/(w+1) of the gram stream (8-byte keys), never
    document bodies.

    Verification is exact and JVM-side: candidate pairs join their
    bodies once and `arrays_overlap` on the REAL L-gram string arrays
    (built per pair, O(len) each, hash-set probe) — xxhash64
    collisions in the anchor stage can only add candidates, never
    results. Verify joins are on pairs, so bodies shuffle only for
    candidates, mirroring d04's candidate-only exact-verify shape."""
    L = D08_SUBSTR_LEN
    base = (
        _docs_par(spark, sf_dir)
        .filter(F.length("text") >= L)
        .select("doc_id", "text")
    )
    # anchors computed ONCE and cached for the self-join: without the
    # cache both branches of the candidate join re-ran the full O(n·w)
    # rolling-min winnowing transform over the corpus (two Generate
    # nodes in the r16 plan) — guide §1.2 "don't compute things twice".
    # The slot releases the previous call's copy (scratch.cache_slot).
    doc_anchors = cache_slot("d08_anchors", d08_doc_anchors(base))
    cand = (
        doc_anchors.alias("a")
        .join(
            doc_anchors.alias("b"),
            (F.col("a.anchor") == F.col("b.anchor"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # Verify joins ship TEXT, not gram arrays (r17, guide §2.3
    # "shuffle keys and metadata instead of payloads"): the old shape
    # projected each doc's FULL L-gram array (~40× the text bytes)
    # below the exchange, computing it for EVERY corpus doc and
    # shuffling it corpus-wide — for a candidate set that is
    # output-sized (297 pairs / 549 involved docs of 5000 at sf0.1).
    # Shuffling the raw text instead cuts the verify exchanges ~40×
    # in bytes, and building the gram arrays inside the post-join
    # filter evaluates the O(len) transform only per surviving
    # candidate ROW (~2×pairs) instead of 2×|corpus|. hint("merge")
    # still pins both joins to SMJ — a text side must never become a
    # broadcast build side (the r14 catch: Catalyst underestimates
    # text-derived sizes and a borderline estimate flipped exactly
    # that at 30×).
    grams_a = (
        f"transform(sequence(1, length(ta) - {L} + 1), "
        f"i -> substr(ta, i, {L}))"
    )
    grams_b = (
        f"transform(sequence(1, length(tb) - {L} + 1), "
        f"i -> substr(tb, i, {L}))"
    )
    bodies_a = base.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("ta")
    )
    bodies_b = base.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("tb")
    )
    return (
        cand.join(bodies_a.hint("merge"), "doc_a")
        .join(bodies_b.hint("merge"), "doc_b")
        .filter(F.arrays_overlap(F.expr(grams_a), F.expr(grams_b)))
        .select("doc_a", "doc_b")
    )


def d09_cleaned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring EXCISION — the apply step that turns
    d08's pair mining into cleaned text (the find→remove pipeline of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022, exact-substring variant; the reference's nearest analog
    is cleaner.py's drop_duplicates, which can only drop whole rows):
    every character of a document covered by an L-gram
    (L = D08_SUBSTR_LEN) that also appears in ANY lower-id document is
    cut out, keep-first at character granularity — the lowest doc_id
    owning a run keeps it, every later verbatim copy (license
    boilerplate, quoted benchmarks, mirrored passages) loses exactly
    the covered span. Output per doc: (n_chars, n_removed, cleaned),
    with untouched docs passing through byte-identical.

    Candidate-bounded, the d08 scale argument applied to the apply
    step: only documents named in a d08 TRUE pair shuffle their gram
    streams (a doc with a covered position shares that L-gram with a
    lower doc, so the pair (lower, doc) is in d08's exact output and
    BOTH endpoints are involved — restricting the gram→min-owner
    aggregation to involved docs provably preserves every coverage
    witness). Everything downstream of the candidate join is a narrow
    map: covered starts collect per doc (bounded by doc length) and
    one aggregate() fold cuts the merged [i, i+L) intervals out in a
    single pass — no per-character rows ever exist on the Spark side
    (the oracle states the same semantics per character, which is fine
    at oracle scale and brute-force-complete)."""
    L = D08_SUBSTR_LEN
    docs = _docs_par(spark, sf_dir).select("doc_id", "text")
    base = docs.filter(F.length("text") >= L).select("doc_id", "text")
    # the pair set lands in run-scratch parquet (the d02_pairs_m
    # pattern): d09 consumes it twice (both endpoints) and `starts`
    # twice more downstream — without materialization Spark inlines
    # the whole d08 subplan once per consumption path (a 79-exchange
    # plan tree, caught by the registry plan check in round 11)
    pairs = d08_pairs_m(spark, sf_dir)
    involved = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b")))
        .distinct()
    )
    inv = base.join(involved, "doc_id")
    grams = inv.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(text) - {L} + 1), "
                f"i -> substr(text, i, {L}))"
            )
        ).alias("pos0", "g"),
    ).select("doc_id", (F.col("pos0") + 1).cast("int").alias("i"), "g")
    gmin = grams.groupBy("g").agg(F.min("doc_id").alias("mn"))
    # The gram-key join is corpus-sized on BOTH sides (every L-gram of
    # every involved doc), so it must NEVER broadcast — pinned to
    # sort-merge. Without the hint, downstream column pruning (pl05
    # consumes only `cleaned`) shrank Catalyst's estimate of gmin
    # under the broadcast threshold and the runtime table blew Spark's
    # 8 GiB broadcast hard limit at the 30× probe scale; at 100 TB a
    # broadcast here is wrong even when it fits.
    starts = (
        grams.join(gmin.hint("merge"), "g")
        .filter(F.col("mn") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("i")).alias("starts"))
    )
    # single-pass interval-merge excision: fold the ascending covered
    # starts, emitting the uncovered segment before each new interval
    # and extending the cut cursor to max(cur, s + L)
    fold = F.expr(
        f"""aggregate(
      starts,
      struct(CAST(1 AS INT) AS cur, CAST(array() AS array<string>) AS parts),
      (acc, s) -> struct(
        CAST(greatest(acc.cur, s + {L}) AS INT) AS cur,
        CASE WHEN s > acc.cur
             THEN concat(acc.parts,
                         array(substr(text, acc.cur, s - acc.cur)))
             ELSE acc.parts END AS parts),
      acc -> concat_ws('', concat(
        acc.parts,
        array(substr(text, acc.cur, length(text) - acc.cur + 1))))
    )"""
    )
    excised = inv.join(starts, "doc_id").select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        fold.alias("cleaned"),
    )
    excised = excised.select(
        "doc_id",
        "n_chars",
        (F.col("n_chars") - F.length("cleaned")).cast("long").alias(
            "n_removed"
        ),
        "cleaned",
    )
    passthrough = docs.join(
        starts.select("doc_id"), "doc_id", "left_anti"
    ).select(
        "doc_id",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("long").alias(
            "n_chars"
        ),
        F.lit(0).cast("long").alias("n_removed"),
        F.col("text").alias("cleaned"),
    )
    return excised.unionByName(passthrough)


def d09_substring_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: d09_cleaned, unordered (r16 — the correctness
    hash is order-insensitive, and the trailing range exchange made
    the sampler re-run the excision stage)."""
    return d09_cleaned(spark, sf_dir)


_D09_SQL = f"""
WITH g AS (
  SELECT doc_id, _u.i::INT AS i, substr(text, _u.i, {D08_SUBSTR_LEN}) AS g
  FROM (SELECT doc_id, text FROM documents
        WHERE length(text) >= {D08_SUBSTR_LEN}),
       UNNEST(range(1, length(text) - {D08_SUBSTR_LEN} + 2)) AS _u(i)
),
gmin AS (SELECT g, min(doc_id) AS mn FROM g GROUP BY g),
starts AS (SELECT g.doc_id, g.i FROM g JOIN gmin USING (g)
           WHERE gmin.mn < g.doc_id),
sdocs AS (SELECT DISTINCT doc_id FROM starts),
covered AS (SELECT DISTINCT s.doc_id, _u.c
            FROM starts s,
                 UNNEST(range(s.i, s.i + {D08_SUBSTR_LEN})) AS _u(c)),
chars AS (
  SELECT d.doc_id, _u.c, substr(d.text, _u.c, 1) AS ch
  FROM documents d JOIN sdocs USING (doc_id),
       UNNEST(range(1, length(d.text) + 1)) AS _u(c)
),
kept AS (
  SELECT ch.doc_id, ch.c, ch.ch
  FROM chars ch LEFT JOIN covered v ON v.doc_id = ch.doc_id AND v.c = ch.c
  WHERE v.c IS NULL
),
cln AS (
  SELECT doc_id, string_agg(ch, '' ORDER BY c) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       length(coalesce(d.text, ''))::BIGINT AS n_chars,
       CASE WHEN s.doc_id IS NOT NULL
            THEN (length(d.text) - length(coalesce(c.cleaned, '')))::BIGINT
            ELSE 0::BIGINT END AS n_removed,
       CASE WHEN s.doc_id IS NOT NULL
            THEN coalesce(c.cleaned, '') ELSE d.text END AS cleaned
FROM documents d
LEFT JOIN sdocs s USING (doc_id)
LEFT JOIN cln c USING (doc_id)
ORDER BY doc_id
"""


_D08_SQL = f"""
WITH g AS (
  SELECT doc_id, _u.g
  FROM (SELECT doc_id,
               list_distinct(list_transform(
                 range(1, length(text) - {D08_SUBSTR_LEN} + 2),
                 i -> substr(text, i, {D08_SUBSTR_LEN}))) AS gs
        FROM documents WHERE length(text) >= {D08_SUBSTR_LEN}),
       UNNEST(gs) AS _u(g)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY doc_a, doc_b
"""


SPECS = [
    QuerySpec(
        "d01_exact_dedup",
        d01_exact_dedup,
        f"""
        SELECT doc_id, fingerprint FROM (
          SELECT doc_id, md5({sql_normalize('text')}) AS fingerprint,
                 row_number() OVER (PARTITION BY md5({sql_normalize('text')})
                                    ORDER BY doc_id) AS rn
          FROM documents) WHERE rn = 1
        """,
    ),
    QuerySpec("d02_minhash_near_dup", d02_minhash_near_dup, _D02_SQL),
    QuerySpec("d03_simhash_near_dup", d03_simhash_near_dup, _D03_SQL),
    QuerySpec("d04_ngram_jaccard", d04_ngram_jaccard, _D04_SQL),
    QuerySpec(
        "d10_adaptive_block_jaccard", d10_adaptive_block_jaccard, _D10_SQL
    ),
    QuerySpec("d07_containment_pairs", d07_containment_pairs, _D07_SQL),
    QuerySpec(
        "d11_adaptive_containment", d11_adaptive_containment, _D11_SQL
    ),
    QuerySpec("d08_repeated_substrings", d08_repeated_substrings, _D08_SQL),
    QuerySpec("d09_substring_excision", d09_substring_excision, _D09_SQL),
    QuerySpec("d05_neardup_clusters", d05_neardup_clusters, _D05_SQL),
    QuerySpec("d06_unified_clusters", d06_unified_clusters, _D06_SQL),
    QuerySpec("dc01_decontaminate", dc01_decontaminate, _DC01_SQL),
    QuerySpec(
        "dc03_verbatim_decontaminate", dc03_verbatim_decontaminate, _DC03_SQL
    ),
    QuerySpec(
        "dc02_neardup_decontaminate", dc02_neardup_decontaminate, _DC02_SQL
    ),
]
