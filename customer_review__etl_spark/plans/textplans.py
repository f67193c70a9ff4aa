"""Text pipeline plans: the applied F1-F7 chain (cleaner.py:118-150,166),
the word-cloud top-K rewrite (dashboard.py:36 / SURVEY §2.4 A6), and the
training-data text analyses (language-ID, quality scoring, token stats,
document fingerprinting) over the `documents` table.

All hot-path expressions are built-in column functions (JVM-side,
codegen'd); only Porter stemming (t02) leaves the JVM, via an
Arrow-batched pandas UDF, and is therefore rows-only for the oracle
(paired with pytest unit vectors in tests/test_stemmer.py).

Scale notes:
- every per-doc analysis is a narrow map over the scan — no shuffle;
  Catalyst prunes the parquet scan to (doc_id, text[, lang]).
- t03 top-K words is the scale-safe rewrite of the reference's
  whole-column string concat: explode → partial-agg counts per word
  (map-side combine) → one shuffle on word → tie-broken top-K.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..functions.stemmer import stem_tokens
from ..scratch import cache_slot
from ..sources import tables
from . import QuerySpec
from .helpers import (
    sql_clean_tokens,
    sql_normalize,
    sql_raw_tokens,
    sql_stopword_array,
)

TOPK_WORDS = 50


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "documents")


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repartitioned load for the Python-stemmer and explode-heavy paths."""
    return tables.load_parallel(spark, sf_dir, "documents")


def t01_text_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F5 + F7: normalize → tokenize → stopword/len filter → re-join
    (cleaner.py:118-150 minus the F6 stem, which t02 adds)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", T.clean_tokens(F.col("text"))).alias("processed"),
    )


def t02_stemmed_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F7 complete: the reference's full preprocess_text including
    Porter stemming (cleaner.py:148). Python hop — rows-only oracle;
    stem correctness is pinned by published Porter vectors in pytest."""
    return _docs_par(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(" ", stem_tokens(T.clean_tokens(F.col("text")))).alias(
            "processed"
        ),
    )


def t03_topk_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 rewritten scale-safe: the reference concatenates every row into
    one driver-side string for the word cloud (dashboard.py:36); the
    equivalent the word cloud consumes is top-K word frequencies."""
    return (
        _docs_par(spark, sf_dir)
        .select(F.explode(T.clean_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "word")
        .limit(TOPK_WORDS)
    )


def t04_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training quality heuristics: exact integer counts, one final
    IEEE division per ratio, explicit NULL when a doc has no tokens."""
    cols = T.quality_score_cols(F.col("text"))
    n_tokens = cols["n_tokens"]
    return _docs(spark, sf_dir).select(
        "doc_id",
        cols["n_chars"].alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.when(n_tokens == 0, F.lit(None)).otherwise(
            cols["stopword_ratio"]
        ).alias("stopword_ratio"),
        F.when(n_tokens == 0, F.lit(None)).otherwise(
            cols["mean_word_len"]
        ).alias("mean_word_len"),
    )


def t05_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-word hits for Latin-script
    languages, CJK codepoint count for zh, fixed tie-break order
    (first language in score order wins ties)."""
    scores = T.lang_scores(F.col("text"))
    df = _docs(spark, sf_dir).select(
        "doc_id",
        *[c.cast("long").alias(f"sc_{lang}") for lang, c in scores.items()],
    )
    langs = list(scores)
    best = F.greatest(*[F.col(f"sc_{lang}") for lang in langs])
    pred = F.lit(None).cast("string")
    for lang in reversed(langs):
        pred = F.when(F.col(f"sc_{lang}") == best, F.lit(lang)).otherwise(pred)
    return df.select(
        "doc_id",
        *[f"sc_{lang}" for lang in langs],
        F.when(best == 0, F.lit("und")).otherwise(pred).alias("lang_pred"),
    )


def t06_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup content fingerprint: md5 of normalized text — group
    and join on a 128-bit digest, never on full bodies."""
    return _docs(spark, sf_dir).select(
        "doc_id", T.doc_fingerprint(F.col("text")).alias("fingerprint")
    )


def t07_positional_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint as a commutative sum:
    Σ position·(17·len(token) + ascii(first char)) over raw tokens.

    Order-sensitivity comes from the position weight, so the hash is
    expressible as explode → SUM — partial-aggregatable, shuffle-free
    per doc, and identical across engines (pure BIGINT arithmetic)."""
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(T.raw_tokens(F.lower(F.col("text")))).alias("pos", "tok"),
    )
    term = (F.col("pos") + 1).cast("long") * (
        F.length("tok").cast("long") * 17
        + F.ascii(F.substring("tok", 1, 1)).cast("long")
    )
    return (
        toks.groupBy("doc_id")
        .agg(
            F.sum(term).alias("poshash"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


# GPT-2-style pre-tokenizer classes, restricted to ASCII so Java
# (Spark) and RE2 (DuckDB) regex engines agree codepoint-for-codepoint:
# optional leading space + letter-run | digit-run | punct-run.
BPE_WORD = " ?[a-z]+"
BPE_NUM = " ?[0-9]+"
BPE_PUNCT = r" ?[!-/:-@\[-`{-~]+"
BPE_PATTERN = f"{BPE_WORD}|{BPE_NUM}|{BPE_PUNCT}"


def t08_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex (the GPT-2
    pre-tokenization shape: space-attached letter/digit/punct runs),
    alongside the plain whitespace count — the two standard "how many
    tokens is this corpus" estimators for training-data budgeting.
    All regexp_extract_all + size: JVM-side, one narrow map."""
    low = F.lower(F.coalesce(F.col("text"), F.lit("")))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.regexp_extract_all(low, F.lit(BPE_PATTERN), 0))
        .cast("long")
        .alias("n_bpeish"),
        F.size(F.regexp_extract_all(low, F.lit(BPE_WORD), 0))
        .cast("long")
        .alias("n_word_runs"),
        F.size(F.regexp_extract_all(low, F.lit(BPE_NUM), 0))
        .cast("long")
        .alias("n_num_runs"),
        T.token_count(F.col("text")).cast("long").alias("n_whitespace"),
    )


# Conservative scrub patterns valid in BOTH Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround, no engine-specific classes.
URL_RE = r"https?://\S+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def t09_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/URL scrub — the redaction pass a training-data pipeline runs
    before tokenization: URLs then emails replaced with typed
    placeholder tokens, plus match counts for scrub-rate monitoring.
    Replacement order is significant (an email inside a URL is already
    gone by the time the email pass runs) and is pinned identically in
    the oracle. Pure regexp column ops: JVM-side, one narrow map, no
    shuffle; NULL text stays NULL (metadata, not empty content)."""
    txt = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(txt, URL_RE, "<URL>"), EMAIL_RE, "<EMAIL>"
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.regexp_count(txt, F.lit(URL_RE)).cast("long").alias("n_urls"),
        F.regexp_count(txt, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
    )


def t10_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition / boilerplate quality signals: unique-token ratio and
    top-token frequency share (the classic Gopher/C4-style repetition
    filters). The mode count is an O(unique·n) higher-order array fold
    per doc — still JVM-side and shuffle-free; bounded because docs are
    length-bounded. Zero-token docs yield NULL ratios (no content ≠
    perfectly repetitive)."""
    toks = T.raw_tokens(F.lower(F.col("text")))
    base = _docs(spark, sf_dir).select("doc_id", toks.alias("toks"))
    n = F.size("toks").cast("long")
    uniq = F.array_distinct("toks")
    top = F.array_max(
        F.transform(
            uniq, lambda u: F.size(F.filter(F.col("toks"), lambda x: x == u))
        )
    ).cast("long")
    return base.select(
        "doc_id",
        n.alias("n_tokens"),
        F.size(uniq).cast("long").alias("n_unique"),
        F.when(n == 0, F.lit(None))
        .otherwise(F.size(uniq).cast("double") / n.cast("double"))
        .alias("unique_ratio"),
        F.when(n == 0, F.lit(None))
        .otherwise(top.cast("double") / n.cast("double"))
        .alias("top_ratio"),
    )


CHUNK_TOKENS = 8


def t11_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage removal — the C4/line-dedup
    boilerplate pass, adapted to a punctuation-free corpus: each doc is
    segmented into fixed 8-token chunks (the "lines"), any chunk whose
    exact text occurs in MORE THAN ONE distinct document is dropped
    from every document, and the survivors are re-joined in order.
    Exact duplicate docs therefore scrub each other completely — the
    intended semantics (boilerplate is text shared across docs).

    Scale: the shuffle unit is the ≤8-token chunk string, never a doc
    body; the frequency pass is a partial-aggregatable groupBy on the
    chunk, reassembly groups by doc_id — two shuffles total, both on
    bounded keys."""
    toks = T.raw_tokens(F.lower(F.col("text")))
    base = cache_slot(
        "t11_chunks",
        _docs_par(spark, sf_dir)
        .select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.expr(
                f"CASE WHEN size(toks) = 0 THEN CAST(array() AS array<string>)"
                f" ELSE transform("
                f"sequence(1, cast(ceil(size(toks) / {CHUNK_TOKENS}.0) as int)),"
                f" i -> concat_ws(' ', slice(toks, (i - 1) * {CHUNK_TOKENS} + 1,"
                f" {CHUNK_TOKENS}))) END"
            ).alias("chunks"),
        ),
    )
    ch = base.select(
        "doc_id", F.posexplode("chunks").alias("ci", "chunk")
    )
    freq = ch.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("dfreq")
    )
    # freq is the corpus-sized distinct-chunk aggregate: aggregate
    # output estimates undershoot, and an estimate-flipped broadcast
    # of it is unbounded at scale (the round-12 dc03 lesson) - pinned
    # to the docstring's "shuffle on the chunk key" plan.
    kept = ch.join(freq.hint("merge"), "chunk").filter(F.col("dfreq") == 1)
    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ci", "chunk"))),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("cleaned"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        base.select(
            "doc_id", F.size("chunks").cast("long").alias("n_chunks")
        )
        # agg carries the per-doc REBUILT TEXT - a corpus-sized
        # aggregate side that must never broadcast (round-12 audit)
        .join(agg.hint("merge"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cleaned", F.lit("")).alias("cleaned"),
            "n_chunks",
            (F.col("n_chunks") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


VOCAB_TOPV = 256


def t12_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary budgeting: the top-V corpus vocabulary with
    each word's rank, count, and the CUMULATIVE share of all corpus
    tokens covered by the vocabulary up to that rank — the curve that
    answers "what vocab size covers 95% of tokens". Counts are exact
    integers; the share is one deterministic IEEE division per row.

    Scale: explode → map-side partial counts → one shuffle on word;
    the running sum then runs on the top-V SLICE only (V rows through
    a single-partition window, deliberate and bounded — never the full
    vocabulary), with the global token total carried alongside as a
    broadcast one-row aggregate."""
    words = (
        _docs_par(spark, sf_dir)
        .select(F.explode(T.raw_tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = words.orderBy(F.desc("n"), "word").limit(VOCAB_TOPV)
    total = words.agg(F.sum("n").alias("n_total"))
    w = Window.orderBy(F.desc("n"), "word").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            F.row_number()
            .over(Window.orderBy(F.desc("n"), "word"))
            .cast("long")
            .alias("rank"),
            "word",
            "n",
            (
                F.sum("n").over(w).cast("double")
                / F.col("n_total").cast("double")
            ).alias("cum_share"),
        )
        .orderBy("rank")
    )


def t13_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality scoring (the CCNet/Gopher "perplexity filter"
    shape): fit a unigram model on the corpus itself, then score every
    document by its mean per-token surprisal — low = boilerplate built
    from the corpus's commonest words, high = rare-token-dense noise;
    both tails are the standard pre-training drop candidates.

    Surprisal is measured in INTEGER bits — bitlen(N) - bitlen(count),
    i.e. floor-log2 of the inverse relative frequency — instead of
    ln(count/N): every aggregate stays an exact integer sum
    (order-independent, engine-identical), whereas summing libm ln()
    doubles is partial-aggregation-order-dependent and last-ulp
    divergent across engines. Production swaps in a real LM score the
    same plan shape; the two-pass structure is what matters here.

    Scale: pass 1 is a partial-aggregatable token count (one shuffle on
    the token); the corpus total rides along as a broadcast one-row
    aggregate; pass 2 re-joins the token stream to the O(vocabulary)
    frequency table by token — an equi-join, NOT a broadcast (at 100 TB
    the vocabulary of raw tokens is itself large) — then reduces to one
    row per doc. Document bodies are never shuffled."""
    docs = _docs_par(spark, sf_dir)
    # cache the tokenized stream: it feeds both the frequency pass and
    # the per-doc probe side — without this the normalize+explode
    # lineage (the CPU-heavy part) executes twice
    toks = cache_slot(
        "t13_tokens",
        docs.select(
            "doc_id",
            F.explode(T.raw_tokens(T.normalize_text(F.col("text")))).alias("tk"),
        ),
    )
    freq = toks.groupBy("tk").agg(F.count(F.lit(1)).alias("cnt"))
    # corpus total = sum of the vocabulary counts — an O(vocab)
    # aggregate over freq, never a third scan of the token stream
    total = freq.agg(F.sum("cnt").alias("n_corpus"))
    bits = (
        toks.join(freq, "tk")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            (
                F.length(F.bin(F.col("n_corpus")))
                - F.length(F.bin(F.col("cnt")))
            ).cast("long").alias("b"),
        )
    )
    per_doc = bits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("b").alias("sum_bits"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.col("sum_bits"),
            (
                F.col("sum_bits").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("mean_bits"),
        )
    )


HH_K = 100  # heavy-hitter slots: report tokens with count * HH_K > corpus N


def t14_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (tokens with frequency > N/HH_K) via
    the sketch-then-verify pattern — the vocabulary/boilerplate-discovery
    pass of a training-data pipeline, and the canonical way to find
    dominating keys WITHOUT a full groupBy when the token cardinality is
    huge: a naive groupBy materializes the whole O(vocab) frequency
    table just to keep its top sliver.

    Pass 1 runs a mergeable Misra-Gries summary (Agarwal et al. 2012,
    "Mergeable Summaries") per partition inside mapInPandas: vectorized
    per-batch value_counts merged into at most HH_K counters, pruning by
    subtracting the (K+1)-largest count. Guarantee: any token with
    global count > N/(K+1) survives in ≥1 partition's summary (if its
    local count were ≤ n_p/(K+1) everywhere, its global count would be
    ≤ N/(K+1)), so the candidate set is a strict superset of the
    reported set. Pass 2 recounts ONLY the ≤ K·partitions candidates
    (broadcast semi-filter on the token stream) and applies the exact
    threshold — so the output is exact, order-independent, and tiny.

    Scale: the token stream is never shuffled on the full vocabulary —
    pass 1 is shuffle-free (per-partition summaries, ≤ K rows out each),
    pass 2 shuffles only rows matching the broadcast candidate set
    (≤ K·partitions distinct keys). The Python hop is Arrow-batched and
    O(distinct-per-batch) per batch."""
    import pandas as pd

    toks = cache_slot(
        "t14_words",
        _docs_par(spark, sf_dir).select(
            F.explode(T.clean_tokens(F.col("text"))).alias("word")
        ),
    )

    def mg_partition(batches):
        counts = pd.Series(dtype="int64")
        for pdf in batches:
            # Series.add(fill_value=0) promotes to float64; cast back so
            # the MG counters stay exact integers at any partition size
            # (past 2^53 a float64 counter would silently round and the
            # documented superset guarantee would bend — round-6 ADVICE).
            counts = counts.add(
                pdf["word"].value_counts(), fill_value=0
            ).astype("int64")
            if len(counts) > HH_K:
                cut = counts.nlargest(HH_K + 1).iloc[-1]
                counts = counts[counts > cut] - cut
        yield pd.DataFrame({"word": counts.index.astype(str)})

    cands = toks.mapInPandas(mg_partition, schema="word string").distinct()
    total = toks.agg(F.count(F.lit(1)).alias("n_corpus"))
    return (
        toks.join(F.broadcast(cands), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n") * HH_K > F.col("n_corpus"))
        .select("word", "n")
    )


def t15_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal scoring — t13's corpus language model made
    sequence-aware: fit conditional counts p(w2|w1) on the corpus, then
    score each document by its mean per-bigram surprisal in INTEGER
    bits (bitlen(ctx_count) - bitlen(pair_count), the t13 determinism
    scheme applied to conditionals). Low = documents made of the
    corpus's stock phrases; high = improbable word sequences — a
    sharper boilerplate/noise signal than unigrams because it sees
    word ORDER.

    Scale: bigram construction is a pure map-side array transform
    (slice + transform over the token array — NO shuffle, no window;
    a posexplode+lead window would shuffle the full token stream by
    doc_id first). The only shuffles are the two partial-aggregatable
    count passes and the (w1, w2) equi-join back to the stream —
    equi-joins on token keys, never broadcast (conditional vocab is
    O(unique bigrams), itself large at 100 TB)."""
    return _t15_scores(spark, sf_dir)


def _t15_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t15's per-doc score table WITHOUT the presentation sort — shared
    by the t15 registry entry and t27's perplexity bucketing."""
    docs = _docs_par(spark, sf_dir)
    base = docs.select(
        "doc_id",
        T.raw_tokens(T.normalize_text(F.col("text"))).alias("tks"),
    ).filter(F.size("tks") >= 2)
    big = cache_slot(
        "t15_bigrams",
        base.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(tks, 1, size(tks) - 1),"
                    " (x, i) -> struct(x AS w1, tks[i + 1] AS w2))"
                )
            ).alias("bg"),
        ).select("doc_id", "bg.w1", "bg.w2"),
    )
    ctx = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    pairs = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    bits = (
        big.join(pairs, ["w1", "w2"])
        .join(ctx, "w1")
        .select(
            "doc_id",
            (F.length(F.bin(F.col("c1"))) - F.length(F.bin(F.col("c2"))))
            .cast("long")
            .alias("b"),
        )
    )
    per_doc = bits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("b").alias("sum_bits"),
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.col("sum_bits"),
            (
                F.col("sum_bits").cast("double")
                / F.col("n_bigrams").cast("double")
            ).alias("mean_bits"),
        )
    )


_T15_CORE = None  # assigned below (needs sql helpers defined at import)


def _t15_core_sql() -> str:
    return f"""
        WITH big AS (
          SELECT doc_id, tks[i] AS w1, tks[i + 1] AS w2
          FROM (SELECT doc_id, {sql_raw_tokens(sql_normalize('text'))} AS tks
                FROM documents),
               UNNEST(range(1, len(tks))) AS _u(i)
        ),
        ctx AS (SELECT w1, count(1) AS c1 FROM big GROUP BY w1),
        pairs AS (SELECT w1, w2, count(1) AS c2 FROM big GROUP BY w1, w2),
        bits AS (
          SELECT doc_id,
                 (length(bin(c1)) - length(bin(c2)))::BIGINT AS b
          FROM big JOIN pairs USING (w1, w2) JOIN ctx USING (w1)
        ),
        pd AS (SELECT doc_id, count(1)::BIGINT AS n_bigrams,
                      sum(b)::BIGINT AS sum_bits
               FROM bits GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(pd.n_bigrams, 0)::BIGINT AS n_bigrams,
               pd.sum_bits,
               pd.sum_bits::DOUBLE / pd.n_bigrams::DOUBLE AS mean_bits
        FROM documents d LEFT JOIN pd USING (doc_id)"""


_T15_CORE = _t15_core_sql()


def t27_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-quality bucketing (Wenzek et al. 2020, the
    perplexity-stratification step of CommonCrawl curation): score
    every document with the t15 bigram-LM mean surprisal and split the
    SCORED corpus into head / middle / tail thirds by exact global
    rank — the stratification a pre-training pipeline feeds into
    per-bucket sampling (head = corpus-typical text, tail = improbable
    noise; p18's temperature mixes then sample per bucket). Documents
    with < 2 tokens cannot be scored and land in an explicit
    'unscored' bucket (stated, not dropped).

    Exactness: surprisal is t15's integer-bits scheme; the one double
    (mean_bits) is a single division of exact integers; bucket edges
    are integer cross-multiplications (3·rank ≤ n, 3·rank ≤ 2n) over a
    tie-broken row_number — no float percentile interpolation
    anywhere.

    Scale: the global rank is NOT a single-partition window — the
    a11/p16 two-phase move: docs spine-bucket on floor(mean_bits) (an
    integer spine bounded by the ~64-value surprisal-bits ceiling),
    per-spine counts aggregate to broadcastable cumulative offsets,
    and the row_number window partitions BY SPINE, so no task ever
    sorts more than one spine bucket. Everything else is t15's
    shuffles plus one broadcast join."""
    # cached: the score table feeds BOTH the ranking branch and the
    # final left join — uncached, the whole t15 LM-scoring chain
    # compiled (and ran) twice per execution (r17, guide §1.2). The
    # slot releases the previous call's copy (scratch.cache_slot).
    base = cache_slot("t27_scores", _t15_scores(spark, sf_dir))
    scored = base.filter(F.col("n_bigrams") > 0).withColumn(
        "bkt", F.floor("mean_bits").cast("long")
    )
    per_b = scored.groupBy("bkt").agg(F.count(F.lit(1)).alias("bn"))
    woff = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = per_b.select(
        "bkt",
        F.coalesce(F.sum("bn").over(woff), F.lit(0)).alias("off"),
        F.sum("bn").over(
            Window.orderBy("bkt").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    wrn = Window.partitionBy("bkt").orderBy("mean_bits", "doc_id")
    ranked = (
        scored.join(F.broadcast(offs), "bkt")
        .withColumn(
            "bucket_rank",
            (F.col("off") + F.row_number().over(wrn)).cast("long"),
        )
        .select(
            "doc_id",
            "bucket_rank",
            F.when(3 * F.col("bucket_rank") <= F.col("n"), F.lit("head"))
            .when(3 * F.col("bucket_rank") <= 2 * F.col("n"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )
    return (
        base.join(ranked, "doc_id", "left")
        .select(
            "doc_id",
            "n_bigrams",
            "sum_bits",
            "mean_bits",
            "bucket_rank",
            F.coalesce("bucket", F.lit("unscored")).alias("bucket"),
        )
    )


def _t27_oracle() -> str:
    return f"""
WITH pd0 AS ({_T15_CORE}),
sc AS (SELECT doc_id,
              row_number() OVER (ORDER BY mean_bits, doc_id) AS rnk
       FROM pd0 WHERE n_bigrams > 0),
tot AS (SELECT count(1)::BIGINT AS n FROM sc)
SELECT p.doc_id, p.n_bigrams, p.sum_bits, p.mean_bits,
       s.rnk::BIGINT AS bucket_rank,
       CASE WHEN s.rnk IS NULL THEN 'unscored'
            WHEN 3 * s.rnk <= tot.n THEN 'head'
            WHEN 3 * s.rnk <= 2 * tot.n THEN 'middle'
            ELSE 'tail' END AS bucket
FROM pd0 p LEFT JOIN sc s USING (doc_id), tot
ORDER BY p.doc_id
"""


def t17_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style reading-ease score per document from three exact
    integer counts — words (whitespace tokens), sentences (non-empty
    [.!?] fragments, the u04 split), and a syllable proxy (vowel-group
    runs [aeiouy]+ in the normalized text). The readability band is a
    standard pre-training quality signal next to t04's ratios.

    Determinism: the three counts are exact integers; the score is the
    classic 206.835 − 1.015·(W/S) − 84.6·(Syl/W) evaluated as the same
    fixed IEEE expression on both engines (two divisions, two
    multiplies, two subtractions — same order). NULL when a doc has no
    sentences or words. Pure map-side column math, no shuffle."""
    txt = F.col("text")
    words = F.size(T.raw_tokens(F.lower(txt)))
    sents = F.size(
        F.filter(F.split(F.coalesce(txt, F.lit("")), r"[.!?]"), lambda x: x != "")
    )
    syll = F.size(
        F.regexp_extract_all(
            T.normalize_text(txt), F.lit("[aeiouy]+"), F.lit(0)
        )
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
        - F.lit(84.6) * (syll.cast("double") / words.cast("double"))
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sents"),
        syll.cast("long").alias("n_syll"),
        F.when((words > 0) & (sents > 0), score).alias("reading_ease"),
    )


TFIDF_TOPK = 3


def t16_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF top terms per document — the deterministic twin of
    the reference's TF-IDF vectorization step (SURVEY M1, which ml01
    covers only rows-only through pyspark.ml): idf is measured in
    INTEGER BITS (bitlen(N_docs) - bitlen(df_t), the floor-log2 device
    of t13/t15/ml07), so score = tf · idf_bits is an exact integer and
    the whole ranking carries a full SQL oracle. Production swaps a
    float idf into the same plan shape; what's gated here is the
    tf/df/N plumbing and the per-doc ranking.

    Scale: tf is one partial-aggregatable shuffle on (doc, term); df
    is one on term; N rides along broadcast; ranking windows partition
    by doc (small state). Bodies never shuffle."""
    toks = cache_slot(
        "t16_terms",
        _docs_par(spark, sf_dir).select(
            "doc_id", F.explode(T.clean_tokens(F.col("text"))).alias("term")
        ),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df_t")
    )
    n_docs = _docs(spark, sf_dir).agg(F.count(F.lit(1)).alias("nd"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        tf.join(df_t, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            (F.length(F.bin(F.col("nd"))) - F.length(F.bin(F.col("df_t"))))
            .cast("long")
            .alias("idf_bits"),
        )
        .withColumn("score", F.col("tf") * F.col("idf_bits"))
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= TFIDF_TOPK)
        .select("doc_id", "term", "tf", "idf_bits", "score", "rn")
    )


CHUNK_WIN = 32     # sliding-window chunk size (tokens)
CHUNK_STRIDE = 24  # stride (8-token overlap between neighbors)


def t18_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the doc→chunk expansion an
    embedding/RAG pipeline runs before vectorizing: windows of
    CHUNK_WIN tokens at CHUNK_STRIDE (so neighbors share
    WIN−STRIDE = 8 tokens and no token is orphaned at a hard
    boundary; t11's disjoint chunks are the dedup variant). Output one
    row per chunk: (doc_id, chunk_id, n_chunk_tokens, chunk_md5) —
    the md5 stands in for the chunk body downstream (embedding input
    key), keeping the result compact and exactly comparable.

    Scale: pure narrow map — tokenize, one transform over the chunk
    index sequence, explode; no shuffle at all (the final sort is
    presentation). Chunk count per doc is 1 + ⌈max(n−WIN,0)/STRIDE⌉,
    linear in corpus tokens."""
    toks = T.raw_tokens(F.lower(F.col("text")))
    base = _docs_par(spark, sf_dir).select("doc_id", toks.alias("toks"))
    w, st = CHUNK_WIN, CHUNK_STRIDE
    chunks = F.expr(
        f"CASE WHEN size(toks) = 0 THEN CAST(array() AS array<string>) "
        f"ELSE transform("
        f"sequence(1, 1 + CAST(ceil(greatest(size(toks) - {w}, 0) / {st}.0)"
        f" AS INT)), "
        f"i -> concat_ws(' ', slice(toks, (i - 1) * {st} + 1, {w}))) END"
    )
    return (
        base.select(
            "doc_id", F.posexplode(chunks).alias("pos", "chunk_text")
        )
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("long").alias("chunk_id"),
            F.size(F.split("chunk_text", " ")).cast("long").alias(
                "n_chunk_tokens"
            ),
            F.md5("chunk_text").alias("chunk_md5"),
        )
    )


T19_K = 8          # gram width of the boundary hash window
T19_B = 131        # polynomial base (keeps the 8-term sum < 2^63)
T19_DIV = 64       # boundary when hash % DIV == 0 → ~64-char mean chunks
T19_CODE_MOD = 251 # codepoint cap bounding each term's magnitude


def _t19_hash(elem) -> str:
    """The K-gram polynomial hash ending at 1-based position `i`,
    emitted as an explicit 8-term integer sum so Spark and DuckDB run
    IDENTICAL int64 arithmetic: sum_d code[i-d] * B^d, d = 0..K-1.
    `elem(d)` renders the engine's accessor for code[i-d]. Max value
    ≈ 250 * B^7 * B/(B-1) ≈ 1.9e17, comfortably inside int64."""
    return " + ".join(
        f"{elem(d)} * {T19_B ** d}" if d else elem(d)
        for d in range(T19_K)
    )


def t19_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC/LBFS family): cut a document
    where the rolling k-gram hash of its characters hits a sentinel
    residue, so chunk boundaries move WITH the content — insert one
    word and only the chunk containing the edit changes, where t18's
    fixed-stride windows all shift and re-embed. This is the chunking
    a dedup/incremental-embedding pipeline wants at 100 TB.

    The boundary predicate is STATELESS (pure function of the k chars
    ending at each position, no min/max-length carry), which is what
    makes it embarrassingly parallel — and lets DuckDB replay the
    identical integer arithmetic for the exact-multiset gate. Output
    is (doc_id, chunk_idx, start_pos, chunk_len, chunk_md5); the md5
    stands in for the chunk body as the downstream dedup/embedding key.

    Scale: a pure narrow map — codepoint array, one filtered index
    scan per doc (O(n·K) integer ops inside codegen), explode; no
    shuffle (the final sort is presentation). The cuts array carried
    through the explode is ints, ~n/DIV entries per doc. Caveat: char
    positions assume BMP text (Java UTF-16 split == DuckDB codepoint
    split); the corpus is ASCII, a production build would normalize
    to bytes first."""
    k, div, mod = T19_K, T19_DIV, T19_CODE_MOD
    gram = _t19_hash(lambda d: f"element_at(codes, i - {d})" if d
                     else "element_at(codes, i)")
    base = (
        _docs_par(spark, sf_dir)
        .filter(F.col("text").isNotNull() & (F.length("text") > 0))
        .select(
            "doc_id",
            "text",
            F.expr(
                f"transform(split(text, ''), ch -> ascii(ch) % {mod})"
            ).alias("codes"),
        )
    )
    # posexplode makes InferFiltersFromGenerate add `size(cuts) > 0`;
    # Catalyst then substitutes the WHOLE cuts expression into that
    # filter and pushes it below the parallelizing exchange — the
    # O(n·K) hash scan runs twice, serialized in the one scan task
    # (the d04/gr02 lesson; a nondeterministic sibling COLUMN is not
    # enough here, Spark 4 pushes predicates through a projection as
    # long as the predicate's own references are deterministic). The
    # trailing `slice(array(rand(42)), 1, 0)` concats an EMPTY array —
    # a value no-op — but marks the cuts expression itself
    # nondeterministic, so the inferred filter stays a cheap
    # size(attribute) test above this projection.
    cuts = (
        f"concat(CASE WHEN size(codes) > {k} THEN "
        f"filter(sequence({k}, size(codes) - 1), "
        f"i -> ({gram}) % {div} = 0) "
        f"ELSE CAST(array() AS array<int>) END, array(size(codes)), "
        f"slice(array(cast(rand(42) AS int)), 1, 0))"
    )
    return (
        base.select("doc_id", "text", F.expr(cuts).alias("cuts"))
        .select(
            "doc_id", "text", "cuts",
            F.posexplode("cuts").alias("pos", "cut"),
        )
        .withColumn(
            "start_pos",
            F.expr("CASE WHEN pos = 0 THEN 1 "
                   "ELSE element_at(cuts, pos) + 1 END"),
        )
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("long").alias("chunk_idx"),
            F.col("start_pos").cast("long").alias("start_pos"),
            (F.col("cut") - F.col("start_pos") + 1).cast("long").alias(
                "chunk_len"
            ),
            F.expr(
                "md5(substring(text, start_pos, cut - start_pos + 1))"
            ).alias("chunk_md5"),
        )
    )


_T19_GRAM_SQL = _t19_hash(lambda d: f"codes[i - {d}]" if d else "codes[i]")
_T19_SQL = f"""
WITH d AS (
  SELECT doc_id, text,
         list_transform(string_split(text, ''),
                        ch -> unicode(ch)::BIGINT % {T19_CODE_MOD}) AS codes
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
),
c AS (
  SELECT doc_id, text,
         list_concat(
           CASE WHEN len(codes) > {T19_K}
                THEN list_filter(range({T19_K}, len(codes)),
                                 i -> ({_T19_GRAM_SQL}) % {T19_DIV} = 0)
                ELSE [] END,
           [len(codes)]) AS cuts
  FROM d
),
e AS (
  SELECT doc_id, text, cuts, ci, cuts[ci] AS cut,
         CASE WHEN ci = 1 THEN 1 ELSE cuts[ci - 1] + 1 END AS start_pos
  FROM c, UNNEST(range(1, len(cuts) + 1)) AS u(ci)
)
SELECT doc_id, ci::BIGINT AS chunk_idx, start_pos::BIGINT AS start_pos,
       (cut - start_pos + 1)::BIGINT AS chunk_len,
       md5(substr(text, start_pos, cut - start_pos + 1)) AS chunk_md5
FROM e ORDER BY doc_id, chunk_idx
"""


T20_GRAM = 3  # token n-gram width for the novelty measure


def t20_novelty_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve — for each document (in doc_id ingestion
    order), the fraction of its distinct token 3-grams never seen in
    any EARLIER document. The curation signal behind "is this source
    still adding information": boilerplate-heavy tails trend to 0,
    fresh domains spike. First-touch attribution (gram → min doc_id,
    the a14 device applied to n-grams) makes it one partial-
    aggregatable pass instead of an O(docs²) scan-back.

    Scale: explode distinct grams (narrow), one shuffle on the gram
    key for first-touch, one map-side-combinable rollup per doc; gram
    strings shuffle once — at 100 TB you would shuffle 64-bit gram
    hashes instead (documented trade: hash collisions then undercount
    novelty negligibly)."""
    toks = T.raw_tokens(F.lower(F.col("text")))
    w = T20_GRAM
    grams = (
        _docs_par(spark, sf_dir)
        .select("doc_id", toks.alias("tk"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"CASE WHEN size(tk) >= {w} THEN "
                    f"array_distinct(transform(sequence(1, size(tk) - {w - 1}), "
                    f"i -> concat_ws(' ', slice(tk, i, {w})))) "
                    f"ELSE CAST(array() AS array<string>) END"
                )
            ).alias("g"),
        )
    )
    first = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        # first-touch table = corpus-sized distinct grams: must never
        # broadcast (estimate-flip hazard, round-12 dc03 lesson)
        grams.join(first.hint("merge"), "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        _docs_par(spark, sf_dir)
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.expr(
                "CASE WHEN coalesce(n_grams, 0) = 0 THEN NULL "
                "ELSE CAST(coalesce(n_novel, 0) AS DOUBLE) "
                "/ CAST(n_grams AS DOUBLE) END"
            ).alias("novelty"),
        )
    )


_T20_SQL = f"""
WITH g AS (
  SELECT doc_id, _u.g
  FROM (SELECT doc_id,
               list_distinct(list_transform(
                 range(1, len(tk) - {T20_GRAM - 2}),
                 i -> array_to_string(list_slice(tk, i, i + {T20_GRAM - 1}),
                                      ' '))) AS gs
        FROM (SELECT doc_id, {sql_raw_tokens('lower(text)')} AS tk
              FROM documents)
        WHERE len(tk) >= {T20_GRAM}),
       UNNEST(gs) AS _u(g)
),
first_t AS (SELECT g, min(doc_id) AS first_doc FROM g GROUP BY g),
per_doc AS (
  SELECT g.doc_id, count(1) AS n_grams,
         sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END) AS n_novel
  FROM g JOIN first_t f USING (g) GROUP BY g.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_grams, 0) AS n_grams,
       CAST(coalesce(p.n_novel, 0) AS BIGINT) AS n_novel,
       CASE WHEN coalesce(p.n_grams, 0) = 0 THEN NULL
            ELSE CAST(coalesce(p.n_novel, 0) AS DOUBLE)
                 / CAST(p.n_grams AS DOUBLE) END AS novelty
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


BPE_MERGES = 6  # learned merge rounds
_BPE_WORD_RE = "^[a-z0-9]+$"  # BPE scope: alphanumeric word types only
# (the |-delimited token encoding below requires pipe-free tokens; the
# same regex gates both engines, so scope is part of the semantics)


def t21_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING — the first BPE_MERGES merge
    rules learned from the corpus, exactly: per round, count every
    adjacent symbol pair across all word types weighted by word
    frequency, take the argmax (count desc, pair asc — the classic
    tie-break), fuse it everywhere, repeat. Output is the learned
    merge table (round, l_tok, r_tok, merged, pair_count) — i.e. the
    tokenizer itself, the artifact an LLM data pipeline actually ships.

    The cross-engine trick making this oracle-exact: each word's
    symbol sequence is encoded as a pipe-delimited STRING
    ('|l||o||w||</w>|'), so applying a merge is ONE replace() call —
    and replace() is left-to-right non-overlapping in BOTH engines
    (Java indexOf-loop ≡ DuckDB scan), which is precisely standard
    BPE's application order, identical runs-of-identical-symbols
    behavior included. The oracle unrolls the rounds as CTE chains
    (the ml06 device).

    Scale: state is the word-TYPE table (vocab-sized, not
    corpus-sized) — counts ride one explode+groupBy over it per
    round; the argmax is an O(1) driver scalar per round (the
    iterative-algorithm certificate pattern); localCheckpoint
    truncates the K-deep replace lineage. The returned K-row merge
    table is learned model parameters, not a data plane."""
    learned, _ = _learn_bpe(spark, sf_dir)
    return spark.createDataFrame(
        learned,
        "merge_round INT, l_tok STRING, r_tok STRING, merged STRING, "
        "pair_count BIGINT",
    ).orderBy("merge_round")


def bpe_learned_m(spark: SparkSession, sf_dir: str):
    """ONE BPE training per corpus identity for the APPLY side (t22,
    tables.derived): the learned merge table is the tokenizer artifact
    — exact and deterministic (integer counts, count-desc/pair-asc
    tie-break), so sharing the trained artifact cannot change any
    result. t21 keeps calling _learn_bpe directly: training is the
    operator it times."""
    return tables.derived(
        sf_dir, "bpe_learned", lambda: _learn_bpe(spark, sf_dir)
    )


def _learn_bpe(spark: SparkSession, sf_dir: str):
    """The BPE training loop shared by t21 (emit the merge table) and
    t22 (encode the corpus with it): returns (learned merge rows, the
    final word → encoding frame)."""
    words = (
        _docs_par(spark, sf_dir)
        .select(
            F.explode(T.raw_tokens(F.lower(F.col("text")))).alias("word")
        )
        .filter(F.col("word").rlike(_BPE_WORD_RE))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    enc = words.select(
        "word",
        F.concat(
            F.lit("|"),
            F.concat_ws(
                "||", F.expr("concat(split(word, ''), array('</w>'))")
            ),
            F.lit("|"),
        ).alias("enc"),
        "wc",
    ).localCheckpoint()

    learned = []
    for rnd in range(1, BPE_MERGES + 1):
        pairs = (
            enc.select(
                F.expr(
                    "split(substring(enc, 2, length(enc) - 2), '\\\\|\\\\|')"
                ).alias("tk"),
                "wc",
            )
            .filter(F.size("tk") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(tk) - 1), "
                        "i -> struct(element_at(tk, i) AS l, "
                        "element_at(tk, i + 1) AS r))"
                    )
                ).alias("p"),
                "wc",
            )
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("wc").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, cnt = top[0]["l"], top[0]["r"], top[0]["cnt"]
        learned.append((rnd, l, r, l + r, int(cnt)))
        # No per-round localCheckpoint (r16): the lineage the old
        # checkpoint truncated is BPE_MERGES nested replace() calls
        # over the word-TYPE table — trivial to recompute from the one
        # corpus-pass checkpoint above, while each checkpoint cost a
        # full materialization job per round (the dominant per-round
        # cost: the pair count reads the same table anyway).
        enc = enc.select(
            "word",
            F.replace(
                F.col("enc"), F.lit(f"|{l}||{r}|"), F.lit(f"|{l}{r}|")
            ).alias("enc"),
            "wc",
        )
    return learned, enc


def t22_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — apply the merges t21 learned back to the corpus
    and report per document the in-scope word count and the subword
    token total under the learned tokenizer. This is the other half of
    shipping a tokenizer (train → encode), and it supersedes t08's
    heuristic token count with one produced by an actually-learned
    vocabulary; n_bpe_tokens is the number an LLM pipeline bills
    context length in.

    Exactness: the final word → encoding table comes from the SAME
    replace chain the trainer ran (engine-identical, see t21); the
    doc rollup is then an exact integer join-aggregate. Docs with no
    in-scope words report 0/0, not a dropped row.

    Scale: encodings live on the word-TYPE table; the corpus-sized
    side ships (doc_id, word) pairs into one equi-join on the word key
    (the vocab table is NOT assumed broadcastable at 100 TB) and a
    partial-aggregatable per-doc rollup."""
    _, enc = bpe_learned_m(spark, sf_dir)
    wtok = enc.select(
        "word",
        F.expr(
            "size(split(substring(enc, 2, length(enc) - 2), "
            "'\\\\|\\\\|'))"
        ).cast("long").alias("n_tok"),
    )
    dw = (
        _docs_par(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(T.raw_tokens(F.lower(F.col("text")))).alias("word"),
        )
        .filter(F.col("word").rlike(_BPE_WORD_RE))
    )
    per_doc = (
        dw.join(wtok, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_bpe_tokens"),
        )
    )
    return (
        _docs_par(spark, sf_dir)
        .select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
        )
    )


def _bpe_ctes() -> str:
    """Shared WITH-prefix of the t21/t22 oracles: w0, e0, and the
    unrolled merge rounds p_i/m_i/e_i. `word` rides through every e_i;
    an empty round (no pairs left) leaves encodings UNCHANGED via
    LEFT JOIN ON TRUE — matching the trainer's early break."""
    rounds = []
    for i in range(1, BPE_MERGES + 1):
        rounds.append(f"""
p{i} AS (
  SELECT tk[i] AS l, tk[i + 1] AS r, CAST(sum(wc) AS BIGINT) AS cnt
  FROM (SELECT string_split(substr(enc, 2, length(enc) - 2), '||') AS tk,
               wc
        FROM e{i - 1}),
       UNNEST(range(1, len(tk))) AS u(i)
  GROUP BY 1, 2
),
m{i} AS (SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1),
e{i} AS (
  SELECT e.word,
         CASE WHEN m.l IS NULL THEN e.enc
              ELSE replace(e.enc, '|' || m.l || '||' || m.r || '|',
                           '|' || m.l || m.r || '|') END AS enc,
         e.wc
  FROM e{i - 1} e LEFT JOIN m{i} m ON TRUE
)""")
    return f"""w0 AS (
  SELECT word, count(1)::BIGINT AS wc
  FROM (SELECT _u.word
        FROM (SELECT {sql_raw_tokens('lower(text)')} AS tks FROM documents),
             UNNEST(tks) AS _u(word))
  WHERE regexp_matches(word, '{_BPE_WORD_RE}')
  GROUP BY word
),
e0 AS (
  SELECT word,
         '|' || array_to_string(list_append(string_split(word, ''), '</w>'),
                                '||') || '|' AS enc, wc
  FROM w0
),{",".join(rounds)}"""


def _bpe_oracle() -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_round, l AS l_tok, r AS r_tok, "
        f"l || r AS merged, cnt AS pair_count FROM m{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    return f"""
WITH {_bpe_ctes()}
{finals}
ORDER BY merge_round
"""


def _t22_oracle() -> str:
    return f"""
WITH {_bpe_ctes()},
wtok AS (
  SELECT word,
         len(string_split(substr(enc, 2, length(enc) - 2), '||'))::BIGINT
           AS n_tok
  FROM e{BPE_MERGES}
),
dw AS (
  SELECT doc_id, _u.word
  FROM (SELECT doc_id, {sql_raw_tokens('lower(text)')} AS tks
        FROM documents),
       UNNEST(tks) AS _u(word)
  WHERE regexp_matches(word, '{_BPE_WORD_RE}')
),
per_doc AS (
  SELECT dw.doc_id, count(1) AS n_words,
         CAST(sum(w.n_tok) AS BIGINT) AS n_bpe_tokens
  FROM dw JOIN wtok w USING (word)
  GROUP BY dw.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_words, 0) AS n_words,
       coalesce(p.n_bpe_tokens, 0) AS n_bpe_tokens
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


T23_POSTINGS_CAP = 16


def t23_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the corpus→search-structure op behind
    keyword retrieval, dedup forensics, and BM25-style reranking: per
    normalized term, its document frequency, total term frequency, and
    the first T23_POSTINGS_CAP doc_ids (ascending) of its posting list.

    Scale: the posting cap is enforced with a row_number window BEFORE
    any collect_list, so per-term aggregation state is O(cap), never
    O(df) — a stopword-like term with a 100M-doc posting list costs the
    same as a rare one (the naive collect-then-slice form is the
    classic inverted-index OOM). Flow: explode tokens → one (term,
    doc_id) partial-agg shuffle → term-partitioned window + two
    term-keyed aggregates that reuse the same partitioning. Postings
    ship as a CSV string: cross-engine exact, no array-hash
    dependence. The list is sorted NUMERICALLY before the string cast
    (sort longs, then cast) so the CSV order matches the documented
    "first cap doc_ids ascending" semantics — string-sorting the casts
    would put "10" before "2"."""
    tok = _docs_par(spark, sf_dir).select(
        "doc_id", F.explode(T.clean_tokens(F.col("text"))).alias("term")
    )
    per_doc = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf_doc")
    )
    stats = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf_doc").cast("long").alias("tf"),
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    postings = (
        per_doc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= T23_POSTINGS_CAP)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return stats.join(postings, "term")


def _t23_oracle() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, _u.term
  FROM (SELECT doc_id, {sql_clean_tokens('text')} AS tks FROM documents),
       UNNEST(tks) AS _u(term)
),
pd AS (SELECT term, doc_id, count(1) AS tf_doc FROM tok GROUP BY term, doc_id),
st AS (SELECT term, count(1)::BIGINT AS df, sum(tf_doc)::BIGINT AS tf
       FROM pd GROUP BY term),
tp AS (SELECT term, doc_id,
              row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
       FROM pd),
po AS (SELECT term,
              array_to_string(
                list_transform(list_sort(list(doc_id)), d -> d::VARCHAR),
                ',') AS postings
       FROM tp WHERE rn <= {T23_POSTINGS_CAP} GROUP BY term)
SELECT st.term, st.df, st.tf, po.postings
FROM st JOIN po USING (term)
ORDER BY st.term
"""


T24_TOPK = 20


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the t23 inverted-index statistics — score
    every matching doc against a 3-term query (self-derived: the 3
    highest-df terms, df DESC / term ASC tie-break, so the query is
    deterministic and corpus-portable); t24 takes the top-20, s08
    fuses the ranking with the embedding leg.

    Cross-engine-exact BM25 (k1 = 1.2, b = 0.75): every input to the
    one float division per (doc, query-term) is an EXACT INTEGER —
      idf_bits  = floor(log2(1 + N DIV df)), computed as
                  length(bin(k)) - 1 (bit length, never float log —
                  the ml07 integer-bits device);
      numerator = idf_bits · 44 · S · tf          (k1+1 = 44/20)
      denom     = 20·S·tf + 6·S + 18·N·dl         (k1(1−b) = 6/20,
                                                   k1·b = 18/20,
                   both multiplied through by 20·S·avgdl⁻¹·N = 20·S·N/N)
    with N = docs with ≥1 token, S = Σ dl (so avgdl = S/N stays a
    rational, never a rounded float). The ≤3 per-term partials sum in
    FIXED rank order (coalesce(q1,0)+coalesce(q2,0)+coalesce(q3,0)),
    so the double result is bit-identical in DuckDB.

    Scale: stats ride the same one-shuffle (term, doc) partial-agg as
    t23; the 3-row query-term table broadcasts; scoring is a narrow
    map over matching postings only; top-20 is a tie-broken global
    sort of per-doc one-row aggregates."""
    tok = _docs_par(spark, sf_dir).select(
        "doc_id", F.explode(T.clean_tokens(F.col("text"))).alias("term")
    )
    per_doc = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("s_tokens"),
    )
    df_t = per_doc.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    qterms = (
        df_t.orderBy(F.desc("df"), "term")
        .limit(3)
        .withColumn(
            "qrank",
            F.row_number().over(Window.orderBy(F.desc("df"), "term")),
        )
    )
    scored = (
        per_doc.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf_bits",
            (
                F.length(F.expr("bin(1 + n_docs DIV df)")) - F.lit(1)
            ).cast("long"),
        )
        .withColumn(
            "partial",
            (F.col("idf_bits") * 44 * F.col("s_tokens") * F.col("tf"))
            .cast("double")
            / (
                20 * F.col("s_tokens") * F.col("tf")
                + 6 * F.col("s_tokens")
                + 18 * F.col("n_docs") * F.col("dl")
            ).cast("double"),
        )
    )
    per_doc_score = scored.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("qrank") == i, F.col("partial"))).alias(
                f"q{i}"
            )
            for i in (1, 2, 3)
        ],
        F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
    )
    zero = F.lit(0.0)
    return per_doc_score.select(
        "doc_id",
        (
            F.coalesce(F.col("q1"), zero)
            + F.coalesce(F.col("q2"), zero)
            + F.coalesce(F.col("q3"), zero)
        ).alias("bm25"),
        "n_terms_matched",
    )


def t24_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 of the _bm25_scores ranking (score DESC, doc_id ASC) —
    see _bm25_scores for the exactness construction; s08 reuses the
    same scores as the lexical leg of hybrid retrieval."""
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(T24_TOPK)
    )


def _bm25_scores_sql() -> str:
    """DuckDB twin of _bm25_scores as a bare SELECT (no ORDER/LIMIT) —
    shared verbatim by t24's oracle and s08's lexical leg so the
    scoring semantics can never drift between the two."""
    return f"""
WITH tok AS (
  SELECT doc_id, _u.term
  FROM (SELECT doc_id, {sql_clean_tokens('text')} AS tks FROM documents),
       UNNEST(tks) AS _u(term)
),
pd AS (SELECT term, doc_id, count(1)::BIGINT AS tf FROM tok
       GROUP BY term, doc_id),
dl AS (SELECT doc_id, count(1)::BIGINT AS dl FROM tok GROUP BY doc_id),
corpus AS (SELECT count(1)::BIGINT AS n_docs, sum(dl)::BIGINT AS s_tokens
           FROM dl),
dft AS (SELECT term, count(1)::BIGINT AS df FROM pd GROUP BY term),
qterms AS (SELECT term, df,
                  row_number() OVER (ORDER BY df DESC, term) AS qrank
           FROM dft ORDER BY df DESC, term LIMIT 3),
scored AS (
  SELECT pd.doc_id, q.qrank,
         ((length(bin(1 + c.n_docs // q.df)) - 1)::BIGINT
          * 44 * c.s_tokens * pd.tf)::DOUBLE
         / (20 * c.s_tokens * pd.tf + 6 * c.s_tokens
            + 18 * c.n_docs * dl.dl)::DOUBLE AS partial
  FROM pd JOIN qterms q USING (term)
          JOIN dl USING (doc_id), corpus c
),
agg AS (
  SELECT doc_id,
         max(CASE WHEN qrank = 1 THEN partial END) AS q1,
         max(CASE WHEN qrank = 2 THEN partial END) AS q2,
         max(CASE WHEN qrank = 3 THEN partial END) AS q3,
         count(1)::BIGINT AS n_terms_matched
  FROM scored GROUP BY doc_id
)
SELECT doc_id,
       coalesce(q1, 0.0) + coalesce(q2, 0.0) + coalesce(q3, 0.0) AS bm25,
       n_terms_matched
FROM agg
"""


def _t24_oracle() -> str:
    return (
        f"SELECT * FROM ({_bm25_scores_sql()}) "
        f"ORDER BY bm25 DESC, doc_id LIMIT {T24_TOPK}"
    )


def t25_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule-based quality gate — the keep/drop decision
    a pretraining corpus build applies per document, with PER-RULE
    verdicts kept alongside the final flag so filter-rate monitoring
    can attribute drops (t04 scores quality; this one DECIDES, with
    reasons). Rules: word count in [10, 100000]; mean token length in
    [2, 12]; symbol ratio < 10 %; ≥ 2 distinct stopwords present.

    All rule inputs are exact integers and every threshold compare is
    integer cross-multiplied (2·n ≤ Σlen ≤ 12·n instead of a float
    mean; 10·n_sym < n_chars instead of a ratio), so the row —
    booleans included — is bit-exact cross-engine. One narrow map, no
    shuffle; at 100 TB this is a free rider on the ingest scan."""
    low = F.lower(F.coalesce(F.col("text"), F.lit("")))
    toks = T.raw_tokens(low)
    stop_arr = F.array(*[F.lit(s) for s in T.STOPWORDS])
    base = _docs_par(spark, sf_dir).select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda a, x: a + F.length(x).cast("long"),
        ).alias("sum_wl"),
        F.length(F.regexp_replace(low, r"[a-z0-9\s]", "")).cast("long")
        .alias("n_sym"),
        F.length(low).cast("long").alias("n_chars"),
        F.size(F.array_intersect(F.array_distinct(toks), stop_arr))
        .cast("long")
        .alias("n_stop"),
    )
    r_count = (F.col("n_words") >= 10) & (F.col("n_words") <= 100000)
    r_wl = (
        (F.col("n_words") > 0)
        & (2 * F.col("n_words") <= F.col("sum_wl"))
        & (F.col("sum_wl") <= 12 * F.col("n_words"))
    )
    r_sym = 10 * F.col("n_sym") < F.col("n_chars")
    r_stop = F.col("n_stop") >= 2
    return base.select(
        "doc_id",
        "n_words",
        "sum_wl",
        "n_sym",
        "n_stop",
        r_count.alias("rule_word_count"),
        r_wl.alias("rule_word_length"),
        r_sym.alias("rule_symbol_ratio"),
        r_stop.alias("rule_stopwords"),
        (r_count & r_wl & r_sym & r_stop).alias("keep"),
    )


def _t25_oracle() -> str:
    toks = sql_raw_tokens("lower(text)")
    return f"""
WITH base AS (
  SELECT doc_id,
         len({toks})::BIGINT AS n_words,
         coalesce(list_sum(list_transform({toks}, _t -> len(_t))), 0)::BIGINT
           AS sum_wl,
         length(regexp_replace(lower(coalesce(text, '')),
                               '[a-z0-9\\s]', '', 'g'))::BIGINT AS n_sym,
         length(lower(coalesce(text, '')))::BIGINT AS n_chars,
         len(list_intersect(list_distinct({toks}),
                            {sql_stopword_array()}))::BIGINT AS n_stop
  FROM documents
)
SELECT doc_id, n_words, sum_wl, n_sym, n_stop,
       (n_words >= 10 AND n_words <= 100000) AS rule_word_count,
       (n_words > 0 AND 2 * n_words <= sum_wl AND sum_wl <= 12 * n_words)
         AS rule_word_length,
       (10 * n_sym < n_chars) AS rule_symbol_ratio,
       (n_stop >= 2) AS rule_stopwords,
       ((n_words >= 10 AND n_words <= 100000)
        AND (n_words > 0 AND 2 * n_words <= sum_wl
             AND sum_wl <= 12 * n_words)
        AND (10 * n_sym < n_chars) AND (n_stop >= 2)) AS keep
FROM base ORDER BY doc_id
"""


def t26_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style within-document duplicate-line removal: split each doc
    into lines, keep only the FIRST occurrence of every distinct line
    (boilerplate headers/footers/cookie banners repeat verbatim), and
    reassemble in original order — plus kept/dropped accounting for
    filter-rate monitoring.

    Keep-first is the deterministic window form (row_number over
    (doc_id, line) ordered by position, rn = 1 — the P3 dedup rule
    applied intra-document); reassembly sorts the kept (pos, line)
    structs per doc, so the output text is reproducible. State per
    group is one doc's lines — bounded by doc length, never corpus
    size. NULL text ≡ '' (one empty line), so every doc survives with
    exact accounting."""
    lines = _docs_par(spark, sf_dir).select(
        "doc_id",
        F.posexplode(
            F.split(F.coalesce(F.col("text"), F.lit("")), "\n", -1)
        ).alias("pos", "line"),
    )
    w = Window.partitionBy("doc_id", "line").orderBy("pos")
    kept = lines.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    agg = kept.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.expr(
                "transform(array_sort(collect_list(struct(pos, line))), "
                "s -> s.line)"
            ),
        ).alias("cleaned"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    tot = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines")
    )
    return (
        agg.join(tot, "doc_id")
        .select(
            "doc_id",
            "cleaned",
            "n_lines",
            "n_kept",
            (F.col("n_lines") - F.col("n_kept")).alias("n_dropped"),
        )
    )


_T26_SQL = """
WITH ls AS (
  SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS a
  FROM documents
),
lines AS (
  SELECT doc_id, a[g.i] AS line, g.i AS pos
  FROM ls, UNNEST(generate_series(1, len(a))) AS g(i)
),
kept AS (
  SELECT doc_id, line, pos,
         row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
  FROM lines
),
agg AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned,
         count(1)::BIGINT AS n_kept
  FROM kept WHERE rn = 1 GROUP BY doc_id
),
tot AS (SELECT doc_id, count(1)::BIGINT AS n_lines FROM lines GROUP BY doc_id)
SELECT a.doc_id, a.cleaned, t.n_lines, a.n_kept,
       (t.n_lines - a.n_kept)::BIGINT AS n_dropped
FROM agg a JOIN tot t ON a.doc_id = t.doc_id
ORDER BY a.doc_id
"""


_LANGS_SQL = ", ".join(
    f"""len(list_filter({sql_raw_tokens("lower(text)")},
        _t -> list_contains([{", ".join(f"'{m}'" for m in markers)}], _t)))::BIGINT
        AS sc_{lang}"""
    for lang, markers in T.LANG_MARKERS.items()
) + (
    f", length(regexp_replace(coalesce(text, ''), '[^{T.CJK_RANGE}]', '', 'g'))"
    "::BIGINT AS sc_zh"
)
_ALL_LANGS = [*T.LANG_MARKERS, "zh"]
_PRED_SQL = "CASE " + " ".join(
    f"WHEN sc_{lang} = best THEN '{lang}'" for lang in _ALL_LANGS
) + " END"

SPECS = [
    QuerySpec(
        "t01_text_chain",
        t01_text_chain,
        f"""
        SELECT doc_id,
               -- coalesce: DuckDB array_to_string([]) is NULL, Spark
               -- concat_ws of an empty array is '' — '' is canonical
               coalesce(array_to_string({sql_clean_tokens("text")}, ' '), '')
                 AS processed
        FROM documents
        """,
    ),
    QuerySpec("t02_stemmed_chain", t02_stemmed_chain, None),
    QuerySpec(
        "t03_topk_words",
        t03_topk_words,
        f"""
        SELECT word, count(1) AS n
        FROM documents, UNNEST({sql_clean_tokens("text")}) AS _u(word)
        GROUP BY word ORDER BY n DESC, word LIMIT {TOPK_WORDS}
        """,
    ),
    QuerySpec(
        "t04_quality_scores",
        t04_quality_scores,
        f"""
        WITH t AS (
          SELECT doc_id,
                 length(text)::BIGINT AS n_chars,
                 {sql_raw_tokens("lower(text)")} AS toks
          FROM documents
        )
        SELECT doc_id, n_chars,
               len(toks)::BIGINT AS n_tokens,
               CASE WHEN len(toks) = 0 THEN NULL ELSE
                 len(list_filter(toks, _t -> list_contains(
                     {sql_stopword_array()}, _t)))::DOUBLE
                 / len(toks)::DOUBLE END AS stopword_ratio,
               CASE WHEN len(toks) = 0 THEN NULL ELSE
                 list_sum(list_transform(toks, _t -> len(_t)::BIGINT))::DOUBLE
                 / len(toks)::DOUBLE END AS mean_word_len
        FROM t
        """,
    ),
    QuerySpec(
        "t05_lang_id",
        t05_lang_id,
        f"""
        WITH s AS (SELECT doc_id, {_LANGS_SQL} FROM documents),
             g AS (SELECT *, greatest(sc_en, sc_es, sc_de, sc_fr, sc_zh) AS best
                   FROM s)
        SELECT doc_id, sc_en, sc_es, sc_de, sc_fr, sc_zh,
               CASE WHEN best = 0 THEN 'und' ELSE {_PRED_SQL} END AS lang_pred
        FROM g
        """,
    ),
    QuerySpec(
        "t06_fingerprint",
        t06_fingerprint,
        f"SELECT doc_id, md5({sql_normalize('text')}) AS fingerprint "
        "FROM documents",
    ),
    QuerySpec(
        "t07_positional_hash",
        t07_positional_hash,
        f"""
        WITH t AS (SELECT doc_id, {sql_raw_tokens("lower(text)")} AS toks
                   FROM documents)
        SELECT doc_id,
               CAST(list_sum(list_transform(range(1, len(toks) + 1),
                 i -> i * (17 * len(toks[i]) + ascii(substr(toks[i], 1, 1)))))
                 AS BIGINT) AS poshash,
               len(toks)::BIGINT AS n_tokens
        FROM t WHERE len(toks) > 0
        """,
    ),
    QuerySpec(
        "t08_bpe_token_count",
        t08_bpe_token_count,
        f"""
        SELECT doc_id,
               len(regexp_extract_all(lower(coalesce(text, '')), '{BPE_PATTERN}'))::BIGINT
                 AS n_bpeish,
               len(regexp_extract_all(lower(coalesce(text, '')), '{BPE_WORD}'))::BIGINT
                 AS n_word_runs,
               len(regexp_extract_all(lower(coalesce(text, '')), '{BPE_NUM}'))::BIGINT
                 AS n_num_runs,
               len({sql_raw_tokens('text')})::BIGINT AS n_whitespace
        FROM documents
        """,
    ),
    QuerySpec(
        "t09_pii_scrub",
        t09_pii_scrub,
        f"""
        SELECT doc_id,
               regexp_replace(regexp_replace(text, '{URL_RE}', '<URL>', 'g'),
                              '{EMAIL_RE}', '<EMAIL>', 'g') AS scrubbed,
               len(regexp_extract_all(text, '{URL_RE}'))::BIGINT AS n_urls,
               len(regexp_extract_all(text, '{EMAIL_RE}'))::BIGINT AS n_emails
        FROM documents
        """,
    ),
    QuerySpec(
        "t10_repetition_score",
        t10_repetition_score,
        f"""
        WITH t AS (SELECT doc_id, {sql_raw_tokens("lower(text)")} AS toks
                   FROM documents)
        SELECT doc_id,
               len(toks)::BIGINT AS n_tokens,
               len(list_distinct(toks))::BIGINT AS n_unique,
               CASE WHEN len(toks) = 0 THEN NULL ELSE
                 len(list_distinct(toks))::DOUBLE / len(toks)::DOUBLE
               END AS unique_ratio,
               CASE WHEN len(toks) = 0 THEN NULL ELSE
                 list_max(list_transform(list_distinct(toks),
                   _u -> len(list_filter(toks, _x -> _x = _u))))::DOUBLE
                 / len(toks)::DOUBLE
               END AS top_ratio
        FROM t
        """,
    ),
    QuerySpec(
        "t11_chunk_dedup",
        t11_chunk_dedup,
        f"""
        WITH b AS (SELECT doc_id, {sql_raw_tokens("lower(text)")} AS toks
                   FROM documents),
        c AS (SELECT doc_id,
                CASE WHEN len(toks) = 0 THEN [] ELSE
                  list_transform(
                    range(1, CAST(ceil(len(toks) / {CHUNK_TOKENS}.0) AS BIGINT) + 1),
                    i -> array_to_string(
                      list_slice(toks, (i - 1) * {CHUNK_TOKENS} + 1,
                                 (i - 1) * {CHUNK_TOKENS} + {CHUNK_TOKENS}), ' '))
                END AS chunks
              FROM b),
        e AS (SELECT doc_id, ci, chunks[ci] AS chunk
              FROM c, UNNEST(range(1, len(chunks) + 1)) AS r(ci)),
        f AS (SELECT chunk, count(DISTINCT doc_id) AS dfreq
              FROM e GROUP BY chunk),
        k AS (SELECT e.doc_id, e.ci, e.chunk
              FROM e JOIN f USING (chunk) WHERE f.dfreq = 1),
        a AS (SELECT doc_id,
                     array_to_string(list(chunk ORDER BY ci), ' ') AS cleaned,
                     count(*)::BIGINT AS n_kept
              FROM k GROUP BY doc_id)
        SELECT c.doc_id,
               coalesce(a.cleaned, '') AS cleaned,
               len(chunks)::BIGINT AS n_chunks,
               (len(chunks) - coalesce(a.n_kept, 0))::BIGINT AS n_dropped
        FROM c LEFT JOIN a USING (doc_id)
        """,
    ),
    QuerySpec(
        "t12_vocab_coverage",
        t12_vocab_coverage,
        f"""
        WITH words AS (
          SELECT word, count(1) AS n
          FROM documents,
               UNNEST({sql_raw_tokens("lower(text)")}) AS _u(word)
          GROUP BY word
        ),
        top AS (
          SELECT word, n FROM words ORDER BY n DESC, word LIMIT {VOCAB_TOPV}
        ),
        tot AS (SELECT sum(n)::BIGINT AS n_total FROM words)
        SELECT row_number() OVER (ORDER BY n DESC, word) AS rank,
               word, n,
               (sum(n) OVER (ORDER BY n DESC, word
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               )::DOUBLE / n_total::DOUBLE AS cum_share
        FROM top, tot
        ORDER BY rank
        """,
    ),
    QuerySpec(
        "t13_unigram_surprisal",
        t13_unigram_surprisal,
        f"""
        WITH toks AS (
          SELECT doc_id, tk
          FROM (SELECT doc_id, {sql_raw_tokens(sql_normalize('text'))} AS tks
                FROM documents), UNNEST(tks) AS _u(tk)
        ),
        freq AS (SELECT tk, count(1) AS cnt FROM toks GROUP BY tk),
        tot AS (SELECT count(1) AS n_corpus FROM toks),
        bits AS (
          SELECT doc_id,
                 (length(bin(n_corpus)) - length(bin(cnt)))::BIGINT AS b
          FROM toks JOIN freq USING (tk) CROSS JOIN tot
        ),
        pd AS (SELECT doc_id, count(1)::BIGINT AS n_tokens,
                      sum(b)::BIGINT AS sum_bits
               FROM bits GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(pd.n_tokens, 0)::BIGINT AS n_tokens,
               pd.sum_bits,
               pd.sum_bits::DOUBLE / pd.n_tokens::DOUBLE AS mean_bits
        FROM documents d LEFT JOIN pd USING (doc_id)
        ORDER BY d.doc_id
        """,
    ),
    QuerySpec(
        "t14_heavy_hitters",
        t14_heavy_hitters,
        f"""
        WITH toks AS (
          SELECT word
          FROM documents, UNNEST({sql_clean_tokens("text")}) AS _u(word)
        ),
        tot AS (SELECT count(1) AS n_corpus FROM toks)
        SELECT word, count(1) AS n
        FROM toks, tot
        GROUP BY word, n_corpus
        HAVING count(1) * {HH_K} > n_corpus
        ORDER BY n DESC, word
        """,
    ),
    QuerySpec(
        "t15_bigram_surprisal",
        t15_bigram_surprisal,
        f"{_T15_CORE}\nORDER BY doc_id",
    ),
    QuerySpec(
        "t16_tfidf_terms",
        t16_tfidf_terms,
        f"""
        WITH toks AS (
          SELECT doc_id, term
          FROM documents, UNNEST({sql_clean_tokens("text")}) AS _u(term)
        ),
        tf AS (SELECT doc_id, term, count(1) AS tf
               FROM toks GROUP BY doc_id, term),
        dft AS (SELECT term, count(DISTINCT doc_id) AS df_t
                FROM toks GROUP BY term),
        nd AS (SELECT count(1) AS nd FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf,
                 (length(bin(nd)) - length(bin(df_t)))::BIGINT AS idf_bits,
                 (tf.tf * (length(bin(nd)) - length(bin(df_t))))::BIGINT
                   AS score
          FROM tf JOIN dft USING (term) CROSS JOIN nd
        ),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS rn
          FROM scored
        )
        SELECT doc_id, term, tf, idf_bits, score, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= {TFIDF_TOPK}
        ORDER BY doc_id, rn
        """,
    ),
    QuerySpec(
        "t17_reading_ease",
        t17_reading_ease,
        f"""
        WITH c AS (
          SELECT doc_id,
                 len({sql_raw_tokens('lower(text)')})::BIGINT AS n_words,
                 len(list_filter(
                   string_split_regex(coalesce(text, ''), '[.!?]'),
                   x -> x <> ''))::BIGINT AS n_sents,
                 len(regexp_extract_all({sql_normalize('text')},
                     '[aeiouy]+'))::BIGINT AS n_syll
          FROM documents
        )
        SELECT doc_id, n_words, n_sents, n_syll,
               CASE WHEN n_words > 0 AND n_sents > 0 THEN
                 206.835
                 - 1.015 * (n_words::DOUBLE / n_sents::DOUBLE)
                 - 84.6 * (n_syll::DOUBLE / n_words::DOUBLE)
               END AS reading_ease
        FROM c
        """,
    ),
    QuerySpec(
        "t18_sliding_chunks",
        t18_sliding_chunks,
        f"""
        WITH b AS (SELECT doc_id, {sql_raw_tokens("lower(text)")} AS toks
                   FROM documents),
        c AS (SELECT doc_id, i,
                     array_to_string(list_slice(toks,
                       (i - 1) * {CHUNK_STRIDE} + 1,
                       (i - 1) * {CHUNK_STRIDE} + {CHUNK_WIN}), ' ')
                       AS chunk_text
              FROM b,
                   UNNEST(range(1, 2 + CAST(ceil(
                     greatest(len(toks) - {CHUNK_WIN}, 0)
                     / {CHUNK_STRIDE}.0) AS INT))) AS u(i)
              WHERE len(toks) > 0)
        SELECT doc_id, i::BIGINT AS chunk_id,
               len(string_split(chunk_text, ' '))::BIGINT AS n_chunk_tokens,
               md5(chunk_text) AS chunk_md5
        FROM c ORDER BY doc_id, chunk_id
        """,
    ),
    QuerySpec("t19_cdc_chunks", t19_cdc_chunks, _T19_SQL),
    QuerySpec("t20_novelty_ratio", t20_novelty_ratio, _T20_SQL),
    QuerySpec("t21_bpe_merges", t21_bpe_merges, _bpe_oracle()),
    QuerySpec("t22_bpe_encode", t22_bpe_encode, _t22_oracle()),
    QuerySpec("t23_inverted_index", t23_inverted_index, _t23_oracle()),
    QuerySpec("t24_bm25_topk", t24_bm25_topk, _t24_oracle()),
    QuerySpec("t25_quality_rules", t25_quality_rules, _t25_oracle()),
    QuerySpec("t26_line_dedup", t26_line_dedup, _T26_SQL),
    QuerySpec("t27_perplexity_buckets", t27_perplexity_buckets, _t27_oracle()),
]
