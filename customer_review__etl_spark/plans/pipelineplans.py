"""Composed training-data pipelines — the end-to-end flagship a user
of a training-data engine actually runs: dedup → quality gate →
decontamination → deterministic split, as ONE declarative plan.

The reference runs its miniature version of this chain imperatively
(cleaner.py:99-128 dedup+clean, cleaner.py:246-248 split); at corpus
scale the same chain must stay lazy so Catalyst can fuse the narrow
stages (fingerprint, quality metrics, gram arrays all ride the same
scan) and AQE can size the two real shuffles (the fingerprint window
and the contamination gram join).

Every stage reuses the exact semantics of its standalone registry
twin (d01 fingerprint keep-first, t04 quality metrics, dc01 5-gram
overlap vs the doc_id % 13 eval slice, ml03 md5-threshold split), so
the full-chain oracle SQL is the composition of four already-proven
oracle fragments — nothing in the composition is new semantics, only
new plumbing, which is exactly what the oracle should pin.

Scale notes (100 TB manners):
- stages 1-2 are one narrow pass + one shuffle on 128-bit digests
  (bodies never shuffle for dedup);
- the contamination join ships (doc_id, 40-byte gram) pairs, never
  documents, and the eval gram side is distinct-ed but NOT assumed
  broadcastable (a real benchmark suite's gram set can be large);
- the final anti-join and split are digest-keyed and RNG-free, so
  re-running the pipeline after appending new documents reassigns
  nothing (content-addressed splits — the property cleaner.py's
  random_state seed only approximates per-run).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..scratch import materialized_df, run_scratch
from ..sources import sinks, tables
from . import QuerySpec
from .dedupplans import DECON_EVAL_MOD, DECON_NGRAM
from .helpers import (
    sql_normalize,
    sql_raw_tokens,
    sql_stopword_array,
)

PL_MIN_TOKENS = 20       # quality gate: drop very short docs (~10 %)
PL_MAX_STOPWORD = 0.18   # and stopword-stuffed docs (corpus p>99.9)


def _gram_arr(toks_col: str):
    """Distinct contiguous DECON_NGRAM-token grams of a token array —
    the dc01 expression, shared verbatim."""
    w = DECON_NGRAM
    return F.expr(
        f"CASE WHEN size({toks_col}) >= {w} THEN "
        f"array_distinct(transform(sequence(1, size({toks_col}) - {w - 1}), "
        f"i -> concat_ws(' ', slice({toks_col}, i, {w})))) "
        f"ELSE CAST(array() AS array<string>) END"
    )


def pl01_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep over `documents`:

    1. exact dedup — keep the lowest doc_id per normalized-content
       md5 fingerprint (d01);
    2. quality gate — ≥ PL_MIN_TOKENS tokens and stopword ratio
       ≤ PL_MAX_STOPWORD (t04 metrics);
    3. decontamination — drop the eval slice (doc_id % 13 == 0) and
       any surviving doc sharing a contiguous 5-token gram with ANY
       raw eval doc (dc01; the eval gram set comes from the raw
       corpus, not the filtered one — contamination sources don't
       get cleaner because training data did);
    4. split — content-addressed md5 threshold, ≈80/20 (ml03).

    Output: (doc_id, lang, n_tokens, split), ordered by doc_id."""
    docs = tables.load(spark, sf_dir, "documents")
    w = Window.partitionBy("f").orderBy("doc_id")
    kept = (
        docs.select(
            "doc_id",
            "lang",
            "text",
            T.doc_fingerprint(F.col("text")).alias("f"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "text")
    )
    cols = T.quality_score_cols(F.col("text"))
    n_tokens = cols["n_tokens"]
    qf = (
        kept.select(
            "doc_id",
            "lang",
            "text",
            n_tokens.alias("n_tokens"),
            F.when(n_tokens == 0, F.lit(None))
            .otherwise(cols["stopword_ratio"])
            .alias("sr"),
        )
        .filter(
            (F.col("n_tokens") >= PL_MIN_TOKENS)
            & (F.col("sr") <= PL_MAX_STOPWORD)
        )
    )
    eval_grams = (
        docs.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        .select(T.raw_tokens(F.lower(F.col("text"))).alias("toks"))
        .select(F.explode(_gram_arr("toks")).alias("g"))
        .distinct()
    )
    train = qf.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    contaminated = (
        train.select(
            "doc_id", T.raw_tokens(F.lower(F.col("text"))).alias("toks")
        )
        .select("doc_id", F.explode(_gram_arr("toks")).alias("g"))
        # dc01's no-broadcast rule, applied to the inlined twin
        # (round-12 audit): eval grams may be huge, pin the shuffle
        .join(eval_grams.hint("merge"), "g")
        .select("doc_id")
        .distinct()
    )
    clean = train.join(contaminated, "doc_id", "left_anti")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd",
        F.lit("train"),
    ).otherwise(F.lit("test"))
    # Trailing presentation sorts removed across the registry in r16:
    # the driver's correctness hash is order-insensitive and a global
    # sort of the result adds a range exchange whose boundary sampling
    # re-executes the final stage.
    return clean.select(
        "doc_id", "lang", "n_tokens", split.alias("split")
    )


_PL01_SQL = f"""
WITH fp AS (
  SELECT doc_id, lang, text,
         md5({sql_normalize('text')}) AS f
  FROM documents),
kept AS (
  SELECT doc_id, lang, text FROM (
    SELECT doc_id, lang, text,
           row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
    FROM fp) WHERE rn = 1),
q AS (
  SELECT doc_id, lang, text,
         len(toks)::BIGINT AS n_tokens,
         CASE WHEN len(toks) = 0 THEN NULL ELSE
           len(list_filter(toks, _t -> list_contains(
               {sql_stopword_array()}, _t)))::DOUBLE
           / len(toks)::DOUBLE END AS sr
  FROM (SELECT doc_id, lang, text,
               {sql_raw_tokens("lower(text)")} AS toks
        FROM kept)),
qf AS (
  SELECT * FROM q
  WHERE n_tokens >= {PL_MIN_TOKENS} AND sr <= {PL_MAX_STOPWORD}),
eg AS (
  SELECT DISTINCT _g AS g
  FROM (SELECT CASE WHEN len(toks) >= {DECON_NGRAM} THEN
                 list_distinct(list_transform(
                   range(1, len(toks) - {DECON_NGRAM - 2}),
                   i -> array_to_string(
                     list_slice(toks, i, i + {DECON_NGRAM - 1}), ' ')))
               ELSE [] END AS grams
        FROM (SELECT {sql_raw_tokens("lower(text)")} AS toks
              FROM documents
              WHERE doc_id % {DECON_EVAL_MOD} = 0)),
       UNNEST(grams) AS u(_g)),
tg AS (
  SELECT doc_id, _g AS g
  FROM (SELECT doc_id,
               CASE WHEN len(toks) >= {DECON_NGRAM} THEN
                 list_distinct(list_transform(
                   range(1, len(toks) - {DECON_NGRAM - 2}),
                   i -> array_to_string(
                     list_slice(toks, i, i + {DECON_NGRAM - 1}), ' ')))
               ELSE [] END AS grams
        FROM (SELECT doc_id, {sql_raw_tokens("lower(text)")} AS toks
              FROM qf
              WHERE doc_id % {DECON_EVAL_MOD} <> 0)),
       UNNEST(grams) AS u(_g)),
bad AS (SELECT DISTINCT doc_id FROM tg JOIN eg USING (g))
SELECT doc_id, lang, n_tokens,
       CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cd'
            THEN 'train' ELSE 'test' END AS split
FROM qf
WHERE doc_id % {DECON_EVAL_MOD} <> 0
  AND doc_id NOT IN (SELECT doc_id FROM bad)
ORDER BY doc_id
"""


PL02_APPEND_MOD = 5  # v1 corpus = doc_id % 5 != 0; the append adds the rest


def _pl02_features(df: DataFrame) -> DataFrame:
    """The per-doc feature pass both the batch and the incremental
    paths share: token count + content fingerprint (the d01/t04
    primitives) — a pure narrow map."""
    return df.select(
        "doc_id",
        "lang",
        F.size(T.raw_tokens(F.lower(F.col("text")))).cast("long").alias(
            "n_tokens"
        ),
        F.md5(T.normalize_text(F.col("text"))).alias("fingerprint"),
    )


def pl02_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus refresh — the daily-append reality at 100 TB:
    features for the v1 corpus were computed in an earlier run and
    LANDED (scratch parquet standing in for the feature store); when
    the corpus grows, recompute ONLY the net-new documents (anti-join
    against the stored key set — the general form of a manifest diff,
    io15's snapshot model applied to compute) and union with the
    stored results untouched.

    The oracle is the FULL recompute over the grown corpus — equality
    is the correctness property of incremental processing: stored +
    delta ≡ from-scratch. That holds here because the feature pass is
    per-doc (no cross-doc state); corpus-level features (DF counts,
    surprisal) would need merge logic, not a union — documented limit.

    Scale: the stored side is read, never recomputed; the anti-join
    ships only doc_id keys; the delta pass scans only appended files
    (in a manifest layout the anti-join disappears entirely — the
    delta IS the new file set)."""
    docs = tables.load(spark, sf_dir, "documents")
    v1 = docs.filter(F.col("doc_id") % PL02_APPEND_MOD != 0)
    store = run_scratch("pl02_store_")
    feats_v1 = _pl02_features(v1)
    sinks.write_parquet(feats_v1, store)
    stored = spark.read.schema(feats_v1.schema).parquet(store)
    new_docs = docs.join(
        stored.select("doc_id"), "doc_id", "left_anti"
    )
    return stored.unionByName(_pl02_features(new_docs))


_PL02_SQL = f"""
SELECT doc_id, lang,
       len({sql_raw_tokens('lower(text)')})::BIGINT AS n_tokens,
       md5({sql_normalize('text')}) AS fingerprint
FROM documents
ORDER BY doc_id
"""


PL03_QUERIES = 3   # size of the query set answered in one pass
PL03_QTERMS = 2    # terms per lexical query (fixed-order exact sum)
PL03_POOL = 50     # per-retriever per-query candidate pool
PL03_TOPK = 10     # fused answers returned per query


def pl03_retrieval_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end RAG-corpus build + query answering — the retrieval
    twin of pl01's training-data chain, composing the engine's whole
    retrieval stack in ONE declarative plan (round-8 VERDICT ask #2;
    reference anchor: the dashboard's interactive query loop,
    dashboard.py:21-46, generalized to corpus scale):

    1. CHUNK the corpus — t18's sliding token windows (CHUNK_WIN /
       CHUNK_STRIDE), the passage granularity retrieval actually
       indexes;
    2. LEXICAL leg — t24's integer-exact BM25 (k1 = 1.2, b = 0.75;
       idf = floor-log2 bit length, rationals multiplied through, one
       exact-input division per term) scored per CHUNK for a
       deterministic 3-query set (the 2·3 highest-chunk-df terms,
       df DESC / term ASC; query i gets ranks i and i+3), then
       doc score = MAX over its chunks' bm25 — MaxP passage retrieval
       (Dai & Callan 2019), exact under doubles since max never sums;
    3. SEMANTIC leg — s01's cosine machinery per query against anchor
       embeddings vec_id = query_id − 1 (norms folded once at scan);
    4. FUSE — s08's reciprocal-rank fusion per query over the two
       tie-broken top-PL03_POOL pools, top-PL03_TOPK answers each.

    Output: (query_id, rank, doc_id, r_lex, r_sem, rrf) — the answer
    table a query loop would page through, ordered by (query, rank).

    Scale: chunking is a narrow map (no shuffle); BM25 stats ride one
    (term, chunk) partial-agg shuffle; the 6-row query-term table and
    3-row anchor table broadcast; every per-query ranking is a
    row_number window FILTERED to a constant (rn ≤ POOL/TOPK), which
    Spark 4's InferWindowGroupLimit executes as partial per-partition
    top-k BEFORE the shuffle — no global per-query sort materializes;
    the fusion join sees O(QUERIES · POOL) rows regardless of corpus
    size. Exactness: every double is either a single division of
    exact integers, a max, or a fixed-order 2-term sum — bit-identical
    in DuckDB (the t24/s08 devices)."""
    from .simplans import RRF_K, _emb
    from .textplans import CHUNK_STRIDE, CHUNK_WIN
    from ..functions.vectors import cosine_from_norms

    w, st, nq, nt = CHUNK_WIN, CHUNK_STRIDE, PL03_QUERIES, PL03_QTERMS
    toks = T.raw_tokens(F.lower(F.col("text")))
    base = tables.load_parallel(spark, sf_dir, "documents").select(
        "doc_id", toks.alias("toks")
    )
    chunks_expr = F.expr(
        f"CASE WHEN size(toks) = 0 THEN CAST(array() AS array<array<string>>)"
        f" ELSE transform("
        f"sequence(1, 1 + CAST(ceil(greatest(size(toks) - {w}, 0) / {st}.0)"
        f" AS INT)), i -> slice(toks, (i - 1) * {st} + 1, {w})) END"
    )
    chunk_rows = base.select(
        "doc_id", F.posexplode(chunks_expr).alias("pos", "ctoks")
    ).select(
        "doc_id", (F.col("pos") + 1).cast("long").alias("chunk_id"), "ctoks"
    )
    tf = (
        chunk_rows.select(
            "doc_id", "chunk_id", F.explode("ctoks").alias("term")
        )
        .groupBy("doc_id", "chunk_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dl = chunk_rows.select(
        "doc_id", "chunk_id", F.size("ctoks").cast("long").alias("dl")
    )
    corpus = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("dl").cast("long").alias("s_tokens"),
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    qterms = (
        dft.orderBy(F.desc("df"), "term")
        .limit(nq * nt)
        .withColumn(
            "qrank", F.row_number().over(Window.orderBy(F.desc("df"), "term"))
        )
        .select(
            "term",
            "df",
            ((F.col("qrank") - 1) % nq + 1).cast("long").alias("query_id"),
            (F.floor((F.col("qrank") - 1) / nq) + 1).cast("long").alias("tord"),
        )
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, ["doc_id", "chunk_id"])
        .crossJoin(F.broadcast(corpus))
        .select(
            "query_id",
            "tord",
            "doc_id",
            "chunk_id",
            (
                (F.length(F.expr("bin(1 + n_chunks DIV df)")) - F.lit(1))
                .cast("long")
                * 44 * F.col("s_tokens") * F.col("tf")
            ).cast("double").alias("num"),
            (
                20 * F.col("s_tokens") * F.col("tf")
                + 6 * F.col("s_tokens")
                + 18 * F.col("n_chunks") * F.col("dl")
            ).cast("double").alias("den"),
        )
        .withColumn("partial", F.col("num") / F.col("den"))
    )
    zero = F.lit(0.0)
    bm = scored.groupBy("query_id", "doc_id", "chunk_id").agg(
        (
            F.coalesce(F.max(F.when(F.col("tord") == 1, F.col("partial"))), zero)
            + F.coalesce(F.max(F.when(F.col("tord") == 2, F.col("partial"))), zero)
        ).alias("bm25")
    )
    maxp = bm.groupBy("query_id", "doc_id").agg(F.max("bm25").alias("lex_score"))
    wlex = Window.partitionBy("query_id").orderBy(F.desc("lex_score"), "doc_id")
    lex_pool = (
        maxp.withColumn("rn", F.row_number().over(wlex))
        .filter(F.col("rn") <= PL03_POOL)
        .select("query_id", "doc_id", F.col("rn").cast("long").alias("r_lex"))
    )
    emb = _emb(spark, sf_dir).filter(
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull()
    )
    anchors = emb.filter(F.col("vec_id") < nq).select(
        (F.col("vec_id") + 1).cast("long").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    semsc = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("query_id") - 1)
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            cosine_from_norms(
                F.col("q_emb"), F.col("embedding"),
                F.col("q_nrm"), F.col("nrm"),
            ).alias("cos"),
        )
    )
    wsem = Window.partitionBy("query_id").orderBy(F.desc("cos"), "doc_id")
    sem_pool = (
        semsc.withColumn("rn", F.row_number().over(wsem))
        .filter(F.col("rn") <= PL03_POOL)
        .select("query_id", "doc_id", F.col("rn").cast("long").alias("r_sem"))
    )
    fused = lex_pool.join(sem_pool, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        "r_lex",
        "r_sem",
        (
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_lex")), zero)
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("r_sem")), zero)
        ).alias("rrf"),
    )
    wtop = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(wtop))
        .filter(F.col("rank") <= PL03_TOPK)
        .select(
            "query_id", F.col("rank").cast("long").alias("rank"),
            "doc_id", "r_lex", "r_sem", "rrf",
        )
    )


def _pl03_sql() -> str:
    from .simplans import RRF_K, _cos
    from .textplans import CHUNK_STRIDE, CHUNK_WIN

    w, st, nq, nt = CHUNK_WIN, CHUNK_STRIDE, PL03_QUERIES, PL03_QTERMS
    return f"""
WITH b AS (SELECT doc_id, {sql_raw_tokens("lower(text)")} AS toks
           FROM documents),
ch AS (SELECT doc_id, i::BIGINT AS chunk_id,
              list_slice(toks, (i - 1) * {st} + 1,
                         (i - 1) * {st} + {w}) AS ctoks
       FROM b, UNNEST(range(1, 2 + CAST(ceil(
                 greatest(len(toks) - {w}, 0) / {st}.0) AS INT))) AS u(i)
       WHERE len(toks) > 0),
tf AS (SELECT doc_id, chunk_id, _u.term, count(1)::BIGINT AS tf
       FROM ch, UNNEST(ctoks) AS _u(term) GROUP BY 1, 2, 3),
dl AS (SELECT doc_id, chunk_id, len(ctoks)::BIGINT AS dl FROM ch),
corpus AS (SELECT count(1)::BIGINT AS n_chunks, sum(dl)::BIGINT AS s_tokens
           FROM dl),
dft AS (SELECT term, count(1)::BIGINT AS df FROM tf GROUP BY term),
qt AS (SELECT term, ((qrank - 1) % {nq} + 1)::BIGINT AS query_id,
              ((qrank - 1) // {nq} + 1)::BIGINT AS tord, df
       FROM (SELECT term, df,
                    row_number() OVER (ORDER BY df DESC, term) AS qrank
             FROM dft ORDER BY df DESC, term LIMIT {nq * nt})),
sc AS (SELECT qt.query_id, qt.tord, tf.doc_id, tf.chunk_id,
              ((length(bin(1 + n_chunks // qt.df)) - 1)::BIGINT
               * 44 * s_tokens * tf.tf)::DOUBLE
              / (20 * s_tokens * tf.tf + 6 * s_tokens
                 + 18 * n_chunks * dl.dl)::DOUBLE AS partial
       FROM tf JOIN qt USING (term) JOIN dl USING (doc_id, chunk_id), corpus),
bm AS (SELECT query_id, doc_id, chunk_id,
              coalesce(max(CASE WHEN tord = 1 THEN partial END), 0.0)
              + coalesce(max(CASE WHEN tord = 2 THEN partial END), 0.0)
                AS bm25
       FROM sc GROUP BY 1, 2, 3),
maxp AS (SELECT query_id, doc_id, max(bm25) AS lex_score
         FROM bm GROUP BY 1, 2),
lex_pool AS (SELECT query_id, doc_id, rn::BIGINT AS r_lex FROM
  (SELECT query_id, doc_id, row_number() OVER (
     PARTITION BY query_id ORDER BY lex_score DESC, doc_id) AS rn
   FROM maxp) WHERE rn <= {PL03_POOL}),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
anch AS (SELECT (vec_id + 1)::BIGINT AS query_id, v AS q FROM e
         WHERE vec_id < {nq}),
semsc AS (SELECT a.query_id, e.vec_id AS doc_id, {_cos('a.q', 'e.v')} AS cos
          FROM e, anch a WHERE e.vec_id <> a.query_id - 1),
sem_pool AS (SELECT query_id, doc_id, rn::BIGINT AS r_sem FROM
  (SELECT query_id, doc_id, row_number() OVER (
     PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rn
   FROM semsc) WHERE rn <= {PL03_POOL}),
fused AS (SELECT query_id, doc_id, r_lex, r_sem,
                 coalesce(1.0::DOUBLE / ({RRF_K} + r_lex), 0.0)
                 + coalesce(1.0::DOUBLE / ({RRF_K} + r_sem), 0.0) AS rrf
          FROM lex_pool FULL OUTER JOIN sem_pool USING (query_id, doc_id))
SELECT query_id, rank::BIGINT AS rank, doc_id, r_lex, r_sem, rrf FROM
  (SELECT *, row_number() OVER (
     PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
   FROM fused) WHERE rank <= {PL03_TOPK}
ORDER BY query_id, rank
"""


def pl04_data_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DATA RECIPE — every corpus-preparation stage this
    engine ships, composed into the one pipeline a pretraining run
    actually consumes (round-9/10 VERDICT ask; the reference's
    miniature chain is cleaner.py:99-128 dedup+clean feeding
    ml_pipeline_dag.py's training stages — this is that chain at
    LLM-corpus generality):

    1. NEAR-DUP survivors — d05's MinHash-LSH pairs → connected
       components → keep-first survivor map; survivors only;
    2. DECONTAMINATION — drop the eval slice (doc_id % 13 == 0), every
       train doc sharing a 5-token gram with the eval set (dc01), and
       every train doc containing an eval doc verbatim (dc03). Both
       flag sets are computed on the RAW corpus, exactly the registry
       twins — contamination sources don't get cleaner because
       training data did (the pl01 rule);
    3. QUALITY GATE — t25's Gopher/C4 integer-exact rule verdicts,
       keep = true;
    4. WEIGHTED MIX — p14's content-addressed ≈40 % uniform-language
       rebalance, rates derived from the POST-GATE histogram (the mix
       targets the corpus that exists after cleaning, not the raw
       counts);
    5. PACKING — p19's concat-and-chunk into PACK_BUDGET-token
       training sequences via the shared pack_sequences core.

    Output: one row per (sequence, doc) slice — (seq_id, doc_id,
    tok_offset, slice_len, lang) — the physical training-batch layout,
    ordered by (seq_id, doc_id).

    Every stage reuses its standalone registry twin's exact semantics
    (stages 1-3 call the twins outright), so the oracle is the
    composition of five already-proven oracle fragments — the
    composition's plumbing, not new semantics, is what it pins.

    Scale (100 TB manners): the five stages chain by doc_id equi-joins
    on id-only projections — document BODIES are read in the d05/dc/t25
    fragments' own scans (each already scale-audited) and again only
    for the final token count; no stage shuffles text. The mix
    histogram is ≤ #langs rows and broadcasts both ways; packing is
    the two-phase per-partition-offset cumsum (no global window)."""
    from .relational import pack_sequences

    return pack_sequences(
        spark, _pl04_packed_in(spark, sf_dir), carry=("lang",)
    )


def _pl04_packed_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pl04's pre-packing stage (mixed → token counts), exposed so
    tests/test_registry_sweep.py can check the upstream subplan that
    pack_sequences' localCheckpoint hides from the registered query's
    explain output (round-11 ADVICE #2)."""
    from .textplans import BPE_PATTERN

    mixed = _pl04_mixed(spark, sf_dir)
    toks = F.size(
        F.regexp_extract_all(
            F.lower(F.coalesce(F.col("text"), F.lit(""))),
            F.lit(BPE_PATTERN),
            0,
        )
    ).cast("long")
    return mixed.select("doc_id", toks.alias("n_tokens"), "lang")


def dc01_ids_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dc01's contaminated-doc id set, landed once per process (r17):
    all three data recipes (pl04/pl05/pl06's packer-input) anti-join
    this exact set in stage 2, and each bench rep re-ran the full
    dc01 eval-overlap pipeline (~2.7 s at sf0.1) to rebuild it. The
    dc01 registry query itself still computes its declared plan
    inline — only the recipes consume the landing (the d04_pairs/
    d06_survivors pattern; the landing is paid in the visible
    scratch_build row and is off its critical path)."""
    def _build(s: SparkSession, d: str) -> DataFrame:
        from . import dedupplans

        return (
            dedupplans.dc01_decontaminate(s, d)
            .filter("contaminated")
            .select("doc_id")
        )

    return materialized_df(spark, sf_dir, "dc01_ids", _build, ["doc_id"])


def dc03_ids_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dc03's verbatim-contaminated train-doc id set (distinct), landed
    once per process — same rationale as dc01_ids_m (~2.1 s/rep)."""
    def _build(s: SparkSession, d: str) -> DataFrame:
        from . import dedupplans

        return (
            dedupplans.dc03_verbatim_decontaminate(s, d)
            .select(F.col("train_doc").alias("doc_id"))
            .distinct()
        )

    return materialized_df(spark, sf_dir, "dc03_ids", _build, ["doc_id"])


def t25_keep_ids_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t25's quality-gate keep set, landed once per process — same
    rationale as dc01_ids_m (stage 3 of every recipe)."""
    def _build(s: SparkSession, d: str) -> DataFrame:
        from . import textplans

        return (
            textplans.t25_quality_rules(s, d)
            .filter("keep")
            .select("doc_id")
        )

    return materialized_df(spark, sf_dir, "t25_keep", _build, ["doc_id"])


def _pl04_mixed(
    spark: SparkSession, sf_dir: str, unified: bool = False
) -> DataFrame:
    """Stages 1–4 of the data recipe (survivors → decontam → gate →
    weighted mix), shared verbatim by pl04 and pl05 so the two recipes
    can only differ in what the packer counts. `unified=True` (pl06)
    swaps ONLY the stage-1 survivor source: d06's union-of-evidence
    (MinHash+SimHash+Jaccard) collapse instead of d05's MinHash-only
    pairs — every other stage byte-identical, so the three recipes
    differ in exactly one declared dimension each."""
    from . import dedupplans
    from .dedupplans import DECON_EVAL_MOD

    if unified:
        # the unified survivor map runs an eager CC fixpoint — read the
        # once-per-process landing so the recipe chain, pl06's staged
        # audit branch, and bench reps all share ONE collapse
        surv = d06_survivors_m(spark, sf_dir)
    else:
        surv = (
            dedupplans.d05_neardup_clusters(spark, sf_dir)
            .filter(F.col("survivor") == 1)
            .select("doc_id")
        )
    # the three stage-2/3 id sets read their shared per-process
    # landings (r17): identical rows to the inline derivations the
    # recipes carried before — dc01/dc03/t25 are deterministic,
    # oracle-checked queries — but the ~5 s of re-derivation per
    # recipe rep collapses to three parquet scans. The dc01/dc03/t25
    # registry entries still compute their own plans inline.
    dc1 = dc01_ids_m(spark, sf_dir)
    dc3 = dc03_ids_m(spark, sf_dir)
    gate = t25_keep_ids_m(spark, sf_dir)
    # hint("merge") pins every stage-1-4 join to SMJ on doc_id: each id
    # side grows with the corpus, and at sf0.01 Catalyst's estimates
    # broadcast the corpus with its text, (doc_id, lang, text), as a
    # build side. Only the bounded rates table below is broadcast.
    clean = (
        tables.load(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
        .join(surv.hint("merge"), "doc_id")
        .join(gate.hint("merge"), "doc_id")
        .join(dc1.hint("merge"), "doc_id", "left_anti")
        .join(dc3.hint("merge"), "doc_id", "left_anti")
    )
    # p14's mix device over the post-gate corpus: uniform-language
    # targets, content-addressed membership (16-bit md5 fraction)
    stats = clean.groupBy("lang").agg(F.count(F.lit(1)).alias("n_g"))
    tot = stats.agg(
        F.sum("n_g").alias("n_total"), F.count(F.lit(1)).alias("n_groups")
    )
    rates = stats.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.lit(1.0),
            (F.lit(0.4) * F.col("n_total").cast("double"))
            / (F.col("n_groups") * F.col("n_g")).cast("double"),
        ).alias("rate"),
    )
    frac16 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("double")
    return clean.join(F.broadcast(rates), "lang").filter(
        frac16 < F.col("rate") * F.lit(65536.0)
    )


def pl05_data_recipe_excised(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pl04 with d09's exact substring EXCISION wired in before packing
    (round-11 VERDICT ask #5) — the full Lee-et-al recipe: the find
    step (d08 pairs) and the apply step (d09 interval-merge cuts) run
    between cleaning and packing, so the packer counts tokens on the
    TEXT THAT WILL ACTUALLY TRAIN, not on bodies that still carry the
    boilerplate the excision removes. Stages:

    1–4. identical to pl04 (shared _pl04_mixed: d05 survivors →
         dc01/dc03 decontamination → t25 gate → p14 post-gate mix);
    5.   EXCISION — each surviving doc's text is replaced by d09's
         `cleaned` (chars covered by an L-gram owned by a lower doc_id
         cut out, keep-first at character granularity). Ownership is
         computed on the RAW corpus — the registry d09 twin verbatim —
         for the same reason the dc flags are: a run's owner doesn't
         change because the mix dropped it, so the excision set is
         deterministic and stage-order-independent (the pl01 rule);
    6.   PACKING — p19's core over the CLEANED token counts; docs
         excised to zero tokens contribute no slice (the packer's
         n_tokens > 0 rule does the dropping).

    Oracle: pl04's composed fragments plus the already-proven _D09_SQL
    fragment joined at the token-count stage — again composition
    plumbing, not new semantics.

    Scale: d09 is candidate-bounded (only d08-pair-involved docs
    shuffle gram streams; the pair set is run-scratch) and token
    counts are computed on the d09 side BEFORE the id join, so the
    join that meets the mix carries (doc_id, n_tokens) only — cleaned
    bodies never enter a join (see _pl05_packed_in for the 8 GiB
    broadcast blowup the body-joining shape produced at 30×)."""
    from .relational import pack_sequences

    return pack_sequences(
        spark, _pl05_packed_in(spark, sf_dir), carry=("lang",)
    )


def _pl05_packed_in(
    spark: SparkSession, sf_dir: str, unified: bool = False
) -> DataFrame:
    """pl05's pre-packing stage, and pl06's with `unified=True` (the
    d06 survivor source, as in _pl04_mixed); exposed for the plan
    check like _pl04_packed_in. Token counts are computed ON THE d09
    SIDE before the id join (a narrow map over the cleaned relation),
    so the join that meets the mix carries only (doc_id, n_tokens) —
    document bodies never enter a join in this recipe. The first 30× probe run
    caught the alternative shape red-handed: joining the cleaned TEXT
    against the mix let Catalyst pick a broadcast for the bodies side
    off an aggregate-underestimate, and the runtime table blew Spark's
    8 GiB broadcast hard limit — at 100 TB that shape is wrong even
    when it runs, because cleaned bodies would shuffle into a join
    whose output only needs an integer per doc."""
    from . import dedupplans
    from .textplans import BPE_PATTERN

    mixed = _pl04_mixed(spark, sf_dir, unified).select("doc_id", "lang")
    toks = F.size(
        F.regexp_extract_all(
            F.lower(F.coalesce(F.col("cleaned"), F.lit(""))),
            F.lit(BPE_PATTERN),
            0,
        )
    ).cast("long")
    cleaned_counts = dedupplans.d09_cleaned(spark, sf_dir).select(
        "doc_id", toks.alias("n_tokens")
    )
    return mixed.join(cleaned_counts, "doc_id").select(
        "doc_id", "n_tokens", "lang"
    )


def pl06_data_recipe_unified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pl05 with stage 1 upgraded to the STRONGEST dedup decision the
    registry ships (round-12 VERDICT ask #7): d06's union-of-evidence
    survivor map (MinHash ∪ SimHash ∪ char-n-gram-Jaccard edges →
    one connected-components collapse) instead of d05's MinHash-only
    clusters, then the identical decontamination → quality gate →
    weighted mix → d09 excision → packing chain. A cluster chained
    through mixed signals (a light edit linked to a word-order
    scramble) now costs the recipe its non-keep-first members, which
    the MinHash-only recipes would have trained on twice.

    Survivor monotonicity (pinned in tests): d06's edge set is a
    superset of d05's, so components only merge and a d06 survivor is
    necessarily the min of its d05 sub-component too —
    survivors(d06) ⊆ survivors(d05), i.e. pl06's corpus is a subset
    of pl05's, never a different selection.

    Oracle: _recipe_mixed_ctes(unified=True) — the proven _D06_SQL
    fragment swapped into the proven recipe CTE chain; composition
    plumbing only, no new semantics. Scale: inherits pl05's audited
    shape verbatim (id-only SMJ-pinned joins, token counts on the d09
    side, bodies never in a join); the three edge pipelines feeding
    d06 are independent and their union is (long, long) pairs.

    Corpus-sensitivity note (measured r13): on the templated sf0.01
    synthetic corpus the union of char-gram-Jaccard + SimHash edges
    transitively chains 433 of 500 docs into ONE component (d06: 47
    survivors vs d05's 476), so pl06's packed output is far smaller
    than pl05's there. That is union-of-evidence keep-first doing
    exactly what it says on template-heavy data — each edge type is
    individually verified (jaccard ≥ threshold / hamming ≤ 3), but
    transitivity composes them; a production recipe wanting gentler
    collapse would raise the per-edge thresholds, not re-plumb this
    pipeline.

    STAGED AUDIT OUTPUT (round-13 VERDICT ask #5): because the
    template-heavy sf0.01 corpus packs to only 2 rows, a packed-only
    result is a thin differential oracle for the six-stage chain.
    The driver-facing result is therefore the recipe's audit surface
    — three stage-tagged row groups under one schema (stage, doc_id,
    lang, n_tokens, seq_id, tok_offset, slice_len):

      'survivor' — stage 1: every d06 unified survivor with its lang
                   (47 rows at sf0.01 — the collapse decision);
      'prepack'  — stages 2–5: the post-decontam/gate/mix corpus with
                   its POST-EXCISION token counts (the packer input);
      'packed'   — stage 6: the packed slices (seq_id/tok_offset/
                   slice_len; n_tokens NULL).

    Every stage is oracle-expressible (the same CTE chain, three
    projections), so the driver hash now covers the survivor map, the
    excised token counts, AND the packing — ~100 rows at sf0.01
    instead of 2. Both the packer input and the unified survivor map
    are materialized once to run-scratch (the d02_pairs_m pattern) so
    the three branches — and the recipe chain underneath — share one
    stage-1–5 execution and ONE CC collapse per process."""
    from .relational import pack_sequences

    nul = F.lit(None).cast("long")
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "lang")
    surv = (
        d06_survivors_m(spark, sf_dir)
        .join(docs.hint("merge"), "doc_id")
        .select(
            F.lit("survivor").alias("stage"),
            "doc_id",
            "lang",
            nul.alias("n_tokens"),
            nul.alias("seq_id"),
            nul.alias("tok_offset"),
            nul.alias("slice_len"),
        )
    )
    pre_in = _pl06_packed_in_m(spark, sf_dir)
    pre = pre_in.select(
        F.lit("prepack").alias("stage"),
        "doc_id",
        "lang",
        "n_tokens",
        nul.alias("seq_id"),
        nul.alias("tok_offset"),
        nul.alias("slice_len"),
    )
    packed = pack_sequences(spark, pre_in, carry=("lang",)).select(
        F.lit("packed").alias("stage"),
        "doc_id",
        "lang",
        nul.alias("n_tokens"),
        "seq_id",
        "tok_offset",
        "slice_len",
    )
    return surv.unionByName(pre).unionByName(packed)


def d06_survivors_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-scratch landing of d06's unified survivor id set. The
    unified collapse is an eager CC fixpoint (driver-blocking scalar
    collect per round), so every consumer — _pl04_mixed(unified=True)
    inside the packer-input landing, pl06's staged 'survivor' branch,
    and repeated bench reps — must read ONE materialization instead of
    re-running the fixpoint per call (r14 review catch: the audit
    branch alone re-ran it once per invocation). d05's survivor filter
    stays inline by contrast: its CC shares the same bounded-round
    machinery but pl04/pl05's adjudicated plan rows build it in-plan,
    and churning those mid-round for ~1 s/rep is not worth re-opening
    the record."""
    def _build(s: SparkSession, d: str) -> DataFrame:
        from . import dedupplans

        return (
            dedupplans.d06_unified_clusters(s, d)
            .filter(F.col("survivor") == 1)
            .select("doc_id")
        )

    return materialized_df(spark, sf_dir, "d06_survivors", _build, ["doc_id"])


def _pl06_packed_in_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-scratch landing of pl06's packer input (doc_id, n_tokens,
    lang) — stages 1–5 run ONCE per process per corpus; the staged
    audit output's prepack and packed branches both read the landing.
    (doc_id, long, lang) rows are bounded by corpus doc count — tiny
    relative to the raw corpus, the standard shared-intermediate
    materialization at cluster scale."""
    return materialized_df(
        spark,
        sf_dir,
        "pl06_packed_in",
        lambda s, d: _pl05_packed_in(s, d, unified=True),
        ["doc_id", "n_tokens", "lang"],
    )


def _recipe_mixed_ctes(unified: bool = False) -> str:
    """Stages 1–4 as oracle CTEs (… → mixed), shared verbatim by pl04
    and pl05 — the SQL twin of _pl04_mixed. `unified=True` swaps the
    stage-1 fragment for _D06_SQL, mirroring the Spark side exactly."""
    from .dedupplans import (
        _D05_SQL,
        _D06_SQL,
        _DC01_SQL,
        _DC03_SQL,
        DECON_EVAL_MOD,
    )
    from .textplans import _t25_oracle

    _SURV_SQL = _D06_SQL if unified else _D05_SQL
    return f"""surv AS (SELECT doc_id FROM ({_SURV_SQL}) WHERE survivor = 1),
dcflag AS (
  SELECT doc_id FROM ({_DC01_SQL}) WHERE contaminated
  UNION
  SELECT train_doc FROM ({_DC03_SQL})
),
gate AS (SELECT doc_id FROM ({_t25_oracle()}) WHERE keep),
clean AS (
  SELECT d.doc_id, d.lang, d.text
  FROM documents d JOIN surv USING (doc_id) JOIN gate USING (doc_id)
  WHERE d.doc_id % {DECON_EVAL_MOD} <> 0
    AND d.doc_id NOT IN (SELECT doc_id FROM dcflag)
),
s AS (SELECT lang, count(*)::BIGINT AS n_g FROM clean GROUP BY lang),
t AS (SELECT sum(n_g)::BIGINT AS n_total, count(*)::BIGINT AS n_groups
      FROM s),
r AS (SELECT lang,
             least(1.0::DOUBLE,
                   (0.4::DOUBLE * n_total::DOUBLE)
                   / (n_groups * n_g)::DOUBLE) AS rate
      FROM s, t),
mixed AS (
  SELECT c.doc_id, c.lang, c.text
  FROM clean c JOIN r USING (lang)
  WHERE ('0x' || substr(md5(c.doc_id::VARCHAR), 1, 4))::INT::DOUBLE
        < r.rate * 65536.0
)"""


def _pack_sql_tail(as_cte: str | None = None) -> str:
    """The p19 packing core as oracle SQL over a `toks` CTE
    (doc_id, lang, n_tokens) — shared by pl04 and pl05. With
    ``as_cte`` set the final SELECT is wrapped as one more CTE of
    that name (no ORDER BY) so a caller can keep composing — pl06's
    staged audit union consumes it that way."""
    from .relational import PACK_BUDGET

    B = PACK_BUDGET
    # ctes and the final SELECT are kept as two explicit parts (r14
    # ADVICE: partitioning the assembled text on "\nSELECT " silently
    # mis-wrapped if any CTE's indentation ever drifted)
    ctes = f"""cum AS (
  SELECT doc_id, lang, n_tokens,
         (sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - n_tokens)::BIGINT AS tok_start
  FROM toks WHERE n_tokens > 0
),
spans AS (
  SELECT unnest(generate_series(tok_start // {B},
                                (tok_start + n_tokens - 1) // {B}))::BIGINT
           AS seq_id,
         doc_id, lang, n_tokens, tok_start
  FROM cum
)"""
    final_select = f"""SELECT seq_id, doc_id,
       (greatest(tok_start, seq_id * {B}) - seq_id * {B})::BIGINT
         AS tok_offset,
       (least(tok_start + n_tokens, (seq_id + 1) * {B})
        - greatest(tok_start, seq_id * {B}))::BIGINT AS slice_len,
       lang
FROM spans"""
    if as_cte is None:
        return f"{ctes}\n{final_select}\nORDER BY seq_id, doc_id"
    return f"{ctes},\n{as_cte} AS (\n{final_select}\n)"


def _pl04_sql() -> str:
    from .textplans import BPE_PATTERN

    return f"""
WITH {_recipe_mixed_ctes()},
toks AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(lower(coalesce(text, '')),
             '{BPE_PATTERN}'))::BIGINT AS n_tokens
  FROM mixed
),
{_pack_sql_tail()}
"""


def _pl05_sql() -> str:
    from .dedupplans import _D09_SQL
    from .textplans import BPE_PATTERN

    return f"""
WITH {_recipe_mixed_ctes()},
excis AS ({_D09_SQL}),
toks AS (
  SELECT m.doc_id, m.lang,
         len(regexp_extract_all(lower(coalesce(x.cleaned, '')),
             '{BPE_PATTERN}'))::BIGINT AS n_tokens
  FROM mixed m JOIN excis x USING (doc_id)
),
{_pack_sql_tail()}
"""


def _pl06_sql() -> str:
    """pl06's staged-audit oracle: the proven unified recipe CTE chain
    (stages 1–5) + the packing tail as a CTE, projected three ways and
    unioned under the stage tag — the SQL twin of the Spark staged
    output, column-for-column."""
    from .dedupplans import _D09_SQL
    from .textplans import BPE_PATTERN

    return f"""
WITH {_recipe_mixed_ctes(unified=True)},
excis AS ({_D09_SQL}),
toks AS (
  SELECT m.doc_id, m.lang,
         len(regexp_extract_all(lower(coalesce(x.cleaned, '')),
             '{BPE_PATTERN}'))::BIGINT AS n_tokens
  FROM mixed m JOIN excis x USING (doc_id)
),
{_pack_sql_tail(as_cte="pk")}
SELECT 'survivor' AS stage, s.doc_id, d.lang,
       NULL::BIGINT AS n_tokens, NULL::BIGINT AS seq_id,
       NULL::BIGINT AS tok_offset, NULL::BIGINT AS slice_len
FROM surv s JOIN documents d USING (doc_id)
UNION ALL
SELECT 'prepack', doc_id, lang, n_tokens,
       NULL::BIGINT, NULL::BIGINT, NULL::BIGINT
FROM toks
UNION ALL
SELECT 'packed', doc_id, lang, NULL::BIGINT,
       seq_id, tok_offset, slice_len
FROM pk
ORDER BY stage, doc_id, seq_id
"""


SPECS = [
    QuerySpec("pl01_training_pipeline", pl01_training_pipeline, _PL01_SQL),
    QuerySpec(
        "pl02_incremental_refresh", pl02_incremental_refresh, _PL02_SQL
    ),
    QuerySpec("pl03_retrieval_corpus", pl03_retrieval_corpus, _pl03_sql()),
    QuerySpec("pl04_data_recipe", pl04_data_recipe, _pl04_sql()),
    QuerySpec(
        "pl05_data_recipe_excised", pl05_data_recipe_excised, _pl05_sql()
    ),
    QuerySpec(
        "pl06_data_recipe_unified",
        pl06_data_recipe_unified,
        _pl06_sql(),
    ),
]
