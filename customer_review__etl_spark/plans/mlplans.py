"""ML plans (SURVEY.md §2.7): the LDA theme pipeline and RF classifier
as driver-visible queries.

ml01/ml02/ml04 are ⊘ non-SQL-expressible (pyspark.ml estimators) →
rows-only checks, paired with invariant assertions in
tests/test_ml.py (topic ∈ [0,5), theme non-null ⇔ topic ∈ labels,
metrics ∈ [0,1], split exactness). ml03 (the deterministic md5 split,
M6) IS SQL-expressible and gets a full oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ml import pipeline as P
from ..scratch import cache_slot, materialized_df
from ..sources import tables
from . import QuerySpec
from .helpers import cents, sql_raw_tokens


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load_parallel(spark, sf_dir, "documents")


def lda_model_m(spark: SparkSession, sf_dir: str):
    """ONE LDA pipeline fit per corpus identity (tables.derived) — the
    _rf_label_prediction move applied to the topic model: ml01 and
    ml02 each re-fitted the identical seed-42 CV→IDF→LDA pipeline
    (the single most expensive part of both queries), exactly as the
    reference fits cleaner.py's model once and derives both the
    per-doc themes and the top-words table from it. The fitted model
    is a JVM artifact, not a result: every consumer still computes
    its own output from the parquet corpus through model.transform /
    describeTopics."""
    return tables.derived(
        sf_dir,
        "lda_model",
        lambda: P.fit_lda(P.with_tokens(_docs(spark, sf_dir)))[0],
    )


def ml01_lda_themes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M5: TF-IDF(1,2-grams) → LDA(k=5, seed=42) → argmax topic →
    verbatim theme label (cleaner.py:152-223). The fit comes from the
    shared per-process model (lda_model_m); the per-doc scoring pass
    — tokenize → CV/IDF transform → LDA inference → argmax + label
    join — runs here, from the parquet corpus, per call."""
    model = lda_model_m(spark, sf_dir)
    transformed = model.transform(P.with_tokens(_docs(spark, sf_dir)))
    return P.assign_topics(transformed).select("doc_id", "topic", "theme")


def ml02_topic_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: top-10 terms per topic (cleaner.py:204-208), from the shared
    per-process fit (lda_model_m)."""
    return P.topic_top_words(lda_model_m(spark, sf_dir))


def ml03_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: deterministic content-addressed 80/20 split — md5(doc_id)
    first byte < 0xcd trains. Exactly reproducible in ANSI SQL, unlike
    RNG-based sampleBy (SURVEY §7 risk (e))."""
    return P.md5_split(_docs(spark, sf_dir), "doc_id").select(
        "doc_id", "lang", "split"
    )


def _rf_label_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared (label, prediction) test-set scoring of the RF
    classifier — ONE 100-tree fit per process per corpus (round-8
    VERDICT "What's wrong" #4: ml04 and ml10 each re-trained the same
    RandomForestClassifier(seed=42), 17.3 s combined in the bench).
    The fitted model's test predictions land in run-scratch parquet via
    the materialized_df pattern; both consumers read the lazy file
    scan. Only the two columns the consumers aggregate are kept — the
    vector columns (features/rawPrediction/probability) never leave
    the fitting process. At cluster scale this is "score once, persist
    the prediction table" — the standard ML-pipeline shape."""
    def _build(spark: SparkSession, sf_dir: str) -> DataFrame:
        toks = P.stratified_split(
            P.with_tokens(_docs(spark, sf_dir)), "doc_id", "lang"
        )
        _, predictions, _ = P.fit_classifier(toks)
        return predictions.select("label", "prediction")

    return materialized_df(
        spark, sf_dir, "rf_predictions", _build, ["label", "prediction"]
    )


def ml04_classifier_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7-M9: unigram TF-IDF → RF(100 trees, seed=42) on the STRATIFIED
    deterministic split (reference parity: cleaner.py:246-248 passes
    stratify=y to train_test_split), predicting `lang`; exact-count
    accuracy + weighted F1. The fit is shared with ml10 via
    _rf_label_prediction — metrics only consume (label, prediction)."""
    return P.classification_metrics(_rf_label_prediction(spark, sf_dir))


def ml05_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6, stratified (cleaner.py:246-248 ``stratify=y`` made
    deterministic): within each lang, rank by md5(doc_id) and train the
    first ⌊4n/5⌋ — every class splits 80/20 exact within one row.
    Fully SQL-expressible (window rank + count), so unlike RNG-based
    sampleBy it carries a complete oracle twin."""
    return P.stratified_split(_docs(spark, sf_dir), "doc_id", "lang").select(
        "doc_id", "lang", "split"
    )


KM_K = 4          # ml06 clusters (vec_id < 4 seed centroids)
KM_ITERS = 2      # fixed Lloyd's rounds, unrolled in the oracle
KM_SCALE = 1_000_000  # fixed-point embedding quantization

# exact integer squared-L2 between quantized vector and centroid
_KM_D2 = (
    "aggregate(sequence(0, 63), cast(0 as bigint), "
    "(acc, d) -> acc + (qv[d] - cv[d]) * (qv[d] - cv[d]))"
)


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings quantized to integer fixed-point (1e-6 resolution):
    floor(v*1e6 + 0.5) uses only IEEE-exact ops (multiply, add, floor),
    so both engines build the identical integer vectors, where round()
    would differ across engines on exact halves."""
    return tables.load_parallel(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(embedding, v -> CAST(floor(cast(v AS double) "
            f"* {KM_SCALE}.0 + 0.5) AS BIGINT))"
        ).alias("qv"),
    )


def ml06_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means (k=4, 2 rounds) over quantized
    embeddings — the iterative-ML shape (assign → re-center → repeat)
    as pure DataFrame ops with an EXACT oracle twin, which
    pyspark.ml.KMeans (RNG init, float means) can never have.

    Everything is integer arithmetic: squared-L2 in fixed-point
    (exact, order-independent sums), argmin via (d2, cid) ranking,
    re-centering by truncated integer division of per-dimension sums
    (Spark DIV ≡ DuckDB // on any sign). Clusters that lose every
    member keep their previous centroid on both sides.

    Scale: assignment broadcasts the k-row centroid table (one
    map-side pass per round); re-centering shuffles (cid, dim, long)
    triples — 64·k groups — with map-side partial sums; fixed round
    count = fixed stage count. At 100 TB k grows and init comes from a
    deterministic sample, but every stage keeps this shape."""
    from pyspark.sql.window import Window

    q = cache_slot("ml06_quantized", _quantized(spark, sf_dir))
    cent = q.filter(F.col("vec_id") < KM_K).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    wmin = Window.partitionBy("vec_id").orderBy("d2", "cid")
    for _ in range(KM_ITERS):
        x = q.crossJoin(F.broadcast(cent)).select(
            "vec_id", "qv", "cid", F.expr(_KM_D2).alias("d2")
        )
        assigned = (
            x.withColumn("rn", F.row_number().over(wmin))
            .filter(F.col("rn") == 1)
            .select("cid", "qv")
        )
        sums = (
            assigned.select("cid", F.posexplode("qv").alias("d", "val"))
            .groupBy("cid", "d")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("cnt"))
        )
        newc = (
            sums.withColumn("cval", F.expr("CAST(s DIV cnt AS BIGINT)"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("d", "cval"))),
                    lambda s: s["cval"],
                ).alias("cv_new")
            )
        )
        cent = cent.join(newc, "cid", "left").select(
            "cid", F.coalesce("cv_new", "cv").alias("cv")
        )
    final = q.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", F.expr(_KM_D2).alias("d2")
    )
    return (
        final.withColumn("rn", F.row_number().over(wmin))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("cid").alias("cluster"),
            F.col("d2").alias("dist2"),
        )
    )


def _km_oracle() -> str:
    """Unrolled Lloyd's rounds as CTE chains — same quantization, same
    integer d2, same truncated-division re-centering."""
    d2 = (
        "CAST(list_sum(list_transform(range(0, 64), "
        "d -> (q.qv[d+1] - c.cv[d+1]) * (q.qv[d+1] - c.cv[d+1]))) "
        "AS BIGINT)"
    )
    rounds = []
    for i in range(KM_ITERS):
        rounds.append(f"""
        x{i} AS (
          SELECT q.vec_id, q.qv, c.cid, {d2} AS d2
          FROM q CROSS JOIN cent{i} c
        ),
        a{i} AS (
          SELECT cid, qv FROM (
            SELECT cid, qv, row_number() OVER (PARTITION BY vec_id
                                               ORDER BY d2, cid) AS rn
            FROM x{i}) WHERE rn = 1
        ),
        s{i} AS (
          SELECT cid, r.d, sum(qv[r.d]) AS s, count(1) AS cnt
          FROM a{i}, UNNEST(range(1, 65)) AS r(d)
          GROUP BY cid, r.d
        ),
        n{i} AS (
          SELECT cid, list(CAST(s // cnt AS BIGINT) ORDER BY d) AS cv_new
          FROM s{i} GROUP BY cid
        ),
        cent{i + 1} AS (
          SELECT c.cid, coalesce(n.cv_new, c.cv) AS cv
          FROM cent{i} c LEFT JOIN n{i} n ON c.cid = n.cid
        )""")
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               v -> CAST(floor(v * {KM_SCALE}.0 + 0.5) AS BIGINT)) AS qv
      FROM embeddings
    ),
    cent0 AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {KM_K}),
    {",".join(rounds)},
    xf AS (
      SELECT q.vec_id, c.cid, {d2} AS d2
      FROM q CROSS JOIN cent{KM_ITERS} c
    )
    SELECT vec_id, cid AS cluster, d2 AS dist2 FROM (
      SELECT vec_id, cid, d2,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2, cid) AS rn
      FROM xf) WHERE rn = 1
    ORDER BY vec_id
    """


def ml07_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained and scored
    entirely as DataFrame aggregates with an EXACT oracle twin — the
    counting-based ML shape (fit = groupBy, predict = join + argmin)
    that pyspark.ml.NaiveBayes (float log-likelihoods) cannot
    hash-match across engines.

    Determinism scheme: all likelihoods are INTEGER BITS (the t13/t15
    floor-log2 device). Laplace-smoothed token cost is
    bitlen(N_c + V) - bitlen(count(t,c) + 1); class prior cost is
    bitlen(N_docs) - bitlen(docs_c); predicted class = argmin of the
    summed integer cost, tie-broken by class name. Every aggregate is
    an exact integer sum — order-independent, engine-identical.

    Scale: the class-stats table is O(#classes) and broadcast; the
    token→(token, class) count table is an EQUI-join on the token key
    (O(vocab × classes) rows — not broadcast, at 100 TB it's large);
    the scored stream is tokens × #classes rows reduced by partial-
    aggregatable sums; the final argmin is a per-doc window over
    #classes rows. Document bodies are never shuffled."""
    from pyspark.sql.window import Window

    all_scores = _nb_all_scores(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("score_bits", "lang_c")
    return (
        all_scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id", "lang", F.col("lang_c").alias("pred_lang"), "score_bits"
        )
    )


def _nb_all_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ml07's full per-(doc, class) integer-bit cost table
    (doc_id, lang, lang_c, score_bits) — shared by the argmin
    prediction (ml07) and the margin calibration (ml11)."""
    from ..functions import text as T

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    toks = cache_slot(
        "nb_tokens",
        docs.select(
            "doc_id",
            "lang",
            F.explode(T.raw_tokens(F.lower(F.col("text")))).alias("tk"),
        ),
    )
    cnt_tc = toks.groupBy(
        F.col("lang").alias("clang"), F.col("tk").alias("ctk")
    ).agg(F.count(F.lit(1)).alias("c_tc"))
    n_tok_c = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("n_tok_c"))
    n_docs_c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs_c"))
    vocab = toks.agg(F.countDistinct("tk").alias("v"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    cls = (
        n_docs_c.join(n_tok_c, "lang", "left")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("lang").alias("lang_c"),
            F.coalesce("n_tok_c", F.lit(0)).alias("n_tok_c"),
            "v",
            (F.length(F.bin(F.col("nd"))) - F.length(F.bin(F.col("n_docs_c"))))
            .cast("long")
            .alias("prior_bits"),
        )
    )
    tok_bits = (
        toks.select("doc_id", "tk")
        .crossJoin(F.broadcast(cls))
        .join(
            cnt_tc,
            (F.col("tk") == F.col("ctk")) & (F.col("lang_c") == F.col("clang")),
            "left",
        )
        .select(
            "doc_id",
            "lang_c",
            "prior_bits",
            (
                F.length(F.bin(F.col("n_tok_c") + F.col("v")))
                - F.length(F.bin(F.coalesce(F.col("c_tc"), F.lit(0)) + 1))
            )
            .cast("long")
            .alias("b"),
        )
    )
    doc_scores = tok_bits.groupBy("doc_id", "lang_c", "prior_bits").agg(
        F.sum("b").alias("sum_b")
    )
    all_scores = (
        docs.select("doc_id", "lang")
        .crossJoin(F.broadcast(cls.select("lang_c", "prior_bits")))
        .join(
            doc_scores.select("doc_id", "lang_c", "sum_b"),
            ["doc_id", "lang_c"],
            "left",
        )
        .select(
            "doc_id",
            "lang",
            "lang_c",
            (F.col("prior_bits") + F.coalesce("sum_b", F.lit(0)))
            .cast("long")
            .alias("score_bits"),
        )
    )
    return all_scores


def ml11_confidence_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability table for the ml07 classifier — the calibration
    check a quality-gate model needs before its scores become keep/
    drop thresholds: bucket each doc by CONFIDENCE MARGIN (runner-up
    integer-bit cost minus winner cost — large margin = confident) and
    report per-bucket accuracy. A well-behaved classifier shows
    accuracy rising with margin; thresholding at a bucket then has a
    known precision. Because ml07's costs are exact integers, the
    margin, its floor-log2 bucket, and every count are cross-engine
    exact — a calibration table the oracle can pin, which float
    probability bins never are.

    Scale: reuses ml07's score build (its cost: one token-key shuffle
    + per-doc #classes-row windows); the margin is a lead() in the
    SAME (doc_id → score, class) window sort as the argmin, so no new
    shuffle; the final rollup is an O(#buckets) aggregate."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("score_bits", "lang_c")
    pick = (
        _nb_all_scores(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .withColumn("nxt", F.lead("score_bits").over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "lang",
            F.col("lang_c").alias("pred_lang"),
            (F.col("nxt") - F.col("score_bits")).alias("margin"),
        )
    )
    bucket = F.expr(
        "CASE WHEN margin IS NULL THEN NULL WHEN margin = 0 THEN 0 "
        "ELSE CAST(length(bin(margin)) AS BIGINT) END"
    )
    return (
        pick.groupBy(bucket.alias("margin_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("pred_lang") == F.col("lang"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .withColumn(
            "accuracy",
            F.col("n_correct").cast("double")
            / F.col("n_docs").cast("double"),
        )
    )


ML12_BUCKETS = 256  # hashed feature space width


def ml12_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (feature hashing): map every token to one of
    ML12_BUCKETS buckets by a 16-bit md5 fraction mod the width, and
    emit per-doc sparse bucket counts — the vectorizer that needs NO
    vocabulary pass, no fit state, and a FIXED feature width at any
    corpus size, which is why it is the scalable path where
    CountVectorizer's vocab (a corpus-wide distinct + broadcast dict)
    stops fitting. Collisions are the accepted trade (documented
    ~tokens/width expected rate).

    Determinism: md5 is byte-identical cross-engine; the bucket is
    integer arithmetic on its hex prefix — no hash-seed divergence
    (Spark's hash() and murmur3 seeds would not match DuckDB).

    Scale: explode → one partial-aggregatable shuffle on
    (doc_id, bucket); output is bounded by min(tokens, docs·width)."""
    from ..functions import text as T

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(T.raw_tokens(F.lower(F.col("text")))).alias("tk"),
    )
    bucket = (
        F.conv(F.substring(F.md5("tk"), 1, 4), 16, 10).cast("bigint")
        % ML12_BUCKETS
    )
    return (
        toks.groupBy("doc_id", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _ml12_oracle() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, tk
      FROM (SELECT doc_id, {sql_raw_tokens('lower(text)')} AS tks
            FROM documents),
           UNNEST(tks) AS _u(tk)
    )
    SELECT doc_id,
           ('0x' || substr(md5(tk), 1, 4))::INT::BIGINT % {ML12_BUCKETS}
             AS bucket,
           count(1) AS n
    FROM toks GROUP BY 1, 2 ORDER BY doc_id, bucket
    """


def _nb_ctes() -> str:
    """The shared WITH-prefix of the ml07/ml11 oracles: everything
    through `sc`, the per-(doc, class) integer-bit cost table."""
    return f"""toks AS (
      SELECT doc_id, lang, tk
      FROM (SELECT doc_id, lang, {sql_raw_tokens('lower(text)')} AS tks
            FROM documents),
           UNNEST(tks) AS _u(tk)
    ),
    cnt_tc AS (SELECT lang AS clang, tk AS ctk, count(1) AS c_tc
               FROM toks GROUP BY 1, 2),
    ntc AS (SELECT lang, count(1) AS n_tok_c FROM toks GROUP BY lang),
    ndc AS (SELECT lang, count(1) AS n_docs_c FROM documents GROUP BY lang),
    vv AS (SELECT count(DISTINCT tk) AS v FROM toks),
    nn AS (SELECT count(1) AS nd FROM documents),
    cls AS (
      SELECT ndc.lang AS lang_c, coalesce(ntc.n_tok_c, 0) AS n_tok_c, v,
             (length(bin(nd)) - length(bin(n_docs_c)))::BIGINT AS prior_bits
      FROM ndc LEFT JOIN ntc USING (lang) CROSS JOIN vv CROSS JOIN nn
    ),
    tb AS (
      SELECT t.doc_id, c.lang_c, c.prior_bits,
             (length(bin(c.n_tok_c + c.v))
              - length(bin(coalesce(x.c_tc, 0) + 1)))::BIGINT AS b
      FROM (SELECT doc_id, tk FROM toks) t
      CROSS JOIN cls c
      LEFT JOIN cnt_tc x ON x.ctk = t.tk AND x.clang = c.lang_c
    ),
    ds AS (SELECT doc_id, lang_c, prior_bits, sum(b) AS sum_b
           FROM tb GROUP BY doc_id, lang_c, prior_bits),
    sc AS (
      SELECT d.doc_id, d.lang, c.lang_c,
             (c.prior_bits + coalesce(ds.sum_b, 0))::BIGINT AS score_bits
      FROM documents d CROSS JOIN cls c
      LEFT JOIN ds ON ds.doc_id = d.doc_id AND ds.lang_c = c.lang_c
    )"""


def _nb_oracle() -> str:
    return f"""
    WITH {_nb_ctes()},
    rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score_bits, lang_c) AS rn
           FROM sc)
    SELECT doc_id, lang, lang_c AS pred_lang, score_bits
    FROM rk WHERE rn = 1 ORDER BY doc_id
    """


def _ml11_oracle() -> str:
    return f"""
    WITH {_nb_ctes()},
    rk AS (SELECT *, row_number() OVER w AS rn,
                  lead(score_bits) OVER w AS nxt
           FROM sc
           WINDOW w AS (PARTITION BY doc_id
                        ORDER BY score_bits, lang_c)),
    pick AS (SELECT doc_id, lang, lang_c AS pred_lang,
                    nxt - score_bits AS margin
             FROM rk WHERE rn = 1),
    agg AS (SELECT CASE WHEN margin IS NULL THEN NULL
                        WHEN margin = 0 THEN 0
                        ELSE length(bin(margin))::BIGINT
                   END AS margin_bucket,
                   count(1) AS n_docs,
                   sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END)::BIGINT
                     AS n_correct
            FROM pick GROUP BY 1)
    SELECT margin_bucket, n_docs, n_correct,
           CAST(n_correct AS DOUBLE) / CAST(n_docs AS DOUBLE) AS accuracy
    FROM agg ORDER BY margin_bucket NULLS FIRST
    """


def ml08_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form simple linear regression (OLS of purchase cents on
    hour-of-day, per event type) as pure aggregates — the "ML as a
    groupBy" shape: fit = one partial-aggregatable pass collecting
    (n, Σx, Σy, Σx², Σxy), coefficients = arithmetic on the five
    sufficient statistics. No solver, no iteration, no driver math.

    Determinism: x (hour 0-23) and y (exact cents) are integers, so
    all five statistics and the slope numerator/denominator
    (n·Σxy − Σx·Σy, n·Σx² − (Σx)²) are EXACT BIGINTs; slope and
    intercept are then a fixed two-or-three-op IEEE expression both
    engines evaluate identically. The exact integer num/den are in the
    output so the gate pins more than the rounded doubles.

    Scale: one partial-aggregatable shuffle of 5 longs per group —
    the sufficient-statistics pattern scales to any SF; at extreme
    row counts the statistics would be centered first to keep the
    products in int64 range (documented, not needed at these SFs)."""
    b = (
        tables.load(spark, sf_dir, "events")
        .filter(
            F.col("ts").isNotNull()
            & F.col("value").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_type",
            F.hour("ts").cast("long").alias("x"),
            cents(F.col("value")).alias("y"),
        )
    )
    agg = b.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    # den = 0 (all x equal within a group, e.g. every event in one
    # hour) is pinned to NULL EXPLICITLY on both sides: Spark non-ANSI
    # x/0 happens to give NULL, but DuckDB >= 1.1 defaults
    # ieee_floating_point_ops=true and returns inf/NaN, so relying on
    # the engines' implicit divide-by-zero semantics makes the oracle
    # gate DuckDB-version-dependent (round-6 ADVICE #1).
    slope = F.when(
        den != 0, num.cast("double") / den.cast("double")
    ).otherwise(F.lit(None).cast("double"))
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return agg.select(
        "event_type",
        "n",
        num.alias("slope_num"),
        den.alias("slope_den"),
        slope.alias("slope"),
        intercept.alias("intercept"),
    ).orderBy("event_type")


_ML08_SQL = """
WITH b AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL
),
agg AS (
  SELECT event_type, count(1) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM b GROUP BY event_type
)
SELECT event_type, n,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
            ELSE (n * sxy - sx * sy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE END AS slope,
       (sy::DOUBLE
        - CASE WHEN n * sxx - sx * sx = 0 THEN NULL
               ELSE (n * sxy - sx * sy)::DOUBLE
                    / (n * sxx - sx * sx)::DOUBLE END
          * sx::DOUBLE) / n::DOUBLE AS intercept
FROM agg ORDER BY event_type
"""


def ml10_classifier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated classifier QUALITY claim — the a09 pattern applied
    to the ML pipeline: RF numerics can never hash-match another
    engine (ml04 stays rows-only and informative), but the claims a
    user actually relies on ARE cross-engine checkable:

      - n_test / n_majority: exact integers the oracle reproduces from
        the ml05 stratified-split formula (test = per-lang n − ⌊4n/5⌋;
        majority = the largest per-lang test count);
      - covered_all_test: the trained pipeline scored every test row
        (no silent row loss through the vectorize→predict chain);
      - beats_majority: exact correct-count ≥ n_majority — the model
        outperforms-or-ties the best constant predictor, the minimum
        bar for "the classifier learned something". Oracle pins TRUE;
        a regression in featurization, split, or seed plumbing that
        degrades the model to baseline turns the driver row red.

    TRIAGE NOTE (round-7 ADVICE #2): this is a deliberate QUALITY
    gate, not a differential-correctness check — a red ml10 row means
    MODEL REGRESSION (the classifier stopped beating the majority
    baseline, or dropped test rows), NOT an engine/oracle divergence.
    Debug the pipeline (featurization, ml05 split, seeds), not the
    query engine or the oracle SQL. A tie with the baseline passes by
    design (≥)."""
    toks = P.stratified_split(
        P.with_tokens(_docs(spark, sf_dir)), "doc_id", "lang"
    )
    n_test = toks.filter(F.col("split") == "test").count()
    if n_test == 0:
        # empty corpus: nothing to score; the claims hold vacuously
        # (CountVectorizer cannot fit an empty train set)
        return spark.createDataFrame(
            [(0, 0, True, True)],
            "n_test BIGINT, n_majority BIGINT, covered_all_test BOOLEAN, "
            "beats_majority BOOLEAN",
        )
    predictions = _rf_label_prediction(spark, sf_dir)
    n_major = (
        toks.filter(F.col("split") == "test")
        .groupBy("lang")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
        or 0
    )
    scored = predictions.select(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum(
            (
                F.col("label")
                == F.col("prediction").cast("double")
            ).cast("long")
        ).alias("n_correct"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            (
                int(n_test),
                int(n_major),
                bool(scored["n_scored"] == n_test),
                bool((scored["n_correct"] or 0) >= n_major),
            )
        ],
        "n_test BIGINT, n_majority BIGINT, covered_all_test BOOLEAN, "
        "beats_majority BOOLEAN",
    )


_ML10_SQL = """
WITH s AS (
  SELECT lang, count(1) AS n FROM documents GROUP BY lang
),
t AS (
  SELECT lang, n - (4 * n) // 5 AS n_test_lang FROM s
)
SELECT CAST(coalesce(sum(n_test_lang), 0) AS BIGINT) AS n_test,
       CAST(coalesce(max(n_test_lang), 0) AS BIGINT) AS n_majority,
       TRUE AS covered_all_test,
       TRUE AS beats_majority
FROM t
"""


def _s10_knn_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .simplans import s10_capped_ann

    return s10_capped_ann(spark, sf_dir).select("q_id", "n_id")


def s10_knn_pairs_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized s10 (q_id, n_id) kNN candidate set (consumer:
    ml09's vote + its reps). Round-10 (VERDICT ask #3): migrated off
    s02's fixed 64 buckets onto the occupancy-capped generator — below
    the cap s10 IS s02 bit-for-bit, so fixture-scale vote results are
    unchanged, while probe-scale corpora no longer inherit s02's
    convicted quadratic."""
    return materialized_df(
        spark, sf_dir, "s10_knn", _s10_knn_build, ["q_id", "n_id"]
    )


def ml09_knn_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label prediction over ANN candidates — the weak-supervision
    / label-propagation primitive (label unlabeled items by majority
    vote of their nearest labeled neighbors), built by COMPOSING the
    s10 capped sign-LSH ANN (its top-ANN_TOPK neighbor set, reused
    verbatim)
    with a per-query vote. Demonstrates that the ANN operators are
    building blocks, not endpoints. Round 10: the ANN leg is the
    occupancy-capped s10 generator (sentinel-keyed ⇒ identical to s02
    below the cap; occupancy-bounded candidates above it).

    Vote is deterministic: count per (query, neighbor label), winner
    by (votes DESC, label ASC); queries whose LSH bucket held no other
    vector get NULL prediction (stated, not dropped). The oracle embeds
    the s02 oracle verbatim (shared builder), so candidate semantics
    cannot drift between the two specs.

    Scale: everything rides on s02's bucket equi-join; the vote adds
    one partial-aggregatable count on (q_id, label) — ≤ k rows per
    query — and a window over ≤ k rows per partition."""
    from pyspark.sql.window import Window

    # the (q_id, n_id) neighbor set is a tiny pair table consumed by
    # both the s02 registry entry and this vote — materialize it once
    # per process per corpus (the shared-intermediate pattern)
    knn = s10_knn_pairs_m(spark, sf_dir)
    emb = tables.load(spark, sf_dir, "embeddings").select("vec_id", "label")
    votes = (
        knn.join(
            emb.select(
                F.col("vec_id").alias("n_id"),
                F.col("label").alias("nb_label"),
            ),
            "n_id",
        )
        .groupBy("q_id", "nb_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("n_votes"), "nb_label")
    top = (
        votes.withColumn("vr", F.row_number().over(w))
        .filter(F.col("vr") == 1)
        .select("q_id", F.col("nb_label").alias("pred_label"), "n_votes")
    )
    return (
        emb.join(top, emb["vec_id"] == top["q_id"], "left")
        .select("vec_id", "label", "pred_label", "n_votes")
        .orderBy("vec_id")
    )


def _ml09_oracle() -> str:
    from .simplans import _s10_sql

    return f"""
    WITH votes AS (
      SELECT k.q_id, e.label AS nb_label, count(1) AS n_votes
      FROM ({_s10_sql()}) k JOIN embeddings e ON e.vec_id = k.n_id
      GROUP BY k.q_id, e.label
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY q_id
                                   ORDER BY n_votes DESC, nb_label) AS vr
      FROM votes
    )
    SELECT q.vec_id, q.label, r.nb_label AS pred_label, r.n_votes
    FROM embeddings q
    LEFT JOIN ranked r ON r.q_id = q.vec_id AND r.vr = 1
    ORDER BY q.vec_id
    """


SPECS = [
    QuerySpec("ml01_lda_themes", ml01_lda_themes, None),
    QuerySpec("ml02_topic_top_words", ml02_topic_top_words, None),
    QuerySpec(
        "ml03_train_test_split",
        ml03_train_test_split,
        """
        SELECT doc_id, lang,
               CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'cd'
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
        """,
    ),
    QuerySpec("ml04_classifier_metrics", ml04_classifier_metrics, None),
    QuerySpec(
        "ml05_stratified_split",
        ml05_stratified_split,
        """
        SELECT doc_id, lang,
               CASE WHEN 5 * row_number() OVER (
                            PARTITION BY lang
                            ORDER BY md5(doc_id::VARCHAR), doc_id)
                      <= 4 * count(*) OVER (PARTITION BY lang)
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
        """,
    ),
    QuerySpec("ml06_kmeans", ml06_kmeans, _km_oracle()),
    QuerySpec("ml07_naive_bayes", ml07_naive_bayes, _nb_oracle()),
    QuerySpec(
        "ml11_confidence_calibration",
        ml11_confidence_calibration,
        _ml11_oracle(),
    ),
    QuerySpec("ml12_hashed_features", ml12_hashed_features, _ml12_oracle()),
    QuerySpec("ml08_linreg", ml08_linreg, _ML08_SQL),
    QuerySpec("ml09_knn_label", ml09_knn_label, _ml09_oracle()),
    QuerySpec("ml10_classifier_gate", ml10_classifier_gate, _ML10_SQL),
]
