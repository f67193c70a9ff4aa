"""Relational surface: projections, filters, row ops, aggregations,
joins, windows, set ops, grouping sets, and scalar functions.

Each QuerySpec re-expresses one operator row from SURVEY.md §2
(reference locs cited per-spec) as an idiomatic Spark DataFrame plan
with a DuckDB oracle twin. Determinism rules from plans/__init__ apply:
integer-exact money sums (helpers.cents/scaled), tie-broken top-K,
window keep-first dedup.

Scale notes (100 TB manners) per family:
- scans: filters/projections are plain column expressions → Catalyst
  pushes them into the parquet scan (PushedFilters/ReadSchema).
- aggregations: groupBy on low-cardinality keys → partial (map-side)
  aggregation then one shuffle; sums are long-typed (order-free).
- joins: dimension sides (region/nation/supplier/5-row literal maps)
  are broadcast() — no shuffle of the fact table; big equi-joins leave
  Catalyst free to pick SMJ/shuffled-hash, AQE re-plans at runtime.
- windows: partitionBy keys are the natural entity keys (custkey,
  user_id) so state per partition is small; no global windows except
  the deliberately tiny ordinal demo (p06, documented).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as T
from ..ml.pipeline import THEME_LABELS
from ..scratch import cache_slot
from ..sources import tables
from . import QuerySpec
from .helpers import (
    cents,
    shuffle_width,
    scaled,
    sql_cents,
    sql_clean_tokens,
    sql_raw_tokens,
    sql_scaled,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return tables.load(spark, sf_dir, name)


# --------------------------------------------------------------------------
# P: projections / filters / row ops (SURVEY §2.2)
# --------------------------------------------------------------------------


def p01_project_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: scan + projection + sort (extract.py:60-81 Cypher RETURN...ORDER BY)."""
    return (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def p02_drop_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: tolerant column drop (cleaner.py:93-94 errors='ignore');
    Spark drop is already a no-op on missing names."""
    return _t(spark, sf_dir, "orders").drop("o_comment_not_there", "o_orderpriority")


def p03_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: deterministic dedup keep-first (cleaner.py:99-101).

    pandas drop_duplicates keeps first-by-position; Spark dropDuplicates
    keeps an arbitrary row — so parity requires the window form:
    row_number over (key) ordered by the position surrogate.
    """
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        _t(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


def p04_coerce_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: typed cast with null-on-error (cleaner.py:104-107
    pd.to_datetime(errors='coerce')); ANSI off → NULL, never raise."""
    df = _t(spark, sf_dir, "orders")
    return df.select(
        "o_orderkey",
        F.to_date(
            F.date_format("o_orderdate", "MM/dd/yyyy"), "MM/dd/yyyy"
        ).alias("parsed_date"),
        F.to_date("o_orderpriority").alias("bad_parse"),
    )


def p05_lowercase_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: lowercase-all-columns rename (cleaner.py:110)."""
    df = _t(spark, sf_dir, "nation").toDF("N_NATIONKEY", "N_NAME", "N_REGIONKEY")
    return df.toDF(*[c.lower() for c in df.columns])


def p06_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: reset_index → explicit ordinal (cleaner.py:113).

    A single global window is deliberate here (the operator IS a global
    ordinal); at scale prefer zipWithIndex-free monotonically_increasing_id
    or an ordering key — documented, not silently swapped.
    """
    w = Window.orderBy("s_suppkey")
    return (
        _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name")
        .withColumn("ordinal", F.row_number().over(w))
    )


def _range_offsets(
    spark: SparkSession, df: DataFrame, keys: list[str], total: Column
) -> tuple[DataFrame, Column]:
    """The two-phase global offset (p16, pack_sequences, p20): range-
    partition `df` by its unique sort `keys` so partitions are globally
    ordered, and read back only the O(#partitions) per-partition
    `total`s. Returns the partitioned rows with their `pid`, and each
    row's offset: the sum of `total` over all earlier partitions.

    localCheckpoint pins ONE materialized partitioning: the offsets
    pass and the caller's ranking pass must see identical boundaries,
    and RangePartitioner re-samples per execution otherwise."""
    n_parts = spark.sparkContext.defaultParallelism
    rp = (
        df.repartitionByRange(n_parts, *keys)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = rp.groupBy("pid").agg(total.alias("n")).collect()
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(totals, key=lambda r: r.pid):
        offsets[r.pid] = acc
        acc += r.n
    if not offsets:
        return rp, F.lit(0)
    omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    return rp, omap[F.col("pid")]


def p16_scalable_ordinal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p06's global ordinal at scale — the two-phase form its docstring
    names, made real (the j06→j10 / s01→s02 baseline→scale-twin
    pattern): range-partition by the unique sort key so partitions are
    globally ordered, read back only the O(#partitions) per-partition
    counts to compute offsets, then ordinal = offset + local rank. No
    single-partition window ever sees the full table.

    Correctness does not depend on where the sampled range boundaries
    land: with a unique total order, every row's global rank equals
    rows-before-it, and all smaller keys sit in earlier partitions or
    earlier within the same partition — so the result is deterministic
    even though RangePartitioner's sampling is not. The driver-side
    read is bounded by partition count (cluster size), the same class
    as the CC fixpoint scalar reads."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")
    rp, base = _range_offsets(spark, ev, ["event_id"], F.count(F.lit(1)))
    w = Window.partitionBy("pid").orderBy("event_id")
    return (
        rp.withColumn(
            "ordinal", (base + F.row_number().over(w)).cast("long")
        )
        .select("event_id", "user_id", "ordinal")
    )


def p07_filter_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: non-empty string filter (cleaner.py:169)."""
    return (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select("doc_id", "lang", "n_chars")
    )


def p08_filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: equality filter on a category column (dashboard.py:24-25)."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )


def p09_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: projection (dashboard.py:46); Catalyst prunes the scan to 2 cols."""
    return _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")


def p10_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: limit/head (dashboard.py:46) — tie-broken so the row SET is
    deterministic (bare LIMIT is not)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


def p11_derived_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: per-row derived columns (cleaner.py:166 .apply) — all
    JVM-side expressions, no Python: regexp extraction from the JSON
    props + a rating-parse-style regexp_extract (SURVEY §2.6)."""
    return _t(spark, sf_dir, "events").select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("k"),
        F.upper("event_type").alias("event_type_uc"),
    )


def p12_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% Bernoulli sample of orders: keep rows whose
    md5(o_orderkey) first 4 hex digits < 0x199a (6554/65536 ≈ 10.0%).
    Content-addressed like the ml03 split — the corpus-subsampling a
    training pipeline needs to be REPRODUCIBLE across runs, cluster
    sizes, and engines, which `df.sample(0.1)` (partition-seeded RNG)
    is not. Pure map-side predicate: no shuffle, pushes nothing but
    scans pruned columns."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4)
            < F.lit("199a")
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def p13_group_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic K-per-group sample (K=3 per market segment): the
    eval-set builder — rank rows WITHIN each group by md5(key), a
    content-addressed pseudo-random permutation, keep the first K.
    Reproducible across runs, engines, and cluster sizes, unlike
    `df.sample` (partition-seeded RNG).

    Scale: a single window partitioned by segment caps parallelism at
    #groups (5 here — the p06 skew shape), so the rank runs in TWO
    stages: per-(group, salt16) top-K first — spreading each group
    over 16 reducers and pruning to ≤ 16K rows per group — then the
    exact top-K over that tiny survivor set. The global top-K is a
    subset of the union of per-salt top-Ks, so the result is exactly
    the single-window answer (the oracle computes that directly)."""
    k = 3
    base = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.md5(F.col("c_custkey").cast("string")).alias("h"),
        F.pmod(F.xxhash64("c_custkey"), F.lit(16)).alias("salt"),
    )
    w1 = Window.partitionBy("c_mktsegment", "salt").orderBy("h", "c_custkey")
    pruned = (
        base.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
        .drop("rn", "salt")
    )
    w2 = Window.partitionBy("c_mktsegment").orderBy("h", "c_custkey")
    return (
        pruned.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_mktsegment", "c_custkey")
    )


def p14_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampler: draw ≈40% of the corpus
    rebalanced toward UNIFORM language shares — the data-mixing step a
    training pipeline runs to hit target domain proportions. Each
    group's keep-rate r_g = min(1, budget_g/n_g) is derived from the
    group histogram; membership is content-addressed (16-bit md5
    fraction of doc_id < r_g), so the same doc is kept on every run,
    engine, and cluster size — `df.sample`'s partition-seeded RNG can
    promise none of that. Complements p13 (exact small-K quota): rate-
    based mixing is the scale path when groups hold billions of rows
    and per-group exact ranking would be a giant window.

    Scale: one tiny groupBy histogram (≤ #langs rows) joined back
    broadcast onto a narrow scan — the corpus itself never shuffles;
    the keep predicate is pure map-side arithmetic."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return uniform_mix(docs).select("doc_id", "lang", "rate")


def uniform_mix(docs: DataFrame) -> DataFrame:
    """p14's mix device, shared with pl04's post-gate corpus: the rows
    of `docs` (doc_id, lang, ...) a doc's 16-bit md5 fraction keeps at
    its language's rate, min(1, 0.4 · n_total / (n_groups · n_g)),
    which the `rate` column carries."""
    stats = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_g"))
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
    return docs.join(F.broadcast(rates), "lang").filter(
        frac16 < F.col("rate") * F.lit(65536.0)
    )


# p17 per-lang mixture rates as exact rationals (num/den): >1 means
# oversampling (floor copies + content-addressed fractional copy), <1
# means downsampling. Thresholds precomputed as 4-hex-digit strings so
# both engines compare md5 prefixes lexicographically (the p12 idiom).
P17_RATES: dict[str, tuple[int, int]] = {
    "de": (5, 2),   # 2.5x
    "en": (1, 2),   # 0.5x
    "es": (5, 4),   # 1.25x
    "fr": (1, 1),   # 1.0x
    "zh": (3, 1),   # 3.0x
}


def _p17_plan() -> list[tuple[str, int, str]]:
    """(lang, floor_copies, extra-copy md5 threshold hex) rows."""
    out = []
    for lang, (num, den) in sorted(P17_RATES.items()):
        floor_copies = num // den
        thr = format(((num % den) * 65536) // den, "04x")
        out.append((lang, floor_copies, thr))
    return out


def p17_oversample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling with rates ABOVE 1 — the upsampling half
    p14 can't express: a training mix often repeats scarce high-quality
    domains 2-3x per epoch while downsampling the head domain. Each doc
    yields floor(rate) full copies plus one more iff its content-
    addressed 16-bit md5 fraction falls below frac(rate) — so expected
    multiplicity is exactly rate, membership and copy COUNT are
    reproducible across runs/engines/cluster sizes, and each copy is
    tagged (copy_id) so a downstream shuffle can interleave epochs.

    Scale: rates are an O(#domains) broadcast join; replication is a
    map-side explode of a ≤ ⌈rate⌉-element sequence — rows never
    shuffle, output size is exactly Σ n_g·rate_g (the epoch budget)."""
    rates = spark.createDataFrame(
        _p17_plan(), "lang STRING, fl INT, thr STRING"
    )
    extra = F.when(
        F.substring(F.md5(F.concat(F.lit("ov"), F.col("doc_id").cast("string"))), 1, 4)
        < F.col("thr"),
        1,
    ).otherwise(0)
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .join(F.broadcast(rates), "lang")
        .withColumn("n_copies", F.col("fl") + extra)
        .filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("cp"),
        )
        .select(
            "doc_id", "lang", F.col("cp").cast("long").alias("copy_id")
        )
        .orderBy("doc_id", "copy_id")
    )


def _p17_oracle() -> str:
    vals = ", ".join(
        f"('{lang}', {fl}, '{thr}')" for lang, fl, thr in _p17_plan()
    )
    return f"""
    WITH rates(lang, fl, thr) AS (VALUES {vals}),
    d AS (
      SELECT doc_id, d0.lang,
             fl + CASE WHEN substr(md5('ov' || doc_id::VARCHAR), 1, 4) < thr
                       THEN 1 ELSE 0 END AS n_copies
      FROM documents d0 JOIN rates USING (lang)
    )
    SELECT doc_id, lang, unnest(range(1, n_copies + 1)) AS copy_id
    FROM d
    ORDER BY doc_id, copy_id
    """


P18_BUDGET = 0.5       # sampled fraction of the corpus
P18_MICRO = 1 << 20    # fixed-point unit for the order-free sqrt sum


def p18_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (α = 0.5) mixture sampling — the multilingual
    rebalancing rule of mC4/XLM-R-style corpora: sampled shares are
    proportional to n_g^α, flattening the head domain while keeping
    scarce domains visible. p14 is the α = 0 corner (uniform targets),
    p17 the fixed-rate upsampler; p18 derives its rates FROM the
    corpus histogram: r_g = min(1, B·n_total·√n_g / (Σ√n_g · n_g)).

    Cross-engine determinism of float-derived rates: √ is IEEE
    correctly-rounded on both engines (pow is not — the reason α is
    ½ and not a free parameter here), Σ√n_g is summed as FIXED-POINT
    INTEGERS (order-free, unlike a float sum across groups), the rate
    expression is written with the identical operation tree on both
    sides, and membership compares integer 16-bit md5 fractions
    against an integer threshold — no float equality anywhere.

    Scale: one tiny groupBy histogram, rates broadcast back onto a
    narrow scan, keep-predicate pure map-side — the corpus never
    shuffles (sort is presentation)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    stats = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_g"))
        .withColumn(
            "sq_micro",
            F.expr(
                f"CAST(floor(sqrt(CAST(n_g AS DOUBLE)) * {P18_MICRO}) "
                "AS BIGINT)"
            ),
        )
    )
    tot = stats.agg(
        F.sum("n_g").alias("n_total"), F.sum("sq_micro").alias("s_micro")
    )
    rates = stats.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.expr(
            f"CAST(floor(least(CAST(1.0 AS DOUBLE), "
            f"({P18_BUDGET} * CAST(n_total AS DOUBLE) "
            f"* CAST(sq_micro AS DOUBLE)) "
            f"/ (CAST(s_micro AS DOUBLE) * CAST(n_g AS DOUBLE))) "
            f"* 65536) AS BIGINT)"
        ).alias("thr16"),
    )
    frac16 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("t8"), F.col("doc_id").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(frac16 < F.col("thr16"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


_P18_SQL = f"""
WITH s AS (SELECT lang, count(*)::BIGINT AS n_g
           FROM documents GROUP BY lang),
s2 AS (SELECT lang, n_g,
              CAST(floor(sqrt(CAST(n_g AS DOUBLE)) * {P18_MICRO})
                AS BIGINT) AS sq_micro
       FROM s),
t AS (SELECT sum(n_g)::BIGINT AS n_total,
             sum(sq_micro)::BIGINT AS s_micro FROM s2),
r AS (SELECT lang,
             CAST(floor(least(CAST(1.0 AS DOUBLE),
                  ({P18_BUDGET} * CAST(n_total AS DOUBLE)
                   * CAST(sq_micro AS DOUBLE))
                  / (CAST(s_micro AS DOUBLE) * CAST(n_g AS DOUBLE)))
                  * 65536) AS BIGINT) AS thr16
      FROM s2, t)
SELECT d.doc_id, d.lang
FROM documents d JOIN r USING (lang)
WHERE ('0x' || substr(md5('t8' || d.doc_id::VARCHAR), 1, 4))::INT::BIGINT
      < r.thr16
ORDER BY d.doc_id
"""


def pack_sequences(
    spark: SparkSession, docs: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Concat-and-chunk packing core shared by p19 and pl04: `docs`
    is (doc_id, n_tokens[, *carry]); emits one unordered row per
    (doc, sequence) slice — (seq_id, doc_id, tok_offset, slice_len,
    *carry). Zero-token docs contribute no slice.

    Running-sum + bucket-break, zero UDF. The global cumulative token
    count is the two-phase offset of _range_offsets: range
    partition by doc_id (globally ordered partitions), read back only
    the O(#partitions) per-partition token SUMS to compute offsets,
    then tok_start = offset + per-partition running sum − n. No
    single-partition window ever sees the corpus. Each doc then
    explodes into exactly the sequences it overlaps via sequence(
    start DIV B, (end−1) DIV B) — fan-out per doc is
    ceil(n_tokens/B)+1, bounded by doc length, and the only wide op
    after the range partition is the explode's narrow map."""
    B = PACK_BUDGET
    docs = docs.filter(F.col("n_tokens") > 0)
    rp, base = _range_offsets(spark, docs, ["doc_id"], F.sum("n_tokens"))
    w = Window.partitionBy("pid").orderBy("doc_id")
    cum = rp.withColumn(
        "tok_start",
        (base + F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long"),
    )
    seq_lo = F.expr(f"tok_start DIV {B}")
    seq_hi = F.expr(f"(tok_start + n_tokens - 1) DIV {B}")
    slice_lo = F.greatest(F.col("tok_start"), F.col("seq_id") * B)
    slice_hi = F.least(
        F.col("tok_start") + F.col("n_tokens"), (F.col("seq_id") + 1) * B
    )
    return (
        cum.select(
            "doc_id",
            "n_tokens",
            "tok_start",
            *carry,
            F.explode(F.sequence(seq_lo, seq_hi)).alias("seq_id"),
        )
        .select(
            F.col("seq_id").cast("long").alias("seq_id"),
            "doc_id",
            (slice_lo - F.col("seq_id") * B).cast("long").alias("tok_offset"),
            (slice_hi - slice_lo).cast("long").alias("slice_len"),
            *carry,
        )
    )


def p19_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative sequence packing (concat-and-chunk): documents in
    doc_id order are concatenated into one global token stream and cut
    into fixed PACK_BUDGET-token training sequences; a doc straddling a
    cut spans both sequences — the GPT-style packing that wastes zero
    budget (u02 is the no-span next-fit twin, where a doc that doesn't
    fit opens a fresh sequence). Token counts are t08's BPE-ish
    pre-tokenizer counts. Emits one row per (doc, sequence) slice:
    (seq_id, doc_id, tok_offset of the slice within the sequence,
    slice_len). Core machinery in pack_sequences (shared with pl04's
    composed recipe) — scale notes there."""
    return pack_sequences(spark, _p19_packed_in(spark, sf_dir))


def _p19_packed_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p19's pre-packing stage (scan → token counts), exposed so
    tests/test_registry_sweep.py can check the upstream subplan that
    pack_sequences' localCheckpoint hides (round-11 ADVICE #2)."""
    from .textplans import BPE_PATTERN

    toks = F.size(
        F.regexp_extract_all(
            F.lower(F.coalesce(F.col("text"), F.lit(""))),
            F.lit(BPE_PATTERN),
            0,
        )
    ).cast("long")
    return _t(spark, sf_dir, "documents").select(
        "doc_id", toks.alias("n_tokens")
    )


def _p19_oracle() -> str:
    from .textplans import BPE_PATTERN

    B = PACK_BUDGET
    return f"""
WITH toks AS (
  SELECT doc_id,
         len(regexp_extract_all(lower(coalesce(text, '')),
             '{BPE_PATTERN}'))::BIGINT AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         (sum(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - n_tokens)::BIGINT AS tok_start
  FROM toks WHERE n_tokens > 0
),
spans AS (
  SELECT unnest(generate_series(tok_start // {B},
                                (tok_start + n_tokens - 1) // {B}))::BIGINT
           AS seq_id,
         doc_id, n_tokens, tok_start
  FROM cum
)
SELECT seq_id, doc_id,
       (greatest(tok_start, seq_id * {B}) - seq_id * {B})::BIGINT
         AS tok_offset,
       (least(tok_start + n_tokens, (seq_id + 1) * {B})
        - greatest(tok_start, seq_id * {B}))::BIGINT AS slice_len
FROM spans
ORDER BY seq_id, doc_id
"""


# --------------------------------------------------------------------------
# A: aggregations (SURVEY §2.4)
# --------------------------------------------------------------------------


def a10_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (signup → click → purchase): for every
    user, the furthest stage reached where each step must occur
    STRICTLY AFTER the previous one — the product-analytics conversion
    primitive that a naive per-type count gets wrong (a purchase before
    signup is not a conversion).

    Implementation is conditional min-chaining: t1 = first signup;
    t2 = first click after t1; t3 = first purchase after t2. Each step
    is one filtered aggregate + one equi-join on user_id — three
    partial-aggregatable passes over an already-filtered slice of the
    event stream, no window over the full history, no per-user state
    funnel in Python. At 100 TB each step's join keys on user_id and
    the step slices shrink monotonically (only users who reached step
    k are joined for step k+1)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        ev.select("user_id")
        .distinct()
        .join(s1, "user_id", "left")
        .join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("t3").isNotNull(), 3)
            .when(F.col("t2").isNotNull(), 2)
            .when(F.col("t1").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("stage"),
            "t1",
            "t2",
            "t3",
        )
        .orderBy("user_id")
    )


_A10_SQL = """
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t2
       FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > s1.t1
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t3
       FROM events e JOIN s2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
       GROUP BY e.user_id),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id,
       CAST(CASE WHEN t3 IS NOT NULL THEN 3
                 WHEN t2 IS NOT NULL THEN 2
                 WHEN t1 IS NOT NULL THEN 1
                 ELSE 0 END AS BIGINT) AS stage,
       t1, t2, t3
FROM u
LEFT JOIN s1 USING (user_id)
LEFT JOIN s2 USING (user_id)
LEFT JOIN s3 USING (user_id)
ORDER BY u.user_id
"""


def a01_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: value_counts ≡ groupBy.count desc (dashboard.py:29-30), the
    flagship. Tie-broken by key for determinism."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "event_type")
    )


def a02_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: nunique (ml_pipeline_dag.py:184)."""
    return _t(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def a03_null_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-column null counts (extract.py:128 df.isnull().sum())."""
    df = _t(spark, sf_dir, "orders")
    return df.agg(
        *[
            # coalesce: SUM over zero rows is NULL, but "no rows" has
            # exactly 0 nulls (and the oracle's count(*)-count(c) is 0)
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias(
                f"nulls_{c}"
            )
            for c in df.columns
        ]
    )


def a04_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: row count (extract.py:80 len(df))."""
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


def a05_distinct_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: sorted unique (dashboard.py:21)."""
    return _t(spark, sf_dir, "events").select("event_type").distinct().orderBy(
        "event_type"
    )


def a07_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: shape/describe-style summary (extract.py:123-128) with
    exact integer sums (min/max/count are order-free by nature)."""
    return _t(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.sum(cents(F.col("l_quantity"))).alias("sum_qty_cents"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        F.sum(cents(F.col("l_extendedprice"))).alias("sum_price_cents"),
    )


# --------------------------------------------------------------------------
# Headline TPC-H-style queries (scan+agg, join+agg+topk, multi-join)
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: wide partial-aggregated scan; all sums are exact
    longs (cents / 1e-4-scaled), averages derived from exact sums with
    one deterministic division per value."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    g = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(cents(F.col("l_quantity"))).alias("sum_qty_cents"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(scaled(disc_price, 4)).alias("sum_disc_price_e4"),
            F.sum(scaled(charge, 6)).alias("sum_charge_e6"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty_cents",
        "sum_base_cents",
        "sum_disc_price_e4",
        "sum_charge_e6",
        (F.col("sum_qty_cents") / 100.0 / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_cents") / 100.0 / F.col("count_order")).alias("avg_price"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective fact joins + group + tie-broken top-10.
    customer filter first (smallest), joins leave Catalyst/AQE free to
    pick broadcast for the filtered customer side."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    revenue = scaled(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(revenue).alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), "o_orderkey")
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join; region/nation broadcast (tiny dims),
    customer-supplier nation equality closes the cycle."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    revenue = scaled(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), "n_name")
    )


# --------------------------------------------------------------------------
# J: joins (SURVEY §2.3)
# --------------------------------------------------------------------------


def j01_broadcast_theme_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: the reference's dict-lookup enrichment (cleaner.py:211-220)
    as a broadcast LEFT join against the verbatim 5-label theme map
    (ml.pipeline.THEME_LABELS, the map the review pass labels with).
    pmod(user_id, 7) yields topics 5-6 with no label → NULL, exercising
    the left-join unmatched path exactly like .map() → NaN."""
    labels = spark.createDataFrame(
        [(k, v) for k, v in THEME_LABELS.items()], "topic INT, theme STRING"
    )
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.pmod(F.col("user_id"), F.lit(7)).cast("int").alias("topic")
    )
    return ev.join(F.broadcast(labels), "topic", "left").select(
        "event_id", "topic", "theme"
    )


def j02_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_custkey", "c_mktsegment", "o_totalprice"
    )


def j03_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers having ≥1 'F'-status order (semi: no row duplication)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def j04_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders at all (anti)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def j05_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer vs supplier counts, FULL OUTER joined."""
    cust = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cust.join(
        supp, cust.c_nationkey == supp.s_nationkey, "full_outer"
    ).select(
        F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


def j06_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi range) join: supplier×part on a price band.
    10×200 rows → BNLJ with the supplier side broadcast; at scale a
    banded range join would bucket on floor(price/band)."""
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    return (
        part.join(
            F.broadcast(supp),
            (part.p_retailprice >= supp.s_acctbal / 10)
            & (part.p_retailprice < supp.s_acctbal / 10 + 50),
        )
        .select("s_suppkey", "p_partkey", "p_retailprice")
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue between two nation pairs — the same
    dimension table joined twice under different aliases (customer's
    nation vs supplier's nation), both broadcast; the disjunctive
    nation-pair predicate is evaluated after the joins on the tiny
    joined columns, never against the fact scan."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        scaled(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
        ).alias("rev_e4"),
        F.year("l_shipdate").cast("bigint").alias("l_year"),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    # any cross-nation pair; intra-nation trade excluded
    pair = F.col("supp_nation") != F.col("cust_nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("rev_e4").alias("revenue_e4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjunction predicate bands over a
    fact⋈dim join. Catalyst extracts the common l_quantity bounds from
    the disjunction and pushes them into the parquet scan, so the OR
    structure prunes I/O instead of forcing a full read."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity",
        scaled(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
        ).alias("rev_e4"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type", "p_size")
    band = (
        (
            F.col("p_type").startswith("SMALL")
            & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 11)
            & (F.col("p_size") <= 5)
        )
        | (
            F.col("p_type").startswith("MEDIUM")
            & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 20)
            & (F.col("p_size") <= 10)
        )
        | (
            F.col("p_type").startswith("ECONOMY")
            & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 30)
            & (F.col("p_size") <= 15)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(band)
        .agg(
            F.sum("rev_e4").alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


RANGE_BUCKET = 50.0  # j10 bucket width == j06's interval width


def j10_bucketed_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """j06's range join rewritten scale-safe: bucketize the axis at the
    interval width, explode each interval to its ≤2 covered buckets,
    hash equi-join on the bucket, then apply the exact range predicate.

    Identical result set to j06 (the oracle is the same declarative
    range join), but the physical plan is a shuffle/broadcast HASH join
    on an integer key instead of a nested loop over all pairs — the
    difference between O(n·m) and O(n+m+matches) at 100 TB. A bucket
    the interval doesn't actually cover only produces rows the exact
    post-filter removes."""
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", (F.col("s_acctbal") / 10).alias("lo")
    )
    sb = supp.select(
        "s_suppkey",
        "lo",
        F.explode(
            F.array(
                F.floor(F.col("lo") / RANGE_BUCKET),
                F.floor(F.col("lo") / RANGE_BUCKET) + 1,
            )
        ).alias("bucket"),
    )
    pb = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        F.floor(F.col("p_retailprice") / RANGE_BUCKET).alias("bucket"),
    )
    return (
        pb.join(sb, "bucket")
        .filter(
            (F.col("p_retailprice") >= F.col("lo"))
            & (F.col("p_retailprice") < F.col("lo") + RANGE_BUCKET)
        )
        .select("s_suppkey", "p_partkey", "p_retailprice")
    )


FUZZY_MIN_LEN = 4  # vocab floor: ≥4 chars so a 1-char drop keeps ≥3


def j11_fuzzy_blocked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy (entity-resolution) join: match corrupted tokens
    back to the corpus vocabulary under edit distance ≤ 1 — the
    record-linkage primitive (dirty product names ↔ catalog, OCR'd
    strings ↔ reference lists).

    The dirty side is a deterministic in-plan corruption of the vocab
    (keyed by md5 of the token: drop last char / append 'x' /
    unchanged), so the oracle can state the expected matches exactly.

    Match semantics INCLUDE the blocking predicate — the standard ER
    design where candidate generation is part of the contract: a pair
    matches iff same 2-char prefix AND |len diff| ≤ 1 AND
    levenshtein ≤ 1. Blocking turns the all-pairs O(n·m) distance
    computation into a hash equi-join on the prefix block key with the
    exact Levenshtein applied only within blocks; at 100 TB the block
    key widens to (prefix, length band) composites — the shape is the
    same hash join, never a cross join. Levenshtein itself is the
    JVM-side built-in (codegen'd), no Python hop."""
    vocab = cache_slot(
        "j11_vocab",
        _t(spark, sf_dir, "documents")
        .select(F.explode(T.clean_tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") >= FUZZY_MIN_LEN)
        .distinct(),
    )
    mode = F.ascii(F.substring(F.md5(F.col("word")), 1, 1)) % 3
    dirty = vocab.select(
        F.col("word").alias("src_word"),
        F.when(
            mode == 0, F.substring(F.col("word"), 1, F.length("word") - 1)
        )
        .when(mode == 1, F.concat(F.col("word"), F.lit("x")))
        .otherwise(F.col("word"))
        .alias("dirty"),
    )
    d = dirty.withColumn("blk", F.substring("dirty", 1, 2))
    v = vocab.withColumn("blk", F.substring("word", 1, 2))
    return (
        d.join(v, "blk")
        .filter(
            (
                F.abs(F.length("dirty") - F.length("word")) <= 1
            )
            & (F.levenshtein("dirty", "word") <= 1)
        )
        .select(
            "src_word",
            "dirty",
            F.col("word").alias("match"),
            F.levenshtein("dirty", "word").cast("long").alias("dist"),
        )
        .orderBy("src_word", "match")
    )


J12_W = 10_000       # interval length == bucket width (cents: $100)
J12_OFF = 10_000_000  # shift cents non-negative so DIV bucketing is
                      # floor on both engines (no negative-division
                      # truncation divergence)


def j12_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join — BOTH sides are intervals (j10 covers the
    point-in-interval half of the range-join family). Supplier and
    customer account-balance bands of width $100 overlap iff
    s_lo ≤ c_hi AND c_lo ≤ s_hi; output carries the overlap segment.

    Scale plan: bucketize at W = interval length, so each interval
    covers ≤ 2 buckets; explode both sides to their covered buckets
    (≤ 2× row inflation), hash equi-join on the integer bucket — every
    overlapping pair shares the bucket containing its overlap start —
    then apply the exact overlap predicate and keep ONLY the canonical
    bucket (the overlap start's), which dedupes pairs without a
    distinct shuffle. O(n+m+matches) instead of the BNLJ O(n·m); at
    skewed balance distributions the bucket key salts like any hash
    key. Arithmetic is integer cents shifted non-negative, identical
    in the oracle."""
    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (cents(F.col("s_acctbal")) + J12_OFF).alias("s_lo"),
        (cents(F.col("s_acctbal")) + J12_OFF + J12_W).alias("s_hi"),
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (cents(F.col("c_acctbal")) + J12_OFF).alias("c_lo"),
        (cents(F.col("c_acctbal")) + J12_OFF + J12_W).alias("c_hi"),
    )
    sx = s.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"s_lo DIV {J12_W}"), F.expr(f"s_hi DIV {J12_W}")
            )
        ).alias("b"),
    )
    cx = c.select(
        "*",
        F.explode(
            F.sequence(
                F.expr(f"c_lo DIV {J12_W}"), F.expr(f"c_hi DIV {J12_W}")
            )
        ).alias("b"),
    )
    return (
        sx.join(cx, "b")
        .filter(
            (F.col("s_lo") <= F.col("c_hi"))
            & (F.col("c_lo") <= F.col("s_hi"))
            & (
                F.col("b")
                == F.expr(f"greatest(s_lo, c_lo) DIV {J12_W}")
            )
        )
        .select(
            "s_suppkey",
            "c_custkey",
            (F.greatest("s_lo", "c_lo") - J12_OFF).alias("overlap_lo_cents"),
            (F.least("s_hi", "c_hi") - J12_OFF).alias("overlap_hi_cents"),
        )
        .orderBy("s_suppkey", "c_custkey")
    )


J13_M = 1 << 17     # bloom bits (2048 longs ≈ 16 KB broadcast)
J13_SEEDS = (1, 2, 3)  # k = 3 probes


def j13_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi join — the runtime-row-filter pattern
    (Spark's own runtime bloom / Delta dynamic file pruning) built
    explicitly, since `bloom_filter_agg` is not in the public function
    registry: build a 2^17-bit, 3-probe bloom over the SELECTIVE dim
    key set (BUILDING-segment customers), broadcast it as one 16 KB
    map row, and drop fact rows whose key cannot be in the dim set
    BEFORE the join exchange. Survivors (including bloom false
    positives) still pass through the exact left-semi join, so the
    RESULT is exactly the plain semi join — the bloom changes bytes
    shuffled, never rows returned; the oracle is the transparent
    IN-subquery form.

    Scale: bloom size is O(1) w.r.t. the fact table (bits scale with
    the dim key count only), the build is one tiny groupBy over ≤2048
    words, the probe is a pure map-side predicate (3 hashes + 3 bit
    tests per row), and the false-positive cleanup join only sees the
    prefiltered stream. With a ~1/5-selective dim, ~80 % of the fact
    shuffle disappears (tests/test_round8_ops.py pins prefilter
    selectivity and result-exactness)."""
    c_keys, pre = _j13_prefiltered(spark, sf_dir)
    exact = pre.join(
        c_keys, pre.o_custkey == c_keys.c_custkey, "left_semi"
    )
    return (
        exact.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("tc").alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


def _j13_prefiltered(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """j13's dim key set and the fact stream its bloom lets through,
    BEFORE the exact semi join: (BUILDING c_custkey, bloom-probed
    orders). The selectivity test counts this stream."""
    c_keys = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    bit = lambda key, s: f"pmod(xxhash64({key}, {s}), {J13_M})"  # noqa: E731
    bits = c_keys.select(
        F.explode(
            F.array(*[F.expr(bit("c_custkey", s)) for s in J13_SEEDS])
        ).alias("bit")
    )
    words = bits.groupBy(F.expr("bit DIV 64").alias("w")).agg(
        F.expr("bit_or(shiftleft(1L, CAST(bit % 64 AS INT)))").alias("m")
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "m"))).alias("bf")
    )
    probe = " AND ".join(
        f"((coalesce(element_at(bf, {bit('o_custkey', s)} DIV 64), 0L)"
        f" >> CAST({bit('o_custkey', s)} % 64 AS INT)) & 1L) = 1L"
        for s in J13_SEEDS
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", cents(F.col("o_totalprice")).alias("tc")
    )
    pre = o.crossJoin(F.broadcast(bloom)).filter(F.expr(probe)).drop("bf")
    return c_keys, pre


_J13_SQL = f"""
SELECT o_orderpriority, count(1) AS n_orders,
       CAST(sum({sql_cents('o_totalprice')}) AS BIGINT) AS revenue_cents
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer
                    WHERE c_mktsegment = 'BUILDING')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def j07_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT join: all nations kept, unmatched suppliers → NULL counts."""
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    return (
        supp.join(nation, supp.s_nationkey == nation.n_nationkey, "right_outer")
        .groupBy("n_nationkey", "n_name")
        .agg(F.count("s_suppkey").alias("n_supp"))
    )


def j08_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via union+window (SURVEY §2.3): each purchase event
    picks the most recent click at-or-before its timestamp, per user.

    The union+running-last form is the shuffle-minimal as-of strategy:
    one shuffle on user_id, sequential scan per partition — no range
    join explosion. Same-ts ties: clicks sort before purchases (the
    click is visible), then event_id. Both engines run the identical
    deterministic window."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("long").alias("c_id"),
        F.lit(None).cast("double").alias("c_value"),
        F.lit(1).alias("is_p"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_id").alias("c_id"),
        F.col("value").alias("c_value"),
        F.lit(0).alias("is_p"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        purchases.unionByName(clicks)
        .select(
            "user_id",
            "ts",
            "event_id",
            "is_p",
            F.last("c_id", ignorenulls=True).over(w).alias("last_click_id"),
            F.last("c_value", ignorenulls=True).over(w).alias("last_click_value"),
        )
        .filter(F.col("is_p") == 1)
        .select("user_id", "event_id", "ts", "last_click_id", "last_click_value")
    )


# --------------------------------------------------------------------------
# W: window functions (SURVEY §2.5)
# --------------------------------------------------------------------------


def w01_row_number_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by totalprice (tie: orderkey)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def w02_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user previous/next event value (total order: ts, event_id)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


def w03_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total of value (exact long cents; rowsBetween
    unbounded-preceding→current over a total order)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.sum(cents(F.col("value"))).over(w).alias("running_cents"),
    )


def w04_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank + dense_rank of parts by size within brand."""
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_size"))
    return _t(spark, sf_dir, "part").select(
        "p_brand",
        "p_partkey",
        "p_size",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


# --------------------------------------------------------------------------
# Set ops / grouping sets (SURVEY §2.5)
# --------------------------------------------------------------------------


def set01_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("event_id", "user_id")
    b = ev.filter(F.col("event_type") == "error").select("event_id", "user_id")
    return a.unionByName(b)


def set02_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users who both clicked and purchased (INTERSECT = distinct)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return a.intersect(b)


def set03_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference: view-ing users minus signup users."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "view").select("user_id")
    b = ev.filter(F.col("event_type") == "signup").select("user_id")
    return a.exceptAll(b)


def g01_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .rollup("c_mktsegment", "c_nationkey")
        .agg(
            F.grouping("c_mktsegment").cast("int").alias("g_seg"),
            F.grouping("c_nationkey").cast("int").alias("g_nat"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def g02_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts")).cast("date")
    )
    return ev.cube("event_type", "day").agg(
        F.grouping("event_type").cast("int").alias("g_type"),
        F.grouping("day").cast("int").alias("g_day"),
        F.count(F.lit(1)).alias("n"),
    )


def g03_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via SQL (the DataFrame API has no direct
    grouping-sets builder; spark.sql is the idiomatic route)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(1) AS n
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --------------------------------------------------------------------------
# F: scalar function surface (SURVEY §2.6)
# --------------------------------------------------------------------------


def f01_string_date_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per order exercising string/date/math scalars, all
    expressed with cross-engine-deterministic ops."""
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.upper("o_orderstatus").alias("status_uc"),
        F.concat_ws("#", "o_orderstatus", "o_orderpriority").alias("tag"),
        F.length("o_orderpriority").alias("prio_len"),
        F.year("o_orderdate").cast("bigint").alias("o_year"),
        F.month("o_orderdate").cast("bigint").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("o_day"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("due_date"),
        F.abs(F.col("o_totalprice")).alias("abs_price"),
        F.pmod(F.col("o_orderkey"), F.lit(7)).cast("bigint").alias("key_mod7"),
        F.ceil("o_totalprice").cast("bigint").alias("price_ceil"),
        F.floor("o_totalprice").cast("bigint").alias("price_floor"),
    )


def f02_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order scalars over split tokens (scalarized outputs
    so the hash compares engine-neutral values)."""
    toks = F.split(F.col("p_type"), " ")
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.size(toks).alias("n_words"),
        F.element_at(toks, 1).alias("first_word"),
        F.element_at(toks, -1).alias("last_word"),
        F.array_contains(toks, "BRUSHED").cast("int").alias("has_brushed"),
        F.concat_ws("_", F.sort_array(toks)).alias("sorted_words"),
    )


def f03_json_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON + map scalar surface: from_json with an explicit schema on
    events.props, plus map construction/access — everything scalarized
    so the oracle compares engine-neutral values."""
    ev = _t(spark, sf_dir, "events")
    # BIGINT, not INT: the oracle TRY_CASTs to BIGINT, so a props value
    # like {"k": 3000000000} must parse here too, not overflow to NULL.
    parsed = F.from_json(F.col("props"), "k BIGINT")
    m = F.create_map(
        F.lit("type"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
    )
    return ev.select(
        "event_id",
        parsed["k"].alias("k_parsed"),
        F.get_json_object(F.col("props"), "$.k").cast("bigint").alias("k_path"),
        # NULL-guard: to_json drops NULL fields ('{}'), but the oracle's
        # string concat is NULL on NULL user_id — agree on NULL.
        F.when(
            F.col("user_id").isNotNull(),
            F.to_json(F.struct(F.col("user_id").alias("u"))),
        ).alias("as_json"),
        F.element_at(m, "type").alias("m_type"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


def w06_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-frame window: 4-row moving average of order value per
    customer (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW). The average is
    an exact integer cents sum over the frame divided by the exact
    frame count — one IEEE division, hash-identical cross-engine."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(-3, Window.currentRow)
    c = cents(F.col("o_totalprice"))
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        c.alias("price_cents"),
        (
            F.sum(c).over(wf).cast("double")
            / F.count(F.lit(1)).over(wf).cast("double")
        ).alias("moving_avg_cents"),
    )


W09_LOOKBACK_US = 3_600_000_000  # 1 hour in microseconds


W08_FRAME = 10  # trailing rows in the rolling-median frame (11 incl. current)


def w08_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-frame EXACT rolling median — the robust-statistics twin
    of w06's moving average (a mean is skew-fragile; monitoring
    pipelines roll medians): per event type, ordered by (ts,
    event_id), the lower median of the last W08_FRAME+1 values in
    integer cents.

    No native windowed-percentile exists in either engine with
    matching semantics, so the frame is made EXPLICIT: collect_list
    over ROWS BETWEEN 10 PRECEDING AND CURRENT ROW, array_sort, take
    element ⌈n/2⌉ — deterministic, integer-exact, identical in the
    DuckDB twin (list() window aggregate → list_sort). This is the
    honest scale contract for rolling order statistics: state per row
    is the BOUNDED frame (11 ints), never the partition — contrast
    a11, where the unbounded-global case needs the two-pass
    histogram instead."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-W08_FRAME, 0)
    )
    base = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type", "event_id", "ts", cents(F.col("value")).alias("c")
        )
    )
    frame = F.array_sort(F.collect_list("c").over(w))
    med = F.element_at(frame, F.ceil(F.size(frame) / 2).cast("int"))
    return base.select(
        "event_type",
        "event_id",
        med.alias("rolling_median_cents"),
    )


def w09_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based window frame (RANGE, not ROWS): at every event, the
    count and cents-sum of that user's events in the trailing hour —
    the "rolling lookback" feature w06's row-count frame cannot
    express (rows ≠ time when events are irregular), and the window
    shape rate-limiters and rolling-exposure features are built on.

    The frame axis is exact integer MICROSECONDS (unix_micros /
    epoch_us) so the frame boundary comparison is integer on both
    engines — a seconds-as-double axis would round differently
    (DuckDB CAST rounds, Spark CAST truncates). RANGE also makes
    same-timestamp ties deterministic by construction: equal order
    values are frame peers, included together in BOTH engines, so no
    tie-break column is needed for the frame itself.

    Scale: one shuffle on user_id, one ordered pass per partition with
    a sliding two-pointer frame — state is the lookback window, never
    the partition."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        # ts is TIMESTAMP_NTZ; the session tz is pinned UTC
        # (session.py), so the cast to instant is the identity and
        # unix_micros yields the same integers as DuckDB's epoch_us
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        cents(F.col("value")).alias("c"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-W09_LOOKBACK_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum("c").over(w).alias("sum_cents_1h"),
    ).orderBy("event_id")


_W09_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         {sql_cents('value')} AS c
  FROM events
)
SELECT event_id, user_id,
       count(1) OVER w AS n_1h,
       CAST(sum(c) OVER w AS BIGINT) AS sum_cents_1h
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY us
             RANGE BETWEEN {W09_LOOKBACK_US} PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""

A13_QUANTILES = (25, 50, 75, 90)  # percent points of the quantile matrix


def a13_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantile MATRIX (p25/p50/p75/p90 of order value
    by priority) — the latency-style percentile report, done
    structurally: the discrete q-quantile is the value at row
    ⌈q·n⌉ of the in-group sort, with the rank computed in INTEGER
    arithmetic ((q%·n + 99) DIV 100), so no float interpolation or
    rounding can diverge between engines (a08's device, widened to a
    matrix via conditional aggregation over one ranked pass).

    Ties need no tie-break column: row_number among equal values is
    arbitrary, but the VALUE at any rank is invariant under permuting
    equal values — the output is well-defined either way.

    Scale: one shuffle on the group key, one in-group sort shared by
    all four quantiles (the window n and the four picks ride the same
    partitioning), then an O(#groups) conditional rollup. A single
    giant group serializes its sort partition — a11's two-pass value
    histogram is the documented scale path for that regime; this is
    the exact form for the many-moderate-groups shape."""
    w = Window.partitionBy("o_orderpriority").orderBy("c")
    wn = Window.partitionBy("o_orderpriority")
    ranked = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            "o_orderpriority", cents(F.col("o_totalprice")).alias("c")
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    picks = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"CAST((n * {q} + 99) DIV 100 AS BIGINT)"),
                F.col("c"),
            )
        ).alias(f"p{q}_cents")
        for q in A13_QUANTILES
    ]
    return (
        ranked.groupBy("o_orderpriority")
        .agg(F.max("n").cast("long").alias("n"), *picks)
    )


_A13_PICKS = ",\n       ".join(
    f"max(CASE WHEN rn = CAST((n * {q} + 99) // 100 AS BIGINT) THEN c END)"
    f" AS p{q}_cents"
    for q in A13_QUANTILES
)
_A13_SQL = f"""
WITH b AS (
  SELECT o_orderpriority, {sql_cents('o_totalprice')} AS c
  FROM orders WHERE o_totalprice IS NOT NULL
),
r AS (
  SELECT o_orderpriority, c,
         row_number() OVER (PARTITION BY o_orderpriority ORDER BY c) AS rn,
         count(1) OVER (PARTITION BY o_orderpriority) AS n
  FROM b
)
SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n,
       {_A13_PICKS}
FROM r GROUP BY o_orderpriority
ORDER BY o_orderpriority NULLS FIRST
"""


A16_MAD_K = 3  # flag |x − median| > K · MAD


def a16_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier accounting — median + MAD (median
    absolute deviation), the data-quality screen that mean/stddev
    cannot be (one corrupt billion-dollar row drags the mean past any
    z-threshold; the median ignores it). Everything is exact integer
    cents: both medians are structural rank picks (the a08 device —
    value at row ⌈n/2⌉), and the flag |x − med| > K·MAD compares
    integers, so the report is bit-identical cross-engine with no
    float variance anywhere.

    Scale: both ranked passes and the deviation join ride ONE
    partitioning on event_type (Catalyst reuses the exchange); output
    is O(#groups). The single-giant-group caveat and its a11
    histogram escape apply as in a13."""
    base = (
        _t(spark, sf_dir, "events")
        .filter(
            F.col("value").isNotNull() & F.col("event_type").isNotNull()
        )
        .select("event_type", cents(F.col("value")).alias("c"))
    )
    wv = Window.partitionBy("event_type").orderBy("c")
    wn = Window.partitionBy("event_type")
    med = (
        base.withColumn("rn", F.row_number().over(wv))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("CAST((n + 1) DIV 2 AS BIGINT)"))
        .select("event_type", F.col("c").alias("med_cents"))
    )
    dev = base.join(med, "event_type").withColumn(
        "ad", F.abs(F.col("c") - F.col("med_cents"))
    )
    wd = Window.partitionBy("event_type").orderBy("ad")
    mad = (
        dev.withColumn("rn", F.row_number().over(wd))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("CAST((n + 1) DIV 2 AS BIGINT)"))
        .select("event_type", F.col("ad").alias("mad_cents"))
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("med_cents").alias("med_cents"),
            F.max("mad_cents").alias("mad_cents"),
            F.sum(
                F.when(
                    F.col("ad") > A16_MAD_K * F.col("mad_cents"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


_A16_SQL = f"""
WITH base AS (
  SELECT event_type, {sql_cents('value')} AS c
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
),
medr AS (
  SELECT event_type, c,
         row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn,
         count(1) OVER (PARTITION BY event_type) AS n
  FROM base
),
med AS (SELECT event_type, c AS med_cents FROM medr
        WHERE rn = CAST((n + 1) // 2 AS BIGINT)),
dev AS (
  SELECT b.event_type, b.c, m.med_cents, abs(b.c - m.med_cents) AS ad
  FROM base b JOIN med m USING (event_type)
),
madr AS (
  SELECT event_type, ad,
         row_number() OVER (PARTITION BY event_type ORDER BY ad) AS rn,
         count(1) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (SELECT event_type, ad AS mad_cents FROM madr
        WHERE rn = CAST((n + 1) // 2 AS BIGINT))
SELECT d.event_type, count(1) AS n,
       max(d.med_cents) AS med_cents,
       max(m.mad_cents) AS mad_cents,
       CAST(sum(CASE WHEN d.ad > {A16_MAD_K} * m.mad_cents
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
ORDER BY d.event_type
"""


def a15_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (Pareto) report: how much of total revenue
    sits with the biggest customers. The naive form — global rank
    desc + running share — is a single-partition sort of ALL
    customers; the scale-safe form used here rolls customers into
    floor-log2 REVENUE BUCKETS first (the a11 histogram-spine device):
    per bucket, customer count and revenue sum; then the cumulative
    revenue share scanning from the TOP bucket down, on a spine whose
    size is bounded by log2(max revenue) ≈ 40 rows, not the customer
    count. Share is integer parts-per-million of exact cents (single
    integer division, no float accumulation); the div-by-zero guard is
    explicit on both sides so empty/zero-revenue corpora agree.

    Scale: one partial-aggregatable shuffle per rollup (customer, then
    bucket), a one-row total broadcast, and an O(40) window."""
    rev = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .groupBy("o_custkey")
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("rev"))
    )
    bucketed = rev.withColumn(
        "bucket",
        F.expr(
            "CASE WHEN rev <= 0 THEN CAST(0 AS BIGINT) "
            "ELSE CAST(length(bin(rev)) AS BIGINT) END"
        ),
    )
    spine = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("rev").alias("bucket_rev_cents"),
    )
    tot = spine.agg(F.sum("bucket_rev_cents").alias("total_rev"))
    w = Window.orderBy(F.desc("bucket")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        spine.crossJoin(F.broadcast(tot))
        .withColumn("cum_rev_cents", F.sum("bucket_rev_cents").over(w))
        .select(
            "bucket",
            "n_customers",
            "bucket_rev_cents",
            "cum_rev_cents",
            F.expr(
                "CASE WHEN total_rev <= 0 THEN NULL "
                "ELSE CAST(cum_rev_cents * 1000000 DIV total_rev "
                "AS BIGINT) END"
            ).alias("cum_share_ppm"),
        )
        .orderBy(F.desc("bucket"))
    )


_A15_SQL = f"""
WITH rev AS (
  SELECT o_custkey, CAST(sum({sql_cents('o_totalprice')}) AS BIGINT) AS rev
  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY o_custkey
),
b AS (
  SELECT CASE WHEN rev <= 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(length(bin(rev)) AS BIGINT) END AS bucket, rev
  FROM rev
),
spine AS (
  SELECT bucket, count(1) AS n_customers,
         CAST(sum(rev) AS BIGINT) AS bucket_rev_cents
  FROM b GROUP BY bucket
),
t AS (SELECT CAST(sum(bucket_rev_cents) AS BIGINT) AS total_rev FROM spine)
SELECT bucket, n_customers, bucket_rev_cents,
       CAST(sum(bucket_rev_cents) OVER (
         ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_rev_cents,
       CASE WHEN total_rev <= 0 THEN NULL
            ELSE CAST(sum(bucket_rev_cents) OVER (
                   ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING)
                 * 1000000 // total_rev AS BIGINT) END AS cum_share_ppm
FROM spine, t
ORDER BY bucket DESC
"""


def a14_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — daily active users, daily NEW users, and the
    running cumulative distinct-user count. COUNT(DISTINCT) OVER a
    running frame is unsupported/quadratic in both engines; the scale
    idiom is first-touch attribution: a user is "new" on min(day), the
    cumulative distinct count is the running sum of daily new counts —
    two ordinary partial-aggregatable groupBys plus an O(#days) window.

    Activity days with zero new users still report (the day spine is
    the distinct activity days, left-joined to the new-user counts).

    Scale: one shuffle on user_id (first-touch), one on day (both
    rollups share it), then an unpartitioned running-sum window over
    the DAY spine — single-partition by construction, but its row
    count is bounded by the calendar, not the corpus, so it is safe at
    any SF (the docstring-level exception to the no-single-partition-
    window rule). Day boundaries are integer date casts on an exact
    microsecond axis — no float time."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").cast("date").alias("day")
    )
    active = ev.groupBy("day").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    first_touch = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    new_users = first_touch.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        active.join(new_users, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
        .withColumn("cum_users", F.sum("n_new").over(w))
        .orderBy("day")
    )


_A14_SQL = """
WITH ev AS (
  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events
),
active AS (
  SELECT day, count(DISTINCT user_id) AS n_active FROM ev GROUP BY day
),
ft AS (SELECT user_id, min(day) AS day FROM ev GROUP BY user_id),
nu AS (SELECT day, count(1) AS n_new FROM ft GROUP BY day)
SELECT a.day, a.n_active, coalesce(nu.n_new, 0) AS n_new,
       CAST(sum(coalesce(nu.n_new, 0)) OVER (
         ORDER BY a.day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
FROM active a LEFT JOIN nu ON a.day = nu.day
ORDER BY a.day
"""


def w12_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix — the product-analytics staple:
    users are cohorted by their FIRST active week, and each
    (cohort_week, week_no) cell counts how many of that cohort were
    active week_no weeks later, alongside the cohort size (exact
    integers; the retention ratio is the consumer's one division —
    emitting ints keeps the row hash-exact).

    Week buckets are date_trunc('week') (Monday-start in both
    engines); week_no = days-between DIV 7, exact because both
    endpoints are week-truncated dates. Scale: one distinct over
    (user, week) — the activity set, tiny relative to raw events —
    then a per-user min (cohort) and two joins that reuse the user_id
    partitioning; counts are partial-aggregated. No windows, no
    per-user state beyond the distinct."""
    active = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.date_trunc("week", F.col("ts")).cast("date").alias("wk"),
        )
        .distinct()
    )
    cohort = active.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    sizes = cohort.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    return (
        active.join(cohort, "user_id")
        .select(
            "cohort_week",
            F.expr("CAST(datediff(wk, cohort_week) DIV 7 AS BIGINT)").alias(
                "week_no"
            ),
            "user_id",
        )
        .groupBy("cohort_week", "week_no")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .orderBy("cohort_week", "week_no")
    )


_W12_SQL = """
WITH a AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
c AS (SELECT user_id, min(wk) AS cohort_week FROM a GROUP BY user_id),
sz AS (SELECT cohort_week, count(1)::BIGINT AS n_cohort
       FROM c GROUP BY cohort_week)
SELECT c.cohort_week,
       ((a.wk - c.cohort_week) // 7)::BIGINT AS week_no,
       count(DISTINCT a.user_id)::BIGINT AS n_active,
       sz.n_cohort
FROM a JOIN c USING (user_id) JOIN sz USING (cohort_week)
GROUP BY c.cohort_week, week_no, sz.n_cohort
ORDER BY cohort_week, week_no
"""


def w13_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (LOCF — last observation carried forward): per
    user, replace a NULL metric value with the most recent preceding
    non-NULL one in event order — the imputation step every
    telemetry/feature pipeline runs before resampling or training
    (st08's gapfill synthesizes missing ROWS; w13 repairs missing
    VALUES on rows that exist). Rows before a user's first observation
    stay NULL (stated, not invented); `was_filled` makes the repair
    auditable.

    Determinism: the frame is ROWS UNBOUNDED PRECEDING..CURRENT over
    the unique (ts, event_id) order, evaluated as last(value IGNORE
    NULLS) in Spark and last_value(value IGNORE NULLS) in DuckDB —
    same semantics by definition. NULL-ts rows are excluded up front
    (the engines disagree on default NULL placement in ORDER BY).

    Scale: one window partitioned by user_id — per-task state is one
    running value per partition, no shuffle beyond the user_id hash."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = F.last("value", ignorenulls=True).over(w)
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            filled.alias("filled_value"),
            (F.col("value").isNull() & filled.isNotNull())
            .cast("int")
            .alias("was_filled"),
        )
        .orderBy("event_id")
    )


_W13_SQL = """
SELECT event_id, user_id, ts, value,
       last_value(value IGNORE NULLS) OVER w AS filled_value,
       CASE WHEN value IS NULL
             AND last_value(value IGNORE NULLS) OVER w IS NOT NULL
            THEN 1 ELSE 0 END AS was_filled
FROM events
WHERE ts IS NOT NULL
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def p20_length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed curriculum ordering — the batch-scheduling step
    between quality gating and p19's sequence packing: documents train
    shortest-first in log2-length STAGES (curriculum learning's
    easy→hard schedule; equal-length batching also minimizes padding
    waste), deterministically SHUFFLED within each stage by md5(doc_id)
    so no source/ingest order leaks into training order. Output is the
    (doc_id, n_tokens, stage, ordinal) schedule, ordinal unique and
    gapless across stages.

    Scale: the global ordinal is _range_offsets' two-phase offset —
    range-partition by the unique composite sort key (stage, h,
    doc_id), read back O(#partitions) counts as offsets, ordinal =
    offset + local rank; no single-partition window. The md5 shuffle
    key means re-runs after appending documents keep every existing
    doc's relative order within its stage (content-addressed, the ml03
    property applied to ordering)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(T.raw_tokens(F.lower(F.col("text"))))
        .cast("long")
        .alias("n_tokens"),
    )
    keyed = docs.select(
        "doc_id",
        "n_tokens",
        F.length(F.bin(F.col("n_tokens"))).cast("long").alias("stage"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    rp, base = _range_offsets(
        spark, keyed, ["stage", "h", "doc_id"], F.count(F.lit(1))
    )
    w = Window.partitionBy("pid").orderBy("stage", "h", "doc_id")
    return (
        rp.withColumn("ordinal", (base + F.row_number().over(w)).cast("long"))
        .select("doc_id", "n_tokens", "stage", "ordinal")
    )


def _p20_sql() -> str:
    from .helpers import sql_raw_tokens

    return f"""
WITH d AS (SELECT doc_id,
                  len({sql_raw_tokens("lower(text)")})::BIGINT AS n_tokens
           FROM documents),
k AS (SELECT doc_id, n_tokens,
             length(bin(n_tokens))::BIGINT AS stage,
             md5(doc_id::VARCHAR) AS h
      FROM d)
SELECT doc_id, n_tokens, stage,
       row_number() OVER (ORDER BY stage, h, doc_id)::BIGINT AS ordinal
FROM k ORDER BY ordinal
"""


def w11_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars — the time-series rollup finance and metrics systems
    run: per (event_type, hour) bucket, the OPENING value (first by
    time), the HIGH/LOW extremes, and the CLOSING value (last by
    time), in exact cents. First/last-in-group is the aggregate shape
    min/max cannot express; engines' min_by/arg_min differ on
    composite orderings and ties, so both picks are structural — one
    window pass ordered by the unique (us, event_id) with row_number
    ascending and descending, then a conditional rollup.

    Scale: ONE shuffle on (event_type, hour); both row_numbers and
    the extremes ride the same window partitioning; the rollup is
    map-side combinable. Bucket math is integer microseconds."""
    base = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            cents(F.col("value")).alias("c"),
        )
        .withColumn("hour_us", F.expr("us - pmod(us, 3600000000)"))
    )
    wp = Window.partitionBy("event_type", "hour_us")
    asc = wp.orderBy("us", "event_id")
    desc = wp.orderBy(F.desc("us"), F.desc("event_id"))
    return (
        base.withColumn("rn_a", F.row_number().over(asc))
        .withColumn("rn_d", F.row_number().over(desc))
        .groupBy("event_type", "hour_us")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.when(F.col("rn_a") == 1, F.col("c"))).alias(
                "open_cents"
            ),
            F.max("c").alias("high_cents"),
            F.min("c").alias("low_cents"),
            F.max(F.when(F.col("rn_d") == 1, F.col("c"))).alias(
                "close_cents"
            ),
        )
        .orderBy("event_type", "hour_us")
    )


_W11_SQL = f"""
WITH b AS (
  SELECT event_type, event_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         {sql_cents('value')} AS c
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
),
r AS (
  SELECT event_type, c,
         us - (us % 3600000000) AS hour_us,
         row_number() OVER (PARTITION BY event_type,
                                         us - (us % 3600000000)
                            ORDER BY us, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type,
                                         us - (us % 3600000000)
                            ORDER BY us DESC, event_id DESC) AS rn_d
  FROM b
)
SELECT event_type, hour_us, count(1) AS n,
       max(CASE WHEN rn_a = 1 THEN c END) AS open_cents,
       max(c) AS high_cents, min(c) AS low_cents,
       max(CASE WHEN rn_d = 1 THEN c END) AS close_cents
FROM r GROUP BY event_type, hour_us
ORDER BY event_type, hour_us
"""


W10_GAP_US = 1_800_000_000  # 30-minute inactivity gap, in microseconds


def w10_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization — the classic lag + running-sum
    idiom behind every clickstream warehouse: a user's events belong to
    one session until a silence longer than W10_GAP_US, then the next
    event opens a new one. The streaming twin is st03's session_window;
    this is the backfill/batch form (reference has neither, but its
    events model implies it; cf. dashboard.py's per-user activity cuts).

    Deterministic by construction: the session boundary is a pure
    integer-microsecond gap comparison, and the window total order
    (us, event_id) is unique, so frame peers are single rows on both
    engines.

    Scale: ONE shuffle on user_id feeds both window passes (lag, then
    the running boundary sum — same partitioning and sort, Catalyst
    reuses the exchange); the session rollup then aggregates
    (user_id, session_seq), a refinement of user_id, with map-side
    partial aggregation. Per-partition window state is one row of
    lookback — never the partition."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        cents(F.col("value")).alias("c"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    # first event of a user: lag is NULL -> comparison NULL -> otherwise 0,
    # so the +1 below makes sessions 1-based.
    flagged = ev.withColumn(
        "new_sess",
        F.when(F.col("us") - F.lag("us").over(w) > W10_GAP_US, 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_seq", (F.sum("new_sess").over(w) + F.lit(1)).cast("long")
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("us").alias("start_us"),
            F.max("us").alias("end_us"),
            F.sum("c").alias("sum_cents"),
        )
        .orderBy("user_id", "session_seq")
    )


_W10_SQL = f"""
WITH ev AS (
  SELECT event_id, user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         {sql_cents('value')} AS c
  FROM events
),
f AS (
  SELECT *, CASE WHEN us - lag(us) OVER w > {W10_GAP_US}
                 THEN 1 ELSE 0 END AS new_sess
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
s AS (
  SELECT *, CAST(sum(new_sess) OVER w + 1 AS BIGINT) AS session_seq
  FROM f WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
)
SELECT user_id, session_seq, count(1) AS n_events,
       min(us) AS start_us, max(us) AS end_us,
       CAST(sum(c) AS BIGINT) AS sum_cents
FROM s GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""


def w07_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build — the warehouse-ETL staple: treat each
    user's event stream as a change log of their "status" (event_type),
    collapse consecutive repeats (a change record only when the status
    actually changes), and emit validity intervals
    [valid_from, valid_to) with valid_to = next change's timestamp,
    NULL + is_current=1 for the open row.

    Scale: two window passes over the SAME (user_id → ts, event_id)
    partitioning — Catalyst reuses one shuffle for both sorts; the
    filter between them only shrinks partitions. State per partition is
    one row lookback/lookahead. The total order (ts, event_id) makes
    the result deterministic under duplicate timestamps."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        _t(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts", "event_type")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    )
    # version = per-user change sequence number: the SCD2 row version,
    # and the tie-break that keeps (user_id, version) a TOTAL order
    # even when two changes share one timestamp (valid_from alone
    # would not be — the deterministic-output discipline every plan
    # follows).
    return (
        changed.select(
            "user_id",
            F.row_number().over(w).cast("long").alias("version"),
            F.col("event_type").alias("status"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
        )
        .withColumn("is_current", F.col("valid_to").isNull().cast("int"))
        .orderBy("user_id", "version")
    )


A11_BUCKET = 10_000  # histogram bucket width: 10k cents = $100


def a12_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline health accounting via ``Dataset.observe`` (the
    CollectMetrics operator) — the 100 TB way to reconcile row counts
    and money totals: the metrics are computed as accumulator-style
    aggregates DURING the main pass, so the audit costs ZERO extra
    scans (a separate count()+sum() job would double the I/O). The
    observed pass here is a real filter stage (non-null shipdates →
    the noop-equivalent count action); the query returns the observed
    values as a one-row DataFrame, so the oracle gate proves the
    observe() channel reports exactly what a declarative aggregate
    would.

    The driver-side hop is O(1) — three scalars off the Observation —
    the same shape as the metrics-JSON sink (S7)."""
    from pyspark.sql import Observation

    obs = Observation("etl_health")
    li = _t(spark, sf_dir, "lineitem")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents(F.col("l_extendedprice"))).alias("sum_price_cents"),
        F.sum(F.col("l_shipdate").isNull().cast("long")).alias(
            "null_shipdates"
        ),
    )
    # drive the observed pass with the downstream stage it instruments
    n_shipped = observed.filter(F.col("l_shipdate").isNotNull()).count()
    m = obs.get

    def _i(v):  # sums are NULL over zero rows — keep that, as SQL does
        return None if v is None else int(v)

    return spark.createDataFrame(
        [
            (
                _i(m["n_rows"]),
                _i(m["sum_price_cents"]),
                _i(m["null_shipdates"]),
                int(n_shipped),
            )
        ],
        "n_rows BIGINT, sum_price_cents BIGINT, null_shipdates BIGINT, "
        "n_shipped BIGINT",
    )


def a11_scalable_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median at scale — the two-pass histogram algorithm
    that replaces a full global sort: a GLOBAL percentile over 100 TB
    cannot sort one partition (a08's per-group percentile_disc relies
    on small groups), so pass 1 builds a fixed-width value histogram
    (one partial-aggregatable shuffle to O(#buckets) rows), the target
    bucket is located by a cumulative sum over that TINY histogram,
    and pass 2 sorts ONLY the rows inside that one bucket to extract
    the residual-rank element. The single-partition window in pass 2
    is bounded by the bucket width — the tunable memory knob — never
    by the table.

    Semantics pinned: lower median (rank ⌈N/2⌉ of the ascending
    order, percentile_disc style) of lineitem extendedprice in exact
    integer cents; the oracle computes the same rank by brute
    row_number. Output also carries N and the rank so the gate checks
    the machinery, not just the value."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
        .select(cents(F.col("l_extendedprice")).alias("c"))
    )
    hist = li.groupBy(
        F.expr(f"c DIV {A11_BUCKET}").alias("b")
    ).agg(F.count(F.lit(1)).alias("n_b"))
    # N and the target rank come from the O(#buckets) histogram —
    # never a second scan of the table
    tot = hist.agg(F.sum("n_b").alias("n")).select(
        "n", F.expr("CAST((n + 1) DIV 2 AS BIGINT)").alias("k")
    )
    wc = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sel = (
        hist.withColumn("cum", F.sum("n_b").over(wc))
        .withColumn("prev", F.col("cum") - F.col("n_b"))
        .crossJoin(F.broadcast(tot))
        .filter((F.col("cum") >= F.col("k")) & (F.col("prev") < F.col("k")))
        .select("b", (F.col("k") - F.col("prev")).alias("r"), "n", "k")
    )
    w2 = Window.orderBy("c")  # bucket-local rows only: bounded state
    return (
        li.join(
            F.broadcast(sel), F.expr(f"c DIV {A11_BUCKET}") == F.col("b")
        )
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == F.col("r"))
        .select("n", "k", F.col("c").alias("median_cents"))
    )


_A11_SQL = """
WITH v AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
t AS (SELECT count(1) AS n,
             CAST((count(1) + 1) // 2 AS BIGINT) AS k FROM v),
m AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v)
SELECT t.n, t.k, m.c AS median_cents
FROM t JOIN m ON m.rn = t.k
"""


def a09_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A7 scale path: sketch aggregates — HLL++ count-distinct and
    GK approx percentiles. At 100 TB these replace their exact twins
    (a02/a08): one pass, mergeable fixed-size state, no giant hash
    tables.

    ORACLE CONTRACT (round-6 VERDICT ask #7 — the driver-facing
    tolerance gate): raw sketch estimates can never hash-match a
    different engine, so the row carries (a) the EXACT values the
    sketches approximate — n, count-distinct, and the two-pass
    histogram-exact median/p99 cents (the a11 machinery, generalized
    to a rank table) — which DuckDB reproduces bit-for-bit, and (b)
    boolean within-tolerance verdicts comparing each sketch to its
    exact bracket, which the oracle pins to TRUE. A sketch drifting
    out of tolerance turns a flag false and the driver row red: the
    old pytest-only tolerance check is now IN the oracle gate.
    Tolerances: HLL rsd=0.02 → 3σ = 6 %; percentile_approx accuracy
    10000 → rank error ≤ ⌊n/10000⌋+1, so the estimate must lie between
    the exact values at ranks k∓(⌊n/10000⌋+1) (GK returns an observed
    element, so the value bracket is exact). The brackets themselves
    (med/p99 lo–hi cents, the integer customer tolerance) are OUTPUT
    COLUMNS the oracle recomputes exactly (round-7 ADVICE #1): the
    differential gate verifies the bracket math, leaving only the
    final sketch-vs-bracket `between` to the pinned booleans (which
    pytest independently recomputes)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    vals = o.select(cents(F.col("o_totalprice")).alias("c"))
    hist = vals.groupBy(F.expr(f"c DIV {A11_BUCKET}").alias("b")).agg(
        F.count(F.lit(1)).alias("n_b")
    )
    # six named ranks from the O(#buckets) histogram: the two targets
    # (lower median, ceil-rank p99) plus the ± rank-slack brackets
    ranks = (
        hist.agg(F.sum("n_b").alias("n"))
        .selectExpr(
            "n",
            """stack(6,
               'med_lo', greatest(1L, (n + 1) DIV 2 - (n DIV 10000 + 1)),
               'med',    (n + 1) DIV 2,
               'med_hi', least(n, (n + 1) DIV 2 + (n DIV 10000 + 1)),
               'p99_lo', greatest(1L,
                           (99 * n + 99) DIV 100 - (n DIV 10000 + 1)),
               'p99',    (99 * n + 99) DIV 100,
               'p99_hi', least(n, (99 * n + 99) DIV 100 + (n DIV 10000 + 1))
             ) AS (rk, k)""",
        )
    )
    wc = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sel = (
        hist.withColumn("cum", F.sum("n_b").over(wc))
        .withColumn("prev", F.col("cum") - F.col("n_b"))
        .join(
            F.broadcast(ranks),
            (F.col("cum") >= F.col("k")) & (F.col("prev") < F.col("k")),
        )
        .select("rk", "b", (F.col("k") - F.col("prev")).alias("r"))
    )
    # pass 2: per-rank row_number inside ONLY the selected buckets —
    # partition state bounded by bucket width, never by the table
    w2 = Window.partitionBy("rk").orderBy("c")
    kth = (
        vals.join(
            F.broadcast(sel), F.expr(f"c DIV {A11_BUCKET}") == F.col("b")
        )
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == F.col("r"))
        .groupBy()
        .agg(
            *[
                F.max(F.when(F.col("rk") == rk, F.col("c"))).alias(f"c_{rk}")
                for rk in ("med_lo", "med", "med_hi", "p99_lo", "p99", "p99_hi")
            ]
        )
    )
    # countDistinct is kept in its OWN aggregate: mixing it with the
    # sketch aggregates makes Catalyst plan the distinct via Expand and
    # evaluate the non-distinct partials PER (gid, custkey) GROUP —
    # ~100 K GK summaries at accuracy 10000 instead of 32 (measured
    # 10.1 s vs 1.5 s at sf0.1 for the one-agg form). Two narrow scans
    # + a 1-row broadcast join is the scale-correct shape.
    stats1 = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("ac"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("am"),
        F.percentile_approx("o_totalprice", 0.99, 10000).alias("ap"),
    )
    stats = stats1.crossJoin(
        F.broadcast(
            o.agg(F.countDistinct("o_custkey").alias("exact_customers"))
        )
    )
    # The tolerance brackets are EMITTED, not just applied (round-7
    # ADVICE #1): every lo/hi below is an exact integer the oracle
    # recomputes and hash-checks, so a Spark-side bug in the bracket
    # math turns the row red — the pinned-TRUE booleans only certify
    # the final `between` application of sketch vs verified bracket.
    customers_tol = F.expr("(6 * exact_customers) DIV 100")
    return stats.crossJoin(F.broadcast(kth)).select(
        "n_orders",
        "exact_customers",
        customers_tol.cast("long").alias("customers_tol"),
        F.col("c_med").alias("exact_median_cents"),
        F.col("c_med_lo").alias("med_lo_cents"),
        F.col("c_med_hi").alias("med_hi_cents"),
        F.col("c_p99").alias("exact_p99_cents"),
        F.col("c_p99_lo").alias("p99_lo_cents"),
        F.col("c_p99_hi").alias("p99_hi_cents"),
        # integer-exact 3σ (= 6 %) HLL gate: |ac − exact| ≤ ⌊6·exact/100⌋
        (
            F.abs(F.col("ac") - F.col("exact_customers")) <= customers_tol
        ).alias("approx_customers_ok"),
        # empty input: no data → the sketch is "ok" iff it returns
        # NULL (vacuously within tolerance; the BETWEEN would yield
        # NULL and diverge from the oracle's pinned TRUE)
        F.when(F.col("n_orders") == 0, F.col("am").isNull())
        .otherwise(
            cents(F.col("am")).between(F.col("c_med_lo"), F.col("c_med_hi"))
        )
        .alias("approx_median_ok"),
        F.when(F.col("n_orders") == 0, F.col("ap").isNull())
        .otherwise(
            cents(F.col("ap")).between(F.col("c_p99_lo"), F.col("c_p99_hi"))
        )
        .alias("approx_p99_ok"),
    )


def u01_grouped_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U surface (SURVEY §2.9): grouped-map applyInPandas — per-group
    min-max normalization of event value.

    The normalization itself IS expressible with window functions (the
    oracle proves it); it is deliberately implemented as an Arrow-batched
    grouped-map to exercise the custom-UDF path end-to-end. Inputs are
    exact integer cents so the one float op per row is a single IEEE
    division that both engines compute bit-identically. Group state is
    one pandas frame per event_type — bounded by the largest group, the
    documented applyInPandas constraint (skewed groups want the window
    form instead).

    NULL values are filtered JVM-side (mirrored in the oracle's WHERE):
    a NULL reaches pandas as NaN, min/max skip it, and v_norm would come
    back NaN — a real double the multiset compare distinguishes from the
    SQL NULL the oracle produces."""
    import pandas as pd

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_id", "event_type", cents(F.col("value")).alias("v_cents")
        )
    )
    schema = "event_id BIGINT, event_type STRING, v_cents BIGINT, v_norm DOUBLE"

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        lo = pdf["v_cents"].min()
        rng = pdf["v_cents"].max() - lo
        if rng == 0:
            pdf["v_norm"] = 0.0
        else:
            pdf["v_norm"] = (pdf["v_cents"] - lo) / rng
        return pdf

    return ev.groupBy("event_type").applyInPandas(norm, schema)


def _ewma_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The u03/u06 input: (user_id, event_id, ts, c) of every event
    with a value, c its value in integer cents."""
    return (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "user_id", "event_id", "ts", cents(F.col("value")).alias("c")
        )
    )


def _ewma_step(c: int, prev: int | None) -> int:
    """One step of the u03/u06 recurrence in integer cents: a user's
    first value, then (c + prev) div 2 truncated toward zero, matching
    SQL DIV / DuckDB //."""
    if prev is None:
        return int(c)
    q = int(c) + prev
    return -((-q) // 2) if q < 0 else q // 2


def _ewma_frame(pdf: pd.DataFrame, out: list[int]) -> pd.DataFrame:
    """The u03/u06 output rows: `pdf`'s keys with their EWMA values."""
    return pd.DataFrame(
        {
            "user_id": pdf["user_id"],
            "event_id": pdf["event_id"],
            "ewma_cents": out,
        }
    )


def u03_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA smoothing of event value (alpha = 1/2) in INTEGER
    cents: ewma_n = (cents_n + ewma_{n-1}) div 2 with truncating
    division — a genuinely SEQUENTIAL recurrence (each step floors, so
    no closed-form window sum exists), i.e. the class of per-key
    ordered state that Spark's window functions cannot express and
    grouped-map applyInPandas is FOR. NULL values are excluded (no
    observation, not zero).

    The integer recurrence makes the op fully oracle-checkable: the
    DuckDB twin replays it as a recursive CTE over per-user row
    numbers, and truncating div matches Python's sign-aware trunc
    below. Floating EWMA would drift per engine; this one cannot.

    Scale: one shuffle on user_id; per-group state during the pandas
    fold is one frame (the documented grouped-map bound, as u01/u02);
    the recurrence itself is O(rows per user)."""
    import pandas as pd

    ev = _ewma_events(spark, sf_dir)
    schema = "user_id BIGINT, event_id BIGINT, ewma_cents BIGINT"

    def smooth(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        out, prev = [], None
        for c in pdf["c"].astype("int64"):
            prev = _ewma_step(c, prev)
            out.append(prev)
        return _ewma_frame(pdf, out)

    # Explicit repartition on the group key (the d04/round-7 lesson,
    # r16): the grouped-map exchange is ENSURE_REQUIREMENTS, so AQE
    # coalesces the few-MB shuffle to 1-2 partitions and EVERY
    # per-group Python round trip serializes into one straggler task
    # (measured 7.5 s → 2.0 s at sf0.1, 1500 groups). groupBy reuses
    # this partitioning (same key, same width), so no extra exchange;
    # per-group Python cost is what matters, not shuffle bytes.
    return (
        ev.repartition(shuffle_width(spark), "user_id")
        .groupBy("user_id")
        .applyInPandas(smooth, schema)
    )


def u07_arrow_batch_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the SEVENTH Python surface shape, and the
    lowest-overhead one: RecordBatches flow Arrow→Arrow with NO pandas
    conversion (no Series allocation, no dtype coercion, no index),
    which is the hop to use when the Python side is itself vectorized
    (pyarrow.compute, numpy via zero-copy, tokenizers with Arrow
    bindings). The op — clip event values to [0, 100] and emit integer
    cents — is deliberately simple so the gate pins the SHAPE: every
    arithmetic step (min/max/floor/×/+) is IEEE-exact and mirrored in
    the oracle.

    Scale: pure narrow map over batches; throughput is bounded by
    Arrow IPC, not Python object churn — the mapInPandas comparison
    point is u06's docstring."""
    import pyarrow as pa

    def clip_batches(batches):
        import pyarrow.compute as pc

        for b in batches:
            v = b.column("value")
            # non-finite guard (round-7 ADVICE #3): pyarrow min/max
            # propagate NaN (Spark least/greatest treat it as largest)
            # and casting NaN/±inf to int64 raises — route non-finite
            # to NULL up front; the oracle mirrors with isfinite().
            v = pc.if_else(pc.is_finite(v), v, pa.scalar(None, pa.float64()))
            clipped = pc.min_element_wise(
                pc.max_element_wise(v, pa.scalar(0.0)), pa.scalar(100.0)
            )
            cents_i = pc.cast(
                pc.floor(
                    pc.add(pc.multiply(clipped, pa.scalar(100.0)),
                           pa.scalar(0.5))
                ),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("event_id"), cents_i],
                names=["event_id", "clipped_cents"],
            )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "value")
    )
    return ev.mapInArrow(
        clip_batches, "event_id LONG, clipped_cents LONG"
    )


_U07_SQL = """
SELECT event_id,
       CASE WHEN isfinite(value)
            THEN CAST(floor(least(greatest(value, 0.0), 100.0) * 100.0 + 0.5)
                   AS BIGINT)
       END AS clipped_cents
FROM events WHERE value IS NOT NULL
ORDER BY event_id
"""


def u06_ewma_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """u03's EXACT recurrence through the many-tiny-groups scale path.

    Grouped-map applyInPandas pays one Arrow batch + one Python call
    PER GROUP — fine for thousands of users, ruinous for millions of
    tiny keys (the shape of per-user state over a 100 TB event log).
    The scale form: repartition on the group key, sortWithinPartitions
    by (key, event order), then ONE mapInPandas pass whose fold
    carries the running state of the current key ACROSS Arrow batch
    boundaries — per-batch overhead now amortizes over every group in
    the batch instead of repeating per group. Keys never span
    partitions (hash partitioning), batches arrive in partition sort
    order, so the fold is exact; same oracle as u03, bit-identical
    rows. u03 stays registered as the grouped-map surface; this is
    the documented rewrite when group count explodes."""
    import pandas as pd

    ev = _ewma_events(spark, sf_dir)
    schema = "user_id BIGINT, event_id BIGINT, ewma_cents BIGINT"

    def fold(batches):
        prev_key, prev = None, None
        for pdf in batches:
            out = []
            for u, c in zip(
                pdf["user_id"].astype("int64"), pdf["c"].astype("int64")
            ):
                if u != prev_key:
                    prev_key, prev = u, None
                prev = _ewma_step(c, prev)
                out.append(prev)
            yield _ewma_frame(pdf, out)

    return (
        ev.repartition(shuffle_width(spark), "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(fold, schema)
    )


def u04_sentence_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (SURVEY §2.9's table-function shape: pandas_udf /
    GROUPED_AGG / applyInPandas / mapInPandas / applyInPandasWithState
    / udtf): a table function that explodes each
    document into its '[.!?]'-delimited sentence fragments with
    positions, consumed through a LATERAL correlated join.

    Arrow-optimized (useArrow=True) so rows cross the Python boundary
    in batches, keeping the no-row-at-a-time-pickling invariant the
    other four shapes hold. The op itself is deliberately
    SQL-expressible (regexp split + posexplode) so it carries a full
    DuckDB oracle — the point is gating the UDTF execution path, the
    lateral correlation, and the schema contract, exactly as u01 gates
    grouped-map against its window twin.

    Scale: the UDTF is a narrow per-row flatMap — no shuffle at all
    until the output sort; state is one row's fragments."""
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos BIGINT, sentence STRING", useArrow=True)
    class SentenceSplit:
        def eval(self, text):
            i = 0
            for p in _re.split(r"[.!?]", text or ""):
                if p:
                    i += 1
                    yield i, p

    spark.udtf.register("u04_sentences", SentenceSplit)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.sentence
        FROM {docs} d, LATERAL u04_sentences(d.text) s
        ORDER BY d.doc_id, s.pos
        """,
        docs=docs,
    )


def u05_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the sixth and last Python-surface
    shape (SURVEY §2.9): a vectorized Arrow-batched aggregate function
    usable inside groupBy().agg(), here computing the exact trimmed
    mean (drop one min + one max, then integer-average the rest) of
    purchase values per event type, in cents.

    Determinism scheme: inputs arrive as exact long cents, the Python
    side computes (sum - min - max) // (n - 2) with arbitrary-precision
    ints, and the oracle states the identical integer expression —
    values are pinned positive (value > 0 filter) so Python's floor
    division and DuckDB's truncating // agree. Like u01/u04, the op is
    deliberately SQL-expressible: the point is gating the GROUPED_AGG
    execution path (partial Arrow batches per group, JVM merge), not
    novel math.

    Scale: GROUPED_AGG shuffles only the grouping key + needed column
    (Catalyst prunes the rest), and the UDF receives each group as
    Arrow batches — no collect, no per-row Python."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def trimmed_mean_cents(c: pd.Series) -> int:
        vals = c.astype("int64")
        if len(vals) <= 2:  # nothing left after trimming min+max
            return None
        # the sum runs over PYTHON ints (tolist), not numpy int64 —
        # an int64 accumulator would wrap past 2^63 while the oracle's
        # HUGEINT sum stays exact; min/max don't accumulate, so the
        # vectorized numpy forms are safe
        total = sum(vals.tolist())
        return (total - int(vals.min()) - int(vals.max())) // (
            len(vals) - 2
        )

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value") > 0)
        .select("event_type", cents(F.col("value")).alias("c"))
    )
    # Spark disallows mixing GROUPED_AGG pandas UDFs with built-in
    # aggregates in one agg() — the UDF is the sole aggregate here.
    return (
        ev.groupBy("event_type")
        .agg(trimmed_mean_cents(F.col("c")).alias("trimmed_cents"))
        .orderBy("event_type")
    )


_U05_SQL = f"""
SELECT event_type,
       CASE WHEN count(1) <= 2 THEN NULL
            ELSE CAST((sum(c) - min(c) - max(c)) // (count(1) - 2)
                      AS BIGINT) END AS trimmed_cents
FROM (SELECT event_type, {sql_cents('value')} AS c
      FROM events WHERE value > 0)
GROUP BY event_type ORDER BY event_type
"""


PACK_BUDGET = 128   # token budget per packed training sequence
PACK_SHARDS = 8     # deterministic shards; packing is sequential per shard


def u02_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining batches: greedily pack documents
    (in doc_id order) into fixed token-budget sequences — the step that
    turns a cleaned corpus into dense training examples. Greedy packing
    is inherently sequential, so the corpus is split into deterministic
    shards (doc_id % PACK_SHARDS) and packed independently per shard:
    parallelism scales with shard count, not 1, and the assignment is
    reproducible across runs/engines/cluster sizes. Output: for every
    doc, its (shard, seq_id within shard, token offset within the
    packed sequence). A doc larger than the budget opens its own
    (overflowing) sequence rather than being dropped — truncation is a
    downstream policy.

    Token counts are computed JVM-side before grouping; the pandas hop
    does only the O(rows-per-shard) sequential fold (Arrow-batched,
    the documented grouped-map path for order-dependent state that
    window functions cannot express — a running sum with reset). The
    oracle is the same fold as a recursive CTE."""
    import pandas as pd

    toks = F.size(T.raw_tokens(F.lower(F.col("text")))).cast("long")
    base = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.pmod(F.col("doc_id"), F.lit(PACK_SHARDS)).cast("long").alias(
            "shard"
        ),
        toks.alias("n_tokens"),
    )
    schema = (
        "doc_id BIGINT, shard BIGINT, n_tokens BIGINT, "
        "seq_id BIGINT, tok_offset BIGINT"
    )
    budget = PACK_BUDGET

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seq_ids, offsets = [], []
        seq, filled = 0, 0
        for i, n in enumerate(pdf["n_tokens"]):
            if i > 0 and filled + n > budget:
                seq += 1
                filled = 0
            seq_ids.append(seq)
            offsets.append(filled)
            filled += n
        pdf["seq_id"] = pd.Series(seq_ids, dtype="int64")
        pdf["tok_offset"] = pd.Series(offsets, dtype="int64")
        return pdf

    return base.groupBy("shard").applyInPandas(pack, schema)


# --------------------------------------------------------------------------
# Extended surface: more TPC-H shapes, window frames, pivot, skew handling
# --------------------------------------------------------------------------


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: the canonical predicate-pushdown showcase — all
    four filters are plain column predicates on scan columns, so they
    reach the parquet reader (PushedFilters) and only 3 columns are
    read (ReadSchema); the agg is a single map-side partial sum of
    exact 1e4-scaled longs."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                scaled(F.col("l_extendedprice") * F.col("l_discount"), 4)
            ).alias("revenue_e4"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer — big
    fact⋈fact equi-join (orders⋈lineitem, SMJ/AQE's call), customer
    joined on custkey, tiny nation broadcast, top-20 tie-broken."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                scaled(
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
                    4,
                )
            ).alias("revenue_e4")
        )
        .orderBy(F.desc("revenue_e4"), "c_custkey")
        .limit(20)
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per part, the supplier offering the minimum cost
    — the correlated subquery (`cost = (SELECT min(cost) ...)`)
    rewritten as a window keep-first, which computes every part's
    answer in ONE pass instead of re-executing the subquery per row.
    Unique tie-break (cost, suppkey, orderkey, linenumber) makes the
    surviving row deterministic."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        cents(F.col("l_extendedprice")).alias("cost_cents"),
    )
    w = Window.partitionBy("l_partkey").orderBy(
        "cost_cents", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    best = (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_partkey", "l_suppkey", "cost_cents")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        best.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", "s_suppkey", "s_name", "n_name", "cost_cents")
        .orderBy("l_partkey")
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts for orders with at least
    one lineitem — an EXISTS subquery expressed as a left-semi join
    (no duplication of the orders side, lineitem never projected)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts (high/low priority) per
    return flag — one pass, two map-side conditional sums, no second
    scan or join for the CASE split."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    # coalesce: isin() on a NULL priority yields NULL, which sum() would
    # silently drop from BOTH counts; the oracle's CASE ... ELSE 1 puts
    # NULL priorities in low_count, so pin that here too.
    high = F.coalesce(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long"),
        F.lit(0),
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(high).alias("high_count"),
            F.sum(1 - high).alias("low_count"),
        )
        .orderBy("l_returnflag")
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-revenue share — conditional aggregation
    over a fact⋈dim join; both sums are exact scaled longs and the
    share is one final IEEE division."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1995-04-01").cast("timestamp_ntz"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = scaled(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4)
    promo = F.col("p_type").startswith("ECONOMY")
    agg = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(promo, rev).otherwise(F.lit(0))).alias("promo_e4"),
            F.sum(rev).alias("total_e4"),
        )
    )
    return agg.select(
        "promo_e4",
        "total_e4",
        (
            F.lit(100.0) * F.col("promo_e4").cast("double")
            / F.col("total_e4").cast("double")
        ).alias("promo_pct"),
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers with any order above a quantity
    threshold — aggregate-then-HAVING on the fact table first (shrinks
    to the rare keys), then joins only the survivors."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(cents(F.col("l_quantity"))).alias("sum_qty_cents"))
        .filter(F.col("sum_qty_cents") > 200 * 100)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", cents(F.col("o_totalprice")).alias("total_cents")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_date"),
            "total_cents",
            "sum_qty_cents",
        )
        .orderBy(F.desc("total_cents"), "o_orderkey")
        .limit(100)
    )


def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — the correlated SCALAR-AGGREGATE subquery
    ("rows below 20% of their group's average", the compare-each-row-
    to-its-group-aggregate query a real user writes daily): revenue
    from Brand#4 lineitems with quantity below 20% of that part's
    average quantity, reported as avg_yearly = sum(price)/7.

    Decorrelation: ONE per-part pre-aggregate (sum, count) joined back
    to the fact rows — the subquery never re-executes per row. The
    filtered part dim broadcasts; lineitem is touched twice (agg +
    fact side) but each scan prunes to 3 columns and pushes the
    partkey semi-filter down. The threshold compare is exact integer
    math: qty < 0.2·(sum/cnt) ⟺ 5·qty·cnt < sum (cnt > 0) — no float
    division to diverge cross-engine. Oracle twin is the CORRELATED
    original (two scalar subqueries), so the differential gate proves
    the rewrite, not just reproduces it."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        cents(F.col("l_quantity")).alias("qty_cents"),
        cents(F.col("l_extendedprice")).alias("price_cents"),
    )
    brand_li = li.join(
        F.broadcast(p), F.col("l_partkey") == F.col("p_partkey")
    ).drop("p_partkey")
    per_part = brand_li.groupBy("l_partkey").agg(
        F.sum("qty_cents").alias("sum_qty_cents"),
        F.count(F.lit(1)).alias("cnt"),
    )
    small = brand_li.join(per_part, "l_partkey").filter(
        F.col("qty_cents") * F.col("cnt") * F.lit(5) < F.col("sum_qty_cents")
    )
    return small.agg(
        F.sum("price_cents").alias("sum_price_cents"),
        (F.sum("price_cents").cast("double") / F.lit(700.0)).alias(
            "avg_yearly"
        ),
    )


def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — EXISTS + NOT-EXISTS over sibling rows: for
    finalized ('F') orders, suppliers that were the ONLY supplier with
    a returned ('R') item on a multi-supplier order, counted per
    supplier.

    Decorrelation: both correlated EXISTS collapse into ONE per-order
    aggregate — n_supp = countDistinct(supplier), n_bad_supp =
    countDistinct(supplier | returned) — and an order qualifies iff
    n_supp ≥ 2 (the EXISTS: some other supplier on the order) and
    n_bad_supp = 1 (the NOT EXISTS: no OTHER supplier also returned).
    Because a qualifying order has EXACTLY one bad supplier, the same
    aggregate recovers both the supplier (max over the returned rows'
    keys) and that supplier's returned-row count — so lineitem is
    scanned ONCE, with no re-join of fact rows against the aggregate:
    one shuffle on l_orderkey, then the (tiny) qualifying-orders set
    joins the broadcast supplier dim. NULL-suppkey returned rows are
    excluded from the count exactly as the correlated original drops
    them at the supplier join (pinned by the edge fixture). Oracle
    twin is the CORRELATED EXISTS/NOT-EXISTS original.
    (l_receiptdate/l_commitdate don't exist in this schema;
    returnflag='R' is the per-row "late" predicate.)"""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    fo_li = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).drop(
        "o_orderkey"
    )
    bad = F.col("l_returnflag") == "R"
    bad_supp = F.when(bad, F.col("l_suppkey"))
    per_order = fo_li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(bad_supp).alias("n_bad_supp"),
        F.max(bad_supp).alias("bad_supp"),
        F.sum(
            F.when(bad & F.col("l_suppkey").isNotNull(), 1).otherwise(0)
        ).alias("n_bad_rows"),
    )
    qual = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_bad_supp") == 1)
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        qual.join(F.broadcast(s), F.col("bad_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("n_bad_rows").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — global scalar-aggregate threshold + NOT
    EXISTS: per nation, the count and total balance of customers whose
    balance exceeds the average positive balance and who have no
    FINALIZED ('F') order (in this dataset every customer has ordered,
    so the classic never-ordered predicate would be vacuously empty —
    the status filter keeps the anti-join differential non-trivial).

    The global threshold is ONE tiny aggregate row broadcast-cross-
    joined to every customer — no driver collect, no re-executed
    subquery. Exact integer compare: bal > sum/cnt ⟺ bal·cnt > sum.
    NOT EXISTS is a left-anti join on custkey over the filtered
    orders. Oracle twin is the correlated original."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", cents(F.col("c_acctbal")).alias("bal_cents")
    )
    thr = c.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("sum_pos"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    rich = c.crossJoin(F.broadcast(thr)).filter(
        F.col("bal_cents") * F.col("n_pos") > F.col("sum_pos")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
    )
    idle = rich.join(
        o, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        idle.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal_cents").alias("total_bal_cents"),
        )
        .orderBy("c_nationkey")
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — national market share: per order year, the
    fraction of ASIA-region ECONOMY-part revenue supplied by NATION_1.

    The 8-table join tree orders itself around the two big-fact
    shuffles (lineitem⋈orders on orderkey, then ⋈customer on custkey);
    nation/region are hinted broadcasts (≤25 rows by schema), while
    part/supplier/customer are left to AQE, which broadcasts them at
    bench scale but can fall back to shuffle joins at 100 TB where
    part alone is billions of rows. The share is two exact scaled-long
    conditional sums and ONE final IEEE division. (Reference parity:
    multi-dim revenue share; adapted to this schema's single-word
    p_type and synthetic nation names.)"""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        scaled(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
        ).alias("vol_e4"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("bigint").alias("o_year")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    cn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    r = (
        _t(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name")
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    nation_vol = F.when(F.col("sn_name") == "NATION_1", F.col("vol_e4")).otherwise(
        F.lit(0)
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == F.col("r_regionkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("o_year")
        .agg(
            F.sum(nation_vol).alias("nation_e4"),
            F.sum("vol_e4").alias("total_e4"),
        )
        .select(
            "o_year",
            "nation_e4",
            "total_e4",
            (
                F.col("nation_e4").cast("double")
                / F.col("total_e4").cast("double")
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — product-type profit by supplier nation and
    order year for 'widget' parts. No partsupp table exists in this
    schema, so supply cost is modeled as half the part's retail price
    per unit: profit = extprice·(1−disc) − 0.5·retailprice·qty, an
    exact scaled-long (6 decimals) so partial-aggregation order can't
    perturb the sum. Name-filtered part prunes the fact early (the
    LIKE is evaluated on the broadcast-or-AQE dim side, never per
    lineitem row); nation is a hinted broadcast."""
    amount = scaled(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity"),
        6,
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("bigint").alias("o_year")
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn("amount_e6", amount)
        .groupBy("n_name", "o_year")
        .agg(F.sum("amount_e6").alias("profit_e6"))
        .orderBy("n_name", "o_year")
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — group aggregate vs GLOBAL scalar aggregate:
    parts whose EUROPE-supplied value exceeds 0.1% of the total
    EUROPE-supplied value. No partsupp table: per-part value is the
    sum of lineitem extendedprice over EUROPE suppliers.

    The global total re-aggregates the per-part sums (no second fact
    scan) and arrives as a ONE-row broadcast cross join — the same
    pattern as q22's threshold; the compare is exact long·1000 vs
    long, no float epsilon. The two consumers (threshold row + filtered
    output) share the per-part aggregate's shuffle through a
    ReusedExchange, so nothing is cached."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", cents(F.col("l_extendedprice")).alias("val_cents")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = (
        _t(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    per_part = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("l_partkey")
        .agg(F.sum("val_cents").alias("value_cents"))
    )
    total = per_part.agg(F.sum("value_cents").alias("grand_cents"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * F.lit(1000) > F.col("grand_cents"))
        .select("l_partkey", "value_cents")
        .orderBy(F.desc("value_cents"), "l_partkey")
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — customer order-count distribution including
    zero-order customers: LEFT OUTER join customer→orders (minus
    '5-LOW'-priority orders, the analog of Q13's comment exclusion),
    count per customer (count(o_orderkey) skips the null-extended
    rows), then the distribution of those counts. Two shuffles total:
    custkey, then c_count; both aggregations are map-side partial."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .select("o_orderkey", "o_custkey")
    )
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — supplier(s) with the maximum quarterly
    revenue: the revenue view aggregates the date-pruned fact, the
    global max re-aggregates that view into ONE broadcast row (q22/q11
    pattern — no driver collect), and the equality filter keeps every
    tied supplier, exactly like the correlated `= (SELECT max(...))`
    original. Revenue is an exact scaled-long so ties are decided on
    integers, not float last-bits. The max side aggregates the
    three-month slice a second time (about 0.05 s at sf0.01 on 4
    cores) rather than caching the view."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            scaled(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
            )
        ).alias("total_rev_e4")
    )
    best = revenue.agg(F.max("total_rev_e4").alias("max_rev"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("total_rev_e4") == F.col("max_rev"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev_e4")
        .orderBy("s_suppkey")
    )


def q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — supplier count per (brand, type, size) for a
    size whitelist, excluding one brand, one type, and all suppliers
    with negative balance (the complaints analog, a NOT-IN expressed
    as a broadcast left-anti join — null-safe because s_suppkey is a
    key). No partsupp table: the part↔supplier bridge is the DISTINCT
    (l_partkey, l_suppkey) pairs of lineitem, which dedups BEFORE the
    dim join so the countDistinct shuffle carries each pair once."""
    # NOT-IN semantics: a NULL outer key yields NULL (dropped) in SQL,
    # but a left-anti join KEEPS never-matching NULL keys — filter them
    # so a parts group can't appear with supplier_cnt 0 (edge-pinned).
    bridge = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_suppkey").isNotNull())
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#3")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        bridge.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — nested IN + correlated aggregate threshold:
    suppliers who shipped MORE THAN HALF of some red part's total 1997
    volume (no partsupp/availqty in this schema, so the excess-stock
    predicate becomes a dominant-supplier predicate over the same
    correlated per-part aggregate).

    Decorrelation: one (partkey, suppkey) aggregate over the
    name+date-pruned fact, the per-part total via a window over the
    ALREADY-aggregated rows (same shuffle key — no second fact scan,
    no re-join), the integer compare 2·pair > total, then a semi-join
    into the supplier dim. Oracle twin keeps the correlated original."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .select("l_partkey", "l_suppkey", cents(F.col("l_quantity")).alias("qty_cents"))
    )
    pair = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("qty_cents").alias("pair_qty"))
    )
    part_total = Window.partitionBy("l_partkey")
    dominant = (
        pair.withColumn("part_qty", F.sum("pair_qty").over(part_total))
        .filter(F.lit(2) * F.col("pair_qty") > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


def w05_ntile_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window surface beyond w01-w04: ntile quartiles, percent_rank,
    cume_dist, and first/last_value over an explicit ROWS frame. The
    ordering key (c_acctbal, c_custkey) is unique so every function is
    deterministic; percent_rank/cume_dist are single IEEE divisions of
    exact integer rank counts (hash-identical cross-engine)."""
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey", "c_acctbal")
        .withColumn("quartile", F.ntile(4).over(w).cast("bigint"))
        .withColumn("pct_rank", F.percent_rank().over(w))
        .withColumn("cume", F.cume_dist().over(w))
        .withColumn("run_min_bal", F.first("c_acctbal").over(wf))
        .withColumn("cur_bal", F.last("c_acctbal").over(wf))
    )


def g04_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide group-count): order counts per priority × status.
    Explicit pivot values keep the plan one-pass (no distinct-values
    pre-query) and make output columns static for the oracle."""
    piv = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(s), F.lit(0)).cast("bigint").alias(f"n_{s.lower()}")
            for s in ("O", "F", "P")
        ],
    ).orderBy("o_orderpriority")


def j09_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation: events.event_type has very few
    distinct values (every row lands on ~5 reducers in the naive plan),
    so stage 1 pre-aggregates on (event_type, salt16) spreading each hot
    key over 16 reducers, and stage 2 merges the 16 partials per key.
    Result is identical to the direct groupBy (the oracle proves it);
    only the shuffle distribution changes. Long sums are order-free so
    the two-stage split is exact."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(16))
    )
    partial = ev.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(cents(F.col("value"))).alias("psum"),
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pn").alias("n"),
            F.sum("psum").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


def a08_median_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete median (lower) of customer balance per nation.

    percentile/quantile built-ins interpolate differently per engine,
    so the median is computed structurally: the row at position
    ceil(n/2) in the unique (c_acctbal, c_custkey) order — identical
    in any engine, no float interpolation."""
    w = Window.partitionBy("c_nationkey").orderBy("bal_cents", "c_custkey")
    return (
        _t(spark, sf_dir, "customer")
        # NULL balances are excluded like any aggregate would (a NULL
        # sort key would otherwise become the "lowest" value and make
        # the median NULL under Spark's ASC-NULLS-FIRST)
        .filter(F.col("c_acctbal").isNotNull())
        .select(
            "c_nationkey",
            cents(F.col("c_acctbal")).alias("bal_cents"),
            "c_custkey",
        )
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("c_nationkey")))
        .filter(F.col("rn") == F.ceil(F.col("n") / 2))
        .select("c_nationkey", F.col("bal_cents").alias("median_cents"))
        .orderBy("c_nationkey")
    )


# Shared by u03 (grouped-map surface) and u06 (many-tiny-groups
# mapInPandas rewrite): one oracle, two execution strategies.
_EWMA_SQL = f"""
WITH RECURSIVE b AS (
  SELECT user_id, event_id, {sql_cents('value')} AS c,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE value IS NOT NULL
),
rec AS (
  SELECT user_id, event_id, rn, c AS ewma_cents
  FROM b WHERE rn = 1
  UNION ALL
  SELECT b.user_id, b.event_id, b.rn,
         (b.c + rec.ewma_cents) // 2
  FROM b JOIN rec
    ON b.user_id = rec.user_id AND b.rn = rec.rn + 1
)
SELECT user_id, event_id, ewma_cents
FROM rec ORDER BY user_id, event_id
"""

SPECS = [
    QuerySpec(
        "p01_project_sort",
        p01_project_sort,
        "SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey",
    ),
    QuerySpec(
        "p02_drop_columns",
        p02_drop_columns,
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
        "FROM orders",
    ),
    QuerySpec(
        "p03_dedup_keep_first",
        p03_dedup_keep_first,
        """
        SELECT user_id, event_type, event_id, ts FROM (
          SELECT user_id, event_type, event_id, ts,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts, event_id) AS rn
          FROM events) WHERE rn = 1
        """,
    ),
    QuerySpec(
        "p04_coerce_cast",
        p04_coerce_cast,
        """
        SELECT o_orderkey,
               CAST(try_strptime(strftime(o_orderdate, '%m/%d/%Y'),
                                 '%m/%d/%Y') AS DATE) AS parsed_date,
               TRY_CAST(o_orderpriority AS DATE) AS bad_parse
        FROM orders
        """,
    ),
    QuerySpec(
        "p05_lowercase_rename",
        p05_lowercase_rename,
        "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    ),
    QuerySpec(
        "p06_ordinal",
        p06_ordinal,
        "SELECT s_suppkey, s_name, "
        "row_number() OVER (ORDER BY s_suppkey) AS ordinal FROM supplier",
    ),
    QuerySpec(
        "p16_scalable_ordinal",
        p16_scalable_ordinal,
        """
        SELECT event_id, user_id,
               row_number() OVER (ORDER BY event_id) AS ordinal
        FROM events ORDER BY event_id
        """,
    ),
    QuerySpec(
        "p07_filter_nonempty",
        p07_filter_nonempty,
        "SELECT doc_id, lang, n_chars FROM documents WHERE length(trim(text)) > 0",
    ),
    QuerySpec(
        "p08_filter_eq",
        p08_filter_eq,
        "SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'",
    ),
    QuerySpec(
        "p09_select",
        p09_select,
        "SELECT o_orderkey, o_totalprice FROM orders",
    ),
    QuerySpec(
        "p10_limit_topk",
        p10_limit_topk,
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    ),
    QuerySpec(
        "p11_derived_json",
        p11_derived_json,
        """
        SELECT event_id,
               -- TRY_CAST+nullif: no-match yields '' and DuckDB CAST('')
               -- errors, while Spark's non-ANSI cast yields NULL
               TRY_CAST(nullif(regexp_extract(props, '"k": (\\d+)', 1), '')
                 AS INTEGER) AS k,
               upper(event_type) AS event_type_uc
        FROM events
        """,
    ),
    QuerySpec(
        "p12_deterministic_sample",
        p12_deterministic_sample,
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE substr(md5(o_orderkey::VARCHAR), 1, 4) < '199a'
        """,
    ),
    QuerySpec(
        "p13_group_quota_sample",
        p13_group_quota_sample,
        """
        SELECT c_custkey, c_mktsegment FROM (
          SELECT c_custkey, c_mktsegment,
                 row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY md5(c_custkey::VARCHAR),
                                             c_custkey) AS rn
          FROM customer) t
        WHERE rn <= 3
        ORDER BY c_mktsegment, c_custkey
        """,
    ),
    QuerySpec(
        "p14_weighted_mix",
        p14_weighted_mix,
        """
        WITH s AS (SELECT lang, count(*)::BIGINT AS n_g
                   FROM documents GROUP BY lang),
             t AS (SELECT sum(n_g)::BIGINT AS n_total,
                          count(*)::BIGINT AS n_groups FROM s),
             r AS (SELECT lang,
                          least(1.0::DOUBLE,
                                (0.4::DOUBLE * n_total::DOUBLE)
                                / (n_groups * n_g)::DOUBLE) AS rate
                   FROM s, t)
        SELECT d.doc_id, d.lang, r.rate
        FROM documents d JOIN r USING (lang)
        WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 4))::INT::DOUBLE
              < r.rate * 65536.0
        """,
    ),
    QuerySpec("p17_oversample_mix", p17_oversample_mix, _p17_oracle()),
    QuerySpec("p18_temperature_mix", p18_temperature_mix, _P18_SQL),
    QuerySpec("p19_sequence_pack", p19_sequence_pack, _p19_oracle()),
    QuerySpec(
        "a01_group_count",
        a01_group_count,
        "SELECT event_type, count(1) AS n FROM events "
        "WHERE event_type IS NOT NULL GROUP BY event_type "
        "ORDER BY n DESC, event_type",
    ),
    QuerySpec("a10_funnel_stages", a10_funnel_stages, _A10_SQL),
    QuerySpec("a11_scalable_median", a11_scalable_median, _A11_SQL),
    QuerySpec("a13_grouped_quantiles", a13_grouped_quantiles, _A13_SQL),
    QuerySpec("a14_running_distinct", a14_running_distinct, _A14_SQL),
    QuerySpec(
        "a15_revenue_concentration", a15_revenue_concentration, _A15_SQL
    ),
    QuerySpec("a16_mad_outliers", a16_mad_outliers, _A16_SQL),
    QuerySpec("u07_arrow_batch_clip", u07_arrow_batch_clip, _U07_SQL),
    QuerySpec(
        "a12_observed_metrics",
        a12_observed_metrics,
        f"""
        SELECT count(1) AS n_rows,
               CAST(sum({sql_cents('l_extendedprice')}) AS BIGINT)
                 AS sum_price_cents,
               CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS null_shipdates,
               count(l_shipdate) AS n_shipped
        FROM lineitem
        """,
    ),
    QuerySpec(
        "a02_count_distinct",
        a02_count_distinct,
        "SELECT count(DISTINCT o_custkey) AS n_customers, "
        "count(DISTINCT o_orderstatus) AS n_statuses, "
        "count(1) AS n_orders FROM orders",
    ),
    QuerySpec(
        "a03_null_counts",
        a03_null_counts,
        "SELECT "
        + ", ".join(
            f"CAST(count(*) - count({c}) AS BIGINT) AS nulls_{c}"
            for c in [
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_totalprice",
                "o_orderdate",
                "o_orderpriority",
            ]
        )
        + " FROM orders",
    ),
    QuerySpec(
        "a04_row_count",
        a04_row_count,
        "SELECT count(1) AS n_rows FROM lineitem",
    ),
    QuerySpec(
        "a05_distinct_sort",
        a05_distinct_sort,
        "SELECT DISTINCT event_type FROM events ORDER BY event_type",
    ),
    QuerySpec(
        "a07_summary_stats",
        a07_summary_stats,
        f"""
        SELECT count(1) AS n_rows,
               min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
               CAST(sum({sql_cents('l_quantity')}) AS BIGINT) AS sum_qty_cents,
               min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price,
               CAST(sum({sql_cents('l_extendedprice')}) AS BIGINT) AS sum_price_cents
        FROM lineitem
        """,
    ),
    QuerySpec(
        "q1_pricing_summary",
        q1_pricing_summary,
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(sum({sql_cents('l_quantity')}) AS BIGINT) AS sum_qty_cents,
               CAST(sum({sql_cents('l_extendedprice')}) AS BIGINT) AS sum_base_cents,
               CAST(sum({sql_scaled('l_extendedprice * (1 - l_discount)', 4)}) AS BIGINT)
                 AS sum_disc_price_e4,
               CAST(sum({sql_scaled('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)}) AS BIGINT)
                 AS sum_charge_e6,
               (CAST(sum({sql_cents('l_quantity')}) AS BIGINT) / 100.0) / count(1) AS avg_qty,
               (CAST(sum({sql_cents('l_extendedprice')}) AS BIGINT) / 100.0) / count(1) AS avg_price,
               count(1) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """,
    ),
    QuerySpec(
        "q3_shipping_priority",
        q3_shipping_priority,
        f"""
        SELECT o_orderkey, o_orderdate,
               CAST(sum({sql_scaled('l_extendedprice * (1 - l_discount)', 4)}) AS BIGINT)
                 AS revenue_e4
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue_e4 DESC, o_orderkey LIMIT 10
        """,
    ),
    QuerySpec(
        "q5_local_supplier_volume",
        q5_local_supplier_volume,
        f"""
        SELECT n_name,
               CAST(sum({sql_scaled('l_extendedprice * (1 - l_discount)', 4)}) AS BIGINT)
                 AS revenue_e4
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
        GROUP BY n_name
        ORDER BY revenue_e4 DESC, n_name
        """,
    ),
    QuerySpec(
        "j01_broadcast_theme_label",
        j01_broadcast_theme_label,
        """
        WITH labels(topic, theme) AS (VALUES
          (0, 'Customer Support Issues'),
          (1, 'Billing & Subscription Problems'),
          (2, 'Service Quality Concerns'),
          (3, 'Account Management Issues'),
          (4, 'Delivery & Product Issues'))
        SELECT e.event_id, CAST(e.user_id % 7 AS INTEGER) AS topic, l.theme
        FROM events e
        LEFT JOIN labels l ON CAST(e.user_id % 7 AS INTEGER) = l.topic
        """,
    ),
    QuerySpec(
        "q17_small_qty_revenue",
        q17_small_qty_revenue,
        f"""
        SELECT CAST(sum(pc) AS BIGINT) AS sum_price_cents,
               CAST(sum(pc) AS BIGINT)::DOUBLE / 700.0 AS avg_yearly
        FROM (
          SELECT {sql_cents('l1.l_extendedprice')} AS pc
          FROM lineitem l1 JOIN part p ON p.p_partkey = l1.l_partkey
          WHERE p.p_brand = 'Brand#4'
            AND 5 * {sql_cents('l1.l_quantity')}
                  * (SELECT count(*) FROM lineitem l2
                     WHERE l2.l_partkey = l1.l_partkey)
                < (SELECT CAST(sum({sql_cents('l2.l_quantity')}) AS BIGINT)
                   FROM lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
        ) t
        """,
    ),
    QuerySpec(
        "q21_waiting_supplier",
        q21_waiting_supplier,
        """
        SELECT s_name, count(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
        """,
    ),
    QuerySpec(
        "q22_idle_customers",
        q22_idle_customers,
        f"""
        SELECT c_nationkey,
               count(*) AS numcust,
               CAST(sum({sql_cents('c_acctbal')}) AS BIGINT)
                 AS total_bal_cents
        FROM customer
        WHERE {sql_cents('c_acctbal')}
                * (SELECT count(*) FROM customer c2
                   WHERE {sql_cents('c2.c_acctbal')} > 0)
              > (SELECT CAST(sum({sql_cents('c2.c_acctbal')}) AS BIGINT)
                 FROM customer c2 WHERE {sql_cents('c2.c_acctbal')} > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderstatus = 'F')
        GROUP BY c_nationkey
        ORDER BY c_nationkey
        """,
    ),
    QuerySpec(
        "q8_market_share",
        q8_market_share,
        f"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(sum(CASE WHEN sn.n_name = 'NATION_1'
                             THEN {sql_scaled('l_extendedprice * (1 - l_discount)', 4)}
                             ELSE 0 END) AS BIGINT) AS nation_e4,
               CAST(sum({sql_scaled('l_extendedprice * (1 - l_discount)', 4)}) AS BIGINT)
                 AS total_e4,
               CAST(sum(CASE WHEN sn.n_name = 'NATION_1'
                             THEN {sql_scaled('l_extendedprice * (1 - l_discount)', 4)}
                             ELSE 0 END) AS BIGINT)::DOUBLE
                 / CAST(sum({sql_scaled('l_extendedprice * (1 - l_discount)', 4)}) AS BIGINT)::DOUBLE
                 AS mkt_share
        FROM lineitem
        JOIN orders    ON l_orderkey = o_orderkey
        JOIN customer  ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region    ON cn.n_regionkey = r_regionkey
        JOIN supplier  ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN part      ON l_partkey = p_partkey
        WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        GROUP BY 1 ORDER BY 1
        """,
    ),
    QuerySpec(
        "q9_product_profit",
        q9_product_profit,
        """
        SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
                                    - 0.5 * p_retailprice * l_quantity)
                                   * 1000000) AS BIGINT)) AS BIGINT) AS profit_e6
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2 ORDER BY 1, 2
        """,
    ),
    QuerySpec(
        "q11_important_stock",
        q11_important_stock,
        f"""
        SELECT l_partkey,
               CAST(sum({sql_cents('l_extendedprice')}) AS BIGINT) AS value_cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
        GROUP BY l_partkey
        HAVING CAST(sum({sql_cents('l_extendedprice')}) AS BIGINT) * 1000
             > (SELECT CAST(sum({sql_cents('l_extendedprice')}) AS BIGINT)
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation   ON s_nationkey = n_nationkey
                JOIN region   ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE')
        ORDER BY value_cents DESC, l_partkey
        """,
    ),
    QuerySpec(
        "q13_customer_distribution",
        q13_customer_distribution,
        """
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
              GROUP BY c_custkey) t
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
        """,
    ),
    QuerySpec(
        "q15_top_supplier",
        q15_top_supplier,
        f"""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 CAST(sum({sql_scaled('l_extendedprice * (1 - l_discount)', 4)}) AS BIGINT)
                   AS total_rev_e4
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate <  TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_rev_e4
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_rev_e4 = (SELECT max(total_rev_e4) FROM revenue)
        ORDER BY s_suppkey
        """,
    ),
    QuerySpec(
        "q16_parts_supplier",
        q16_parts_supplier,
        """
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """,
    ),
    QuerySpec(
        "q20_potential_promotion",
        q20_potential_promotion,
        f"""
        SELECT s_name, n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (
          SELECT l1.l_suppkey
          FROM lineitem l1 JOIN part ON l1.l_partkey = p_partkey
          WHERE p_name LIKE 'red%'
            AND l1.l_shipdate >= TIMESTAMP '1997-01-01'
            AND l1.l_shipdate <  TIMESTAMP '1998-01-01'
          GROUP BY l1.l_partkey, l1.l_suppkey
          HAVING 2 * CAST(sum({sql_cents('l1.l_quantity')}) AS BIGINT)
               > (SELECT CAST(sum({sql_cents('l2.l_quantity')}) AS BIGINT)
                  FROM lineitem l2
                  WHERE l2.l_partkey = l1.l_partkey
                    AND l2.l_shipdate >= TIMESTAMP '1997-01-01'
                    AND l2.l_shipdate <  TIMESTAMP '1998-01-01'))
        ORDER BY s_name
        """,
    ),
    QuerySpec(
        "j02_inner_equi",
        j02_inner_equi,
        "SELECT o_orderkey, c_custkey, c_mktsegment, o_totalprice "
        "FROM orders JOIN customer ON o_custkey = c_custkey",
    ),
    QuerySpec(
        "j03_left_semi",
        j03_left_semi,
        "SELECT c_custkey, c_name FROM customer WHERE EXISTS "
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')",
    ),
    QuerySpec(
        "j04_left_anti",
        j04_left_anti,
        "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS "
        "(SELECT 1 FROM orders WHERE o_custkey = c_custkey)",
    ),
    QuerySpec(
        "j05_full_outer",
        j05_full_outer,
        """
        WITH c AS (SELECT c_nationkey, count(1) AS n_cust FROM customer GROUP BY 1),
             s AS (SELECT s_nationkey, count(1) AS n_supp FROM supplier GROUP BY 1)
        SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
               coalesce(n_cust, 0) AS n_cust,
               coalesce(n_supp, 0) AS n_supp
        FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
        """,
    ),
    QuerySpec(
        "j06_theta_range",
        j06_theta_range,
        """
        SELECT s_suppkey, p_partkey, p_retailprice
        FROM part JOIN supplier
          ON p_retailprice >= s_acctbal / 10
         AND p_retailprice <  s_acctbal / 10 + 50
        """,
    ),
    QuerySpec(
        "j12_interval_overlap",
        j12_interval_overlap,
        f"""
        WITH s AS (SELECT s_suppkey,
                          {sql_cents('s_acctbal')} + {J12_OFF} AS s_lo,
                          {sql_cents('s_acctbal')} + {J12_OFF} + {J12_W}
                            AS s_hi
                   FROM supplier),
             c AS (SELECT c_custkey,
                          {sql_cents('c_acctbal')} + {J12_OFF} AS c_lo,
                          {sql_cents('c_acctbal')} + {J12_OFF} + {J12_W}
                            AS c_hi
                   FROM customer)
        SELECT s_suppkey, c_custkey,
               greatest(s_lo, c_lo) - {J12_OFF} AS overlap_lo_cents,
               least(s_hi, c_hi) - {J12_OFF} AS overlap_hi_cents
        FROM s JOIN c ON s_lo <= c_hi AND c_lo <= s_hi
        ORDER BY s_suppkey, c_custkey
        """,
    ),
    QuerySpec("j13_bloom_semi_join", j13_bloom_semi_join, _J13_SQL),
    QuerySpec(
        "q7_volume_shipping",
        q7_volume_shipping,
        f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS BIGINT) AS l_year,
               CAST(sum({sql_scaled('l_extendedprice * (1.0 - l_discount)', 4)})
                 AS BIGINT) AS revenue_e4
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
        """,
    ),
    QuerySpec(
        "q19_disjunctive_pred",
        q19_disjunctive_pred,
        f"""
        SELECT CAST(sum({sql_scaled('l_extendedprice * (1.0 - l_discount)', 4)})
                 AS BIGINT) AS revenue_e4,
               count(1) AS n_rows
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_type LIKE 'SMALL%'  AND l_quantity BETWEEN 1  AND 11
               AND p_size <= 5)
           OR (p_type LIKE 'MEDIUM%' AND l_quantity BETWEEN 10 AND 20
               AND p_size <= 10)
           OR (p_type LIKE 'ECONOMY%' AND l_quantity BETWEEN 20 AND 30
               AND p_size <= 15)
        """,
    ),
    QuerySpec(
        "j10_bucketed_range",
        j10_bucketed_range,
        """
        SELECT s_suppkey, p_partkey, p_retailprice
        FROM part JOIN supplier
          ON p_retailprice >= s_acctbal / 10
         AND p_retailprice <  s_acctbal / 10 + 50
        """,
    ),
    QuerySpec(
        "j11_fuzzy_blocked_join",
        j11_fuzzy_blocked_join,
        f"""
        WITH vocab AS (
          SELECT DISTINCT word
          FROM documents, UNNEST({sql_clean_tokens("text")}) AS _u(word)
          WHERE length(word) >= {FUZZY_MIN_LEN}
        ),
        dirty AS (
          SELECT word AS src_word,
                 CASE ascii(substr(md5(word), 1, 1)) % 3
                   WHEN 0 THEN substr(word, 1, length(word) - 1)
                   WHEN 1 THEN word || 'x'
                   ELSE word END AS dirty
          FROM vocab
        )
        SELECT d.src_word, d.dirty, v.word AS match,
               CAST(levenshtein(d.dirty, v.word) AS BIGINT) AS dist
        FROM dirty d JOIN vocab v
          ON substr(d.dirty, 1, 2) = substr(v.word, 1, 2)
         AND abs(length(d.dirty) - length(v.word)) <= 1
         AND levenshtein(d.dirty, v.word) <= 1
        ORDER BY src_word, match
        """,
    ),
    QuerySpec(
        "j07_right_outer",
        j07_right_outer,
        """
        SELECT n_nationkey, n_name, count(s_suppkey) AS n_supp
        FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_nationkey, n_name
        """,
    ),
    QuerySpec(
        "j08_asof_join",
        j08_asof_join,
        """
        WITH u AS (
          SELECT user_id, ts, event_id,
                 CAST(NULL AS BIGINT) AS c_id, CAST(NULL AS DOUBLE) AS c_value,
                 1 AS is_p
          FROM events WHERE event_type = 'purchase'
          UNION ALL
          SELECT user_id, ts, event_id, event_id, value, 0
          FROM events WHERE event_type = 'click'
        ),
        w AS (
          SELECT user_id, ts, event_id, is_p,
                 last_value(c_id IGNORE NULLS) OVER win AS last_click_id,
                 last_value(c_value IGNORE NULLS) OVER win AS last_click_value
          FROM u
          WINDOW win AS (PARTITION BY user_id ORDER BY ts, is_p, event_id
                         ROWS UNBOUNDED PRECEDING)
        )
        SELECT user_id, event_id, ts, last_click_id, last_click_value
        FROM w WHERE is_p = 1
        """,
    ),
    QuerySpec(
        "w01_row_number_topn",
        w01_row_number_topn,
        """
        SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders) WHERE rn <= 3
        """,
    ),
    QuerySpec(
        "w02_lag_lead",
        w02_lag_lead,
        """
        SELECT user_id, event_id, value,
               lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
               lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
        FROM events
        """,
    ),
    QuerySpec(
        "w03_running_sum",
        w03_running_sum,
        f"""
        SELECT user_id, event_id,
               CAST(sum({sql_cents('value')})
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS running_cents
        FROM events
        """,
    ),
    QuerySpec(
        "w04_rank_dense",
        w04_rank_dense,
        """
        SELECT p_brand, p_partkey, p_size,
               rank()       OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS rnk,
               dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS drnk
        FROM part
        """,
    ),
    QuerySpec(
        "set01_union_all",
        set01_union_all,
        "SELECT event_id, user_id FROM events WHERE event_type = 'click' "
        "UNION ALL "
        "SELECT event_id, user_id FROM events WHERE event_type = 'error'",
    ),
    QuerySpec(
        "set02_intersect",
        set02_intersect,
        "SELECT user_id FROM events WHERE event_type = 'click' "
        "INTERSECT "
        "SELECT user_id FROM events WHERE event_type = 'purchase'",
    ),
    QuerySpec(
        "set03_except_all",
        set03_except_all,
        "SELECT user_id FROM events WHERE event_type = 'view' "
        "EXCEPT ALL "
        "SELECT user_id FROM events WHERE event_type = 'signup'",
    ),
    QuerySpec(
        "g01_rollup",
        g01_rollup,
        """
        SELECT c_mktsegment, c_nationkey,
               CAST(GROUPING(c_mktsegment) AS INTEGER) AS g_seg,
               CAST(GROUPING(c_nationkey) AS INTEGER) AS g_nat,
               count(1) AS n
        FROM customer GROUP BY ROLLUP (c_mktsegment, c_nationkey)
        -- Spark emits no grand-total row over EMPTY input (DuckDB
        -- does, per standard); count>0 removes exactly that row
        HAVING count(1) > 0
        """,
    ),
    QuerySpec(
        "g02_cube",
        g02_cube,
        """
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(GROUPING(event_type) AS INTEGER) AS g_type,
               CAST(GROUPING(CAST(date_trunc('day', ts) AS DATE)) AS INTEGER) AS g_day,
               count(1) AS n
        FROM events GROUP BY CUBE (event_type, CAST(date_trunc('day', ts) AS DATE))
        HAVING count(1) > 0  -- see g01: Spark empty-input semantics
        """,
    ),
    QuerySpec(
        "g03_grouping_sets",
        g03_grouping_sets,
        """
        SELECT o_orderstatus, o_orderpriority, count(1) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        HAVING count(1) > 0  -- see g01: Spark empty-input semantics
        """,
    ),
    QuerySpec(
        "f01_string_date_math",
        f01_string_date_math,
        """
        SELECT o_orderkey,
               substr(o_orderpriority, 1, 1) AS prio_code,
               upper(o_orderstatus) AS status_uc,
               concat_ws('#', o_orderstatus, o_orderpriority) AS tag,
               CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
               CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(month(o_orderdate) AS BIGINT) AS o_month,
               CAST(day(o_orderdate) AS BIGINT) AS o_day,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS due_date,
               abs(o_totalprice) AS abs_price,
               CAST(o_orderkey % 7 AS BIGINT) AS key_mod7,
               CAST(ceil(o_totalprice) AS BIGINT) AS price_ceil,
               CAST(floor(o_totalprice) AS BIGINT) AS price_floor
        FROM orders
        """,
    ),
    QuerySpec(
        "f02_array_funcs",
        f02_array_funcs,
        """
        SELECT p_partkey,
               CAST(len(string_split(p_type, ' ')) AS INTEGER) AS n_words,
               string_split(p_type, ' ')[1] AS first_word,
               string_split(p_type, ' ')[-1] AS last_word,
               CAST(list_contains(string_split(p_type, ' '), 'BRUSHED') AS INTEGER)
                 AS has_brushed,
               array_to_string(list_sort(string_split(p_type, ' ')), '_')
                 AS sorted_words
        FROM part
        """,
    ),
    QuerySpec(
        "f03_json_map_funcs",
        f03_json_map_funcs,
        """
        SELECT event_id,
               -- json_valid guard: Spark's from_json/get_json_object
               -- return NULL on malformed JSON (incl. leading-zero
               -- ints); DuckDB json_extract raises — guard + TRY_CAST.
               -- k_parsed mirrors from_json('k BIGINT') STRICT typed
               -- semantics: only true JSON integers parse (no
               -- string->long coercion, no double/bool coercion), so
               -- gate on json_type — quoted "123" is NULL both sides.
               CASE WHEN props IS NOT NULL AND json_valid(props)
                         AND json_type(props, '$.k') IN ('BIGINT','UBIGINT')
                    THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
               END AS k_parsed,
               -- k_path mirrors get_json_object().cast('bigint')
               -- string-coercion semantics: integer strings parse
               -- exactly; decimal strings TRUNCATE (Spark) — DuckDB's
               -- TRY_CAST rounds, so route non-integer shapes through
               -- trunc(double) to agree.
               CASE WHEN props IS NOT NULL AND json_valid(props) THEN
                 CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
                                          '^\\s*-?\\d+\\s*$')
                      THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                      ELSE TRY_CAST(trunc(TRY_CAST(
                             json_extract_string(props, '$.k') AS DOUBLE))
                           AS BIGINT)
                 END
               END AS k_path,
               '{"u":' || user_id || '}' AS as_json,
               event_type AS m_type,
               CAST(2 AS INTEGER) AS n_keys
        FROM events
        """,
    ),
    QuerySpec(
        "w06_moving_avg",
        w06_moving_avg,
        f"""
        SELECT o_orderkey, o_custkey,
               {sql_cents('o_totalprice')} AS price_cents,
               sum({sql_cents('o_totalprice')}) OVER w::DOUBLE
                 / count(1) OVER w::DOUBLE AS moving_avg_cents
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate NULLS FIRST, o_orderkey
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
        """,
    ),
    QuerySpec("w09_range_frame", w09_range_frame, _W09_SQL),
    QuerySpec("w10_sessionize", w10_sessionize, _W10_SQL),
    QuerySpec("w11_ohlc_bars", w11_ohlc_bars, _W11_SQL),
    QuerySpec("w12_retention_cohorts", w12_retention_cohorts, _W12_SQL),
    QuerySpec("w13_forward_fill", w13_forward_fill, _W13_SQL),
    QuerySpec("p20_length_curriculum", p20_length_curriculum, _p20_sql()),
    QuerySpec(
        "w08_rolling_median",
        w08_rolling_median,
        f"""
        WITH b AS (
          SELECT event_type, event_id, ts,
                 {sql_cents('value')} AS c
          FROM events
          WHERE value IS NOT NULL AND event_type IS NOT NULL
        ),
        f AS (
          SELECT event_type, event_id,
                 list_sort(list(c) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN {W08_FRAME} PRECEDING AND CURRENT ROW
                 )) AS arr
          FROM b
        )
        SELECT event_type, event_id,
               arr[CAST(ceil(len(arr) / 2.0) AS INT)]
                 AS rolling_median_cents
        FROM f ORDER BY event_type, event_id
        """,
    ),
    QuerySpec(
        "w07_scd2_intervals",
        w07_scd2_intervals,
        """
        WITH c AS (
          SELECT user_id, event_id, ts, event_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events
        ),
        ch AS (SELECT user_id, event_id, ts, event_type
               FROM c WHERE prev IS NULL OR prev <> event_type)
        SELECT user_id,
               row_number() OVER w AS version,
               event_type AS status, ts AS valid_from,
               lead(ts) OVER w AS valid_to,
               CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END
                 AS is_current
        FROM ch
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, version
        """,
    ),
    QuerySpec(
        "a09_approx_stats",
        a09_approx_stats,
        f"""
        WITH o AS (SELECT o_custkey, o_totalprice FROM orders
                   WHERE o_totalprice IS NOT NULL),
        v AS (SELECT {sql_cents('o_totalprice')} AS c FROM o),
        t AS (SELECT count(1) AS n FROM v),
        m AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v)
        SELECT t.n AS n_orders,
               (SELECT count(DISTINCT o_custkey) FROM o) AS exact_customers,
               (6 * (SELECT count(DISTINCT o_custkey) FROM o)) // 100
                 AS customers_tol,
               (SELECT c FROM m, t WHERE rn = (t.n + 1) // 2)
                 AS exact_median_cents,
               (SELECT c FROM m, t
                WHERE rn = greatest(1, (t.n + 1) // 2 - (t.n // 10000 + 1)))
                 AS med_lo_cents,
               (SELECT c FROM m, t
                WHERE rn = least(t.n, (t.n + 1) // 2 + (t.n // 10000 + 1)))
                 AS med_hi_cents,
               (SELECT c FROM m, t WHERE rn = (99 * t.n + 99) // 100)
                 AS exact_p99_cents,
               (SELECT c FROM m, t
                WHERE rn = greatest(1,
                             (99 * t.n + 99) // 100 - (t.n // 10000 + 1)))
                 AS p99_lo_cents,
               (SELECT c FROM m, t
                WHERE rn = least(t.n,
                             (99 * t.n + 99) // 100 + (t.n // 10000 + 1)))
                 AS p99_hi_cents,
               TRUE AS approx_customers_ok,
               TRUE AS approx_median_ok,
               TRUE AS approx_p99_ok
        FROM t
        """,
    ),
    QuerySpec(
        "u01_grouped_minmax",
        u01_grouped_minmax,
        f"""
        WITH base AS (
          SELECT event_id, event_type, {sql_cents('value')} AS v_cents,
                 min({sql_cents('value')}) OVER (PARTITION BY event_type) AS lo,
                 max({sql_cents('value')}) OVER (PARTITION BY event_type) AS hi
          FROM events
          WHERE value IS NOT NULL
        )
        SELECT event_id, event_type, v_cents,
               CASE WHEN hi = lo THEN 0.0
                    ELSE (v_cents - lo)::DOUBLE / (hi - lo)::DOUBLE
               END AS v_norm
        FROM base
        """,
    ),
    QuerySpec(
        "u02_sequence_pack",
        u02_sequence_pack,
        f"""
        WITH RECURSIVE b AS (
          SELECT doc_id,
                 (doc_id % {PACK_SHARDS})::BIGINT AS shard,
                 len({sql_raw_tokens("lower(text)")})::BIGINT AS n_tokens,
                 row_number() OVER (PARTITION BY doc_id % {PACK_SHARDS}
                                    ORDER BY doc_id) AS rn
          FROM documents
        ),
        r AS (
          SELECT shard, rn, doc_id, n_tokens,
                 0::BIGINT AS seq_id, 0::BIGINT AS tok_offset,
                 n_tokens AS filled
          FROM b WHERE rn = 1
          UNION ALL
          SELECT b.shard, b.rn, b.doc_id, b.n_tokens,
                 CASE WHEN r.filled + b.n_tokens <= {PACK_BUDGET}
                      THEN r.seq_id ELSE r.seq_id + 1 END,
                 CASE WHEN r.filled + b.n_tokens <= {PACK_BUDGET}
                      THEN r.filled ELSE 0::BIGINT END,
                 CASE WHEN r.filled + b.n_tokens <= {PACK_BUDGET}
                      THEN r.filled + b.n_tokens ELSE b.n_tokens END
          FROM r JOIN b ON b.shard = r.shard AND b.rn = r.rn + 1
        )
        SELECT doc_id, shard, n_tokens, seq_id, tok_offset FROM r
        """,
    ),
    QuerySpec(
        "u03_ewma_smooth",
        u03_ewma_smooth,
        _EWMA_SQL,
    ),
    QuerySpec(
        # same recurrence, many-tiny-groups execution path — one
        # oracle string keeps the two forms pinned together
        "u06_ewma_partitioned",
        u06_ewma_partitioned,
        _EWMA_SQL,
    ),
    QuerySpec(
        "u04_sentence_udtf",
        u04_sentence_udtf,
        """
        WITH s AS (
          SELECT doc_id,
                 list_filter(
                   string_split_regex(coalesce(text, ''), '[.!?]'),
                   x -> x <> '') AS parts
          FROM documents)
        SELECT doc_id, i AS pos, parts[i] AS sentence
        FROM s, UNNEST(range(1, len(parts) + 1)) AS u(i)
        ORDER BY doc_id, pos
        """,
    ),
    QuerySpec("u05_grouped_agg_udf", u05_grouped_agg_udf, _U05_SQL),
    QuerySpec(
        "q6_forecast_revenue",
        q6_forecast_revenue,
        f"""
        SELECT CAST(sum({sql_scaled('l_extendedprice * l_discount', 4)})
                 AS BIGINT) AS revenue_e4,
               count(1) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """,
    ),
    QuerySpec(
        "q10_returned_items",
        q10_returned_items,
        f"""
        SELECT c_custkey, c_name, n_name,
               CAST(sum({sql_scaled('l_extendedprice * (1.0 - l_discount)', 4)})
                 AS BIGINT) AS revenue_e4
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue_e4 DESC, c_custkey LIMIT 20
        """,
    ),
    QuerySpec(
        "q2_min_cost_supplier",
        q2_min_cost_supplier,
        f"""
        WITH best AS (
          SELECT l_partkey, l_suppkey, cost_cents FROM (
            SELECT l_partkey, l_suppkey,
                   {sql_cents('l_extendedprice')} AS cost_cents,
                   row_number() OVER (
                     PARTITION BY l_partkey
                     ORDER BY {sql_cents('l_extendedprice')}, l_suppkey,
                              l_orderkey, l_linenumber) AS rn
            FROM lineitem)
          WHERE rn = 1
        )
        SELECT l_partkey, s_suppkey, s_name, n_name, cost_cents
        FROM best
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        ORDER BY l_partkey
        """,
    ),
    QuerySpec(
        "q4_order_priority",
        q4_order_priority,
        """
        SELECT o_orderpriority, count(1) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
    ),
    QuerySpec(
        "q12_shipmode_priority",
        q12_shipmode_priority,
        """
        SELECT l_returnflag,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_returnflag ORDER BY l_returnflag
        """,
    ),
    QuerySpec(
        "q14_promo_revenue",
        q14_promo_revenue,
        f"""
        WITH j AS (
          SELECT p_type,
                 {sql_scaled('l_extendedprice * (1.0 - l_discount)', 4)} AS rev_e4
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1995-01-01'
            AND l_shipdate <  TIMESTAMP '1995-04-01'
        )
        SELECT CAST(sum(CASE WHEN p_type LIKE 'ECONOMY%' THEN rev_e4 ELSE 0 END)
                 AS BIGINT) AS promo_e4,
               CAST(sum(rev_e4) AS BIGINT) AS total_e4,
               100.0 * sum(CASE WHEN p_type LIKE 'ECONOMY%' THEN rev_e4 ELSE 0
                           END)::DOUBLE / sum(rev_e4)::DOUBLE AS promo_pct
        FROM j
        """,
    ),
    QuerySpec(
        "q18_large_orders",
        q18_large_orders,
        f"""
        WITH big AS (
          SELECT l_orderkey,
                 CAST(sum({sql_cents('l_quantity')}) AS BIGINT) AS sum_qty_cents
          FROM lineitem GROUP BY l_orderkey
          HAVING sum({sql_cents('l_quantity')}) > 20000
        )
        SELECT c_custkey, c_name, o_orderkey,
               CAST(o_orderdate AS DATE) AS o_date,
               {sql_cents('o_totalprice')} AS total_cents,
               sum_qty_cents
        FROM big
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY total_cents DESC, o_orderkey LIMIT 100
        """,
    ),
    QuerySpec(
        "w05_ntile_frames",
        w05_ntile_frames,
        """
        SELECT c_custkey, c_nationkey, c_acctbal,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume,
               first_value(c_acctbal) OVER
                 (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS run_min_bal,
               last_value(c_acctbal) OVER
                 (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cur_bal
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY c_acctbal NULLS FIRST, c_custkey)
        """,
    ),
    QuerySpec(
        "g04_pivot",
        g04_pivot,
        """
        SELECT o_orderpriority,
               CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_o,
               CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_f,
               CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_p
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
    ),
    QuerySpec(
        "j09_salted_skew_agg",
        j09_salted_skew_agg,
        f"""
        SELECT event_type, count(1) AS n,
               CAST(sum({sql_cents('value')}) AS BIGINT) AS sum_cents
        FROM events GROUP BY event_type ORDER BY event_type
        """,
    ),
    QuerySpec(
        "a08_median_disc",
        a08_median_disc,
        f"""
        SELECT c_nationkey, bal_cents AS median_cents FROM (
          SELECT c_nationkey, {sql_cents('c_acctbal')} AS bal_cents,
                 row_number() OVER (PARTITION BY c_nationkey
                                    ORDER BY {sql_cents('c_acctbal')}, c_custkey)
                   AS rn,
                 count(1) OVER (PARTITION BY c_nationkey) AS n
          FROM customer WHERE c_acctbal IS NOT NULL)
        WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
        ORDER BY c_nationkey
        """,
    ),
]
