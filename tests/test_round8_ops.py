"""Round-8 operators: p19 declarative sequence packing invariants and
its consistency with the packing primitives it composes (t08 counts,
u02's budget)."""

from __future__ import annotations

from pyspark.sql import functions as F

from customer_review__etl_spark.plans import relational, textplans

from conftest import SF_DIR

B = relational.PACK_BUDGET


def test_p19_slices_tile_the_token_stream(spark):
    """Every sequence except the last is filled to exactly the budget,
    slices are disjoint and contiguous (concat-and-chunk wastes zero
    budget), and per-doc slice lengths sum to the doc's t08 BPE-ish
    token count."""
    rows = relational.p19_sequence_pack(spark, SF_DIR).collect()
    assert rows, "sf0.001 corpus must produce at least one slice"

    # per-sequence: slices tile [0, fill) contiguously without overlap
    by_seq: dict[int, list] = {}
    for r in rows:
        by_seq.setdefault(r.seq_id, []).append(r)
    n_seqs = max(by_seq) + 1
    assert sorted(by_seq) == list(range(n_seqs))
    total = 0
    for seq_id, slices in by_seq.items():
        slices.sort(key=lambda r: r.tok_offset)
        pos = 0
        for s in slices:
            assert s.tok_offset == pos, (seq_id, s)
            assert s.slice_len > 0
            pos += s.slice_len
        assert pos <= B
        if seq_id < n_seqs - 1:
            assert pos == B, f"seq {seq_id} underfilled: {pos}"
        total += pos

    # per-doc: slice lengths sum to the t08 BPE-ish count
    t08 = {
        r.doc_id: r.n_bpeish
        for r in textplans.t08_bpe_token_count(spark, SF_DIR).collect()
    }
    by_doc: dict[int, int] = {}
    for r in rows:
        by_doc[r.doc_id] = by_doc.get(r.doc_id, 0) + r.slice_len
    for doc_id, n in by_doc.items():
        assert n == t08[doc_id], doc_id
    # zero-token docs contribute nothing; everything else appears
    assert set(by_doc) == {d for d, n in t08.items() if n > 0}
    assert total == sum(by_doc.values())


def test_p19_doc_slices_are_contiguous_spans(spark):
    """A doc spanning sequences occupies consecutive seq_ids, ends each
    non-final slice at the sequence boundary, and starts each non-first
    slice at offset 0 (it is ONE contiguous run in the token stream)."""
    rows = relational.p19_sequence_pack(spark, SF_DIR).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    multi = 0
    for slices in by_doc.values():
        slices.sort(key=lambda r: r.seq_id)
        for i, s in enumerate(slices):
            if i > 0:
                assert s.seq_id == slices[i - 1].seq_id + 1
                assert s.tok_offset == 0
            if i < len(slices) - 1:
                assert s.tok_offset + s.slice_len == B
        multi += len(slices) > 1
    assert multi > 0, "corpus must contain at least one spanning doc"


def test_p19_deterministic_under_repartition(spark):
    """The two-phase cumsum must not depend on input partitioning:
    the (seq_id, doc_id, tok_offset, slice_len) multiset is identical
    across executions (RangePartitioner resampling included)."""
    a = sorted(map(tuple, relational.p19_sequence_pack(spark, SF_DIR).collect()))
    b = sorted(map(tuple, relational.p19_sequence_pack(spark, SF_DIR).collect()))
    assert a == b


def _ref_pack(texts, budget):
    """Independent pure-Python concat-and-chunk packer: doc_id order,
    BPE-ish token counts, docs span fixed-budget sequences."""
    import re

    pat = re.compile(textplans.BPE_PATTERN)
    out, cum = [], 0
    for doc_id in sorted(texts):
        n = len(pat.findall((texts[doc_id] or "").lower()))
        if n == 0:
            continue
        start, end = cum, cum + n
        cum = end
        for seq in range(start // budget, (end - 1) // budget + 1):
            lo = max(start, seq * budget)
            hi = min(end, (seq + 1) * budget)
            out.append((seq, doc_id, lo - seq * budget, hi - lo))
    return out


def test_p19_matches_the_python_reference_on_random_corpora(
    spark, tmp_path
):
    """Triangulation for sequence packing: random corpora with doc
    sizes engineered around the budget boundary (empty docs, exact
    multiples of B, oversized spanning docs) must pack identically in
    the Spark two-phase plan and a straightforward Python walk."""
    import random

    for seed in (3, 23):
        rng = random.Random(seed)
        texts = {}
        for doc_id in range(rng.randint(5, 25)):
            choice = rng.random()
            if choice < 0.15:
                texts[doc_id] = ""          # zero tokens → no slice
            elif choice < 0.3:
                texts[doc_id] = "w " * B    # exactly one full sequence
            elif choice < 0.5:
                texts[doc_id] = "w " * rng.randint(B + 1, 3 * B)  # spans
            else:
                texts[doc_id] = "w " * rng.randint(1, B - 1)
        d = str(tmp_path / f"pack{seed}")
        spark.createDataFrame(
            [(i, t, "en", "web", len(t)) for i, t in texts.items()],
            "doc_id BIGINT, text STRING, lang STRING, source STRING, "
            "n_chars BIGINT",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        got = sorted(
            tuple(r) for r in relational.p19_sequence_pack(spark, d).collect()
        )
        assert got == sorted(_ref_pack(texts, B)), f"seed {seed}"


def test_j13_bloom_prefilter_is_selective_and_exact(spark):
    """The bloom prefilter must (a) actually drop fact rows — the whole
    point is shrinking the join exchange — while (b) never dropping a
    true match (no false negatives by bloom construction), and the
    final result must equal the transparent semi join exactly."""
    from pyspark.sql import functions as F

    n_orders = relational._t(spark, SF_DIR, "orders").count()
    keys = (
        relational._t(spark, SF_DIR, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    n_true = (
        relational._t(spark, SF_DIR, "orders")
        .join(keys, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .count()
    )
    n_pre = relational._j13_prefiltered(spark, SF_DIR)[1].count()
    assert n_true <= n_pre, "bloom produced a false negative"
    assert n_pre < n_orders, "bloom filtered nothing"
    # with 2^17 bits / k=3 over a few hundred keys the FP rate is ~0;
    # allow a loose 5% slack so corpus growth doesn't flake the test
    assert n_pre <= n_true * 1.05 + 5

    got = {
        r["o_orderpriority"]: (r["n_orders"], r["revenue_cents"])
        for r in relational.j13_bloom_semi_join(spark, SF_DIR).collect()
    }
    from customer_review__etl_spark.plans.helpers import cents

    want = {
        r["o_orderpriority"]: (r["n"], r["rc"])
        for r in (
            relational._t(spark, SF_DIR, "orders")
            .join(keys, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents(F.col("o_totalprice"))).alias("rc"),
            )
            .collect()
        )
    }
    assert got == want


def test_t23_posting_state_is_capped(spark):
    """Postings must hold at most T23_POSTINGS_CAP doc_ids, be sorted
    subsets of the term's true posting list, and df/tf must match an
    independent exact recomputation."""
    from pyspark.sql import functions as F

    rows = textplans.t23_inverted_index(spark, SF_DIR).collect()
    assert rows
    exact = {
        (r["term"],): (r["df"], r["tf"])
        for r in (
            textplans._docs_par(spark, SF_DIR)
            .select(
                "doc_id",
                F.explode(
                    __import__(
                        "customer_review__etl_spark.functions.text",
                        fromlist=["clean_tokens"],
                    ).clean_tokens(F.col("text"))
                ).alias("term"),
            )
            .groupBy("term")
            .agg(
                F.countDistinct("doc_id").alias("df"),
                F.count(F.lit(1)).alias("tf"),
            )
            .collect()
        )
    }
    capped = 0
    for r in rows:
        posts = r["postings"].split(",")
        assert len(posts) <= textplans.T23_POSTINGS_CAP
        assert len(posts) == min(r["df"], textplans.T23_POSTINGS_CAP)
        # numeric ascending (round-8 ADVICE #4: the CSV must honor the
        # documented "first cap doc_ids ascending" — longs sorted
        # BEFORE the string cast, so "2" precedes "10")
        assert [int(p) for p in posts] == sorted(int(p) for p in posts)
        assert exact[(r["term"],)] == (r["df"], r["tf"])
        capped += len(posts) < r["df"]
    assert capped > 0, "corpus must exercise the cap branch"


def test_t24_bm25_scores_are_sane(spark):
    """Top-20 scores must be positive, sorted (score DESC, doc_id ASC),
    with 1..3 query terms matched per doc; the top doc must match at
    least as many query terms as the bottom one is allowed to (BM25
    basics, not oracle duplication — the oracle pins exact values)."""
    rows = textplans.t24_bm25_topk(spark, SF_DIR).collect()
    assert 0 < len(rows) <= textplans.T24_TOPK
    for r in rows:
        assert r["bm25"] > 0.0
        assert 1 <= r["n_terms_matched"] <= 3
    keys = [(-r["bm25"], r["doc_id"]) for r in rows]
    assert keys == sorted(keys)


def test_s08_rrf_ranks_and_scores_consistent(spark):
    """Fused rows must carry at least one rank, ranks within the pool
    bound, and rrf must equal exactly the sum its ranks imply; at
    least one top doc should appear in BOTH lists on this corpus (the
    fusion case that distinguishes RRF from either list alone)."""
    from customer_review__etl_spark.plans import simplans

    rows = simplans.s08_rrf_fusion(spark, SF_DIR).collect()
    assert 0 < len(rows) <= simplans.RRF_TOPK
    both = 0
    for r in rows:
        assert r["r_lex"] is not None or r["r_sem"] is not None
        want = 0.0
        for rank in (r["r_lex"], r["r_sem"]):
            if rank is not None:
                assert 1 <= rank <= simplans.RRF_POOL
                want += 1.0 / (simplans.RRF_K + rank)
        assert r["rrf"] == want
        both += r["r_lex"] is not None and r["r_sem"] is not None
    assert both > 0


def test_t26_line_dedup_is_idempotent_and_accounted(spark, tmp_path):
    """Dedup of the cleaned text must drop nothing (idempotence), the
    accounting must tie out, and a doc built of known repeats must keep
    exactly the first occurrence of each line in original order."""
    from pyspark.sql import functions as F

    texts = {
        1: "header\nbody a\nheader\nbody b\nheader",
        2: "only\n\n\nonly\n",         # blank-line repeats + trailing split
        3: None,                         # NULL ≡ '' → one empty line
        4: "unique1\nunique2",
    }
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, t, "en", "web", len(t or "")) for i, t in texts.items()],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    rows = {r["doc_id"]: r for r in textplans.t26_line_dedup(spark, d).collect()}
    assert rows[1]["cleaned"] == "header\nbody a\nbody b"
    assert (rows[1]["n_lines"], rows[1]["n_kept"], rows[1]["n_dropped"]) == (5, 3, 2)
    assert rows[2]["cleaned"] == "only\n"          # 'only' + first '' kept
    assert (rows[2]["n_lines"], rows[2]["n_kept"]) == (5, 2)
    assert rows[3]["cleaned"] == "" and rows[3]["n_dropped"] == 0
    assert rows[4]["n_dropped"] == 0 and rows[4]["cleaned"] == "unique1\nunique2"

    # idempotence: run the operator over its own output
    d2 = str(tmp_path / "docs2")
    spark.createDataFrame(
        [(i, rows[i]["cleaned"], "en", "web", len(rows[i]["cleaned"]))
         for i in texts],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d2}/documents.parquet")
    again = textplans.t26_line_dedup(spark, d2)
    assert again.agg(F.sum("n_dropped")).collect()[0][0] == 0


def test_t25_rules_fire_on_engineered_docs(spark, tmp_path):
    """Each rule must fail on a doc engineered to violate exactly it,
    and a plainly good doc must pass all four."""
    good = ("the quick brown fox jumps over the lazy dog and then "
            "walks home with all the other animals in the field today")
    texts = {
        1: good,
        2: "word " * 5,                     # too few words
        3: ("a " * 300) + good,             # mean token length < 2
        4: ("!!! ### $$$ %%% " * 20) + good,  # symbol ratio >= 10%
        5: "zebra quokka xylophone " * 10,  # no stopwords
    }
    d = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in texts.items()],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {
        r["doc_id"]: r for r in textplans.t25_quality_rules(spark, d).collect()
    }
    assert rows[1]["keep"] is True
    assert rows[2]["rule_word_count"] is False and rows[2]["keep"] is False
    assert rows[3]["rule_word_length"] is False and rows[3]["keep"] is False
    assert rows[4]["rule_symbol_ratio"] is False and rows[4]["keep"] is False
    assert rows[5]["rule_stopwords"] is False and rows[5]["keep"] is False


def test_p19_no_global_single_partition_window(spark):
    """The running sum must stay per-partition: the plan's window spec
    partitions by pid — a bare global Window (empty partitionBy) would
    funnel the corpus through one task at 100 TB."""
    df = relational.p19_sequence_pack(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "Window" in plan
    import re

    for m in re.finditer(r"partitionBy=\[(.*?)\]", plan):
        assert m.group(1).strip(), "global window detected"
