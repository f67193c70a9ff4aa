"""Round-7 late additions: semantic invariants for w10 (gap
sessionization), t19 (content-defined chunking), io14 (batch MERGE
apply) beyond the differential/edge gates, plus the t19 plan guard
against the InferFiltersFromGenerate pushdown regression."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from conftest import SF_DIR
from customer_review__etl_spark.plans import ioplans, textplans
from customer_review__etl_spark.plans.relational import (
    W10_GAP_US,
    w10_sessionize,
)

_TS0 = datetime.datetime(2024, 3, 1, 12, 0, 0)


def _mins(m):
    return _TS0 + datetime.timedelta(minutes=m)


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")


def test_w10_known_sessions(spark, tmp_path):
    """Hand-checkable fixture: user 1 has bursts at t=0..20 (one
    session), t=60..61 (second), a lone t=200 (third); a gap of
    EXACTLY 30 minutes does NOT split (the predicate is strictly >)."""
    rows = [
        (1, _mins(0), 1, "view", 1.0, None),
        (2, _mins(20), 1, "view", 2.0, None),
        (3, _mins(50), 1, "view", 4.0, None),   # exactly 30min after → same
        (4, _mins(81), 1, "view", 8.0, None),   # 31min after → new session
        (5, _mins(200), 1, "view", 16.0, None),
        (6, _mins(0), 2, "view", 1.0, None),    # second user independent
    ]
    _write_events(spark, str(tmp_path), rows)
    out = {
        (r.user_id, r.session_seq): (r.n_events, r.sum_cents)
        for r in w10_sessionize(spark, str(tmp_path)).collect()
    }
    assert out == {
        (1, 1): (3, 700),
        (1, 2): (1, 800),
        (1, 3): (1, 1600),
        (2, 1): (1, 100),
    }


def test_w10_sessions_partition_the_events(spark):
    """On the real corpus: session event counts sum to the per-user
    event totals (no event lost or double-counted), sessions are
    1-based and contiguous, and intervals are well-formed."""
    sess = w10_sessionize(spark, SF_DIR).collect()
    from customer_review__etl_spark.sources import tables

    totals = {
        r.user_id: r.n
        for r in tables.load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    by_user: dict[int, list] = {}
    for r in sess:
        by_user.setdefault(r.user_id, []).append(r)
        assert r.start_us <= r.end_us
        assert r.n_events >= 1
    for uid, rows in by_user.items():
        seqs = sorted(r.session_seq for r in rows)
        assert seqs == list(range(1, len(rows) + 1))
        assert sum(r.n_events for r in rows) == totals[uid]
        ordered = sorted(rows, key=lambda r: r.session_seq)
        for a, b in zip(ordered, ordered[1:]):
            # consecutive sessions are separated by more than the gap
            assert b.start_us - a.end_us > W10_GAP_US


def _ref_bpe(word_counts, k):
    """Independent pure-Python BPE trainer (argmax = count desc, pair
    asc; greedy left-to-right non-overlapping merge application)."""
    encs = {w: list(w) + ["</w>"] for w in word_counts}
    merges = []
    for rnd in range(1, k + 1):
        counts = {}
        for w, c in word_counts.items():
            s = encs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get(
                    (s[i], s[i + 1]), 0
                ) + c
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        merges.append((rnd, l, r, cnt))
        for w in word_counts:
            s, out, i = encs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            encs[w] = out
    return merges


def test_t21_matches_the_python_reference_on_random_corpora(
    spark, tmp_path
):
    """Triangulation for the BPE trainer: random small-alphabet word
    corpora (runs and count-ties everywhere by construction) must
    yield the identical merge table from the Spark loop and an
    independent pure-Python trainer."""
    import random

    from customer_review__etl_spark.plans.textplans import (
        BPE_MERGES,
        t21_bpe_merges,
    )

    for seed in (7, 19, 101):
        rng = random.Random(seed)
        word_counts = {}
        for _ in range(rng.randint(4, 12)):
            w = "".join(
                rng.choice("ab") for _ in range(rng.randint(1, 6))
            )
            word_counts[w] = word_counts.get(w, 0) + rng.randint(1, 5)
        text = " ".join(
            w for w, c in sorted(word_counts.items()) for _ in range(c)
        )
        d = str(tmp_path / f"bpe{seed}")
        spark.createDataFrame(
            [(1, text, "en", "web", len(text))],
            "doc_id BIGINT, text STRING, lang STRING, source STRING, "
            "n_chars BIGINT",
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/documents.parquet"
        )
        got = [
            (r.merge_round, r.l_tok, r.r_tok, r.pair_count)
            for r in t21_bpe_merges(spark, d).collect()
        ]
        assert got == _ref_bpe(word_counts, BPE_MERGES), f"seed {seed}"


def test_w10_matches_the_python_reference_on_random_events(
    spark, tmp_path
):
    """Triangulation for sessionization: random event sets with gaps
    engineered around the exact 30-minute boundary (strictly-greater
    splits) and duplicate timestamps must sessionize identically in
    the Spark plan and a straightforward Python walk."""
    import random

    gap = W10_GAP_US
    rng = random.Random(13)
    rows, refs = [], {}
    eid = 0
    for user in range(1, 6):
        us = rng.randint(0, 10 ** 9)
        events = []
        for _ in range(rng.randint(1, 40)):
            eid += 1
            cents = rng.randint(-500, 500)
            events.append((eid, us, cents))
            step = rng.choice(
                [0, 1, gap - 1, gap, gap + 1, rng.randint(1, 2 * gap)]
            )
            us += step
        rows.extend(
            (e, _TS0 + datetime.timedelta(microseconds=u), user,
             "view", c / 100.0, None)
            for e, u, c in events
        )
        sess, cur = [], None
        for e, u, c in sorted(events, key=lambda t: (t[1], t[0])):
            if cur is None or u - cur["end"] > gap:
                cur = {"n": 0, "start": u, "end": u, "sum": 0}
                sess.append(cur)
            cur["n"] += 1
            cur["end"] = u
            cur["sum"] += c
        # session tz is pinned UTC, so NTZ wall-clock == UTC instant
        base_us = int(
            _TS0.replace(tzinfo=datetime.timezone.utc).timestamp()
            * 1_000_000
        )
        for i, s in enumerate(sess, 1):
            refs[(user, i)] = (
                s["n"], base_us + s["start"], base_us + s["end"], s["sum"]
            )
    _write_events(spark, str(tmp_path), rows)
    got = {
        (r.user_id, r.session_seq): (
            r.n_events, r.start_us, r.end_us, r.sum_cents
        )
        for r in w10_sessionize(spark, str(tmp_path)).collect()
    }
    assert got == refs


def test_a13_a16_match_python_references_on_random_values(spark, tmp_path):
    """Triangulation for the rank-pick machinery: random grouped cent
    values (duplicates, negatives, 1-row and even/odd-sized groups)
    must reproduce a straightforward sorted-list Python computation of
    the quantile matrix (value at ceil(q·n)) and of median/MAD/outlier
    counts."""
    import random

    from customer_review__etl_spark.plans.relational import (
        A13_QUANTILES,
        A16_MAD_K,
        a13_grouped_quantiles,
        a16_mad_outliers,
    )

    rng = random.Random(99)
    groups = {}
    orders, events = [], []
    oid = 0
    for gi, prio in enumerate(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW", "5-ONE"]
    ):
        n = [1, 2, 7, 40, 1][gi]
        vals = [rng.randint(-2000, 2000) for _ in range(n)]
        groups[prio] = vals
        for v in vals:
            oid += 1
            orders.append((oid, 1, "F", v / 100.0, _TS0, prio))
            events.append((oid, _mins(oid), 1, prio, v / 100.0, None))
    spark.createDataFrame(
        orders,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, "
        "o_orderpriority STRING",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/orders.parquet"
    )
    _write_events(spark, str(tmp_path), events)

    def pick(sorted_vals, q):
        k = (len(sorted_vals) * q + 99) // 100
        return sorted_vals[k - 1]

    got13 = {
        r.o_orderpriority: r
        for r in a13_grouped_quantiles(spark, str(tmp_path)).collect()
    }
    for prio, vals in groups.items():
        sv = sorted(vals)
        row = got13[prio]
        assert row.n == len(vals)
        for q in A13_QUANTILES:
            assert getattr(row, f"p{q}_cents") == pick(sv, q), (prio, q)

    got16 = {
        r.event_type: r
        for r in a16_mad_outliers(spark, str(tmp_path)).collect()
    }
    for prio, vals in groups.items():
        sv = sorted(vals)
        med = sv[(len(sv) + 1) // 2 - 1]
        ads = sorted(abs(v - med) for v in vals)
        mad = ads[(len(ads) + 1) // 2 - 1]
        n_out = sum(1 for v in vals if abs(v - med) > A16_MAD_K * mad)
        row = got16[prio]
        assert (row.med_cents, row.mad_cents, row.n_outliers) == (
            med, mad, n_out
        ), prio


def test_new_op_plans_keep_their_scale_claims(spark):
    """Physical pins for the round-7 scale statements: w10's two window
    passes reuse ONE exchange (lag + running sum on the same
    partitioning); io14's merge join is sort-merge with NO broadcast
    (both CDC sides are large at scale); w11's two row_numbers and the
    rollup ride a single (event_type, hour) partitioning."""
    from customer_review__etl_spark.plans.relational import (
        w10_sessionize,
        w11_ohlc_bars,
    )

    p = w10_sessionize(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    # exchanges: window partitioning + session rollup + presentation
    # sort; the second window pass must NOT add a fourth
    assert p.count("Exchange") <= 3, p[:800]

    from customer_review__etl_spark.plans.ioplans import _io14_merged

    p = _io14_merged(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SortMergeJoin" in p and "FullOuter" in p
    assert "BroadcastHashJoin" not in p

    p = w11_ohlc_bars(spark, SF_DIR)._jdf.queryExecution() \
        .executedPlan().toString()
    # one hash-partitioning for both windows + rollup, one final sort
    assert p.count("Exchange") <= 2, p[:800]


def _chunks_for(spark, tmp_path, docs):
    d = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return textplans.t19_cdc_chunks(spark, d).collect()


def test_t19_chunks_tile_the_document(spark, tmp_path):
    """Chunks are contiguous, 1-based, cover the text exactly, and no
    interior chunk is empty; a doc shorter than K is one whole chunk."""
    text = ("the quick brown fox jumps over the lazy dog and keeps "
            "running through the mossy forest until nightfall. " * 8)
    rows = _chunks_for(
        spark, tmp_path,
        [(1, text, "en", "web", len(text)), (2, "tiny", "en", "web", 4)],
    )
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        assert [c.chunk_idx for c in chunks] == list(
            range(1, len(chunks) + 1)
        )
        pos = 1
        for c in chunks:
            assert c.start_pos == pos
            assert c.chunk_len >= 1
            pos += c.chunk_len
        n = len(text) if doc_id == 1 else 4
        assert pos - 1 == n
    assert len(by_doc[2]) == 1  # sub-K doc: single trailing cut


def test_t19_boundaries_are_content_defined(spark, tmp_path):
    """The CDC property t18's fixed stride lacks: prepend an edit and
    all chunks past the edit's K-char influence keep their md5s —
    boundaries realign with content instead of shifting with offsets."""
    base = " ".join(
        f"sentence number {i} talks about topic {i * i % 97} in detail"
        for i in range(60)
    )
    edited = "EDIT! " + base
    rows = _chunks_for(
        spark, tmp_path,
        [(1, base, "en", "web", len(base)),
         (2, edited, "en", "web", len(edited))],
    )
    seqs = {1: [], 2: []}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.chunk_idx)):
        seqs[r.doc_id].append((r.chunk_len, r.chunk_md5))
    a, b = seqs[1], seqs[2]
    assert len(a) >= 5, "fixture too short to be meaningful"
    suffix = 0
    while (suffix < min(len(a), len(b))
           and a[-1 - suffix] == b[-1 - suffix]):
        suffix += 1
    # boundaries realign within K chars of the edit: every chunk except
    # the one(s) containing/preceding the edit region keeps length+md5
    assert suffix >= len(a) - 3, (suffix, len(a), len(b))


def _t19_reference(text):
    """Independent pure-Python t19 chunker (third implementation beside
    the Spark plan and the DuckDB oracle): polynomial K-gram hash,
    boundary at hash % DIV == 0, trailing cut at n."""
    K, B, DIV, MOD = (
        textplans.T19_K, textplans.T19_B, textplans.T19_DIV,
        textplans.T19_CODE_MOD,
    )
    codes = [ord(c) % MOD for c in text]
    n = len(codes)
    cuts = [
        i for i in range(K, n)  # 1-based end positions K..n-1
        if sum(codes[i - d - 1] * B ** d for d in range(K)) % DIV == 0
    ] + [n]
    out, prev = [], 0
    for idx, cut in enumerate(cuts, 1):
        out.append((idx, prev + 1, cut - prev, text[prev:cut]))
        prev = cut
    return out


def test_t19_matches_the_python_reference_on_a_random_corpus(spark, tmp_path):
    """Triangulation: 200 seeded-random strings — uniform ASCII,
    single-char runs, periodic repeats, whitespace-heavy, length 1 to
    ~600 — chunk identically under the Spark plan and an independent
    pure-Python implementation (one Spark round-trip for the whole
    corpus, not one per example)."""
    import hashlib
    import random

    rng = random.Random(42)
    texts = []
    for i in range(200):
        kind = i % 4
        n = rng.randint(1, 600)
        if kind == 0:
            texts.append(
                "".join(chr(rng.randint(32, 126)) for _ in range(n))
            )
        elif kind == 1:
            texts.append(rng.choice("ax ") * n)
        elif kind == 2:
            base = "".join(chr(rng.randint(97, 122)) for _ in range(7))
            texts.append((base * (n // 7 + 1))[:n])
        else:
            texts.append(
                " ".join(
                    str(rng.randint(0, 10 ** 6))
                    for _ in range(max(1, n // 7))
                )
            )
    docs = [
        (i, t, "en", "web", len(t)) for i, t in enumerate(texts)
    ]
    rows = _chunks_for(spark, tmp_path, docs)
    got = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.start_pos, r.chunk_len, r.chunk_md5)
        )
    for i, t in enumerate(texts):
        want = [
            (idx, st, ln, hashlib.md5(body.encode()).hexdigest())
            for idx, st, ln, body in _t19_reference(t)
        ]
        assert sorted(got.get(i, [])) == want, f"doc {i}"


def test_t19_expensive_scan_stays_above_the_exchange(spark):
    """Plan guard for the InferFiltersFromGenerate regression: the
    pushed-down scan filter must stay CHEAP (no higher-order filter()
    over the gram hash below the parallelizing repartition). With the
    nondeterministic no-op in place the expensive lambda appears in
    exactly one Project above the exchange, not in a Filter below."""
    df = textplans.t19_cdc_chunks(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    below = plan.split("Repartition")[-1]
    assert "lambdafunction" not in below.split("Relation")[0].replace(
        "transform(split", ""
    ) or "filter(sequence" not in below, (
        "gram-hash filter was pushed below the repartition:\n" + below[:500]
    )


def test_d07_catches_containment_jaccard_misses(spark, tmp_path):
    """Plant a short doc verbatim inside a 10×-longer host: containment
    ≈ 1.0 must surface the pair, while d04's symmetric jaccard on the
    same corpus stays silent (the length gap caps jaccard ≪ 0.4) —
    the exact failure mode d07 exists for. An unrelated third doc must
    not pair with either."""
    from customer_review__etl_spark.plans import dedupplans as DP

    short = ("the quarterly compliance memorandum requires every vendor "
             "to submit security attestations before onboarding")
    filler = " ".join(
        f"unrelated host sentence {i} discussing logistics topic {i * 3}"
        for i in range(40)
    )
    host = filler[: len(filler) // 2] + " " + short + " " + \
        filler[len(filler) // 2:]
    other = " ".join(
        f"completely different subject matter item {i} about astronomy"
        for i in range(30)
    )
    d = str(tmp_path)
    spark.createDataFrame(
        [(1, short, "en", "web", len(short)),
         (2, host, "en", "web", len(host)),
         (3, other, "en", "web", len(other))],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    cont = {(r.doc_a, r.doc_b): r.containment
            for r in DP.d07_containment_pairs(spark, d).collect()}
    assert (1, 2) in cont and cont[(1, 2)] >= 0.95
    assert not any(3 in p for p in cont)
    jac = {(r.doc_a, r.doc_b)
           for r in DP.d04_ngram_jaccard(spark, d).collect()}
    assert (1, 2) not in jac


def test_p18_temperature_flattens_the_mix(spark):
    """α = 0.5 sampling: sampled shares sit strictly between the raw
    corpus shares and uniform — the head domain's share shrinks, the
    tail domains' shares grow — and the total lands near the budget."""
    from customer_review__etl_spark.plans.relational import (
        P18_BUDGET,
        p18_temperature_mix,
    )
    from customer_review__etl_spark.sources import tables

    corpus = {
        r.lang: r.n
        for r in tables.load(spark, SF_DIR, "documents")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    kept = {
        r.lang: r.n
        for r in p18_temperature_mix(spark, SF_DIR)
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_total = sum(corpus.values())
    k_total = sum(kept.values())
    assert abs(k_total - P18_BUDGET * n_total) <= 0.1 * n_total
    head = max(corpus, key=corpus.get)
    tail = min(corpus, key=corpus.get)
    # head domain is downsampled harder than the tail domain
    assert kept[head] / corpus[head] < kept.get(tail, 0) / corpus[tail]
    # sampled share of the head sits below its raw corpus share
    assert kept[head] / k_total < corpus[head] / n_total


def test_t21_bpe_learns_the_hand_computed_merges(spark, tmp_path):
    """Planted corpus 'aaaa aaaa ccc' — every round hand-checkable,
    covering the tricky cases: identical-symbol RUNS count overlapping
    pairs (round 1: (a,a) = 3 positions × weight 2 = 6) but merge
    greedily left-to-right non-overlapping (aaaa → aa aa, round 4:
    ccc → cc c with an odd leftover), and ties break (count desc,
    pair asc) with '</w>' sorting before letters."""
    from customer_review__etl_spark.plans.textplans import t21_bpe_merges

    d = str(tmp_path)
    spark.createDataFrame(
        [(1, "aaaa aaaa ccc", "en", "web", 13)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = [
        (r.merge_round, r.l_tok, r.r_tok, r.pair_count)
        for r in t21_bpe_merges(spark, d).collect()
    ]
    assert got == [
        (1, "a", "a", 6),
        (2, "aa", "</w>", 2),
        (3, "aa", "aa</w>", 2),
        (4, "c", "c", 2),
        (5, "c", "</w>", 1),
        (6, "cc", "c</w>", 1),
    ]


def test_io15_reads_the_manifest_not_the_listing(spark, tmp_path):
    """Physical proof of snapshot isolation: after v3 deletes file B,
    REPLACE B's parquet bytes with garbage. The as-of-v3 read (manifest
    excludes B) still answers correctly — any reader that resolved the
    directory listing instead would throw on the corrupt file — while
    the as-of-v2 read (manifest includes B) must fail."""
    import pathlib

    import pytest as _pytest

    root = str(tmp_path / "snap")
    schema = ioplans.io15_write_snapshots(spark, SF_DIR, root)
    expected_v3 = (
        ioplans.io15_read_snapshot(spark, root, 3, schema).count()
    )
    corrupted = 0
    for f in pathlib.Path(f"{root}/data/file_b").rglob("*.parquet"):
        f.write_bytes(b"garbage, not parquet")
        corrupted += 1
    assert corrupted > 0
    assert (
        ioplans.io15_read_snapshot(spark, root, 3, schema).count()
        == expected_v3
    )
    with _pytest.raises(Exception):
        ioplans.io15_read_snapshot(spark, root, 2, schema).count()


def test_ml11_buckets_partition_the_corpus(spark):
    """Calibration rows partition the corpus exactly (every doc lands
    in one margin bucket), counts are consistent, accuracy ∈ [0, 1],
    and buckets are the floor-log2 of a non-negative margin."""
    from customer_review__etl_spark.plans.mlplans import (
        ml11_confidence_calibration,
    )
    from customer_review__etl_spark.sources import tables

    rows = ml11_confidence_calibration(spark, SF_DIR).collect()
    n_corpus = tables.load(spark, SF_DIR, "documents").count()
    assert sum(r.n_docs for r in rows) == n_corpus
    for r in rows:
        assert 0 <= r.n_correct <= r.n_docs
        assert 0.0 <= r.accuracy <= 1.0
        assert r.margin_bucket is None or r.margin_bucket >= 0


def test_pl02_reads_the_store_instead_of_recomputing(spark):
    """The incremental path's stored side must come from the landed
    parquet store, not a recompute: the physical plan scans a
    pl02_store_ location, and the only text-deriving projection in the
    plan applies to the anti-joined delta (one scan of documents with
    the token/md5 expressions, one plain store scan)."""
    from customer_review__etl_spark.plans import pipelineplans as PL

    df = PL.pl02_incremental_refresh(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "pl02_store_" in plan
    # exactly one branch computes md5 over normalized text (the delta);
    # the stored branch carries the column through from parquet
    assert plan.count("md5(") == 1


def test_dc03_flags_planted_verbatim_inclusion(spark, tmp_path):
    """Planted corpus: eval doc 0 (doc_id % 13 == 0) is quoted
    wholesale inside train doc 1; train doc 2 shares every WORD but
    not the contiguous text (dc01's gram overlap would flag it, the
    verbatim rung must NOT); doc 3 is unrelated."""
    from customer_review__etl_spark.plans import dedupplans as DP

    eval_text = ("the benchmark question asks which planet has the "
                 "largest ring system in the solar system")
    host = ("scraped page preamble text " + eval_text +
            " trailing comment thread follows here")
    shuffled = ("system solar the in system ring largest the has "
                "planet which asks question benchmark the")
    d = str(tmp_path)
    spark.createDataFrame(
        [(0, eval_text, "en", "web", len(eval_text)),
         (1, host, "en", "web", len(host)),
         (2, shuffled, "en", "web", len(shuffled)),
         (3, "entirely different content about gardening", "en", "web", 42)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {(r.train_doc, r.eval_doc)
           for r in DP.dc03_verbatim_decontaminate(spark, d).collect()}
    assert got == {(1, 0)}


def test_io15_optimistic_commit_conflict_and_rebase(spark, tmp_path):
    """Two writers race from the same base version: the winner lands
    v4 atomically; the loser's commit at the same slot raises
    CommitConflict, re-reads the new latest, REBASES (its new file on
    top of the winner's file set), and lands v5 — no data rewrite, no
    lost update (both writers' files are in the final manifest)."""
    import pytest as _pytest

    from customer_review__etl_spark.plans.manifestio import (
        CommitConflict,
        io15_commit_snapshot,
        io15_latest_version,
        manifest_files,
    )

    root = str(tmp_path / "snap")
    ioplans.io15_write_snapshots(spark, SF_DIR, root)  # commits v1-v3
    base = io15_latest_version(root)
    assert base == 3
    base_files = manifest_files(root, base)

    # writer A wins the v4 slot
    v4 = io15_commit_snapshot(
        root, base_files + ["fileA"], expected_version=base
    )
    assert v4 == 4

    # writer B, still based on v3, must conflict at the same slot...
    with _pytest.raises(CommitConflict):
        io15_commit_snapshot(
            root, base_files + ["fileB"], expected_version=base
        )
    # ...then rebase on the NEW latest and retry
    latest = io15_latest_version(root)
    rebased = manifest_files(root, latest)
    v5 = io15_commit_snapshot(
        root, rebased + ["fileB"], expected_version=latest
    )
    assert v5 == 5
    final = manifest_files(root, 5)
    assert "fileA" in final and "fileB" in final  # no lost update


def test_io14_merge_classification(spark, tmp_path):
    """Known 12-key fixture covering all four MERGE outcomes, including
    a NULL payload on a matched key (the b_custkey trap the edge
    corpus caught: matched-ness must come from the presence marker)."""
    rows = []
    for k in range(1, 13):
        rows.append(
            (k, None if k == 6 else k * 10, "F", 100.0 + k,
             _TS0, "1-URGENT")
        )
    spark.createDataFrame(
        rows,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, "
        "o_orderpriority STRING",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tmp_path}/orders.parquet"
    )
    out = {
        r.o_orderkey: r
        for r in ioplans.io14_merge_upsert(spark, str(tmp_path)).collect()
    }
    for k in range(1, 13):
        in_base = k % ioplans.IO14_BASE_MOD != 0
        in_cdc = k % ioplans.IO14_CDC_MOD == 0
        deleted = in_cdc and k % ioplans.IO14_DELETE_MOD == 0
        if deleted and in_base:
            assert k not in out, k
        elif in_cdc and not deleted and in_base:
            assert out[k].action == "updated"
            assert out[k].price_cents == round((100.0 + k) * 100) + \
                ioplans.IO14_BUMP_CENTS
        elif in_cdc and not deleted:
            assert out[k].action == "inserted"
        elif in_base:
            assert out[k].action == "kept"
            assert out[k].price_cents == round((100.0 + k) * 100)
        else:
            assert k not in out, k
    # the matched NULL-payload key (6: even, in base, not deleted)
    assert out[6].action == "updated" and out[6].o_custkey is None
