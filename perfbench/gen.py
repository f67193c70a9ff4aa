"""Seeded input generator for the benchmark.

Writes the parquet tables the engine reads (``sources.tables``) with the
same schemas and value domains as the project's fixture tables, so every
registry query and its DuckDB oracle twin run unchanged. The same seed
always gives byte-identical files; different seeds give different data
of the same size and shape, so costs stay comparable across seeds.

Only numpy and pyarrow are used: no Spark, no reads outside the output
directory.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Share of documents that are near-duplicates of an earlier document
# (its text plus one extra token), and share that are exact copies.
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
WORD_DECAY = 0.97  # each word in VOCAB order is this much rarer than the one before
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20

# Row counts per table; lineitem is four rows per order.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "events": 10000,
    "event_users": 150,
    "documents": 500,
}

def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", store_schema=False)


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def kept_docs(texts: list[str]) -> dict[str, int]:
    """Each distinct text with its first doc_id: what the review app's
    exact dedup keeps."""
    kept: dict[str, int] = {}
    for doc_id, text in enumerate(texts):
        kept.setdefault(text, doc_id)
    return kept


def is_test(doc_id: int) -> bool:
    """The review app's content-addressed split: md5 of the id, first
    byte at or above 0xcd goes to the test side."""
    return hashlib.md5(str(doc_id).encode()).hexdigest()[:2] >= "cd"


def _has_count_ties(texts: list[str]) -> bool:
    """True when two tokens have the same total count in the distinct
    texts or in their training side. CountVectorizer breaks count ties
    in task-completion order, so a tie would let the classifier's
    feature order, and so its accuracy, change from pass to pass."""
    kept = kept_docs(texts)
    subsets = (list(kept), [t for t, i in kept.items() if not is_test(i)])
    for subset in subsets:
        counts: dict[str, int] = {}
        for text in subset:
            for w in text.split():
                if len(w) > 2 and w != "the":  # the app drops short words and stopwords
                    counts[w] = counts.get(w, 0) + 1
        if len(set(counts.values())) < len(counts):
            return True
    return False


def _texts(rng: np.random.Generator, n_docs: int) -> list[str]:
    # Word frequencies fall gently and in a fixed order, so token counts
    # are apart (ties are rare) and the corpus has the same make-up, and
    # so the same pipeline cost, for every seed: the seed only picks
    # which words each document gets.
    p = WORD_DECAY ** np.arange(len(VOCAB))
    p /= p.sum()
    # Lengths 10..100 words, each equally often, in a seeded order.
    lengths = rng.permutation(np.resize(np.arange(10, 101), n_docs))
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(len(VOCAB), int(lengths[i]), p=p)
            texts.append(" ".join(VOCAB[w] for w in words))
    return texts


def documents_table(seed: int, n_docs: int) -> tuple[pa.Table, int]:
    """The review corpus: random texts over the fixture vocabulary with
    NEAR_DUP_SHARE near-duplicates and EXACT_DUP_SHARE exact copies of
    earlier documents, redrawn until no two tokens tie in count.
    Returns the table and its count of distinct texts."""
    attempt = 0
    while True:
        rng = np.random.default_rng([seed, 7, attempt])
        texts = _texts(rng, n_docs)
        if not _has_count_ties(texts):
            break
        attempt += 1
    ids = np.arange(n_docs, dtype=np.int64)
    table = pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, len(set(texts))


def write_documents(out_dir: str, seed: int, n_docs: int | None = None) -> int:
    """Write documents.parquet only; returns the distinct-text count."""
    os.makedirs(out_dir, exist_ok=True)
    table, n_distinct = documents_table(seed, n_docs or SIZES["documents"])
    _write(table, os.path.join(out_dir, "documents.parquet"))
    return n_distinct


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table the workloads read; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_c, n_s, n_p = SIZES["customer"], SIZES["supplier"], SIZES["part"]
    n_o, n_e = SIZES["orders"], SIZES["events"]
    n_l = 4 * n_o

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": _choice(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_c
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        }),
    }
    adjectives = ["small", "red", "blue", "hot", "cold", "big", "green", "old"]
    nouns = ["ring", "widget", "bolt", "gear", "pipe", "nut", "valve", "spring"]
    names = [f"{a} {b}" for a in adjectives for b in nouns]
    part_keys = np.arange(n_p, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": part_keys,
        "p_name": _choice(rng, names, n_p),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_p)]),
        "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_p),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (part_keys % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _days(rng, n_o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _choice(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_o
        ),
    })
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l),
        "l_partkey": rng.integers(0, n_p, n_l),
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_l),
        "l_linestatus": _choice(rng, ["F", "O"], n_l),
        "l_shipdate": _days(rng, n_l, "1995-01-02", "2001-11-04"),
    })
    start_us = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start_us + rng.integers(0, 30 * 86_400_000_000, n_e))
    tables["events"] = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, SIZES["event_users"], n_e),
        "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], n_e),
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
    })
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    write_documents(out_dir, seed)
    counts = {name: t.num_rows for name, t in tables.items()}
    counts["documents"] = SIZES["documents"]
    return counts
