"""Cross-engine deterministic numeric helpers.

The driver value-hashes Spark output against DuckDB output, so floating
point must be bit-identical. Two rules make that true:

1. **Integer-exact money sums**: monetary columns carry ≤2 decimals, so
   `round(x*100)` is the exact integer of cents; summing longs is exact
   and order-independent; one final division by a power of ten is a
   single deterministic IEEE op. Engine-level SUM(double) would depend
   on partial-aggregation order and differ in the last bits.

2. **floor-scaling instead of round()**: `floor(x*1e6 + 0.5)/1e6` uses
   only IEEE-exact ops (multiply, add, floor, divide) so every engine
   computes the same double, whereas round() half-up/half-even behavior
   differs across engines on exact-half values (which dyadic floats do
   hit, e.g. 2^-7 = 0.0078125).
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cents(col: Column) -> Column:
    """Exact integer cents of a ≤2-decimal money double."""
    return F.round(col * 100).cast("long")


def sql_cents(expr: str) -> str:
    return f"CAST(round(({expr}) * 100) AS BIGINT)"


def floor6(col: Column) -> Column:
    """Deterministic 6-decimal quantization (see module docstring).

    Domain: |x| ≤ ~9.2e12 — Spark's floor() returns LONG, so x*1e6
    beyond int64 overflows (DuckDB's floor stays DOUBLE and silently
    diverges there). Callers only quantize ratio/cosine-scale values;
    tests/test_determinism_corpus.py pins the in-domain contract."""
    return F.floor(col * F.lit(1000000.0) + F.lit(0.5)) / F.lit(1000000.0)


def sql_floor6(expr: str) -> str:
    return f"(floor(({expr}) * 1000000.0 + 0.5) / 1000000.0)"


def scaled(col: Column, decimals: int) -> Column:
    """Exact integer of a value with ≤`decimals` true decimal digits.

    Generalizes `cents`: e.g. extendedprice*(1-discount) carries 4
    decimals → scaled(col, 4) sums exactly as longs. Both engines
    compute the same double product (IEEE ops in the same order), so
    round() lands on the same integer.
    """
    return F.round(col * (10 ** decimals)).cast("long")


def sql_scaled(expr: str, decimals: int) -> str:
    return f"CAST(round(({expr}) * {10 ** decimals}) AS BIGINT)"


def sql_stopword_array() -> str:
    """The engine STOPWORDS as a DuckDB list literal (same words, same
    order) so oracle SQL filters with the identical set."""
    from ..functions.text import STOPWORDS

    inner = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"[{inner}]"


# ---------------------------------------------------------------------------
# DuckDB fragments mirroring functions.text — kept adjacent to their Spark
# twins' helpers so the two sides can only drift in one reviewable place.
# ---------------------------------------------------------------------------


def sql_normalize(expr: str) -> str:
    """DuckDB twin of text.normalize_text (F1-F3)."""
    return rf"regexp_replace(lower(coalesce({expr}, '')), '[^a-z\s]', '', 'g')"


def sql_raw_tokens(expr: str) -> str:
    """DuckDB twin of text.raw_tokens: \\s+ split, empties dropped,
    NULL ≡ empty (zero tokens, never a NULL list)."""
    return (
        rf"list_filter(string_split_regex(coalesce({expr}, ''), '\s+'), "
        rf"_t -> len(_t) > 0)"
    )


def sql_clean_tokens(expr: str) -> str:
    """DuckDB twin of text.clean_tokens (F4+F5 over normalized text)."""
    return (
        rf"list_filter(string_split_regex({sql_normalize(expr)}, '\s+'), "
        rf"_t -> len(_t) > 2 AND NOT list_contains({sql_stopword_array()}, _t))"
    )


def shuffle_width(spark) -> int:
    """Explicit-repartition width for CPU-heavy verify stages.

    Explicit `repartition(n, key)` is the cure for AQE coalescing a
    byte-tiny exchange whose ROWS are expensive to process (the d04
    straggler: per-row array_intersect cost, not byte size, is what
    matters). The width must follow the session, not a constant — 64
    on local[32], the configured shuffle width on a 1000-executor
    cluster — or the fix itself becomes the bottleneck at scale.
    AQE does not re-coalesce a user-specified numPartitions."""
    try:
        return max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except Exception:
        return 64


def sql_cc_min_label(
    pairs: str = "pairs", a: str = "s", b: str = "d", rounds: int = 18
) -> str:
    """Unrolled min-label + pointer-jump connected components as oracle
    CTEs (round 13) — the SQL twin of dedupplans.connected_components,
    replacing the all-pairs recursive `reach` closure the CC oracles
    (d05/d06/gr05/s05 and the recipe oracles that embed them) carried
    before.

    Why: `reach` materializes every (node, reachable-node) pair — n²
    rows inside one big component — which made the d06/pl06 oracles at
    sf0.1 run for ~40–65 MINUTES each in DuckDB (measured r13; a pure
    oracle-side cost that was starting to dominate the differential
    sweep's wall). This form mirrors the Spark side's exact round:
    edge-propagate + min-aggregate, then pointer jump
    (least(lbl, lbl(lbl))), so the label table stays at n rows per
    round and the whole closure is `rounds` cheap hash joins.

    Exactness: labels are monotonically non-increasing and the
    pointer jump halves label-path depth per round, so `rounds`=18
    converges for any component a path of length ~2^18 could produce —
    far beyond every corpus the oracles run on (≤ ~10⁴ nodes). If the
    margin were ever exceeded the oracle would NOT silently agree: the
    Spark side iterates to a certified fixpoint, so an unconverged
    oracle label necessarily mismatches and the differential compare
    fails loudly.

    Expects a `pairs` CTE already in scope holding the raw node pairs
    in columns `a`/`b`, in ANY orientation — the helper builds the
    bidirectional edge list itself (round-13 ADVICE #3: the old form
    required callers to pre-symmetrize AND guarantee every node
    appears in column s; a future caller passing directed edges got
    wrong labels that only surfaced as a confusing differential
    mismatch downstream — both obligations now live here). Emits CTE
    text ending in `cluster(node, mn)` — consumers keep their
    existing least/coalesce(outer-join) final projection, which also
    covers isolated nodes that never enter the pair list. The emitted
    names edges_m/lab*/cluster must not collide with caller CTEs.

    Every emitted CTE (and the `edges_m` snapshot of the caller's
    edge list) is AS MATERIALIZED: DuckDB 1.0 INLINES CTEs referenced
    more than once, and each round references its predecessor twice
    (propagate + jump) and the edge list once — inlined, the plan tree
    and the parquet file handles under it grow exponentially with
    `rounds` (measured: 'Too many open files' before any row moved)."""
    ctes = [
        f"edges_m AS MATERIALIZED (SELECT {a} AS s, {b} AS d FROM {pairs} "
        f"UNION SELECT {b}, {a} FROM {pairs})",
        "lab0 AS MATERIALIZED "
        "(SELECT DISTINCT s AS node, s AS lbl FROM edges_m)",
    ]
    for k in range(rounds):
        ctes.append(
            f"lab{k}p AS MATERIALIZED "
            f"(SELECT node, min(lbl) AS lbl FROM ("
            f"SELECT node, lbl FROM lab{k} UNION ALL "
            f"SELECT e.d AS node, l.lbl FROM edges_m e "
            f"JOIN lab{k} l ON l.node = e.s) GROUP BY node)"
        )
        ctes.append(
            f"lab{k + 1} AS MATERIALIZED (SELECT p.node, "
            f"least(p.lbl, coalesce(q.lbl, p.lbl)) AS lbl "
            f"FROM lab{k}p p LEFT JOIN lab{k}p q ON q.node = p.lbl)"
        )
    ctes.append(
        f"cluster AS (SELECT node, lbl AS mn FROM lab{rounds})"
    )
    return ",\n".join(ctes)


# One cached relation per slot, swapped on re-invocation (round-10
# ADVICE #2): a plan builder that caches a relation its plan reads
# several times returns a LAZY frame, so it cannot unpersist in a
# try/finally — the cache would be gone before the caller runs the
# plan. Every plan-level cache goes through a slot. Without one, a
# long-lived session (benchmark loops, a dashboard) keeps every cached
# relation until an external clearCache, and Spark's CacheManager,
# which matches a scan by path, serves it after its table is
# rewritten in place. Unpersisting the PREVIOUS call's cache bounds
# storage at one relation per slot and makes each call compute from
# the current files; a still-held stale DataFrame simply recomputes.
# Builders that cache the same plan share a slot: the CacheManager
# keeps one entry per plan, so two slots over one plan would release
# each other's entry.
_CACHE_SLOTS: dict[str, DataFrame] = {}
# plans are built from multiple threads (round-11 ADVICE #1): an
# unguarded pop/assign pair can leak a cached relation or unpersist one
# an in-flight concurrent job is reading (correct but slow — Spark
# recomputes).
_CACHE_LOCK = threading.Lock()


def cache_slot(key: str, df: DataFrame) -> DataFrame:
    """`df.cache()`, owned by the slot `key`: the slot's previous
    relation is released first."""
    with _CACHE_LOCK:
        prev = _CACHE_SLOTS.pop(key, None)
        if prev is not None:
            try:
                prev.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release
        _CACHE_SLOTS[key] = df.cache()
        return _CACHE_SLOTS[key]
