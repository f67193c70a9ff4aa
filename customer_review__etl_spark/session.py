"""SparkSession construction + per-session conf normalization.

The driver owns the SparkSession for `queries()`, so everything this
engine needs beyond defaults must be settable at RUNTIME. `ensure_confs`
applies it where a session enters the engine, and only there:
`get_spark`, every registry call (`plans._prepared`, which
`__spark_entry__.entry` goes through too) and the streaming clone
(`jobs._stream_session`). Code below those places (`tables.load`,
`jobs.stream_events`) reads under the confs they set.

Builder-only confs. Static confs are fixed when the JVM starts or
the first session is built, so `ensure_confs` cannot apply them to a
session the driver supplies; `get_spark` sets them on the builder:
- `spark.sql.codegen.cache.maxEntries` (CODEGEN_CACHE_ENTRIES): the
  compiled-class cache. A driver-supplied session (`__spark_entry__`)
  keeps Spark's 100 entries and recompiles what falls out of it.
- the initial `spark.sql.shuffle.partitions`, `min(2 × cpus, 64)`; on a
  real cluster AQE's coalescing makes the initial number much less
  sensitive. (It is a runtime conf, but only the builder sets it.)
- `spark.scheduler.mode` FAIR and `spark.driver.memory`.

Scale notes (100 TB manners):
- AQE on: post-shuffle coalescing, skew-join splitting, dynamic
  broadcast demotion pick physical strategies at runtime.
- session timezone pinned to UTC so timestamp semantics are stable
  across driver hosts (and match the DuckDB oracle's naive reading).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_RUNTIME_CONFS: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark's parquet reader
    # rejects; read as long and convert (sources.tables.load handles it).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    # MM/dd/yyyy coerce-cast parity with the reference's
    # pd.to_datetime(errors='coerce') (cleaner.py:104-107): non-ANSI
    # casts yield NULL instead of raising.
    "spark.sql.ansi.enabled": "false",
    # InferFiltersFromGenerate synthesizes `size(arr) > 0 AND
    # isnotnull(arr)` below every explode, and predicate pushdown then
    # substitutes the WHOLE array-building expression into that filter
    # down at the scan. For the gram/shingle builders (nested
    # transform() chains) the substitution nests the inner
    # char-transform inside the outer pack-transform's lambda, and the
    # resulting predicate is evaluated INTERPRETED, re-deriving the
    # inner array per element — O(doc_len²) per row, measured as
    # 20-minute scan tasks on the 30× probe corpus (r16; jstack showed
    # GeneratedClass$SpecificPredicate.ArrayDistinct with
    # ArrayTransform nested in ArrayTransform) vs seconds for the
    # projection itself. The inferred filter only saves shuffling
    # rows whose gram array is empty — which the builders' explicit
    # length() prefilters already remove — so excluding the rule is a
    # pure win for every explode-over-computed-array plan in this
    # engine.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}

# Compiled generated classes kept per JVM, in an LRU cache (Spark's
# default is 100). Distinct classes the engine compiles, counted with
# CodegenMetrics' compile counter on 4 cores over sf0.01: one round of
# the 15 dashboard_mix queries 212, one review pass 94, one call of
# every registry query 2,849. At 100 entries every warm dashboard round
# recompiled about 200 classes, every warm review pass 23-49, and a second
# registry sweep 3,687; at 4096 a warm review pass compiles none, and a
# warm round or sweep compiles only plan variants it has not met yet
# (AQE numbers codegen stages, and the number is in the class name): 192
# classes on the second sweep, 36-57 on the third to fifth. 4096 is the
# smallest power of two above the whole registry, which tier-1's
# registry sweep runs in one JVM (1,024 would thrash there). Cost after
# one registry sweep: heap after GC 438 MB against 363 MB, metaspace
# 266 against 245 MB.
CODEGEN_CACHE_ENTRIES = 4096


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply the runtime confs this engine depends on. A
    conf the session refuses raises: answers read under another time
    zone or cast mode would differ without an error."""
    for k, v in _RUNTIME_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    return spark


def get_spark(app_name: str) -> SparkSession:
    """Build a local session shaped like the target deployment.

    Tests and perfbench use this; the driver supplies its own session to
    `__spark_entry__` (then `ensure_confs` runs on it). The engine's
    runtime confs are set by `ensure_confs` alone, here as there.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(min(int(cpus) * 2, 64)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Scan-split sizing is data-scale-relative: the local testdata is
        # one small parquet file per table (sf0.1 lineitem ≈ 10 MB), so
        # the 128m cluster default makes every scan a single task and
        # leaves 31 of 32 cores idle. 1m splits the file across cores
        # (measured 3-6× on scan-heavy queries). A 100 TB deployment
        # reads many ≥128 MB files and should unset this (default 128m
        # keeps task count = file-chunk count there).
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.driver.memory", "8g")
        # FAIR job scheduling: io05's two CTAS writes, landings built
        # from separate threads (materialized_df's per-kind locks) and
        # the review pass's two branches (app.run_pipeline: the
        # classifier on a second thread, LDA themes on the caller's)
        # run concurrent jobs. NOTE (r9 ADVICE #2): FAIR round-robins
        # BETWEEN pools; intra-pool order in the default pool is FIFO,
        # which still lets queued jobs grab slots as the head job's
        # stages drain. Callers that want true round-robin set a
        # per-thread spark.scheduler.pool (unnamed pools are created on
        # demand with default weight).
        # With a single job at a time this is indistinguishable from
        # FIFO.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
    )
    return ensure_confs(builder.getOrCreate())
