"""SparkSession construction + per-session conf normalization.

The driver owns the SparkSession for `queries()`, so everything this
engine needs beyond defaults must be settable at RUNTIME. `ensure_confs`
is called by every plan entry point; it is idempotent and cheap.

Scale notes (100 TB manners):
- AQE on: post-shuffle coalescing, skew-join splitting, dynamic
  broadcast demotion pick physical strategies at runtime.
- shuffle.partitions is a local[32] default; on a real cluster AQE's
  coalescing makes the initial number much less sensitive.
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


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs this engine depends on."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # Non-fatal: a conf may be static in exotic deployments; the
            # plans that need it will fail loudly with a clear error.
            pass
    return spark


def get_spark(app_name: str = "customer-review-etl-spark") -> SparkSession:
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
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Scan-split sizing is data-scale-relative: the local testdata is
        # one small parquet file per table (sf0.1 lineitem ≈ 10 MB), so
        # the 128m cluster default makes every scan a single task and
        # leaves 31 of 32 cores idle. 1m splits the file across cores
        # (measured 3-6× on scan-heavy queries). A 100 TB deployment
        # reads many ≥128 MB files and should unset this (default 128m
        # keeps task count = file-chunk count there).
        .config("spark.sql.files.maxPartitionBytes", "1m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # FAIR job scheduling: io05's two CTAS writes and landings built
        # from separate threads (materialized_df's per-kind locks) run
        # concurrent jobs. NOTE (r9 ADVICE #2): FAIR round-robins
        # BETWEEN pools; intra-pool order in the default pool is FIFO,
        # which still lets queued jobs grab slots as the head job's
        # stages drain. Callers that want true round-robin set a
        # per-thread spark.scheduler.pool (unnamed pools are created on
        # demand with default weight).
        # With a single job at a time this is indistinguishable from
        # FIFO.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
    )
    return ensure_confs(builder.getOrCreate())
