"""Event-time window plans over `events` (SURVEY.md §2.8).

st01-st03 are the batch expressions of the three window shapes
(tumbling / sliding / session); st04 runs the REAL Structured Streaming
job (readStream → watermark → window agg → AvailableNow) and is checked
against the same SQL oracle as st01 — proving stream/batch equivalence
under the driver's hash gate, not just in a unit test.

Scale notes:
- window aggs shuffle once on (window, key); partial aggregation
  happens map-side. Sliding windows multiply rows by
  (length/slide) = 2 here — explicit, bounded amplification.
- session windows shuffle on user_id; per-user state is one open
  session (the 30-min gap bounds it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import run_scratch
from ..sources import tables
from ..streaming import jobs
from . import QuerySpec
from .helpers import cents, sql_cents


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "events")


def st01_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type: count + exact cents sum."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("sum_cents"),
        )
        .select(F.col("w.start").alias("wstart"), "event_type", "n", "sum_cents")
    )


def st02_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min — each event lands in 2."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n")
    )


def st03_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap;
    session end = last event + gap (Spark session_window semantics,
    mirrored in the oracle's gaps-and-islands form)."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.session_window("ts", jobs.SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n",
        )
    )


def st04_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The genuine streaming pipeline: readStream(events) → 1h watermark
    → tumbling count/sum → Trigger.AvailableNow → final table. Same
    oracle as st01: the hash gate certifies stream ≡ batch."""
    out = jobs.run_available_now(
        jobs.tumbling_counts(jobs.stream_events(spark, sf_dir)),
        run_scratch("st04_out_"),
    )
    return out.withColumn(
        "wstart", F.col("wstart").cast("timestamp_ntz")
    )


def st05_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type) via
    dropDuplicatesWithinWatermark → append sink. State is bounded by
    the 1-hour watermark. The backlog is pinned to a single micro-batch
    (single_batch=True): only then are the surviving keys exactly the
    distinct keys the SQL oracle checks — a multi-batch replay may
    evict state past the watermark and re-emit late duplicates (the
    documented within-horizon semantics, see jobs.dedup_within_watermark).
    Output is O(distinct user × type) — it exits through the parquet
    foreachBatch sink (jobs.run_append), never driver memory."""
    out = jobs.run_append(
        jobs.dedup_within_watermark(
            jobs.stream_events(spark, sf_dir, single_batch=True)
        ),
        run_scratch("st05_out_"),
    )
    return out.select("user_id", "event_type")


def st06_stateful_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user cumulative count / exact cents sum / cents max, updated
    per micro-batch; keep-latest collapse makes the final table
    batch-equivalent, which the SQL oracle certifies."""
    out = jobs.run_update_latest(
        jobs.stateful_user_stats(jobs.stream_events(spark, sf_dir)),
        run_scratch("st06_out_"),
        keys=["user_id"],
    )
    return out


def st07_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream enriched by a static broadcast dimension (the streaming
    J1), then windowed per category; unmatched types → 'other'."""
    out = jobs.run_available_now(
        jobs.stream_static_join(jobs.stream_events(spark, sf_dir)),
        run_scratch("st07_out_"),
    )
    return out.withColumn(
        "wstart", F.col("wstart").cast("timestamp_ntz")
    )


def st08_gapfill_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled resample (the hypertable-rollup shape): 1-hour bins
    per event_type over the table's full time span, with empty bins
    materialized as zero rows — groupBy(window) alone silently drops
    them, which breaks downstream charting/diffing.

    The bin spine is generated (sequence over the min..max span), not
    scanned: one tiny aggregate for the bounds, a generated axis cross
    the 5-value type dimension, then a left join of the real counts.
    The spine is O(span/step × types) — independent of row count."""
    ev = _events(spark, sf_dir).select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    )
    bounds = ev.agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    spine = (
        bounds.select(
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("wstart")
        )
        .crossJoin(ev.select("event_type").distinct())
    )
    counts = ev.groupBy(
        F.col("h").alias("wstart"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        spine.join(counts, ["wstart", "event_type"], "left")
        .select(
            "wstart",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )


def st10_keyed_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert: the events stream merged into a
    latest-row-per-user snapshot (jobs.run_keyed_upsert — versioned
    parquet MERGE via foreachBatch). The (ts, event_id) order is total,
    so the final snapshot is batch-chop-independent and equals the SQL
    oracle's global latest-per-user."""
    ev = jobs.stream_events(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    out = jobs.run_keyed_upsert(
        ev,
        run_scratch("st10_out_"),
        keys=["user_id"],
        order_cols=["ts", "event_id"],
    )
    return out.withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )


def st11_incremental_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed incremental catch-up, end-to-end under the hash
    gate: half the events land, an AvailableNow pass drains them; the
    other half lands, a SECOND pass (same durable checkpoint) processes
    only the delta into idempotent per-batch dirs
    (jobs.run_incremental). The union of both passes must equal the
    full table — any reprocessing (duplicate ids) or missed delta
    breaks the oracle's row count/hash. This is the reference's hourly
    DAG recompute (ml_pipeline_dag.py:37) done as an incremental
    stream instead of a full rerun."""
    src = run_scratch("st11_src_")
    ckpt = run_scratch("st11_ckpt_")
    out = run_scratch("st11_out_")
    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type")
    ev.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(src)

    def stream() -> DataFrame:
        return spark.readStream.schema(ev.schema).parquet(src)

    jobs.run_incremental(stream(), ckpt, out)
    ev.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(src)
    final = jobs.run_incremental(stream(), ckpt, out)
    return final


def st09_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join (view → same-user purchase within
    1 hour: conversion attribution), run as a genuine two-sided
    streaming join with watermarks on both sides, exiting through the
    parquet append sink. Single-batch pin for the same reason as st05:
    across micro-batches the watermark may evict a view before a
    same-horizon purchase file arrives, which is the documented
    streaming semantics but fails the batch-join oracle."""
    out = jobs.run_append(
        jobs.view_purchase_join(
            jobs.stream_events(spark, sf_dir, single_batch=True)
        ),
        run_scratch("st09_out_"),
    )
    return (
        out.withColumn("v_ts", F.col("v_ts").cast("timestamp_ntz"))
        .withColumn("p_ts", F.col("p_ts").cast("timestamp_ntz"))
    )


# CASE generated from the same dict the streaming job broadcasts, so
# the two sides cannot drift.
_CATEGORY_CASE = "CASE " + " ".join(
    f"WHEN event_type = '{k}' THEN '{v}'"
    for k, v in jobs.EVENT_CATEGORIES.items()
) + " ELSE 'other' END"

_ST01_SQL = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
       count(1) AS n,
       CAST(sum({sql_cents('value')}) AS BIGINT) AS sum_cents
FROM events GROUP BY wstart, event_type ORDER BY wstart, event_type
"""


def st12_stream_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dead-letter pattern (io16) in the STREAMING path: a
    stateless per-row rules check rides the stream, and every
    micro-batch appends its rows to a parquet sink PARTITIONED BY
    status — violators land physically in their own quarantine
    directory, never silently dropped, while the pipeline keeps
    flowing. Because the split is per-row (no watermark, no state),
    batching can never change the result: the oracle is exactly
    io16's batch classification, so the hash gate certifies
    stream ≡ batch for the whole ingest-validate-land loop.

    Scale: stateless projection inside each micro-batch, distributed
    partitioned append (one directory level = one status), lazy
    read-back with an explicit schema so zero-batch runs stay
    well-defined."""
    from .ioplans import IO16_RULES

    ev = jobs.stream_events(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )
    flagged = ev.withColumn(
        "status",
        F.expr(
            f"CASE WHEN {IO16_RULES} THEN 'valid' ELSE 'quarantined' END"
        ),
    )
    out_dir = run_scratch("st12_q_")

    def sink(df: DataFrame, batch_id: int) -> None:
        df.write.mode("append").partitionBy("status").parquet(out_dir)

    jobs._drain(flagged, "append", sink)
    return (
        spark.read.schema(flagged.schema)
        .parquet(out_dir)
        .select("event_id", "event_type", "value", "status")
    )


_ST12_SQL = """
SELECT event_id, event_type, value,
       CASE WHEN value IS NOT NULL AND value >= 0
                 AND event_type IS NOT NULL
            THEN 'valid' ELSE 'quarantined' END AS status
FROM events ORDER BY event_id
"""

def st13_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics, observable and oracle-checked —
    the one streaming behavior a single-batch replay can never
    exercise: events replay in THREE deterministic arrival batches
    (event_id % 3 — jobs.stream_events_arrival_batches), and the
    1-hour-watermarked tumbling aggregation in APPEND mode must

    - DROP batch-2 rows whose window was already EVICTED at batch 1's
      commit (window.end ≤ W1 = max(batch-0 ts) − 1 h). Spark's dual
      watermark (SPARK-40925) filters late events with the PREVIOUS
      batch's eviction watermark — a row is late exactly when its
      window has already been emitted, never merely when it trails the
      newest data (batch-1 rows therefore all merge, however old);
    - EMIT exactly the windows finalized by the end-of-stream
      watermark (window.end ≤ W3 = max(all ts) − 1 h; availableNow
      runs closing no-data batches to flush them), never still-open
      ones — and emit each window ONCE, which is precisely why the
      late filter exists (an unfiltered late row would resurrect a
      closed window's state and re-emit it).

    The oracle reproduces both watermark rules in plain SQL (the
    batch-0 max, the global max, the two ≤ comparisons), so a drift
    in either boundary — the classic off-by-one-window streaming
    bug — turns the row hash red. Note the watermark itself advances
    on EVERY input row, late or not (event-time stats are collected
    before the state filter), which the oracle mirrors by computing
    the final watermark over all rows, not surviving ones.

    Scale: identical state shape to st04 (one count/sum pair per
    open window, eviction bounded by the watermark); the arrival
    split is a test harness, not a plan property."""
    return jobs.run_append(
        jobs.late_tumbling_counts(
            jobs.stream_events_arrival_batches(spark, sf_dir)
        ),
        run_scratch("st13_out_"),
    )


_ST13_SQL = f"""
WITH e AS (SELECT event_id, ts, value FROM events WHERE ts IS NOT NULL),
w1 AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM e WHERE event_id % 3 = 0),
kept AS (
  SELECT ts, value FROM e WHERE event_id % 3 < 2
  UNION ALL
  SELECT e.ts, e.value FROM e, w1
  WHERE e.event_id % 3 = 2
    AND (w1.wm IS NULL
         OR date_trunc('hour', e.ts) + INTERVAL 1 HOUR > w1.wm)
),
wmf AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM e),
agg AS (SELECT date_trunc('hour', ts) AS wstart, count(1)::BIGINT AS n,
               sum({sql_cents('value')})::BIGINT AS sum_cents
        FROM kept GROUP BY 1)
SELECT a.wstart, a.n, a.sum_cents
FROM agg a, wmf
WHERE a.wstart + INTERVAL 1 HOUR <= wmf.wm
ORDER BY a.wstart
"""


SPECS = [
    QuerySpec("st01_tumbling_window", st01_tumbling_window, _ST01_SQL),
    QuerySpec("st13_late_data_audit", st13_late_data_audit, _ST13_SQL),
    QuerySpec("st12_stream_quarantine", st12_stream_quarantine, _ST12_SQL),
    QuerySpec(
        "st02_sliding_window",
        st02_sliding_window,
        """
        WITH starts AS (
          SELECT event_type,
                 UNNEST([time_bucket(INTERVAL '30 minutes', ts),
                         time_bucket(INTERVAL '30 minutes', ts)
                           - INTERVAL '30 minutes']) AS wstart
          FROM events
        )
        SELECT wstart, event_type, count(1) AS n
        FROM starts GROUP BY wstart, event_type ORDER BY wstart, event_type
        """,
    ),
    QuerySpec(
        "st03_session_window",
        st03_session_window,
        """
        WITH flagged AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
          SELECT user_id, ts,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM flagged
        )
        SELECT min(ts) AS session_start,
               max(ts) + INTERVAL '30 minutes' AS session_end,
               user_id, count(1) AS n
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id, session_start
        """,
    ),
    QuerySpec("st04_stream_tumbling", st04_stream_tumbling, _ST01_SQL),
    QuerySpec(
        "st05_stream_dedup",
        st05_stream_dedup,
        """
        SELECT DISTINCT user_id, event_type FROM events
        ORDER BY user_id, event_type
        """,
    ),
    QuerySpec(
        "st06_stateful_stats",
        st06_stateful_stats,
        f"""
        SELECT user_id, count(1) AS n,
               CAST(sum({sql_cents('value')}) AS BIGINT) AS sum_cents,
               CAST(max({sql_cents('value')}) AS BIGINT) AS max_cents
        FROM events GROUP BY user_id ORDER BY user_id
        """,
    ),
    QuerySpec(
        "st07_stream_static_join",
        st07_stream_static_join,
        f"""
        SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
               {_CATEGORY_CASE} AS category,
               count(1) AS n
        FROM events GROUP BY wstart, category ORDER BY wstart, category
        """,
    ),
    QuerySpec(
        "st08_gapfill_resample",
        st08_gapfill_resample,
        """
        WITH b AS (SELECT min(date_trunc('hour', ts)) AS lo,
                          max(date_trunc('hour', ts)) AS hi FROM events),
        spine AS (
          SELECT _g.wstart, t.event_type
          FROM b, UNNEST(generate_series(b.lo, b.hi, INTERVAL '1 hour'))
                 AS _g(wstart),
               (SELECT DISTINCT event_type FROM events) t
        ),
        c AS (SELECT date_trunc('hour', ts) AS wstart, event_type,
                     count(1) AS n
              FROM events GROUP BY wstart, event_type)
        SELECT s.wstart, s.event_type, coalesce(c.n, 0) AS n
        FROM spine s LEFT JOIN c
          ON s.wstart = c.wstart AND s.event_type = c.event_type
        ORDER BY s.wstart, s.event_type
        """,
    ),
    QuerySpec(
        "st09_stream_stream_join",
        st09_stream_stream_join,
        """
        SELECT v.event_id AS view_id, p.event_id AS purchase_id,
               v.user_id, v.ts AS v_ts, p.ts AS p_ts
        FROM events v JOIN events p
          ON v.user_id = p.user_id
         AND v.event_type = 'view' AND p.event_type = 'purchase'
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '1 hour'
        ORDER BY view_id, purchase_id
        """,
    ),
    QuerySpec(
        "st10_keyed_upsert",
        st10_keyed_upsert,
        """
        SELECT user_id, event_id, ts, event_type, value FROM (
          SELECT user_id, event_id, ts, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1
        ORDER BY user_id
        """,
    ),
    QuerySpec(
        "st11_incremental_resume",
        st11_incremental_resume,
        """
        SELECT event_id, user_id, event_type FROM events
        ORDER BY event_id
        """,
    ),
]
