"""Source/sink roundtrip plans (SURVEY.md §2.1 S2-S4) — the CSV and
parquet writer/reader paths exercised inside the driver's correctness
gate, not just in unit tests.

Each roundtrip writes to a fresh scratch dir (scratch.py), reads the
result back with an explicit schema (ingest discipline, SURVEY §1.3 —
never inference in the engine path), and returns the LAZY read-back
DataFrame; the oracle is a plain SELECT over the original table, so
the hash gate proves write→read is lossless. The scratch dir outlives
the query (the query's next call removes it), so nothing is collected
through the driver — at sf100 the read-back scans distributed files
like any other source. Queries that only lay an unchanged input out
(io10, io12, io13) write that layout once per input identity
(`_layout`) and run their read over it on every call.

Scale notes: both writers are the native distributed committers (one
file per partition, no driver funneling); `coalesce(1)` appears only
here, on a 25-row dimension table, to exercise the documented
single-file convenience path. Values roundtrip exactly: CSV carries
integer keys and strings only (no float text parsing), parquet is
binary-exact for all types.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import run_scratch
from ..sources import sinks, tables
from ..sources.pyds import PYDS_MOD, PYDS_MULT, PYDS_ROWS
from . import QuerySpec
from .helpers import cents, scaled, sql_cents, sql_scaled
from .manifestio import (
    io15_commit_snapshot,
    io15_latest_version,
    manifest_files,
)

_NATION_SCHEMA = "n_nationkey INT, n_name STRING, n_regionkey INT"


def io01_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+S3: nation → header CSV (single-file path) → explicit-schema
    read-back. Hash gate certifies losslessness vs the parquet original."""
    out = run_scratch("io01_csv_")
    sinks.write_csv(tables.load(spark, sf_dir, "nation"), out)
    return sinks.read_csv(spark, out, _NATION_SCHEMA)


def io02_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: supplier → parquet partitioned by s_nationkey → read-back.
    Partition columns come back typed from directory values; the plan
    re-selects the canonical column order."""
    out = run_scratch("io02_pq_")
    src = tables.load(spark, sf_dir, "supplier")
    sinks.write_parquet(src, out, partition_by=["s_nationkey"])
    # Explicit schema: a zero-row partitioned write leaves nothing
    # to infer from, and the engine never relies on inference anyway.
    df = spark.read.schema(src.schema).parquet(out).select(*src.columns)
    return df.withColumn("s_nationkey", df["s_nationkey"].cast("int"))


def io03_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL roundtrip over `documents` — the training-data interchange
    format. Free text (newlines, quotes, unicode) survives via JSON
    string escaping; the hash gate certifies losslessness, which is
    exactly the property a 100 TB corpus export needs. Doubles are
    deliberately absent from this table (bigint + string columns), so
    text-format roundtripping is exact by construction."""
    out = run_scratch("io03_jsonl_")
    src = tables.load(spark, sf_dir, "documents")
    sinks.write_jsonl(src, out)
    df = sinks.read_jsonl(spark, out, src.schema)
    return df.select(*src.columns)


def io04_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC roundtrip over `part` (the other built-in columnar format,
    partitioned by p_brand): binary-exact for every primitive type,
    partition column re-typed from directory values like io02."""
    out = run_scratch("io04_orc_")
    src = tables.load(spark, sf_dir, "part")
    sinks.write_orc(src, out, partition_by=["p_brand"])
    df = spark.read.schema(src.schema).orc(out).select(*src.columns)
    return df


IO05_BUCKETS = 8


def io05_bucketed_tables(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Write orders + lineitem as BUCKETED tables (8 buckets on the
    join key, sorted within buckets) and return the two table-backed
    DataFrames. Bucketing is THE 100 TB co-location tool: both sides
    hash-partition into matching files at WRITE time, so every later
    join/agg on the key runs with zero exchange — the shuffle is paid
    once, not per query (tests/test_io.py asserts the joined plan has
    no Exchange). `bucketBy` requires the table catalog, so the tables
    land as uniquely-named EXTERNAL tables over run-scratch paths: the
    in-memory catalog entry dies with the Spark application, and the
    files go when the tables are built again (a rewritten source table
    or a new application).

    The tables are written ONCE per identity of the corpus's tables
    (tables.derived) — that is the entire point of bucketing, and it
    keeps bench reps / repeated tests from re-shuffling and leaking
    catalog entries; a rewritten source table buckets again."""
    # Catalog entries live as long as the Spark application, so the
    # application is part of the value's identity: a new one (a fresh
    # SparkContext) no longer knows the tables and builds them again.
    t_orders, t_line = tables.derived(
        sf_dir,
        "io05_bucketed",
        lambda: _write_bucketed(spark, sf_dir),
        app=spark.sparkContext.applicationId,
    )
    return spark.table(t_orders), spark.table(t_line)


def _write_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    out = run_scratch("io05_bucket_", sf_dir)
    tag = uuid.uuid4().hex[:8]
    t_orders, t_line = f"io05_orders_{tag}", f"io05_lineitem_{tag}"

    # Two threads registering tables at once is safe in the in-memory
    # catalog; a Derby-backed Hive metastore is single-connection.
    assert (
        spark.conf.get("spark.sql.catalogImplementation") == "in-memory"
    ), "io05's concurrent saveAsTable calls assume the in-memory catalog"
    # The two CTAS writes are independent jobs — submit them from two
    # driver threads so the second back-fills the first's task tail
    # (guide §2.6 "overlap independent jobs") instead of running
    # strictly after it.
    def _write_orders() -> None:
        (
            tables.load(spark, sf_dir, "orders")
            .select("o_orderkey", "o_orderstatus")
            .write.bucketBy(IO05_BUCKETS, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", f"{out}/orders")
            .mode("overwrite")
            .saveAsTable(t_orders)
        )

    def _write_lineitem() -> None:
        (
            tables.load(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_extendedprice", "l_discount")
            .write.bucketBy(IO05_BUCKETS, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", f"{out}/lineitem")
            .mode("overwrite")
            .saveAsTable(t_line)
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(_write_orders), pool.submit(_write_lineitem)]:
            f.result()
    return t_orders, t_line


def io05_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free revenue-by-status over the bucketed tables: the
    orders⋈lineitem join consumes bucket co-location directly (no
    Exchange on either side); only the 3-row status rollup shuffles.
    The oracle is the same aggregate over the raw tables — bucketing
    must be a pure physical-layout choice with zero semantic effect."""
    orders, line = io05_bucketed_tables(spark, sf_dir)
    rev = scaled(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")), 4
    )
    return (
        orders.join(line, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev).alias("revenue_e4"),
        )
    )


def io06_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read — the lakehouse reality that a 100 TB
    table's files were written over years by different pipeline
    versions: v1 files carry (key, name), later v2 files add a column.
    `mergeSchema` unions the footers into one schema and null-fills
    the missing column in old files; the oracle states the same
    semantics relationally. Without mergeSchema Spark trusts ONE
    file's footer and silently drops the new column — the classic
    quiet-corruption mode this query pins down.

    Scale: schema merge reads footers only (no data pass); at real
    scale the merged schema comes from the table catalog instead, but
    the null-fill read semantics are identical."""
    out = run_scratch("io06_evo_")
    nation = tables.load(spark, sf_dir, "nation")
    v1 = nation.filter(F.col("n_nationkey") < 12).select(
        "n_nationkey", "n_name"
    )
    v2 = nation.filter(F.col("n_nationkey") >= 12).select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    v1.write.mode("append").parquet(out)
    v2.write.mode("append").parquet(out)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(out)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


# The partition the incremental batch rewrites (nation 8 exists in
# every fixture scale, including the 10-supplier sf0.001).
IO08_PART = 8


def io08_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite — the incremental-reload primitive:
    an hourly/daily job recomputes ONE partition of a 100 TB table and
    must replace exactly that partition, leaving every other partition's
    files untouched. With partitionOverwriteMode=dynamic, the overwrite
    commits only the partitions present in the incoming batch; the
    STATIC default would instead wipe the whole table — the classic
    quiet-data-loss mode this query pins down (the oracle's row count
    covers all 25 partitions, so a static wipe fails loudly).

    Here: supplier lands partitioned by s_nationkey, then an updated
    batch for nation IO08_PART (name uppercased — a deterministic,
    hash-exact transform) overwrites just that partition; the read-back
    must equal base rows everywhere else + updated rows there.

    Scale: the overwrite's write amplification is O(changed partition),
    not O(table); commit is an atomic directory swap per partition."""
    out = run_scratch("io08_dynover_")
    src = tables.load(spark, sf_dir, "supplier")
    src.write.partitionBy("s_nationkey").mode("overwrite").parquet(out)
    updated = (
        src.filter(F.col("s_nationkey") == IO08_PART)
        .withColumn("s_name", F.upper(F.col("s_name")))
    )
    (
        updated.write.partitionBy("s_nationkey")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(out)
    )
    df = spark.read.schema(src.schema).parquet(out).select(*src.columns)
    return df.withColumn("s_nationkey", df["s_nationkey"].cast("int"))


# io09's deterministic v2 mutation constants (mirrored in the oracle):
# suppliers of this nation get renamed, every k-th key is deleted, and
# clones of nation-3 suppliers (key + offset) are inserted.
IO09_RENAME_NATION = 8
IO09_DELETE_MOD = 7
IO09_INSERT_NATION = 3
IO09_INSERT_OFFSET = 100_000


def io09_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table reconciliation (data diff) — the anti-entropy primitive for
    100 TB pipelines: given two versions of a keyed table, emit one row
    per differing key classified added / removed / changed. Used to
    validate a migration, audit an incremental load (io08), or diff a
    replica against its source.

    Scale manners: each side is first collapsed to (key, md5 of the
    non-key columns) — a narrow map-side projection — so the full outer
    join shuffles 16-byte digests, never row bodies; 'same' rows are
    filtered out before any wide work. Row-identical semantics on both
    engines because md5-over-concat is byte-deterministic (the same
    construction as d01's content fingerprint).

    The v2 side here is a deterministic in-plan mutation of supplier
    (rename one nation's suppliers, delete every IO09_DELETE_MOD-th
    key, insert offset-keyed clones of nation IO09_INSERT_NATION), so
    the oracle can state the expected diff exactly."""
    src = tables.load(spark, sf_dir, "supplier")
    v2 = (
        src.filter(F.col("s_suppkey") % IO09_DELETE_MOD != 0)
        .withColumn(
            "s_name",
            F.when(
                F.col("s_nationkey") == IO09_RENAME_NATION,
                F.upper(F.col("s_name")),
            ).otherwise(F.col("s_name")),
        )
        .unionByName(
            src.filter(F.col("s_nationkey") == IO09_INSERT_NATION).select(
                (F.col("s_suppkey") + IO09_INSERT_OFFSET).alias("s_suppkey"),
                "s_name",
                "s_nationkey",
                "s_acctbal",
            )
        )
    )

    # Digest covers the string/int payload columns; the DOUBLE acctbal
    # is deliberately excluded — float-to-string rendering is
    # engine-specific, so a text-concat digest over it would be
    # non-portable (a real deployment hashes a canonical binary row
    # encoding, or integer cents for money).
    def digest(df: DataFrame) -> DataFrame:
        return df.select(
            "s_suppkey",
            F.md5(
                F.concat_ws("\x1f", F.col("s_name"), F.col("s_nationkey"))
            ).alias("h"),
        )

    a = digest(src).withColumnRenamed("h", "h_a")
    b = digest(v2).withColumnRenamed("h", "h_b")
    return (
        a.join(b, "s_suppkey", "full_outer")
        .select(
            "s_suppkey",
            F.when(F.col("h_a").isNull(), F.lit("added"))
            .when(F.col("h_b").isNull(), F.lit("removed"))
            .when(F.col("h_a") != F.col("h_b"), F.lit("changed"))
            .otherwise(F.lit("same"))
            .alias("change"),
        )
        .filter(F.col("change") != "same")
    )


IO14_BASE_MOD = 4    # base snapshot excludes keys ≡ 0 (mod 4) → CDC inserts
IO14_CDC_MOD = 2     # the change batch carries every even key
IO14_DELETE_MOD = 5  # op = delete when key ≡ 0 (mod 5), else upsert
IO14_BUMP_CENTS = 500


def io14_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MERGE INTO (CDC apply) — the lakehouse mutation primitive
    (Delta/Iceberg MERGE, Hudi upsert): apply a keyed change batch
    {upsert, delete} to a base snapshot and land the next snapshot.
    io09 computes a diff; this is its inverse — applying one. st10 is
    the streaming form (latest-wins upsert in a micro-batch loop); this
    is the batch/backfill form with explicit delete ops.

    Semantics (standard MERGE): matched+U → update, matched+D →
    delete, unmatched+U → insert, unmatched+D → no-op. Both inputs are
    deterministic in-plan slices of `orders`, so the oracle states the
    merged snapshot exactly; money moves as integer cents.

    Scale: one shuffle join on the merge key — base and CDC sides are
    narrow (key, custkey, cents, op) projections, so the exchange moves
    ~24-byte rows, never order bodies. No broadcast (at 100 TB both
    sides of a MERGE are large); AQE handles key skew. The merged
    snapshot is then WRITTEN via the distributed parquet committer and
    the returned frame is the lazy read-back, so the hash gate also
    certifies the landed files — at scale you'd partition the write by
    a date key and let io08's dynamic overwrite scope the commit."""
    merged = _io14_merged(spark, sf_dir)
    out = run_scratch("io14_merge_")
    sinks.write_parquet(merged, out)
    df = spark.read.schema(merged.schema).parquet(out)
    return df.select("o_orderkey", "o_custkey", "price_cents", "action")


def _io14_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-write MERGE plan (exposed so tests can pin its physical
    shape: sort-merge full outer on the key, no broadcast)."""
    src = tables.load(spark, sf_dir, "orders")
    # explicit presence marker: payload columns (custkey, price) can be
    # legitimately NULL, so "matched" must test the marker, never them
    base = src.filter(F.col("o_orderkey") % IO14_BASE_MOD != 0).select(
        "o_orderkey",
        F.col("o_custkey").alias("b_custkey"),
        cents(F.col("o_totalprice")).alias("b_cents"),
        F.lit(1).alias("in_base"),
    )
    changes = src.filter(F.col("o_orderkey") % IO14_CDC_MOD == 0).select(
        "o_orderkey",
        F.col("o_custkey").alias("c_custkey"),
        (cents(F.col("o_totalprice")) + IO14_BUMP_CENTS).alias("c_cents"),
        F.when(F.col("o_orderkey") % IO14_DELETE_MOD == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    merged = (
        base.join(changes, "o_orderkey", "full_outer")
        .withColumn(
            "action",
            F.when(F.col("op").isNull(), F.lit("kept"))
            .when(
                (F.col("op") == "U") & F.col("in_base").isNotNull(),
                F.lit("updated"),
            )
            .when(F.col("op") == "U", F.lit("inserted"))
            .otherwise(F.lit("delete")),
        )
        .filter(F.col("action") != "delete")
        .select(
            "o_orderkey",
            F.coalesce("c_custkey", "b_custkey").alias("o_custkey"),
            F.when(F.col("op") == "U", F.col("c_cents"))
            .otherwise(F.col("b_cents"))
            .alias("price_cents"),
            "action",
        )
    )
    return merged


_IO14_SQL = f"""
WITH base AS (
  SELECT o_orderkey, o_custkey, {sql_cents('o_totalprice')} AS price_cents
  FROM orders WHERE o_orderkey % {IO14_BASE_MOD} != 0
),
ch AS (
  SELECT o_orderkey, o_custkey,
         {sql_cents('o_totalprice')} + {IO14_BUMP_CENTS} AS price_cents,
         CASE WHEN o_orderkey % {IO14_DELETE_MOD} = 0
              THEN 'D' ELSE 'U' END AS op
  FROM orders WHERE o_orderkey % {IO14_CDC_MOD} = 0
),
m AS (
  SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
         coalesce(c.o_custkey, b.o_custkey) AS o_custkey,
         CASE WHEN c.op = 'U' THEN c.price_cents
              ELSE b.price_cents END AS price_cents,
         CASE WHEN c.op IS NULL THEN 'kept'
              WHEN c.op = 'U' AND b.o_orderkey IS NOT NULL THEN 'updated'
              WHEN c.op = 'U' THEN 'inserted'
              ELSE 'delete' END AS action
  FROM base b FULL OUTER JOIN ch c ON b.o_orderkey = c.o_orderkey
)
SELECT o_orderkey, o_custkey, price_cents, action
FROM m WHERE action != 'delete'
ORDER BY o_orderkey
"""


IO15_SLICE_MOD = 3  # three data files: keys ≡ 1, 2, 0 (mod 3)


def io15_write_snapshots(spark: SparkSession, sf_dir: str, root: str):
    """Lay out a three-snapshot manifest table under `root`:
    v1 = {A, B} (initial load), v2 = {A, B, C} (append), v3 = {A, C}
    (B deleted). Data files are immutable; each commit is one tiny
    JSON manifest naming its file set — the Iceberg/Delta snapshot
    model reduced to its essence. Every version lands through the
    optimistic commit (manifestio.io15_commit_snapshot), the protocol
    tests/test_io15_concurrency.py races. Returns the physical schema."""
    src = tables.load(spark, sf_dir, "orders").select(
        "o_orderkey", cents(F.col("o_totalprice")).alias("price_cents")
    )
    paths = {}
    for name, residue in (("a", 1), ("b", 2), ("c", 0)):
        p = f"{root}/data/file_{name}"
        sinks.write_parquet(
            src.filter(F.col("o_orderkey") % IO15_SLICE_MOD == residue), p
        )
        paths[name] = p
    for names in (["a", "b"], ["a", "b", "c"], ["a", "c"]):
        io15_commit_snapshot(
            root, [paths[n] for n in names], io15_latest_version(root)
        )
    return src.schema


def io15_read_snapshot(spark: SparkSession, root: str, version: int, schema):
    """Read the table AS OF `version`: resolve the manifest (an O(1)
    driver-side metadata read, the control plane of every table
    format) and scan exactly its files — never the directory listing.
    That is what makes snapshot isolation and time travel work at
    100 TB: writers land files invisibly, a commit is one atomic
    manifest swap, and readers of old versions keep a consistent
    file set. (Production formats shard the manifest itself into
    avro manifest-lists; one JSON per commit is the same plane.)"""
    return spark.read.schema(schema).parquet(*manifest_files(root, version))


def io15_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-based snapshot reads (time travel): three commits over
    immutable data files — load {A,B}, append C, delete B — then one
    aggregate per version read AS OF that version. The current
    directory contains ALL files, so matching the oracle proves the
    scan honored the manifest, not the listing (the delete in v3 is
    invisible to a listing-based reader).

    Each per-version aggregate is a GLOBAL agg (one row even over an
    empty snapshot — keeps the empty-corpus twin exact); the three
    one-row results union driver-free."""
    root = run_scratch("io15_snap_")
    schema = io15_write_snapshots(spark, sf_dir, root)
    outs = []
    for v in (1, 2, 3):
        outs.append(
            io15_read_snapshot(spark, root, v, schema).agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("price_cents").alias("sum_cents"),
            ).select(
                F.lit(v).cast("int").alias("snapshot_version"),
                "n_orders",
                "sum_cents",
            )
        )
    df = outs[0]
    for o in outs[1:]:
        df = df.unionByName(o)
    return df


_IO15_SQL = f"""
SELECT 1 AS snapshot_version, count(1) AS n_orders,
       CAST(sum({sql_cents('o_totalprice')}) AS BIGINT) AS sum_cents
FROM orders WHERE o_orderkey % {IO15_SLICE_MOD} != 0
UNION ALL
-- every slice filter is `key % m = r`, which drops NULL keys on the
-- Spark side; v2 (all files) must drop them here too
SELECT 2, count(1), CAST(sum({sql_cents('o_totalprice')}) AS BIGINT)
FROM orders WHERE o_orderkey IS NOT NULL
UNION ALL
SELECT 3, count(1), CAST(sum({sql_cents('o_totalprice')}) AS BIGINT)
FROM orders WHERE o_orderkey % {IO15_SLICE_MOD} != 2
ORDER BY snapshot_version
"""


IO16_RULES = "value IS NOT NULL AND value >= 0 AND event_type IS NOT NULL"


def io16_quarantine_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-validated write with a dead-letter quarantine — the
    Delta-constraints / dbt-test pattern as a sink op: rows satisfying
    the declared rules land in the table, violators land in a
    QUARANTINE location (never silently dropped — at 100 TB a silent
    drop is an unauditable data loss), and the returned frame is the
    read-back union tagged with status, so the hash gate certifies
    BOTH landed file sets and the exact classification.

    The rule predicate is written so it can never be NULL (IS NOT NULL
    guards precede every comparison) — a NULL verdict would route a
    row to neither sink. Scale: one narrow scan evaluates the rules
    map-side; the two writes are independent distributed committers
    (Spark computes the source twice — at scale, checkpoint or
    persist the flagged frame once if the scan dominates)."""
    src = tables.load(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    flagged = src.withColumn("ok", F.expr(f"({IO16_RULES})"))
    out = run_scratch("io16_q_")
    sinks.write_parquet(flagged.filter(F.col("ok")).drop("ok"), f"{out}/valid")
    sinks.write_parquet(
        flagged.filter(~F.col("ok")).drop("ok"), f"{out}/quarantine"
    )
    schema = src.schema
    valid = spark.read.schema(schema).parquet(f"{out}/valid").withColumn(
        "status", F.lit("valid")
    )
    quar = spark.read.schema(schema).parquet(
        f"{out}/quarantine"
    ).withColumn("status", F.lit("quarantined"))
    return valid.unionByName(quar)


_IO16_SQL = f"""
SELECT event_id, event_type, value,
       CASE WHEN {IO16_RULES} THEN 'valid' ELSE 'quarantined' END AS status
FROM events ORDER BY event_id
"""


COMPACT_TARGET_BYTES = 1 << 20  # 1 MiB target output file size
COMPACT_FRAGMENTS = 64          # deliberately fragmented input layout


def io07_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lakehouse maintenance pass every
    100 TB table needs: streaming/incremental writers leave thousands
    of KB-sized files per partition, and scan throughput collapses
    under per-file open/footer overhead. This operator rewrites a
    fragmented layout (here: `documents` deliberately shattered into
    COMPACT_FRAGMENTS files) into ceil(bytes / COMPACT_TARGET_BYTES)
    right-sized files, content-identical.

    Scale manners: the size survey lists file metadata only (an
    O(#files) driver listing — exactly what real compaction planners
    like Delta OPTIMIZE do; no data pass). The rewrite uses coalesce(),
    NOT repartition(): coalesce merges input splits into fewer tasks
    with ZERO shuffle — each output task concatenates a handful of
    input files — while repartition would shuffle the full table to
    move bytes it only needs to concatenate. Bin-packing per task is
    Spark's own (FilePartition packing under maxPartitionBytes).
    The read-back is lazy; the oracle (SELECT * over the original
    table) certifies the rewrite is lossless."""
    frag_dir = run_scratch("io07_frag_")
    out_dir = run_scratch("io07_compact_")
    src = tables.load(spark, sf_dir, "documents")
    src.repartition(COMPACT_FRAGMENTS).write.mode("overwrite").parquet(
        frag_dir
    )
    # Size survey: metadata-only listing of the fragmented layout.
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(frag_dir)
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = sum(
        f.getLen()
        for f in fs.listStatus(jvm_path)
        if f.getPath().getName().endswith(".parquet")
    )
    n_out = max(1, -(-total_bytes // COMPACT_TARGET_BYTES))
    frag = spark.read.schema(src.schema).parquet(frag_dir)
    frag.coalesce(n_out).write.mode("overwrite").parquet(out_dir)
    return spark.read.schema(src.schema).parquet(out_dir).select(
        *src.columns
    )


def _layout(sf_dir: str, prefix: str, write) -> str:
    """The scratch dir `write(out)` lays an input out in, written once
    per identity of the tables under sf_dir (tables.derived) and
    removed when a rewrite supersedes it. This is a layout, not a
    result: each call still runs its read over the files."""

    def land() -> str:
        out = run_scratch(prefix, sf_dir)
        write(out)
        return out

    return tables.derived(sf_dir, ("layout", prefix), land)


def _spread32(expr: str) -> str:
    """Bit-spread of a 32-bit value to even bit positions (the classic
    shift-or-mask interleave ladder) — plain integer arithmetic, valid
    in BOTH Spark SQL and DuckDB, so one string serves engine and
    oracle. Masks are the 64-bit ladder 0x0000FFFF0000FFFF /
    0x00FF00FF00FF00FF / 0x0F0F0F0F0F0F0F0F / 0x3333333333333333 /
    0x5555555555555555 in decimal. The initial CAST AS BIGINT keeps
    every shift in 64-bit space on both engines (Spark int << would
    wrap at 32 bits). 32 bits per key (vs 16 in earlier rounds) keeps
    the z-layout claim honest past l_partkey = 65535, i.e. beyond
    SF ≈ 0.33 where the old mask aliased keys (round-6 ADVICE #2);
    keys ≥ 2^31 would wrap the curve via the sign bit — identically in
    both engines, but layout locality would degrade there."""
    x = f"(CAST({expr} AS BIGINT) & 4294967295)"
    x = f"(({x} | ({x} << 16)) & 281470681808895)"
    x = f"(({x} | ({x} << 8)) & 71777214294589695)"
    x = f"(({x} | ({x} << 4)) & 1085102592571150095)"
    x = f"(({x} | ({x} << 2)) & 3689348814741910323)"
    x = f"(({x} | ({x} << 1)) & 6148914691236517205)"
    return x


def _morton(a: str, b: str) -> str:
    """64-bit Morton (Z-order) code interleaving two 32-bit keys."""
    return f"({_spread32(a)} | ({_spread32(b)} << 1))"


IO10_FILES = 8    # range partitions = output files of the clustered layout
IO10_P_HI = 120   # query rectangle: l_partkey ∈ [1, 120] (nonempty at sf0.001)
IO10_S_HI = 8     # l_suppkey ∈ [1, 8]


def io10_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data clustering — the multi-dimensional
    layout tool behind Delta/Iceberg OPTIMIZE ZORDER BY: interleave the
    bits of two filter columns into one z-value, range-partition and
    sort the table by it, and rows close in BOTH dimensions land in the
    same files. A rectangle predicate then touches only the few files
    whose z-range intersects it (parquet min/max skipping), where a
    single-column sort helps only its own column.

    The z-value is materialized as a column in the written files so
    every file carries zval min/max stats; repartitionByRange +
    sortWithinPartitions makes the per-file zval ranges DISJOINT
    (tests/test_round6_ops.py asserts this from the parquet footers —
    the skipping precondition, checked physically, not assumed).

    Scale: one range shuffle (sampled range boundaries, Spark's own
    partitioner) + local sorts; the bit-interleave is pure JVM integer
    arithmetic. The read-back query both engines verify applies the
    rectangle over the clustered layout — content must be EXACTLY the
    original filter result, proving clustering is a pure layout choice
    (the io05 lesson, applied to sort order). The clustered layout is
    written once per input identity (`_layout`)."""
    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    zed = li.withColumn(
        "zval", F.expr(_morton("l_partkey", "l_suppkey"))
    )
    out = _layout(
        sf_dir,
        "io10_zorder_",
        lambda out: zed.repartitionByRange(IO10_FILES, "zval")
        .sortWithinPartitions("zval")
        .write.mode("overwrite")
        .parquet(out),
    )
    return (
        spark.read.schema(zed.schema)
        .parquet(out)
        .filter(
            F.col("l_partkey").between(1, IO10_P_HI)
            & F.col("l_suppkey").between(1, IO10_S_HI)
        )
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "zval")
        .orderBy("zval", "l_orderkey", "l_linenumber")
    )


def io12_nested_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct schema pruning — the columnar guarantee for the
    nested layouts every multimodal/metadata table uses: selecting ONE
    leaf of a struct column must scan only that leaf's parquet column
    chunk, not the whole struct. supplier is rewritten with its payload
    nested under a struct, read back selecting only s_suppkey +
    meta.s_name, and tests/test_round6_ops.py asserts the scan's
    ReadSchema carries the s_name leaf but NOT the acctbal sibling
    (Catalyst's nested-schema pruning, on by default). At 100 TB the
    pruned sibling is the difference between scanning metadata and
    scanning the blobs it sits next to. The oracle states the same
    projection over the flat original — nesting must be a pure layout
    choice. The nested copy is written once per input identity
    (`_layout`)."""
    src = tables.load(spark, sf_dir, "supplier")
    nested = src.select(
        "s_suppkey",
        F.struct("s_name", "s_nationkey", "s_acctbal").alias("meta"),
    )
    out = _layout(
        sf_dir,
        "io12_nested_",
        lambda out: nested.write.mode("overwrite").parquet(out),
    )
    return (
        spark.read.schema(nested.schema)
        .parquet(out)
        .select("s_suppkey", F.col("meta.s_name").alias("s_name"))
    )


IO13_TYPE = "purchase"  # the one partition the pruned read touches


def io13_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-layout partition pruning — the first-order 100 TB scan
    optimization: a table laid out as .../event_type=X/part-*.parquet
    answers a filter on the partition column by LISTING, not reading —
    the scan plans only the matching directory and the other
    partitions contribute zero I/O. io10 prunes WITHIN files via
    min/max stats; this prunes whole directories before any footer is
    opened.

    The read uses an explicit schema + the Hive partition discovery
    (event_type materializes from directory names, not file bytes) and
    aggregates one event type's exact value stats. pytest asserts the
    physical proof: PartitionFilters on the scan carries the
    event_type predicate and the scan's input files all live under the
    one matching directory.

    Scale: the write shuffles nothing (partitionBy on an existing
    narrow scan) and runs once per input identity (`_layout`); the
    pruned read's cost is O(matching partition) on every call.
    The oracle states the same aggregate over the flat original —
    layout must be a pure I/O choice (the io05/io10 lesson again)."""
    out = _layout(
        sf_dir,
        "io13_hivepart_",
        lambda out: tables.load(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .write.partitionBy("event_type")
        .mode("overwrite")
        .parquet(out),
    )
    back = (
        spark.read.schema("event_id BIGINT, value DOUBLE, event_type STRING")
        .parquet(out)
        .filter(F.col("event_type") == IO13_TYPE)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents(F.col("value"))).alias("sum_value_cents"),
    )


def io11_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource read (sources/pyds.py): register the
    synthetic_scores source, scan its 8 planned partitions, and roll
    the stream up per score. sf_dir is unused by design — the source
    itself (schema + partition planning + per-partition iteration +
    Arrow transfer) is what this query gates; the oracle regenerates
    the identical rows from `range()`."""
    from ..sources.pyds import SyntheticScoreSource

    spark.dataSource.register(SyntheticScoreSource)
    df = spark.read.format("synthetic_scores").load()
    return (
        df.groupBy("score")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rid").alias("sum_rid"),
        )
    )


SPECS = [
    QuerySpec(
        "io01_csv_roundtrip",
        io01_csv_roundtrip,
        "SELECT * FROM nation",
    ),
    QuerySpec(
        "io02_parquet_roundtrip",
        io02_parquet_roundtrip,
        "SELECT * FROM supplier",
    ),
    QuerySpec(
        "io03_jsonl_roundtrip",
        io03_jsonl_roundtrip,
        "SELECT * FROM documents",
    ),
    QuerySpec(
        "io04_orc_roundtrip",
        io04_orc_roundtrip,
        "SELECT * FROM part",
    ),
    QuerySpec(
        "io05_bucketed_join",
        io05_bucketed_join,
        f"""
        SELECT o_orderstatus,
               count(1) AS n_items,
               CAST(sum({sql_scaled('l_extendedprice * (1.0 - l_discount)', 4)})
                 AS BIGINT) AS revenue_e4
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus
        """,
    ),
    QuerySpec(
        "io07_compaction",
        io07_compaction,
        "SELECT * FROM documents",
    ),
    QuerySpec(
        "io08_dynamic_partition_overwrite",
        io08_dynamic_partition_overwrite,
        f"""
        SELECT s_suppkey,
               CASE WHEN s_nationkey = {IO08_PART}
                    THEN upper(s_name) ELSE s_name END AS s_name,
               s_nationkey, s_acctbal
        FROM supplier
        """,
    ),
    QuerySpec(
        "io09_table_diff",
        io09_table_diff,
        f"""
        WITH v2 AS (
          SELECT s_suppkey,
                 CASE WHEN s_nationkey = {IO09_RENAME_NATION}
                      THEN upper(s_name) ELSE s_name END AS s_name,
                 s_nationkey
          FROM supplier WHERE s_suppkey % {IO09_DELETE_MOD} <> 0
          UNION ALL
          SELECT s_suppkey + {IO09_INSERT_OFFSET}, s_name, s_nationkey
          FROM supplier WHERE s_nationkey = {IO09_INSERT_NATION}
        ),
        a AS (SELECT s_suppkey,
                     md5(concat_ws(chr(31), s_name, s_nationkey)) AS h_a
              FROM supplier),
        b AS (SELECT s_suppkey,
                     md5(concat_ws(chr(31), s_name, s_nationkey)) AS h_b
              FROM v2)
        SELECT coalesce(a.s_suppkey, b.s_suppkey) AS s_suppkey,
               CASE WHEN a.s_suppkey IS NULL THEN 'added'
                    WHEN b.s_suppkey IS NULL THEN 'removed'
                    WHEN h_a <> h_b THEN 'changed'
                    ELSE 'same' END AS change
        FROM a FULL OUTER JOIN b ON a.s_suppkey = b.s_suppkey
        WHERE CASE WHEN a.s_suppkey IS NULL THEN 'added'
                   WHEN b.s_suppkey IS NULL THEN 'removed'
                   WHEN h_a <> h_b THEN 'changed'
                   ELSE 'same' END <> 'same'
        ORDER BY s_suppkey
        """,
    ),
    QuerySpec(
        "io10_zorder_cluster",
        io10_zorder_cluster,
        f"""
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               {_morton('l_partkey', 'l_suppkey')} AS zval
        FROM lineitem
        WHERE l_partkey BETWEEN 1 AND {IO10_P_HI}
          AND l_suppkey BETWEEN 1 AND {IO10_S_HI}
        ORDER BY zval, l_orderkey, l_linenumber
        """,
    ),
    QuerySpec(
        "io11_python_datasource",
        io11_python_datasource,
        f"""
        SELECT (i * {PYDS_MULT}) % {PYDS_MOD} AS score,
               count(1) AS n,
               CAST(sum(i) AS BIGINT) AS sum_rid
        FROM range(0, {PYDS_ROWS}) t(i)
        GROUP BY 1 ORDER BY 1
        """,
    ),
    QuerySpec(
        "io12_nested_projection",
        io12_nested_projection,
        "SELECT s_suppkey, s_name FROM supplier ORDER BY s_suppkey",
    ),
    QuerySpec(
        "io06_schema_evolution",
        io06_schema_evolution,
        """
        SELECT n_nationkey, n_name,
               CASE WHEN n_nationkey < 12 THEN NULL
                    ELSE n_regionkey END AS n_regionkey
        FROM nation ORDER BY n_nationkey
        """,
    ),
    QuerySpec("io14_merge_upsert", io14_merge_upsert, _IO14_SQL),
    QuerySpec("io15_snapshot_read", io15_snapshot_read, _IO15_SQL),
    QuerySpec("io16_quarantine_write", io16_quarantine_write, _IO16_SQL),
    QuerySpec(
        "io13_partition_pruned_read",
        io13_partition_pruned_read,
        f"""
        SELECT event_type, count(1) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents
        FROM events
        WHERE event_type = '{IO13_TYPE}'
        GROUP BY event_type
        """,
    ),
]
