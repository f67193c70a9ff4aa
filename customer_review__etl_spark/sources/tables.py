"""Typed source registry over the driver's parquet testdata, with a
small catalog keyed on input identity.

Mirrors the reference's ingest discipline fix (SURVEY.md §1.3): the
reference inferred schema at every boundary (pd.read_csv with no dtypes,
cleaner.py:302) and patched case drift ad hoc; here every table has one
canonical schema, normalized once at load.

The catalog keeps what it holds in the engine's one store (store.py),
under its one rule: a value is served only for the input identity it
was made for; otherwise the key's held value is released and a new one
made. The identity of a table is the identity of its files
(`identity`): (path, inode, size, mtime_ns) of the file, or the sorted
stats of every part file when the table is a directory. Two kinds of
request use it:
- a table's inferred schema, keyed on its path, so `load` reads with
  an explicit schema instead of paying Spark's one-task footer job on
  every call. When a table's identity is superseded, the release
  refreshes Spark's cached data over the path (refreshByPath, as
  Spark's own writer does after a write), so no cached relation serves
  a table rewritten out of band;
- values derived from the tables under one sf_dir (`derived`: scratch
  landings, bucketed tables, layouts, fitted models), keyed on
  (sf_dir, kind) and made again on the next call after any of those
  tables is rewritten. A scratch directory such a value lives in is
  keyed on (sf_dir, prefix) (scratch.run_scratch), so the rebuild
  removes the superseded one.
The same snapshot of an sf_dir's tables (`snapshot`) is the identity a
registry query's prepared plan is held for (plans._prepared).
A path that cannot be stat'ed (a remote object store) has no identity,
so nothing made for it is served again: its schema is inferred on
every read, and a value derived from an sf_dir none of whose tables
can be stat'ed is built again on every call.

Scale: `spark.read.parquet` is the vectorized columnar scan — Catalyst
pushes filters and prunes columns into it, so plan code never needs to
hand-prune (the reference hand-pruned in its Cypher RETURN,
extract.py:62-66).
"""

from __future__ import annotations

import os
import stat
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

from .. import store
from ..session import ensure_confs

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def identity(path: str) -> tuple | None:
    """The stats of a table's files, as sorted (path, inode, size,
    mtime_ns) tuples: one for a single file, one per data file below a
    directory (names starting with '_' or '.' are skipped, as Spark
    skips them). None when the path cannot be stat'ed."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return ((path, st.st_ino, st.st_size, st.st_mtime_ns),)
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for n in names:
                if not n.startswith(("_", ".")):
                    f = os.path.join(root, n)
                    s = os.stat(f)
                    files.append((f, s.st_ino, s.st_size, s.st_mtime_ns))
        return tuple(sorted(files))
    except OSError:
        return None


def _schema(
    spark: SparkSession, path: str
) -> tuple[StructType, tuple | None]:
    """(physical schema, identity) of the parquet table at `path`; the
    schema is inferred once per identity, and a superseded identity
    first refreshes what Spark has cached over the path."""
    ensure_confs(spark)  # nanosAsLong decides the inferred ts type
    ident = identity(path)
    schema = store.request(
        ("schema", path),
        ident,
        lambda: spark.read.parquet(path).schema,
        lambda _: spark.catalog.refreshByPath(path),
    )
    return schema, ident


def schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The table's physical schema as the parquet reader sees it
    (`events.ts` is a long when stored as TIMESTAMP(NANOS))."""
    return _schema(spark, f"{sf_dir}/{name}.parquet")[0]


def _read(
    spark: SparkSession, sf_dir: str, name: str
) -> tuple[DataFrame, tuple | None]:
    path = f"{sf_dir}/{name}.parquet"
    schema, ident = _schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and "ts" in schema.fieldNames() and isinstance(
        schema["ts"].dataType, LongType
    ):
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df, ident


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with canonical types.

    Reads with the catalog's schema for the table's current files, so
    a warm call launches no Spark job; a rewritten table is inferred
    again on its next load.

    `events.ts` is stored as parquet TIMESTAMP(NANOS), which Spark's
    reader rejects; with spark.sql.legacy.parquet.nanosAsLong it arrives
    as a long that we convert with exact integer division (float
    division at 1e18 ns magnitudes loses sub-microsecond precision).
    The branch decides on the cached physical type. Result is
    timestamp_ntz to match the other tables' date columns and the
    oracle's naive reading.
    """
    return _read(spark, sf_dir, name)[0]


def _size_bytes(conf_val: str) -> int:
    """Parse a Spark byte conf ('1m', '128k', '134217728')."""
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
    v = conf_val.strip().lower().removesuffix("b")
    if v and v[-1] in units:
        return int(float(v[:-1]) * units[v[-1]])
    return int(v)


def load_parallel(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """load() + guarantee enough partitions for CPU-heavy derivations.

    A small compressed parquet (one row group) scans as ONE task, so
    per-row text/vector work (regex, shingling, 64-dim folds) runs on
    one core no matter how many exist. Redistributing a sub-MB input is
    ~free and unlocks every core. When the scan already yields >= cores
    split-chunks — every real-scale input — this is a no-op: no shuffle
    is ever added to a big scan.

    The smallness probe is the catalog's stat of the table's files
    (local paths; remote object stores have no identity and skip the
    repartition — at that scale inputs are multi-file anyway), never a
    plan/RDD materialization.
    """
    df, ident = _read(spark, sf_dir, name)
    if ident is None:
        return df
    want = spark.sparkContext.defaultParallelism
    max_pb = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    n_splits = sum(f[2] for f in ident) // max_pb + 1
    if n_splits < want:
        df = df.repartition(want)
    return df


def snapshot(sf_dir: str) -> tuple | None:
    """The identities of the tables under sf_dir; None when none of
    them can be stat'ed (nothing to key on)."""
    snap = tuple(identity(f"{sf_dir}/{n}.parquet") for n in TABLE_NAMES)
    return snap if any(snap) else None


def derived(
    sf_dir: str, kind: Any, build: Callable[[], Any], app: str | None = None
) -> Any:
    """`build()` once per (sf_dir, kind) and identity of the tables
    under sf_dir: a rewrite of any of them makes the next call build
    again, so nothing derived from old files is served. When none of
    the tables can be stat'ed there is no identity to key on, and every
    call builds. A value that lives in one Spark application as well as
    in files (a catalog table) passes `app`, the application's id: a
    new application builds it again."""
    snap = snapshot(sf_dir)
    ident = None if snap is None else (snap, app)
    return store.request(("derived", sf_dir, kind), ident, build)
