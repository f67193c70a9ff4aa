"""Per-query state: cached relations, scratch directories and the
landings built from a corpus, each held in the engine's one store
(store.py) under its one rule.

Plans return LAZY DataFrames, so whatever a plan reads must outlive
the call that built it: a cached relation, or files it wrote and reads
back (the IO roundtrips, the streaming sinks, the shared dedup
landings). Deleting them before returning would force a driver-side
``collect()``. Instead each is a store request with no input identity,
so the next request for its key releases what the key held before (a
relation is unpersisted, a directory removed). Storage is bounded by
the number of keys, not the number of calls, and a still-held
DataFrame from an earlier call is the only thing that can see a
release (a cached one recomputes; one over released files fails).

Keys:
- ``cache_slot(key, df)``: the caller's slot name.
- ``run_scratch(prefix)``: the call-site prefix, so a query's next
  call removes its previous directory. A query that hands a directory
  to a shared runner (the streaming sinks) makes it with its own
  prefix, so one query's call never removes another's files.
- ``run_scratch(prefix, sf_dir)``: a directory a value derived from
  the corpus at ``sf_dir`` lives in (a landing, io05's bucketed
  tables, a layout). It goes when that value is built again because a
  table under ``sf_dir`` was rewritten. A directory for another
  ``sf_dir`` has another key and never goes.

``materialized_df`` is the landing helper built on both: a parquet
copy of a shared intermediate, built once per corpus identity.

All directories live in ONE run directory per process under
``<repo>/.tmp``. The first request sweeps the run directories of
processes that are dead, which is crash safety only: a live process
releases its own. Run dirs embed their owner PID
(``run_<pid>_<hex>``); the sweep skips any dir whose owner process is
still alive, and also any dir modified within the last ``_GRACE_SEC``
seconds (unparseable names, PID reuse).

At cluster scale the base would be a job-scoped object-store prefix
(e.g. ``s3a://bucket/tmp/{app_id}/``); the ownership rule is the same.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame

from . import store
from .sources import tables

_BASE = Path(__file__).resolve().parents[1] / ".tmp"
_RUN = f"run_{os.getpid()}_{uuid.uuid4().hex[:12]}"
_GRACE_SEC = 6 * 3600  # never sweep dirs idle less than this


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass  # session already stopped — nothing to release


def cache_slot(key: str, df: DataFrame) -> DataFrame:
    """`df.cache()`, held under `key`: the key's previous relation is
    unpersisted first. Without a slot a long-lived session keeps every
    cached relation for its life. Builders that cache the same plan
    share a slot: the CacheManager keeps one entry per plan, so two
    slots over one plan would release each other's entry."""
    return store.request(("slot", key), None, df.cache, _unpersist)


def _owner_pid(name: str) -> int | None:
    """Parse the owner PID out of a ``run_<pid>_<hex>`` dir name."""
    parts = name.split("_")
    if len(parts) >= 3 and parts[0] == "run" and parts[1].isdigit():
        return int(parts[1])
    return None


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _sweepable(stale: Path, now: float) -> bool:
    """True only if the dir's owner is dead AND it is idle past grace."""
    try:
        if now - stale.stat().st_mtime < _GRACE_SEC:
            return False
    except OSError:
        return False
    pid = _owner_pid(stale.name)
    if pid is not None and _pid_alive(pid):
        return False
    return True


def _sweep_dead_runs() -> None:
    if _BASE.exists():
        now = time.time()
        for stale in _BASE.iterdir():
            if stale.name != _RUN and _sweepable(stale, now):
                shutil.rmtree(stale, ignore_errors=True)


def run_scratch(prefix: str, sf_dir: str | None = None) -> str:
    """A fresh scratch dir under this process's run directory, held
    under (sf_dir, prefix): the dir the same key held before is
    removed, and this one stays until the key is requested again, so
    callers may hand back lazy DataFrames over files inside it. Plan
    code leaves sf_dir None; a value built by `tables.derived` passes
    its corpus, so its dir lives as long as the value."""
    store.request("sweep", _RUN, _sweep_dead_runs)  # once per process
    root = _BASE / _RUN

    def make() -> str:
        root.mkdir(parents=True, exist_ok=True)
        return tempfile.mkdtemp(prefix=prefix, dir=root)

    return store.request(
        ("dir", sf_dir, prefix),
        None,
        make,
        lambda held: shutil.rmtree(held, ignore_errors=True),
    )


def materialized_df(spark, sf_dir, kind, builder, cols):
    """Return `builder(spark, sf_dir).select(*cols)` backed by a
    parquet landing, built once per kind and identity of the tables
    under sf_dir (tables.derived): rewriting a table lands again, and
    the superseded landing's directory goes.

    The explicit-schema read keeps the result well-defined even when
    the result set is empty (zero part files).

    Thread-safe with one lock PER KIND (not a global lock): callers
    build warm kinds concurrently (Spark schedules jobs from many
    threads), and d02's builder itself calls shingles_m — per-key
    locking lets the d02 thread block on exactly the shingles landing
    while unrelated kinds keep building, with no duplicated work."""

    def land():
        out = run_scratch(f"edges_{kind}_", sf_dir)
        df = builder(spark, sf_dir).select(*cols)
        df.write.mode("overwrite").parquet(out)
        return out, df.schema

    path, schema = tables.derived(sf_dir, ("landing", kind), land)
    return spark.read.schema(schema).parquet(path)
